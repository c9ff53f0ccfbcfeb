"""operators/multimodal.py: payload synthesis."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_synth_media_modality_filter_matches_full_table(spark, tmp_path, modality):
    """The single-modality pre-filter must select exactly the rows the
    generator labels with that modality — also for negative doc ids,
    where Spark's sign-preserving % and the generator's Python % differ."""
    from breweries_case_spark.operators.multimodal import synth_media_table

    spark.createDataFrame(
        [(i, 40 + abs(i)) for i in range(-7, 5)], "doc_id long, n_chars long"
    ).write.parquet(os.path.join(tmp_path, "documents.parquet"))

    def rows(df):
        return sorted(
            (r.media_id, r.modality, bytes(r.content)) for r in df.collect()
        )

    full = synth_media_table(spark, str(tmp_path))
    got = rows(synth_media_table(spark, str(tmp_path), modality=modality))
    assert got == rows(full.filter(F.col("modality") == modality))
    assert any(m < 0 for m, _, _ in got)
