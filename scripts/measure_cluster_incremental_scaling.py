"""r12 probe: the incremental text-cluster maintainer's update cost vs
the full recompute it replaces.

For each SF: time (a) the stored-state build (`bounded_component_
assignment` over the corpus — the one-off cost, at scale a table load),
(b) the full corpus+shard recompute (what a non-incremental pipeline
pays per delivery), and (c) the maintainer end-to-end (which itself
includes rebuilding the state here — subtract (a) for the steady-state
per-delivery cost). Also reports the probe's corpus-side footprint:
corpus bucket rows that survive the shard-key semi-join, vs the full
corpus bucket table.

Run: PYTHONPATH=. python scripts/measure_cluster_incremental_scaling.py
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from breweries_case_spark.io.reader import load_table, spread
from breweries_case_spark.operators.dedup import (
    _SHARD_MOD,
    LSH_BAND_KEYS,
    _docs_with_hashed_shingles,
    _lsh_banded,
    bounded_component_assignment,
    minhash_signatures,
    probe_postings,
    q_dedup_text_cluster_incremental,
)
from breweries_case_spark.session import get_test_session


def main() -> None:
    spark = get_test_session("measure_cluster_incremental")
    for sf in ("sf0.01", "sf0.1"):
        d = spread(load_table(spark, f"/root/testdata/{sf}", "documents")).select(
            "doc_id", "lang", "text"
        )
        is_shard = F.col("doc_id") % _SHARD_MOD == 0

        t0 = time.perf_counter()
        bounded_component_assignment(d.filter(~is_shard)).count()
        t_state = time.perf_counter() - t0

        t0 = time.perf_counter()
        bounded_component_assignment(d).count()
        t_full = time.perf_counter() - t0

        t0 = time.perf_counter()
        q_dedup_text_cluster_incremental(spark, f"/root/testdata/{sf}").count()
        t_incr = time.perf_counter() - t0

        banded = _lsh_banded(
            minhash_signatures(
                _docs_with_hashed_shingles(d)
            )
        ).localCheckpoint()
        _, corpus_hits = probe_postings(
            banded.filter(is_shard), banded.filter(~is_shard), LSH_BAND_KEYS
        )
        n_corpus_rows = banded.filter(~is_shard).count()
        n_hits = corpus_hits.count()
        print(
            f"{sf}: state_build={t_state:.2f}s full_recompute={t_full:.2f}s "
            f"incremental_e2e={t_incr:.2f}s update_only~="
            f"{max(0.0, t_incr - t_state):.2f}s "
            f"probe_corpus_rows={n_hits}/{n_corpus_rows}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
