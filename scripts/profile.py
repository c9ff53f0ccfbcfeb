"""Per-id work counters, rows and plans, measured the way bench.py
measures, and how they grow with the scale factor.

Usage:
    python scripts/profile.py q_id ... [--profile test|bench] [--sf DIR ...] [--plans DIR]

Each id runs once per ``--sf`` through ``bench.measure``: the noop sink
under a job group of its own, so its counters are those of exactly the
jobs a bench floor pays for. One ``collect`` outside that group then adds
the row count and a hash of the sorted rows, so one run per side of an
A/B (the working tree against a ``git archive`` of the parent) compares
counters and rows together. Prints one JSON line per (id, SF).

``--sf`` repeats and defaults to bench.py's SF directory; the SF is read
from the directory name (``sf0.01`` is 0.01). Given two or more, one
growth line per id follows: ``{"id", "sf": [a, b], "growth"}`` with, for
``sec``, every counter and ``rows``, the exponent
``log10(x_b / x_a) / log10(b / a)`` between the first and the last SF
(``null`` where either side is 0). An exponent of 1 is linear in data,
one near 0 is fixed cost. Each SF's ids run after bench.py's neutral
warm-up, but an id's first SF also pays its plan's code generation,
which flattens the ``sec`` exponent of small ids.

``--profile bench`` (the default) is bench.py's session (AQE on, so each
shuffle stage runs as a job of its own); ``--profile test`` is the test
suite's (AQE off, 4 shuffle partitions). ``--plans DIR`` writes each
id's formatted physical plan, as run by the collect, to
``DIR/<id>.txt`` (the last SF's).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

# the repo root replaces this script's directory on the path: left there,
# this file would shadow the stdlib ``profile`` that pyspark's cProfile
# import needs
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from breweries_case_spark.session import get_session, get_test_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("qids", nargs="+")
    ap.add_argument("--profile", choices=("bench", "test"), default="bench")
    ap.add_argument("--sf", action="append")
    ap.add_argument("--plans")
    args = ap.parse_args()
    sf_dirs = args.sf or [bench.SF_DIR]
    sfs = [bench.sf_of(d) for d in sf_dirs]
    if len(sf_dirs) > 1 and None in sfs:
        ap.error("growth needs sfN directory names, got " + " ".join(sf_dirs))
    from __spark_entry__ import queries

    qs = queries()
    # static confs: set before either profile's session starts
    for key, value in bench.STATUS_STORE_CONFIGS.items():
        SparkContext.setSystemProperty(key, value)
    if args.profile == "test":
        spark = get_test_session()
    else:
        spark = get_session(
            app_name="profile",
            extra_configs={"spark.ui.showConsoleProgress": "false"},
        )
    measured: dict[str, list[dict]] = {}
    for sf_dir, sf in zip(sf_dirs, sfs):
        bench.warm_up(spark, sf_dir)
        for qid in args.qids:
            sec, counters = bench.measure(spark, qid, qs[qid], sf_dir)
            df = qs[qid](spark, sf_dir)
            rows = sorted(repr(tuple(r)) for r in df.collect())
            if args.plans:
                os.makedirs(args.plans, exist_ok=True)
                plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                    df._jdf.queryExecution(), "formatted"  # noqa: SLF001
                )
                with open(os.path.join(args.plans, f"{qid}.txt"), "w") as fh:
                    fh.write(plan)
            record = {"sec": round(sec, 3), **counters, "rows": len(rows)}
            measured.setdefault(qid, []).append(record)
            digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:12]
            print(json.dumps({"id": qid, "sf": sf, **record, "hash": digest}), flush=True)
    if len(sf_dirs) > 1:
        for qid, (first, *_, last) in measured.items():
            growth = bench.growth(sfs[0], first, sfs[-1], last)
            print(json.dumps({"id": qid, "sf": [sfs[0], sfs[-1]], "growth": growth}))
    spark.stop()


if __name__ == "__main__":
    main()
