"""Isolated per-gate timing recheck (VERDICT r3 next-round #5).

Round 3 saw four gates slow down 2-3x inside the SHARED bench session
(`region_doc_set_ops`, `region_doc_rollup`, `corpus_curation`,
`ngram_jaccard_pairs`); the verdict asked for the CLAUDE.md protocol —
an isolated fresh-JVM timing with >=2 runs per gate — to separate host
noise / shared-session state from a real plan regression.

Runs each named gate from `__spark_entry__.queries()` against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) in ONE fresh local[8]
JVM (same shape as bench.py's session, -Xms pre-touch), `runs` timed
executions each after a warm pass, with per-run steal% recorded.
Prints one JSON line per gate plus a trailing summary line.

Usage: python tools/isolated_gates.py gate1,gate2 [runs] [cpus]
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else [
        "region_doc_set_ops", "region_doc_rollup",
        "corpus_curation", "ngram_jaccard_pairs"]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import SparkSession

    from areacity_query_geometry_spark.hostload import driver_memory_conf

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aqgs-isolated-gates")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config(map=driver_memory_conf())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from areacity_query_geometry_spark.hostload import TimedRuns

    qs = entry.queries()
    out = {}
    for name in names:
        fn = qs[name]
        fn(spark, sf_dir).count()  # warm: codegen + page cache + fixtures
        timed = TimedRuns()
        rows = 0
        for _ in range(runs):
            rows = timed.run(lambda: fn(spark, sf_dir).count())
        rec = {"gate": name, "best_sec": round(timed.best, 3),
               "rows": rows, **timed.detail()}
        out[name] = rec
        print(json.dumps(rec), flush=True)
    print(json.dumps({"summary": {k: v["best_sec"] for k, v in out.items()},
                      "sf_dir": sf_dir, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
