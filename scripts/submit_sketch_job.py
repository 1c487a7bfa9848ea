#!/usr/bin/env python
"""spark-submit entry point: the north-rule sketch-build job.

Run via scripts/run_spark_submit.sh, which ships the library as a
--py-files zip (BASELINE.json north_rule: "run via spark-submit --py-files
... at two cluster sizes").  The job:

  1. reads (or generates+caches) the Common-Crawl-style pages table,
  2. builds the full sketch suite in ONE scan (operators/pipeline.py),
     optionally checkpointed (--ckpt-dir → resumable),
  3. prints one JSON line: rows, wall seconds, docs/sec, sketch stats, and
     how many workers run the package's stat-checked import-cache flush.

The same script at --cores 8 vs --cores 32 is the N→4N scaling-efficiency
evidence recorded in BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--input", default=None, help="existing pages parquet dir")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--ckpt-dir", default=None)
    ap.add_argument("--salts", type=int, default=0,
                    help="salted-repartition width for host skew (0 = off)")
    ap.add_argument("--max-partition-bytes", default="64m",
                    help="scan split size; 64m balances per-task fixed cost "
                         "(sketch alloc + blob serialize) against fan-out "
                         "for the GB-scale fixtures (at petabyte scale the "
                         "128m default is fine)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("bloomfilter-suite-job")
    if args.master:
        builder = builder.master(args.master)
    elif args.cores:
        builder = builder.master(f"local[{args.cores}]")
    shuffle = args.cores or 32
    spark = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.files.maxPartitionBytes", args.max_partition_bytes)
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from bloomfilter_spark.operators.pipeline import (
        build_suite,
        pages_suite_specs,
        with_page_features,
    )
    from bloomfilter_spark.sources.pages import ensure_pages

    if args.input:
        paths = args.input.split(",")
    else:
        paths = [ensure_pages(spark, args.rows)]
    pages = spark.read.parquet(*paths)
    n_rows = pages.count()

    # warm the python-worker pool (worker spawn + numpy/pandas import is
    # ~1s/worker; a real long-running cluster pays this once, not per job)
    par = spark.sparkContext.defaultParallelism

    def _noop(it):
        import numpy  # noqa: F401

        for pdf in it:
            yield pdf

    spark.range(0, par * 4, numPartitions=par * 4).mapInPandas(
        _noop, schema="id long"
    ).count()

    t0 = time.perf_counter()
    if args.ckpt_dir:
        from bloomfilter_spark.operators.checkpoint import (
            build_sketch_checkpointed,
        )
        from bloomfilter_spark.operators.build import bloom_factory

        sketch, lineage = build_sketch_checkpointed(
            pages, "url", bloom_factory(max(1024, n_rows), 0.01), args.ckpt_dir
        )
        suite = {"bloom_url": sketch}
        lineage.collect()
    else:
        df = pages
        if args.salts:
            from bloomfilter_spark.plans.skew import salted_repartition

            df = salted_repartition(
                df, "url", spark.sparkContext.defaultParallelism, args.salts
            )
        suite = build_suite(df, n_expected=n_rows)
    wall = time.perf_counter() - t0

    out = {
        "rows": n_rows,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_rows / wall, 1),
        "parallelism": spark.sparkContext.defaultParallelism,
        "sketches": sorted(suite),
        "bloom_fpp_est": round(suite["bloom_url"].estimated_fpp(), 6),
    }
    if "hll_url" in suite:
        out["hll_url_est"] = round(suite["hll_url"].estimate(), 1)

    # which workers run the stat-checked import-cache flush that the
    # package installs on import (plans/session.py); unpickling _report
    # imports the package from the --py-files zip
    from bloomfilter_spark.plans import session

    def _report(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"ok": [session.zip_cache_check_installed()]}
        )

    checked = (
        spark.range(par, numPartitions=par)
        .mapInArrow(_report, schema="ok boolean")
        .toPandas()
        .ok
    )
    out["workers_zip_cache_checked"] = f"{int(checked.sum())}/{len(checked)}"
    print(json.dumps(out))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
