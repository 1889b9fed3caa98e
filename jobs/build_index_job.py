"""spark-submit entry point: build (or resume) a packed index segment.

    spark-submit --py-files dist/search_suite_spark.zip \
        jobs/build_index_job.py \
        --pages-parquet <path-or-table> --seg-dir <out-dir> \
        [--n-shards 256] [--shards-per-batch 32] [--no-dedupe]

Resumable by construction: re-submitting the same command after an
interruption skips shards already recorded in <seg-dir>/lineage
(north_rule: per-partition lineage + resume without recompute).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages-parquet", help="parquet path of the pages table")
    src.add_argument("--pages-table", help="catalog (e.g. Iceberg) table name")
    ap.add_argument("--seg-dir", required=True)
    ap.add_argument("--n-shards", type=int, default=256)
    ap.add_argument("--shards-per-batch", type=int, default=32)
    ap.add_argument("--no-dedupe", action="store_true")
    ap.add_argument(
        "--bench-json",
        action="store_true",
        help="run an untimed miniature warmup build first (JIT/codegen "
        "compile out of the timed region — the ladder protocol), then "
        "print one BENCH_JSON line with the timed build's wall seconds "
        "and docs/sec",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("search_suite_build").getOrCreate()

    from search_suite_spark.session import apply_engine_conf
    from search_suite_spark.sources.segments import build_segment

    apply_engine_conf(spark)

    pages = (
        spark.read.parquet(args.pages_parquet)
        if args.pages_parquet
        else spark.read.table(args.pages_table)
    )
    if args.bench_json:
        import json
        import shutil
        import tempfile
        import time

        # input materialized (cached) and codegen/JIT compiled by a
        # miniature warmup build BEFORE the timed region — identical to
        # the scaling-ladder protocol, so spark-submit rungs compare
        # like-for-like with the in-process ladder in BASELINE.md
        pages = pages.cache()
        n_docs = pages.count()
        warm_dir = tempfile.mkdtemp(prefix="submit_warm_")
        try:
            build_segment(
                pages.limit(2000), warm_dir, n_shards=4,
                shards_per_batch=4, resume=False, dedupe=True)
        finally:
            shutil.rmtree(warm_dir, ignore_errors=True)
        t0 = time.monotonic()
        seg = build_segment(
            pages,
            args.seg_dir,
            n_shards=args.n_shards,
            shards_per_batch=args.shards_per_batch,
            resume=True,
            dedupe=not args.no_dedupe,
        )
        secs = time.monotonic() - t0
        print("BENCH_JSON " + json.dumps({
            "n_docs": n_docs,
            "num_docs": seg.num_docs,
            "secs": round(secs, 3),
            "docs_per_sec": round(n_docs / secs, 1),
        }))
    else:
        seg = build_segment(
            pages,
            args.seg_dir,
            n_shards=args.n_shards,
            shards_per_batch=args.shards_per_batch,
            resume=True,
            dedupe=not args.no_dedupe,
        )
    print(
        f"segment ready: {seg.path} num_docs={seg.num_docs} "
        f"total_doc_len={seg.total_doc_len}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
