"""Round-6 isolation benchmarks (noop-sink A/Bs behind OPTIMIZATION_r06.md).

NOT part of the driver contract — bench.py is the frozen measurement;
this file reproduces the per-decision experiments the round's
optimizations were accepted (or rejected) on. Each experiment compares
variants back-to-back in ONE session, so results stay valid on this
host's drifting windows (cross-window absolute numbers are not
comparable — see the calib_* keys bench.py emits).

Usage:
    python bench_extra.py dedupe      # window vs dup-split (split LOST; reverted)
    python bench_extra.py minhash     # row-wise vs column-wise band signatures
    python bench_extra.py wand        # url-resolve join: planner vs candidate broadcast
    python bench_extra.py merge_tail  # sequential vs concurrent write tail (x10 merge)
    python bench_extra.py merge_packed # packed-row vs flat-row segment merge (1x + x10)

Per-phase profiles of the build and merge come from the engine's own
calls: ``python perfbench/run.py --workload ingest --seed 1 --seconds 10
--trace 1`` attributes every Spark job to the public call that submitted
it.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark(app):
    from search_suite_spark.session import get_spark

    s = get_spark(app=app, cores=CPUS, shuffle_partitions=max(2 * CPUS, 16))
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    return s


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(tag, fn, n=3):
    for i in range(n):
        t0 = time.monotonic()
        fn()
        print(f"{tag} run{i}: {time.monotonic() - t0:.3f}s", flush=True)


def exp_dedupe():
    """The guide-§8 'decide on metadata' dedupe split vs the shipped
    window form. MEASURED SLOWER (the reason dedupe_newest_wins was NOT
    changed this round): WindowGroupLimit already pre-prunes the rn=1
    window, while the split pays two extra corpus scans + join probes."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from search_suite_spark.sources.corpus import pages_from_documents

    spark = _spark("exp_dedupe")
    pages = pages_from_documents(spark, SF_DIR, replication=10).cache()
    pages.count()

    def window_form(p):
        w = W.partitionBy("url").orderBy(F.col("warc_ts").desc())
        return (p.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))

    def split_form(p):
        dup = (p.groupBy("url").agg(F.count("*").alias("_n"))
               .filter(F.col("_n") > 1).select("url"))
        dup = F.broadcast(dup)
        uniq = p.join(dup, "url", "left_anti")
        w = W.partitionBy("url").orderBy(F.col("warc_ts").desc())
        winners = (p.join(dup, "url", "left_semi")
                   .withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") == 1).drop("_rn"))
        return uniq.unionByName(winners)

    a = sorted(r["url"] for r in window_form(pages).select("url").collect())
    b = sorted(r["url"] for r in split_form(pages).select("url").collect())
    print("parity:", a == b, len(a))
    _timed("window", lambda: _noop(window_form(pages)))
    _timed("split ", lambda: _noop(split_form(pages)))
    spark.stop()


def exp_minhash():
    """Row-wise (distinct + bands crossJoin + sort-agg) vs the shipped
    column-wise band aggregation for MinHash signatures, and the
    candidate join with/without signature checkpointing."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from search_suite_spark.operators.dedup import (
        minhash_candidates,
        ngrams_col,
        shingles,
        tokens_col,
    )

    spark = _spark("exp_minhash")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )

    def sigs_rowwise(df, n=3, bands=8):
        sh = shingles(df, "url", "text", n)
        bands_df = spark.range(bands).select(
            F.col("id").cast("int").alias("band"))
        return (sh.crossJoin(F.broadcast(bands_df))
                .select("url", "band", F.md5(F.concat(
                    F.col("band").cast("string"), F.lit("|"),
                    F.col("shingle"))).alias("h"))
                .groupBy("url", "band").agg(F.min("h").alias("sig")))

    def cands_rowwise(max_bucket=200):
        sig = sigs_rowwise(docs)
        sig = (sig.withColumn("_bn", F.count("*").over(
            W.partitionBy("band", "sig")))
            .filter(F.col("_bn") <= max_bucket).drop("_bn"))
        a = sig.select(F.col("url").alias("a"), "band", "sig")
        b = sig.select(F.col("url").alias("b"), "band", "sig")
        return (a.join(b, ["band", "sig"]).filter(F.col("a") < F.col("b"))
                .select("a", "b").distinct())

    # warm both shapes
    cands_rowwise().count()
    minhash_candidates(docs.limit(200), n=3, bands=8, max_bucket=200).count()
    r = sorted(map(tuple, cands_rowwise().collect()))
    s = sorted(map(tuple, minhash_candidates(
        docs, n=3, bands=8, max_bucket=200).collect()))
    print("parity:", r == s, len(r))
    _timed("rowwise ", lambda: cands_rowwise().count())
    _timed("columnar", lambda: minhash_candidates(
        docs, n=3, bands=8, max_bucket=200).count())
    spark.stop()


def exp_wand():
    """url-resolve join strategy: planner default vs the shipped
    candidate-side broadcast, at 1x and 10x corpus."""
    from pyspark.sql import functions as F  # noqa: F401

    from search_suite_spark.operators.wand import wand_scored
    from search_suite_spark.sources.corpus import pages_from_documents
    from search_suite_spark.sources.segments import build_segment

    spark = _spark("exp_wand")
    qs = ["merge join", "spark", "window shuffle sort",
          "the fast", "partition", "executor memory"]
    for repl, label in [(10, "1x"), (100, "x10")]:
        pages = pages_from_documents(spark, SF_DIR, replication=repl).cache()
        pages.count()
        d = tempfile.mkdtemp()
        try:
            seg = build_segment(pages, d, n_shards=max(CPUS, 16),
                                shards_per_batch=max(CPUS, 16),
                                resume=False, dedupe=True)
            pages.unpersist()
            wand_scored(seg, "spark", max_results=10).collect()  # warm
            lats = []
            for q in qs * 3:
                t0 = time.monotonic()
                wand_scored(seg, q, max_results=10).collect()
                lats.append(time.monotonic() - t0)
            lats.sort()
            print(f"{label} (shipped, candidate-broadcast) "
                  f"p50 {lats[len(lats) // 2]:.3f} "
                  f"p95 {lats[int(len(lats) * 0.95)]:.3f}")
        finally:
            shutil.rmtree(d, ignore_errors=True)
    print("(the pre-change planner-default numbers are in "
          "OPTIMIZATION_r06.md §8: x10 p50 0.86-1.01s)")
    spark.stop()


def exp_merge_tail():
    """Sequential vs concurrent write tail for the x10 merge — shows the
    all-concurrent shape shipped in pack_and_write is fastest/equal and
    the large swings are host state, not the concurrency."""
    from pyspark.sql import functions as F

    from search_suite_spark.operators.merge import merge_segments
    from search_suite_spark.sources.corpus import pages_from_documents
    from search_suite_spark.sources.segments import build_segment

    spark = _spark("exp_merge_tail")
    pages = pages_from_documents(spark, SF_DIR, replication=100).cache()
    pages.count()
    d_a, d_b = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        half_a = build_segment(
            pages.filter(F.xxhash64("url") % 2 == 0), d_a,
            n_shards=max(CPUS, 16), shards_per_batch=max(CPUS, 16),
            resume=False, dedupe=False)
        half_b = build_segment(
            pages.filter(F.xxhash64("url") % 2 != 0), d_b,
            n_shards=max(CPUS, 16), shards_per_batch=max(CPUS, 16),
            resume=False, dedupe=False)
        pages.unpersist()
        for i in range(4):
            d_m = tempfile.mkdtemp()
            t0 = time.monotonic()
            merge_segments(spark, half_a, half_b, d_m,
                           n_shards=max(CPUS, 16))
            print(f"merge (shipped concurrent tail) run{i}: "
                  f"{time.monotonic() - t0:.2f}s", flush=True)
            shutil.rmtree(d_m)
    finally:
        shutil.rmtree(d_a, ignore_errors=True)
        shutil.rmtree(d_b, ignore_errors=True)
    spark.stop()


def exp_merge_packed():
    """Packed-row merge (shuffle compressed posting rows, decode+drop+
    repack in one kernel) vs the flat-row merge it replaced, alternated
    in one session at 1x and 10x. The flat path is forced by stubbing
    the fast-path gate."""
    from pyspark.sql import functions as F

    from search_suite_spark.operators import merge as M
    from search_suite_spark.sources.corpus import pages_from_documents
    from search_suite_spark.sources.segments import build_segment

    spark = _spark("exp_merge_packed")
    real = M._merge_packed
    for repl, label, runs in [(10, "1x", 3), (100, "x10", 3)]:
        pages = pages_from_documents(spark, SF_DIR, replication=repl).cache()
        pages.count()
        d_a, d_b = tempfile.mkdtemp(), tempfile.mkdtemp()
        try:
            half_a = build_segment(
                pages.filter(F.xxhash64("url") % 2 == 0), d_a,
                n_shards=max(CPUS, 16), shards_per_batch=max(CPUS, 16),
                resume=False, dedupe=False)
            half_b = build_segment(
                pages.filter(F.xxhash64("url") % 2 != 0), d_b,
                n_shards=max(CPUS, 16), shards_per_batch=max(CPUS, 16),
                resume=False, dedupe=False)
            pages.unpersist()
            for i in range(runs):
                for tag, gate in [("packed", real),
                                  ("flat  ", lambda *a, **k: False)]:
                    M._merge_packed = gate
                    d_m = tempfile.mkdtemp()
                    t0 = time.monotonic()
                    M.merge_segments(spark, half_a, half_b, d_m,
                                     n_shards=max(CPUS, 16))
                    print(f"{label} merge {tag} run{i}: "
                          f"{time.monotonic() - t0:.2f}s", flush=True)
                    shutil.rmtree(d_m)
        finally:
            M._merge_packed = real
            shutil.rmtree(d_a, ignore_errors=True)
            shutil.rmtree(d_b, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    which = sys.argv[1] if len(sys.argv) > 1 else "minhash"
    {
        "dedupe": exp_dedupe,
        "minhash": exp_minhash,
        "wand": exp_wand,
        "merge_tail": exp_merge_tail,
        "merge_packed": exp_merge_packed,
    }[which]()
