"""Dump .explain('formatted') for every bench-relevant query path into
plans/r06/<name>_<tag>.txt (tag = before/after).

Usage: python tools/explain_r06.py before|after [replication]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

from pyspark.sql import functions as F  # noqa: E402

from search_suite_spark.session import get_spark  # noqa: E402
from search_suite_spark.sources.corpus import pages_from_documents  # noqa: E402
from search_suite_spark.sources.segments import build_segment  # noqa: E402
from search_suite_spark.operators.build import build_index  # noqa: E402
from search_suite_spark.operators.wand import wand_scored, wand_partial  # noqa: E402
from search_suite_spark.operators.query import bm25_scored, unscored  # noqa: E402
from search_suite_spark.operators import dedup as D  # noqa: E402
from search_suite_spark.operators import similarity as S  # noqa: E402
from search_suite_spark.operators import text_analysis as TA  # noqa: E402
from search_suite_spark.plans.structured import structured_query  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    replication = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app="explain_r06", cores=8, shuffle_partitions=16)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def dump(name, df):
        p = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print("wrote", p)

    pages = pages_from_documents(spark, sf_dir, replication=replication).cache()
    pages.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )

    seg_dir = tempfile.mkdtemp(prefix="explain_seg_")
    try:
        seg = build_segment(pages, seg_dir, n_shards=8, shards_per_batch=8,
                            resume=False, dedupe=True)

        dump("bm25_topk_packed",
             wand_scored(seg, "merge join", max_results=10))
        dump("bm25_partial_packed",
             wand_partial(seg, "spark merge window", min_should_match=2,
                          max_results=10))
        from search_suite_spark.plans.structured_packed import (
            structured_query_packed,
        )
        dump("structured_packed", structured_query_packed(
            seg, "/\\ spark\n/\\ \\/ merge\n   \\/ ~ ^jo"))

        idx = build_index(pages, dedupe=True)
        idx.postings.count()
        idx.terms.count()
        dump("bm25_topk_flat", bm25_scored(idx, "merge join", max_results=10))
        dump("unscored_and", unscored(idx, "merge join sort"))
        dump("structured_and_or", structured_query(
            idx, "/\\ spark\n/\\ \\/ merge\n   \\/ join"))

        from search_suite_spark.operators.spelling import (
            spelling_suggestions,
            spelling_suggestions_indexed,
            term_deletion_index,
        )
        dump("spelling_scan",
             spelling_suggestions(idx.terms, "spark merg shufle"))
        sdi = term_deletion_index(idx.terms, max_dist=1)
        dump("spell_index_build", sdi)
        dump("spelling_probe",
             spelling_suggestions_indexed(sdi, "spark merg shufle"))

        dump("dedup_minhash", D.minhash_candidates(
            docs, n=3, bands=8, max_bucket=200))
        dump("simhash64", D.simhash64(docs))

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
              .select("embedding").collect()[0]["embedding"]]
        dump("ann_cosine", S.cosine_topk(emb, qv, k=10))
        dump("text_scan",
             TA.quality_score(docs).join(TA.lang_id(docs), "url"))

        # build-path plan: the pack stage (slot exchange + kernel),
        # staged by the build's own code
        from search_suite_spark.operators.build import (
            dedupe_newest_wins, token_rows_with_doc,
        )
        from search_suite_spark.sources.segments import _pack, shard_of_doc_id
        flat = token_rows_with_doc(dedupe_newest_wins(pages)).withColumn(
            "shard", shard_of_doc_id(8))
        dump("index_build_pack", _pack(flat, 8, 8))

        from search_suite_spark.operators.merge import unpack_flat
        half_a_dir = tempfile.mkdtemp(prefix="explain_half_a_")
        half_b_dir = tempfile.mkdtemp(prefix="explain_half_b_")
        merged_dir = tempfile.mkdtemp(prefix="explain_m_")
        try:
            half_a = build_segment(
                pages.filter(F.xxhash64("url") % 2 == 0), half_a_dir,
                n_shards=8, shards_per_batch=8, resume=False, dedupe=False)
            half_b = build_segment(
                pages.filter(F.xxhash64("url") % 2 != 0), half_b_dir,
                n_shards=8, shards_per_batch=8, resume=False, dedupe=False)
            # the merge's flat union (pre-pack) — mirrors merge_segments
            from search_suite_spark.operators.merge import _live_docs
            docs_a = _live_docs(half_a)
            docs_b = _live_docs(half_b).join(
                docs_a.select("url"), "url", "left_anti")
            sides = [
                unpack_flat(half_a).join(
                    docs_a.select("doc_id"), "doc_id", "left_semi"),
                unpack_flat(half_b).join(
                    docs_b.select("doc_id"), "doc_id", "left_semi"),
            ]
            merge_flat = sides[0].unionByName(sides[1]).withColumn(
                "shard", shard_of_doc_id(8))
            dump("merge_flat_union", merge_flat)

            # the packed-row merge pipeline (the shipped fast path):
            # compressed rows through the one slot exchange, decode+drop+
            # repack in a single kernel — staged by the merge's own code
            from search_suite_spark.operators.merge import (
                _merged_packed_rows,
            )
            dump("merge_packed",
                 _merged_packed_rows([(0, half_a), (1, half_b)], 8))

            from search_suite_spark.sources.registry import (
                query_collection_partial,
            )
            dump("collection_partial", query_collection_partial(
                [half_a, half_b], "spark merge window",
                min_should_match=2, max_results=10))
        finally:
            shutil.rmtree(half_a_dir, ignore_errors=True)
            shutil.rmtree(half_b_dir, ignore_errors=True)
            shutil.rmtree(merged_dir, ignore_errors=True)
    finally:
        shutil.rmtree(seg_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
