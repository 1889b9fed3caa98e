"""Plan-shape regression guard: the physical-plan properties the
100 TB design depends on, asserted from `.explain` text so a future
refactor cannot silently lose them.

Guarded invariants (BASELINE.md "plan you'd want at 100x"):
  1. a packed query's posting scan pushes the term filter into the
     parquet reader (PushedFilters / row-group pruning) and prunes
     columns — the scan must not read the whole segment;
  2. the single-pass build plan contains exactly ONE shuffle exchange
     (the shard-slot repartitionById, one kernel task per slot) and its
     tokenize stage runs in whole-stage codegen with NO row-at-a-time
     Python evaluation; the packed merge has the same one exchange;
  3. the flat BM25 path broadcasts the tiny per-query dictionary side
     rather than shuffling the postings (no sort-merge join on the
     query hot path).
"""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_packed_scan_pushes_term_filter(spark, tmp_path):
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import build_segment, read_segment

    docs = [(f"http://p{i}", f"alpha beta w{i}") for i in range(30)]
    build_segment(
        pages_from_docs_list(spark, docs), str(tmp_path / "seg"), n_shards=2
    )
    seg = read_segment(spark, str(tmp_path / "seg"))
    scan = seg.postings.filter(F.col("term").isin(["alpha", "beta"]))
    plan = _plan(scan)
    # the isin lands in the parquet reader, not a post-scan Filter only
    assert re.search(r"PushedFilters:.*[Ii]n\(term", plan), plan
    # column pruning intact: the scan's ReadSchema is the packed schema,
    # never a select * of some wider frame
    assert "ReadSchema" in plan


def _one_slot_exchange_into_kernel(plan: str, n_slots: int) -> None:
    """``plan`` has exactly ONE exchange: a partition-id passthrough
    with n_slots partitions that feeds the MapInArrow kernel (through
    in-partition operators only)."""
    # formatted mode prints each node twice (tree + details): count
    # exchanges in the details section's numbered headers only
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    passthrough = re.findall(
        r"Arguments: shufflepartitionidpassthrough\(.*\), (\d+)\), "
        r"REPARTITION_BY_NUM",
        plan,
    )
    assert passthrough == [str(n_slots)], plan
    assert "MapInArrow" in plan, plan


def _slots(spark, n_shards: int) -> int:
    return n_shards * max(1, spark.sparkContext.defaultParallelism // n_shards)


def test_build_plan_single_exchange_no_python_tokenize(spark):
    from search_suite_spark.operators.build import token_rows_with_doc
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import _pack, shard_of_doc_id

    pages = pages_from_docs_list(
        spark, [(f"http://p{i}", f"alpha beta w{i}") for i in range(20)]
    )
    flat = token_rows_with_doc(pages).withColumn(
        "shard", shard_of_doc_id(2)
    )
    # the build's pre-shuffle stage: tokenize + marker rows must stay
    # JVM-side (pages synthesis itself uses one Arrow UDF for the html
    # zlib column — tokenize must not add row-at-a-time Python on top)
    plan = _plan(flat)
    assert "BatchEvalPython" not in plan, plan

    # the full single-pass pack stage, staged by the build's own code:
    # exactly one shuffle exchange — the slot rides as a grouping COLUMN
    # so the partition-id passthrough satisfies the tf hash-aggregate's
    # required distribution (both partial and final agg run
    # post-shuffle) — with one partition per shard slot
    _one_slot_exchange_into_kernel(
        _plan(_pack(flat, 2, 2)), _slots(spark, 2)
    )


def test_merge_plan_single_slot_exchange(spark, tmp_path):
    """The packed merge ships both sides' packed rows through ONE
    shard-slot exchange into the merge kernel — one task per slot."""
    from search_suite_spark.operators.merge import _merged_packed_rows
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import build_segment

    segs = [
        build_segment(
            pages_from_docs_list(
                spark, [(f"http://{side}{i}", f"alpha w{i}") for i in range(12)]
            ),
            str(tmp_path / side), n_shards=2,
        )
        for side in ("a", "b")
    ]
    merged = _merged_packed_rows(list(enumerate(segs)), 2)
    _one_slot_exchange_into_kernel(_plan(merged), _slots(spark, 2))


def test_flat_query_broadcasts_dictionary(spark):
    from search_suite_spark.operators.build import build_index
    from search_suite_spark.operators.query import bm25_scored
    from search_suite_spark.sources.corpus import pages_from_docs_list

    idx = build_index(
        pages_from_docs_list(
            spark, [(f"http://p{i}", f"alpha beta w{i}") for i in range(30)]
        )
    )
    out = bm25_scored(idx, "alpha beta", max_results=5)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        plan
    )


def test_spelling_scan_pushes_length_predicate(spark, tmp_path):
    """Q14 at dictionary scale: the segment terms table materializes
    tlen and is written (tlen, term)-clustered, so the spelling length
    band AND dictionary point lookups compile to PUSHED parquet
    predicates (the partition-prunable analogue of the reference
    BK-tree's range search, indexer-qp2/src/bk_tree.rs:128-190)."""
    from search_suite_spark.operators.spelling import spelling_suggestions
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import (
        build_segment,
        term_probe_predicate,
    )

    docs = [(f"http://p{i}", f"alpha beta gamma w{i}") for i in range(30)]
    seg = build_segment(
        pages_from_docs_list(spark, docs), str(tmp_path / "seg"), n_shards=2
    )
    assert "tlen" in seg.terms.columns

    sugg = spelling_suggestions(seg.terms, "alpa beta")
    plan = _plan(sugg)
    # the length band reaches the parquet reader
    assert re.search(r"PushedFilters:.*[Ii]n\(tlen", plan), plan

    # point lookups carry the literal's length too (a single-element
    # isin plans as EqualTo — equally pushable)
    probe = seg.terms.filter(term_probe_predicate(seg.terms, ["alpha"]))
    plan2 = _plan(probe)
    assert re.search(
        r"PushedFilters:.*(EqualTo|[Ii]n)\(tlen", plan2
    ), plan2
    assert re.search(
        r"PushedFilters:.*(EqualTo|[Ii]n)\(term", plan2
    ), plan2

    # and results stay correct: 'alpa' ~ 'alpha' at dist 1
    got = {(r["word"], r["dist"], r["suggestion"]) for r in sugg.collect()}
    assert ("alpa", 1, "alpha") in got and ("beta", 0, "beta") in got


def test_partial_and_collection_plans_stay_pruned(spark, tmp_path):
    """wand_partial (and therefore query_collection_partial's per-
    segment legs) must push the query-term isin into the posting scan —
    a disjunctive query still reads only its own terms' rows, never the
    segment."""
    from search_suite_spark.operators.wand import wand_partial
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import build_segment

    docs = [(f"http://p{i}", f"alpha beta gamma w{i}") for i in range(30)]
    seg = build_segment(
        pages_from_docs_list(spark, docs), str(tmp_path / "pseg"), n_shards=2
    )
    plan = _plan(wand_partial(seg, "alpha beta", min_should_match=1))
    assert re.search(r"PushedFilters:.*[Ii]n\(term", plan), plan
    # the kernel is the ONLY Python stage: one ArrowEvalPython-free scan
    # side (FlatMapGroupsInPandas is the applyInPandas kernel itself)
    assert "BatchEvalPython" not in plan, plan


def test_term_in_matches_exactly(spark):
    """term_in / term_probe_predicate quote their SQL literals: terms
    holding quotes, backslashes or non-ASCII letters match themselves
    and nothing else, and an empty list matches nothing."""
    from search_suite_spark.sources.segments import (
        term_in,
        term_probe_predicate,
    )

    odd = ["it's", "back\\slash", "x\\'y", "''", "naïve", "日本語", "ß"]
    decoys = ["its", "backslash", "x'y", "x\\y", "'", "naive", "ss", "a"]
    terms = spark.createDataFrame(
        [(w, len(w)) for w in odd + decoys], "term string, tlen int"
    )
    for words in (odd, odd[:1], ["nope", "naïve"], []):
        got = sorted(r["term"] for r in terms.filter(term_in(words)).collect())
        assert got == sorted(set(words) & set(odd + decoys)), words
        got = sorted(
            r["term"]
            for r in terms.filter(
                term_probe_predicate(terms, words)
            ).collect()
        )
        assert got == sorted(set(words) & set(odd + decoys)), words


def test_batch_plan_one_task_per_shard(spark, tmp_path):
    """bm25_batch's posting scan pushes the term predicate into the
    parquet reader, and the kernel reads ONE partition-id passthrough
    exchange with n_shards partitions — an exchange AQE leaves
    uncoalesced, so every shard runs in its own task."""
    from search_suite_spark.operators.wand import bm25_batch
    from search_suite_spark.sources.corpus import pages_from_docs_list
    from search_suite_spark.sources.segments import build_segment

    docs = [(f"http://p{i}", f"alpha beta gamma w{i}") for i in range(30)]
    seg = build_segment(
        pages_from_docs_list(spark, docs), str(tmp_path / "bseg"), n_shards=3
    )
    out = bm25_batch(seg, {"a": "alpha beta", "b": "gamma"}, max_results=5)
    plan = _plan(out)
    assert re.search(r"PushedFilters:.*[Ii]n\(term", plan), plan
    passthrough = re.findall(
        r"Arguments: shufflepartitionidpassthrough\(.*\), (\d+)\), "
        r"REPARTITION_BY_NUM",
        plan,
    )
    assert passthrough == [str(seg.n_shards)], plan
    # that exchange is the kernel's direct input
    m = re.search(r"MapInArrow \(\d+\)\n[ :|]*\+- Exchange \((\d+)\)", plan)
    assert m, plan
    assert re.search(
        rf"\({m.group(1)}\) Exchange\n.*\nArguments: shufflepartitionid",
        plan,
    ), plan
    assert {r["qid"] for r in out.collect()} == {"a", "b"}
    # executed: no AQEShuffleRead (coalescing) between exchange and kernel
    final = _plan(out)
    assert re.search(
        r"MapInArrow \(\d+\)\n[ :|]*\+- ShuffleQueryStage", final
    ), final
