"""Round-2 registry/collection semantics: M10 mergeInto drain,
compaction crash tombstones, multi-segment doc-status count map,
streaming replay idempotence, and block-max scoring skip.

Reference parity targets:
  mergeInto            /root/reference/searchapi3/src/Compactor.hs:102-142
                       (API Controllers/Collections.hs:22-24)
  doc-status count map /root/reference/searchapi3/src/Indexer.hs:160-194
  crash consistency    the reference's own TODO on compactor crash windows
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from search_suite_spark.operators.build import build_index
from search_suite_spark.operators.query import bm25_scored
from search_suite_spark.sources.corpus import pages_from_docs_list
from search_suite_spark.sources.registry import (
    collection_doc_status,
    compact_collection,
    index_into_collection,
    load_collection,
    merge_into,
    query_collection,
)

DOCS_A = [
    ("http://a1", "foo bar shared"),
    ("http://a2", "apple banana shared"),
]
# 2 + 3 docs: the Fibonacci policy merges pairs only when the size sum
# is itself Fibonacci (2+3=5 ✓; 2+2=4 would never compact)
DOCS_B = [
    ("http://b1", "foo snow shared"),
    ("http://b2", "unique words shared"),
    ("http://b3", "more snow shared"),
]


def test_merge_into_drains_src_into_dest(spark, tmp_path):
    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_A), src,
                          n_shards=2, compact=False)
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_B), dest,
                          n_shards=2, compact=False)

    segs = merge_into(spark, src, dest, n_shards=2)

    # src drained, dest holds everything
    assert load_collection(spark, src) == {}
    assert sum(s.num_docs for s in segs.values()) == 5
    got = {r["url"] for r in query_collection(segs, "shared", None).collect()}
    assert got == {"http://a1", "http://a2", "http://b1", "http://b2", "http://b3"}
    # rank-identical to a direct single-segment build over the union
    direct = build_index(
        pages_from_docs_list(spark, DOCS_A + DOCS_B), dedupe=False
    )
    want = {r["url"]: r["score"] for r in bm25_scored(direct, "foo").collect()}
    gotd = {
        r["url"]: r["score"]
        for r in query_collection(segs, "foo", None).collect()
    }
    assert set(gotd) == set(want)
    for url, s in want.items():
        assert gotd[url] == pytest.approx(s, rel=1e-9)


def test_compaction_tombstone_hides_replaced_sources(spark, tmp_path):
    """Simulated crash after the merged segment renames into place but
    before the source segments are deleted: the collection must load
    WITHOUT double-counting, and the next compact pass must clean up."""
    col = str(tmp_path / "col")
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_A), col,
                          n_shards=2, compact=False)
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_B), col,
                          n_shards=2, compact=False)
    names = sorted(load_collection(spark, col))
    assert len(names) == 2

    # compact normally, then re-create the crash window: restore fake
    # source dirs named in the merged segment's tombstone
    segs = compact_collection(spark, col, n_shards=2)
    (merged_name,) = segs.keys()
    tomb = json.load(open(os.path.join(col, merged_name, "replaces.json")))
    assert sorted(tomb) == names
    for n in tomb:  # resurrect sources as if rmtree never ran
        index_into_collection(
            spark, pages_from_docs_list(spark, DOCS_A), col,
            n_shards=2, compact=False, segment_name=n,
        )
    loaded = load_collection(spark, col)
    assert set(loaded) == {merged_name}, "replaced sources must stay hidden"
    assert sum(s.num_docs for s in loaded.values()) == 5

    # the next compact pass finishes the interrupted cleanup
    compact_collection(spark, col, n_shards=2)
    assert not any(
        os.path.isdir(os.path.join(col, n)) for n in tomb
    ), "leftover replaced segments must be deleted"


def test_ingest_replay_is_idempotent(spark, tmp_path):
    """foreachBatch replay semantics: same segment_name twice → one
    segment, num_docs unchanged (the exactly-once registration fix)."""
    col = str(tmp_path / "col2")
    p = pages_from_docs_list(spark, DOCS_A)
    index_into_collection(spark, p, col, n_shards=2, compact=False,
                          segment_name="seg_b000000000001")
    before = {n: s.num_docs for n, s in load_collection(spark, col).items()}
    index_into_collection(spark, p, col, n_shards=2, compact=False,
                          segment_name="seg_b000000000001")
    after = {n: s.num_docs for n, s in load_collection(spark, col).items()}
    assert before == after == {"seg_b000000000001": 2}

    # replay after compaction merged the segment away must ALSO no-op
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_B), col,
                          n_shards=2, compact=False,
                          segment_name="seg_b000000000002")
    compact_collection(spark, col, n_shards=2)
    n_before = sum(s.num_docs for s in load_collection(spark, col).values())
    index_into_collection(spark, p, col, n_shards=2, compact=False,
                          segment_name="seg_b000000000001")
    n_after = sum(s.num_docs for s in load_collection(spark, col).values())
    assert n_before == n_after == 5


def test_collection_doc_status_counts_across_segments(spark, tmp_path):
    col = str(tmp_path / "col3")
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_A), col,
                          n_shards=2, compact=False)
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_B), col,
                          n_shards=2, compact=False)
    segs = load_collection(spark, col)
    out = collection_doc_status(segs, ["http://a1", "http://b2", "http://nope"])
    rows = {(r["url"], r["status"]): r["n_segments"] for r in out.collect()}
    # each url present in exactly one segment, missing from the other
    assert rows[("http://a1", "PRESENT")] == 1
    assert rows[("http://a1", "MISSING")] == 1
    assert rows[("http://b2", "PRESENT")] == 1
    assert rows[("http://nope", "MISSING")] == 2


def test_collection_term_dfs_single_batched_job(spark, tmp_path):
    """The batched Q1 lookup must return each segment's own df values —
    identical to per-segment term_dfs — in one tagged-union job."""
    from search_suite_spark.sources.registry import collection_term_dfs

    col = str(tmp_path / "col4")
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_A), col,
                          n_shards=2, compact=False)
    index_into_collection(spark, pages_from_docs_list(spark, DOCS_B), col,
                          n_shards=2, compact=False)
    segs = load_collection(spark, col)
    seg_list = list(segs.values())
    terms = ["shared", "foo", "banana", "zzznope"]
    batched = collection_term_dfs(seg_list, terms)
    for i, s in enumerate(seg_list):
        assert batched[i] == s.term_dfs(terms)
    # and a segment missing the terms table falls back to a postings scan
    bare = type(seg_list[0])(
        path=seg_list[0].path, postings=seg_list[0].postings,
        docs=seg_list[0].docs, num_docs=seg_list[0].num_docs,
        total_doc_len=seg_list[0].total_doc_len, deletes=None, terms=None,
    )
    assert collection_term_dfs([bare], ["shared"])[0] == bare.term_dfs(["shared"])


def test_query_collection_batch_matches_individual(spark, tmp_path):
    """query_collection_batch: each qid's (url, score) rows must equal
    query_collection on that query alone — N segments x M queries in one
    action, including a qid whose term is missing everywhere."""
    from search_suite_spark.sources.registry import query_collection_batch

    col = str(tmp_path / "col")
    index_into_collection(
        spark, pages_from_docs_list(spark, DOCS_A), col, compact=False
    )
    index_into_collection(
        spark, pages_from_docs_list(spark, DOCS_B), col, compact=False
    )
    segs = load_collection(spark, col)
    assert len(segs) >= 2
    queries = {
        "q_shared": "shared",
        "q_and": "foo shared",
        "q_missing": "zzznope",
    }
    batch = query_collection_batch(segs, queries, max_results=5).collect()
    by_qid: dict[str, list] = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append(
            (r["url"], round(r["score"], 9))
        )
    assert "q_missing" not in by_qid
    for qid, q in queries.items():
        if qid == "q_missing":
            continue
        solo = [
            (r["url"], round(r["score"], 9))
            for r in query_collection(segs, q, max_results=5).collect()
        ]
        assert by_qid.get(qid, []) == solo, qid


def test_ingest_after_merge_never_reuses_tombstoned_name(spark, tmp_path):
    """A merge deletes its sources but keeps their names in the merged
    segment's replaces.json; the next ingest must not take such a name,
    or load_collection hides the new segment and compact_collection's
    cleanup deletes it. Three compacting batches, the first of which
    merges into the base, keep every live url."""
    col = str(tmp_path / "col_names")

    def batch(tag, n):
        return [(f"http://{tag}{i}", f"shared {tag} w{i}") for i in range(n)]

    base = batch("base", 3)
    index_into_collection(spark, pages_from_docs_list(spark, base), col,
                          n_shards=2, compact=True)
    assert list(load_collection(spark, col)) == ["seg_000000"]
    want = {u for u, _ in base}
    # 3 + 2 docs: both Fibonacci, sum 5 Fibonacci → the first batch
    # merges with the base, and seg_000000 lives on in the tombstone
    for tag, n in (("b1_", 2), ("b2_", 1), ("b3_", 4)):
        docs = batch(tag, n)
        want |= {u for u, _ in docs}
        segs = index_into_collection(
            spark, pages_from_docs_list(spark, docs), col,
            n_shards=2, compact=True,
        )
        got = {
            r["url"]
            for s in segs.values()
            for r in s.docs.select("url").collect()
        }
        assert got == want, tag
        hits = query_collection(segs, "shared", max_results=None).collect()
        assert {r["url"] for r in hits} == want, tag
    assert "seg_000000" not in segs
