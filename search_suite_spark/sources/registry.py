"""Collection registry: named sets of segments + compaction loop +
multi-segment scatter/gather query.

Reference counterparts: the STM registry of components per collection
(/root/reference/searchapi3/src/Registry.hs:45-50), startup import by
directory scan (Importer.hs:29-79), the ingest-then-compact loop
(Indexer.hs:58-106, Compactor.hs:57-97), and the per-segment
scatter/gather query with bounded-heap merge + url-dedupe
(Query/QueryProcessor.hs:61-152).

Spark-first: a collection is a directory of segment subdirectories;
snapshot isolation comes from immutable segment dirs + atomic directory
renames (in production: Iceberg snapshot tags per build generation —
no locks needed, unlike the reference's STM lock set). Per-segment
statistics (N, avgdl, df) stay segment-local during scoring, exactly
like the reference (ranking.rs:48-50) — a doc's score depends on which
segment it lives in until compaction folds segments together.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from search_suite_spark.plans.compaction import choose_merge_pair
from search_suite_spark.operators.merge import merge_segments
from search_suite_spark.sources.segments import (
    Segment,
    build_segment,
    read_segment,
    term_in,
    term_probe_predicate,
)

_REPLACES = "replaces.json"  # compaction tombstone manifest (see below)


def _is_segment_dir(name: str, path: str) -> bool:
    # tmp_ dirs are in-progress builds — they may already contain lineage,
    # so the name prefix (not the content) is the registration bit
    return name.startswith("seg_") and os.path.isdir(os.path.join(path, "lineage"))


def _replaced_names(col_dir: str, names: list[str]) -> set[str]:
    """Segments superseded by a completed merge: every merged segment
    carries a replaces.json tombstone naming its sources. A crash between
    the merge's rename and the source rmtree leaves both registered —
    without this, every doc in the sources would be double-counted."""
    dead: set[str] = set()
    for name in names:
        mf = os.path.join(col_dir, name, _REPLACES)
        if os.path.isfile(mf):
            try:
                with open(mf) as f:
                    dead.update(json.load(f))
            except (OSError, json.JSONDecodeError):
                pass
    return dead


def load_collection(spark: SparkSession, col_dir: str) -> dict[str, Segment]:
    """Startup import (Importer.hs:29-79): scan segment subdirectories,
    read num_docs for each from its lineage table. Segments named in a
    live segment's replaces.json are skipped (crash-consistent view)."""
    if not os.path.isdir(col_dir):
        return {}
    names = [
        n for n in sorted(os.listdir(col_dir))
        if _is_segment_dir(n, os.path.join(col_dir, n))
    ]
    dead = _replaced_names(col_dir, names)
    return {
        name: read_segment(spark, os.path.join(col_dir, name))
        for name in names
        if name not in dead
    }


def _next_segment_name(col_dir: str) -> str:
    """First seg_NNNNNN name free on disk AND in every live tombstone: a
    merge deletes its sources, but their names stay in the merged
    segment's replaces.json, so a new segment under such a name would be
    hidden by load_collection and removed by compact_collection's
    cleanup."""
    existing = set(os.listdir(col_dir)) if os.path.isdir(col_dir) else set()
    taken = existing | _replaced_names(
        col_dir,
        [n for n in existing if _is_segment_dir(n, os.path.join(col_dir, n))],
    )
    i = 0
    while f"seg_{i:06d}" in taken or f"tmp_{i:06d}" in taken:
        i += 1
    return f"seg_{i:06d}"


def index_into_collection(
    spark: SparkSession,
    pages: DataFrame,
    col_dir: str,
    n_shards: int = 16,
    compact: bool = True,
    segment_name: str | None = None,
) -> dict[str, Segment]:
    """Ingest a batch of pages as a fresh segment, then compact
    (Indexer.hs:58-106: index → register → compact loop). Builds into a
    tmp_ dir and renames, so a crashed ingest never registers.

    ``segment_name`` pins the segment's registered name — callers with a
    replayable source (streaming foreachBatch) derive it from the batch
    id so a replayed batch is an idempotent no-op instead of a duplicate
    segment. Ignored (fresh name chosen) when None.
    """
    os.makedirs(col_dir, exist_ok=True)
    name = segment_name or _next_segment_name(col_dir)
    final = os.path.join(col_dir, name)
    if segment_name is not None and (
        os.path.isdir(final) or _batch_marker_exists(col_dir, name)
    ):
        return load_collection(spark, col_dir)  # replay → no-op
    tmp = os.path.join(col_dir, name.replace("seg_", "tmp_"))
    build_segment(pages, tmp, n_shards=n_shards, resume=False)
    os.rename(tmp, final)
    if segment_name is not None:
        _write_batch_marker(col_dir, name)
    if compact:
        return compact_collection(spark, col_dir, n_shards=n_shards)
    return load_collection(spark, col_dir)


def _markers_dir(col_dir: str) -> str:
    return os.path.join(col_dir, "_ingested")


def _batch_marker_exists(col_dir: str, name: str) -> bool:
    """True iff a pinned-name segment completed earlier — even if
    compaction has since merged the segment dir away (the dir-exists
    check alone would re-ingest it on replay)."""
    return os.path.isfile(os.path.join(_markers_dir(col_dir), name))


def _write_batch_marker(col_dir: str, name: str) -> None:
    os.makedirs(_markers_dir(col_dir), exist_ok=True)
    with open(os.path.join(_markers_dir(col_dir), name), "w") as f:
        f.write("done")


def compact_collection(
    spark: SparkSession, col_dir: str, n_shards: int = 16
) -> dict[str, Segment]:
    """Compact to the policy fixpoint (Compactor.hs:57-97): repeatedly
    pick a pair via the Fibonacci-hybrid strategy and sort-merge it.

    Crash safety: the merged segment is built under tmp_ with a
    replaces.json tombstone naming its two sources, then renamed into
    place, and only then are the sources deleted. A crash at any point
    leaves a loadable collection (load_collection skips replaced
    sources); the next compact pass finishes the cleanup here.
    """
    while True:
        # finish any interrupted cleanup: sources named by a live merge's
        # tombstone are dead even if a crash preserved their dirs
        names = [
            n for n in sorted(os.listdir(col_dir))
            if _is_segment_dir(n, os.path.join(col_dir, n))
        ] if os.path.isdir(col_dir) else []
        for leftover in _replaced_names(col_dir, names):
            shutil.rmtree(os.path.join(col_dir, leftover), ignore_errors=True)

        segs = load_collection(spark, col_dir)
        sizes = {name: seg.num_docs for name, seg in segs.items()}
        pair = choose_merge_pair(sizes)
        if pair is None:
            return segs
        a, b = pair
        name = _next_segment_name(col_dir)
        tmp = os.path.join(col_dir, name.replace("seg_", "tmp_"))
        merge_segments(spark, segs[a], segs[b], tmp, n_shards=n_shards)
        with open(os.path.join(tmp, _REPLACES), "w") as f:
            json.dump([a, b], f)
        os.rename(tmp, os.path.join(col_dir, name))
        shutil.rmtree(os.path.join(col_dir, a))
        shutil.rmtree(os.path.join(col_dir, b))


def merge_into(
    spark: SparkSession, src_col: str, dest_col: str, n_shards: int = 16
) -> dict[str, Segment]:
    """Drain collection ``src_col`` into ``dest_col`` (M10 — the
    reference's mergeInto, Compactor.hs:102-142 via
    Controllers/Collections.hs:22-24): every source segment is adopted by
    the destination under a fresh name, then the destination compacts.
    The source collection ends empty (its dir remains, drained).

    Segment adoption is a directory rename — segments are immutable, so
    no data is rewritten until the destination's own compaction policy
    decides to fold them (exactly the reference's move-then-compact)."""
    os.makedirs(dest_col, exist_ok=True)
    src_names = [
        n for n in sorted(os.listdir(src_col))
        if _is_segment_dir(n, os.path.join(src_col, n))
    ] if os.path.isdir(src_col) else []
    dead = _replaced_names(src_col, src_names)
    for n in src_names:
        if n in dead:
            shutil.rmtree(os.path.join(src_col, n), ignore_errors=True)
            continue
        new_name = _next_segment_name(dest_col)
        # drop any stale tombstone: its sources stayed behind in src
        mf = os.path.join(src_col, n, _REPLACES)
        if os.path.isfile(mf):
            os.unlink(mf)
        os.rename(os.path.join(src_col, n), os.path.join(dest_col, new_name))
    return compact_collection(spark, dest_col, n_shards=n_shards)


def collection_doc_status(
    segs: dict[str, Segment] | list[Segment], urls: list[str]
) -> DataFrame:
    """Multi-segment doc-status count map (Indexer.hs:160-194: statuses
    are aggregated ACROSS segments into a count per status) →
    (url, status, n_segments).

    A url typically exists in one segment (ingest dedupe), but mid-merge
    or after mergeInto it can be PRESENT in one and DELETED in another —
    the count map is how the reference surfaces that.
    """
    from search_suite_spark.operators.query import doc_status_table
    from search_suite_spark.operators.build import InvertedIndex

    seg_list = list(segs.values()) if isinstance(segs, dict) else list(segs)
    if not seg_list:
        raise ValueError("empty collection")
    parts = []
    for s in seg_list:
        idx = InvertedIndex(
            postings=None, docs=s.docs, terms=None,
            num_docs=s.num_docs, total_doc_len=s.total_doc_len,
            deletes=s.deletes,
        )
        parts.append(doc_status_table(idx, urls))
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    return allr.groupBy("url", "status").agg(
        F.count("*").alias("n_segments")
    )


def collection_term_dfs(
    seg_list: list[Segment], terms: list[str]
) -> list[dict[str, int]]:
    """Batched Q1 dictionary lookup across segments: ONE tagged-union
    job covering every segment's (term, df) rows for the query terms,
    instead of one driver round-trip per segment (the reference fans the
    per-segment lookups out concurrently, QueryProcessor.hs:72; Spark's
    equivalent of concurrency here is a single union plan). Returns one
    {term: df} dict per segment, positionally."""
    out: list[dict[str, int]] = [{} for _ in seg_list]
    if not terms or not seg_list:
        return out
    parts = []
    for i, s in enumerate(seg_list):
        src = (
            s.terms.filter(term_probe_predicate(s.terms, terms))
            .select("term", "df")
            if s.terms is not None
            else s.postings.filter(term_in(terms))
            .groupBy("term")
            .agg(F.sum("n").alias("df"))
        )
        parts.append(
            src.select(
                F.lit(i).alias("_seg"),
                "term",
                F.col("df").cast("long").alias("df"),
            )
        )
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    for r in allr.collect():
        out[r["_seg"]][r["term"]] = int(r["df"])
    return out


def query_collection(
    segs: dict[str, Segment] | list[Segment],
    query: str,
    max_results: int | None = 10,
) -> DataFrame:
    """Scored query across all segments (Q12, QueryProcessor.hs:61-152):
    per-segment top-k with segment-local stats, then a global merge that
    dedupes urls keeping the max score and re-sorts by exact score.

    Driver round-trips are batched: all segments' dictionary lookups run
    as ONE tagged-union job (collection_term_dfs — measured faster than
    per-segment broadcast dictionary joins, see wand_scored's
    dict_strategy note), and the deletes-volume routing reads each
    segment's metadata hint — an N-segment collection pays one
    dictionary job + one result job per query, not N+1 sequential
    submits."""
    from search_suite_spark.functions.normalise import normalise
    from search_suite_spark.operators.wand import wand_scored

    seg_list = list(segs.values()) if isinstance(segs, dict) else list(segs)
    if not seg_list:
        raise ValueError("empty collection")
    q_terms = sorted(set(normalise(query)))
    dfs_list = collection_term_dfs(seg_list, q_terms)
    parts = [
        wand_scored(s, query, max_results=max_results, term_dfs=dfs_list[i])
        for i, s in enumerate(seg_list)
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    w = W.partitionBy("url").orderBy(F.col("score").desc())
    out = (
        allr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.col("score").desc(), F.col("url"))
    )
    if max_results is not None:
        out = out.limit(max_results)
    return out


def query_collection_batch(
    segs: dict[str, Segment] | list[Segment],
    queries: dict[str, str],
    max_results: int | None = 10,
) -> DataFrame:
    """MANY scored queries across ALL segments in one Spark action →
    (qid, url, score): per-(segment, qid) top-k inside the batch shard
    kernels, global per-qid url-dedupe keeping the max score, per-qid
    re-sort + limit — each qid's rows identical to
    ``query_collection(segs, queries[qid])``.

    The N-segments × M-queries workload costs ONE batched dictionary job
    + ONE result job total (the reference answers this shape with one
    process per segment per query, QueryProcessor.hs:72).

    The returned frame carries ``ss_release()`` (see wand._attach_release):
    serving loops call it after their action to drop the per-segment
    query-metadata broadcasts deterministically."""
    from search_suite_spark.functions.normalise import normalise
    from search_suite_spark.operators.wand import bm25_batch

    seg_list = list(segs.values()) if isinstance(segs, dict) else list(segs)
    if not seg_list:
        raise ValueError("empty collection")
    q_terms = sorted({t for q in queries.values() for t in normalise(q)})
    dfs_list = collection_term_dfs(seg_list, q_terms)
    parts, releases = [], []
    for i, s in enumerate(seg_list):
        p = bm25_batch(s, queries, max_results=max_results, term_dfs=dfs_list[i])
        releases.append(p.ss_release)  # .select below returns a NEW frame
        parts.append(p.select("qid", "url", "score"))
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    dd = W.partitionBy("qid", "url").orderBy(F.col("score").desc())
    out = (
        allr.withColumn("_rn", F.row_number().over(dd))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if max_results is not None:
        topk = W.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("url")
        )
        out = (
            out.withColumn("_rk", F.row_number().over(topk))
            .filter(F.col("_rk") <= max_results)
            .drop("_rk")
        )
    out = out.orderBy("qid", F.col("score").desc(), F.col("url"))

    def _release_all() -> None:
        for r in releases:
            r()

    out.ss_release = _release_all
    return out


def query_collection_partial(
    segs: dict[str, Segment] | list[Segment],
    query: str,
    min_should_match: int = 1,
    max_results: int | None = 10,
) -> DataFrame:
    """Partial-match (min-should-match) scored query across ALL of a
    collection's segments → (url, score, n_matched): per-segment
    wand_partial top-k with segment-local stats, union, url-dedupe
    keeping the best-scoring row (its n_matched travels with it),
    global re-sort + limit — the disjunctive twin of query_collection,
    completing the flat/packed/collection symmetry for every scored
    query mode (reference collections answer only conjunctive,
    QueryProcessor.hs:61-152; min-should-match is its own query.rs:
    192-193 TODO, so the collection composition has no reference
    counterpart to mirror — semantics follow query_collection's
    max-score url merge).

    Same driver-round-trip shape as query_collection: ONE tagged-union
    dictionary job for all segments (collection_term_dfs), then one
    result job — N segments never cost N sequential submits."""
    from search_suite_spark.functions.normalise import normalise
    from search_suite_spark.operators.wand import wand_partial

    seg_list = list(segs.values()) if isinstance(segs, dict) else list(segs)
    if not seg_list:
        raise ValueError("empty collection")
    q_terms = sorted(set(normalise(query)))
    dfs_list = collection_term_dfs(seg_list, q_terms)
    parts = [
        wand_partial(
            s,
            query,
            min_should_match=min_should_match,
            max_results=max_results,
            term_dfs=dfs_list[i],
        )
        for i, s in enumerate(seg_list)
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    # keep the best-scoring row per url; n_matched desc breaks exact
    # score ties so the surviving row's values are deterministic
    w = W.partitionBy("url").orderBy(
        F.col("score").desc(), F.col("n_matched").desc()
    )
    out = (
        allr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.col("score").desc(), F.col("url"))
    )
    if max_results is not None:
        out = out.limit(max_results)
    return out
