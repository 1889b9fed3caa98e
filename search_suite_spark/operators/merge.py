"""Segment merge as a sort-merge over posting shards (SURVEY §2.4).

The reference merges two segments with hand-written streaming 2-way
sorted merges (/root/reference/indexer-qp2/src/merge/merge.rs:24-105):
url-dedupe (common_urls.rs:108-136, side A wins), docid-collision remap
(common_docids.rs:30-138), doc-table merge filtering deleted docs
(merge.rs:412-588), and term+postings merge (merge.rs:107-297).

Spark-first re-expression:
  - doc ids are deterministic (xxhash64(url)), so the docid-collision
    remap (M3/M4) vanishes by construction — the same url maps to the
    same id on both sides, and distinct-url collisions are audited, not
    repaired.
  - url dedupe (M2/M5/M6): side A wins, expressed as a left_anti join of
    B's docs against A's urls.
  - deleted docs are garbage-collected during the merge (the reference
    writes a fresh zeroed deletions bitset, merge.rs:96-104): both
    sides' deletes filter their doc tables *before* the union, and the
    merged segment starts with no deletes. num_docs / totalDocLength
    shrink accordingly (merge.rs:289-290 recomputes totals from merged
    postings).
  - term+postings merge (M7): decode both sides' packed lists to flat
    (term, doc_id, tf, doc_len) rows, union, and repack grouped by
    (shard, term-bucket) — Spark's shuffle *is* the external sort the
    reference delegates to coreutils sort (common_urls.rs:122-129).
    Since doc_id = xxhash64(url), shard = pmod(doc_id, n_shards) can be
    recomputed at merge time, so merging segments with different shard
    counts re-shards for free.

Scale: each side streams through one mapInArrow decode (no driver
materialization); the only posting shuffle is the shard-slot exchange
(segments.shard_slots) of the repack — identical to the build path, so
the merge kernel runs one task per slot and its output is already in
write layout, and the merge cost is ~ a build over the union's postings
without the tokenize pass.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_suite_spark.operators.codec import BLOCK, varbyte_decode
from search_suite_spark.sources.segments import (
    PACKED_SCHEMA,
    Segment,
    pack_and_write,
    read_segment,
    shard_of_doc_id,
    shard_slots,
)

# cap on the driver-collected dead-doc id set (B-side url dups + both
# sides' deletes) for the packed merge path: 1M int64 ids = 8 MB per
# executor via sc.broadcast — comfortably driver/executor-sized. Beyond
# it the merge falls back to the flat path, whose dedupe semi-joins
# scale to arbitrarily large drop sets.
MAX_BROADCAST_DROPS = 1_000_000

# tf/doc_len as int32: halves their bytes through the merge's one big
# exchange and the two Arrow boundaries (guide §2.3, narrower types) —
# doc_len is int32 in the packed schema already and tf is a count the
# single-pass build stores as int
FLAT_SCHEMA = "term string, doc_id long, tf int, doc_len int"


def _concat_binary(arr) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy view of ALL values of a pa.BinaryArray as one uint8
    buffer, plus the per-value byte bounds (len+1). No per-row Python."""
    import pyarrow as pa  # noqa: F401

    n = len(arr)
    offs = np.frombuffer(
        arr.buffers()[1], dtype=np.int32, count=n + 1, offset=arr.offset * 4
    ).astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data[offs[0] : offs[-1]], offs - offs[0]


def unpack_flat(seg: Segment) -> DataFrame:
    """Decode a segment's packed postings back to flat rows
    (term, doc_id, tf, doc_len) — streaming mapInArrow batches, the
    mirror of the pack kernel (segments._pack_stream_arrow): one varbyte
    decode per COLUMN per chunk (vByte is self-delimiting, so the rows'
    buffers decode concatenated), block-restart delta reconstruction as
    a whole-chunk segmented cumsum, and the output term column assembled
    with pc.take — zero per-row or per-list Python. Compaction runs
    constantly in the LSM design, so this is hot-path code.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def decode(batches):
        for rb in batches:
            t = pa.Table.from_batches([rb]).combine_chunks()
            g = t.num_rows
            if g == 0:
                continue

            def arr(name):
                c = t.column(name)
                return c.chunk(0) if c.num_chunks == 1 else c.combine_chunks()

            ns = np.asarray(arr("n"), dtype=np.int64)
            total = int(ns.sum())
            ids_bytes, _ = _concat_binary(arr("ids"))
            tfs_bytes, _ = _concat_binary(arr("tfs"))
            dls_bytes, _ = _concat_binary(arr("dls"))

            deltas = varbyte_decode(ids_bytes)
            tfs = varbyte_decode(tfs_bytes)
            dls = varbyte_decode(dls_bytes)

            # per-posting list index and position-in-list
            starts = np.concatenate(([0], np.cumsum(ns)))[:-1]
            list_idx = np.repeat(np.arange(g, dtype=np.int64), ns)
            pos_in_list = np.arange(total, dtype=np.int64) - starts[list_idx]

            # segmented blockwise cumsum: deltas restart absolute at every
            # in-list BLOCK boundary (codec.pack_many layout)
            is_bs = (pos_in_list % BLOCK) == 0
            bs = np.flatnonzero(is_bs)
            c = np.cumsum(deltas, dtype=np.uint64)
            prior = np.zeros(bs.size, dtype=np.uint64)
            prior[1:] = c[bs[1:] - 1]
            blk_of = np.cumsum(is_bs) - 1
            ids = c - prior[blk_of]

            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(arr("term"), pa.array(list_idx)),
                    pa.array(ids.view(np.int64)),
                    pa.array(tfs.astype(np.int32)),
                    pa.array(dls.astype(np.int32)),
                ],
                names=["term", "doc_id", "tf", "doc_len"],
            )

    return seg.postings.select("term", "n", "ids", "tfs", "dls").mapInArrow(
        decode, FLAT_SCHEMA
    )


def _merge_packed_arrow(drops_a_bc, drops_b_bc, max_row_postings=None):
    """mapInArrow merge kernel over PACKED posting rows — the guide-§8
    'move heavy bytes once' form of the segment merge: the shuffle ships
    compressed (term, shard, side, n, ids, tfs, dls) rows (≈ the packed
    index's bytes/posting, ~10 B) instead of decoded 24 B/posting flat
    rows, and the decoded postings never cross the Python boundary or a
    JVM sort at all. Input partitions are sorted by (shard, term) so
    both sides' rows for one posting list are adjacent; per (shard,
    term) group the kernel decodes the rows' vByte buffers, drops dead
    doc_ids per side (side 0 = segment A: deletes; side 1 = segment B:
    A-wins url dups + deletes — the same sets the flat path's semi-joins
    enforce), merge-sorts by uint64 doc_id and repacks with the build's
    pack_many. Group boundaries straddling Arrow batches are carried
    over exactly like the build kernel.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from search_suite_spark.operators.codec import (
        MAX_ROW_POSTINGS,
        pack_many,
        split_group_starts,
    )

    if max_row_postings is None:
        max_row_postings = MAX_ROW_POSTINGS

    def _isin_sorted(vals: np.ndarray, table: np.ndarray) -> np.ndarray:
        pos = np.searchsorted(table, vals)
        pos = np.minimum(pos, table.size - 1)
        return table[pos] == vals

    out_fields = [
        ("term", pa.string()), ("shard", pa.int32()), ("n", pa.int64()),
        ("ids", pa.binary()), ("tfs", pa.binary()), ("dls", pa.binary()),
        ("ids_offs", pa.list_(pa.int64())),
        ("tfs_offs", pa.list_(pa.int64())),
        ("dls_offs", pa.list_(pa.int64())),
        ("block_last", pa.list_(pa.int64())),
        ("block_max_tf", pa.list_(pa.int64())),
        ("block_min_dl", pa.list_(pa.int64())),
        ("block_min_tf", pa.list_(pa.int64())),
        ("block_max_dl", pa.list_(pa.int64())),
    ]
    out_schema = pa.schema([pa.field(n, t) for n, t in out_fields])

    def merge_table(t: pa.Table) -> pa.RecordBatch | None:
        drops_a = drops_a_bc.value if drops_a_bc is not None else None
        drops_b = drops_b_bc.value if drops_b_bc is not None else None
        g = t.num_rows
        if g == 0:
            return None

        def arr(name):
            c = t.column(name)
            return c.chunk(0) if c.num_chunks == 1 else c.combine_chunks()

        term_a = arr("term")
        shard_np = np.asarray(arr("shard"), dtype=np.int64)
        side_np = np.asarray(arr("side"), dtype=np.int8)
        ns = np.asarray(arr("n"), dtype=np.int64)
        total = int(ns.sum())
        if total == 0:
            return None
        ids_bytes, _ = _concat_binary(arr("ids"))
        tfs_bytes, _ = _concat_binary(arr("tfs"))
        dls_bytes, _ = _concat_binary(arr("dls"))

        deltas = varbyte_decode(ids_bytes)
        tfs = varbyte_decode(tfs_bytes)
        dls = varbyte_decode(dls_bytes)

        # absolute doc_ids: segmented blockwise cumsum, restart at every
        # in-row BLOCK boundary (identical to unpack_flat)
        starts = np.concatenate(([0], np.cumsum(ns)))[:-1]
        list_idx = np.repeat(np.arange(g, dtype=np.int64), ns)
        pos_in_list = np.arange(total, dtype=np.int64) - starts[list_idx]
        is_bs = (pos_in_list % BLOCK) == 0
        bs = np.flatnonzero(is_bs)
        c = np.cumsum(deltas, dtype=np.uint64)
        prior = np.zeros(bs.size, dtype=np.uint64)
        prior[1:] = c[bs[1:] - 1]
        blk_of = np.cumsum(is_bs) - 1
        ids = c - prior[blk_of]

        # (shard, term) group id per ROW → per posting via list_idx
        neq = pc.fill_null(
            pc.not_equal(term_a.slice(1), term_a.slice(0, g - 1)), True
        )
        row_change = np.asarray(neq) | (shard_np[1:] != shard_np[:-1])
        row_group = np.concatenate(
            ([0], np.cumsum(row_change))
        ).astype(np.int64)
        pgroup = row_group[list_idx]

        # per-side dead-doc filter (uint64 membership via searchsorted)
        keep = np.ones(total, dtype=bool)
        pside = side_np[list_idx]
        if drops_a is not None and drops_a.size:
            keep &= ~((pside == 0) & _isin_sorted(ids, drops_a))
        if drops_b is not None and drops_b.size:
            keep &= ~((pside == 1) & _isin_sorted(ids, drops_b))
        if not keep.all():
            sel = np.flatnonzero(keep)
            ids, tfs, dls = ids[sel], tfs[sel], dls[sel]
            pgroup, list_idx = pgroup[sel], list_idx[sel]
        if ids.size == 0:
            return None

        # merge-sort within each group by uint64 doc_id (stable)
        perm = np.lexsort((ids, pgroup))
        ids, tfs, dls = ids[perm], tfs[perm], dls[perm]
        pgroup, list_idx = pgroup[perm], list_idx[perm]

        group_starts = np.concatenate(
            ([0], np.flatnonzero(pgroup[1:] != pgroup[:-1]) + 1)
        ).astype(np.int64)
        group_starts = split_group_starts(
            group_starts, int(ids.size), max_row_postings
        )
        p = pack_many(ids, tfs, dls, group_starts)
        og = int(p["n"].size)
        gfirst = group_starts

        def binary_arr(buf: bytes, bounds: np.ndarray) -> pa.Array:
            if int(bounds[-1]) >= 2**31:
                raise ValueError(
                    f"packed chunk buffer {int(bounds[-1])} bytes overflows "
                    "int32 Arrow offsets; lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            return pa.Array.from_buffers(
                pa.binary(), og,
                [None, pa.py_buffer(bounds.astype(np.int32).tobytes()),
                 pa.py_buffer(buf)],
            )

        bb = np.concatenate(([0], np.cumsum(p["block_counts"])))
        if int(bb[-1]) >= 2**31:
            raise ValueError("block-metadata list offsets overflow int32")
        bb = bb.astype(np.int32)

        def list_arr(vals: np.ndarray) -> pa.Array:
            return pa.ListArray.from_arrays(pa.array(bb), pa.array(vals))

        src_row = list_idx[gfirst]
        return pa.RecordBatch.from_arrays(
            [
                pc.take(term_a, pa.array(src_row)),
                pa.array(shard_np[src_row].astype(np.int32)),
                pa.array(p["n"]),
                binary_arr(p["ids_buf"], p["ids_bounds"]),
                binary_arr(p["tfs_buf"], p["tfs_bounds"]),
                binary_arr(p["dls_buf"], p["dls_bounds"]),
                list_arr(p["ids_offs"]),
                list_arr(p["tfs_offs"]),
                list_arr(p["dls_offs"]),
                list_arr(p["block_last"]),
                list_arr(p["block_max_tf"]),
                list_arr(p["block_min_dl"]),
                list_arr(p["block_min_tf"]),
                list_arr(p["block_max_dl"]),
            ],
            schema=out_schema,
        )

    def go(batches):
        pend = None
        for rb in batches:
            t = pa.Table.from_batches([rb])
            if pend is not None:
                t = pa.concat_tables([pend, t]).combine_chunks()
                pend = None
            n = t.num_rows
            if n == 0:
                continue
            term_c = t.column("term")
            term_a = (term_c.chunk(0) if term_c.num_chunks == 1
                      else term_c.combine_chunks())
            sh = np.asarray(t.column("shard"), dtype=np.int64)
            neq = pc.fill_null(
                pc.not_equal(term_a.slice(1), term_a.slice(0, n - 1)), True
            )
            change = np.asarray(neq) | (sh[1:] != sh[:-1])
            cut_points = np.flatnonzero(change)
            if cut_points.size == 0:
                pend = t  # one group continues into the next batch
                continue
            cut = int(cut_points[-1]) + 1
            pend = t.slice(cut)
            out = merge_table(t.slice(0, cut).combine_chunks())
            if out is not None and out.num_rows:
                yield out
        if pend is not None and pend.num_rows:
            out = merge_table(pend.combine_chunks())
            if out is not None and out.num_rows:
                yield out

    return go


def _collect_ids_capped(df: DataFrame, limit: int) -> set[int] | None:
    """Collect a (small) doc_id column to the driver, or None when it
    exceeds ``limit`` rows — the fall-back-to-flat-path guard."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        return None
    return {int(r[0]) for r in rows}


def _live_docs(seg: Segment) -> DataFrame:
    docs = seg.docs
    if seg.deletes is not None:
        docs = docs.join(
            F.broadcast(seg.deletes.select("doc_id").distinct()), "doc_id", "left_anti"
        )
    return docs


def _merged_packed_rows(
    live: list[tuple[int, Segment]], n_shards: int, bc_a=None, bc_b=None
) -> DataFrame:
    """Both sides' packed posting rows, tagged by side, through ONE
    shard-slot exchange (segments.shard_slots salted by term) and an
    in-partition (shard, term) sort into the merge kernel → PACKED_SCHEMA
    rows, one slot per partition (the write layout)."""
    parts = [
        seg.postings.select(
            "term", "shard",
            F.lit(side).cast("tinyint").alias("side"),
            "n", "ids", "tfs", "dls",
        )
        for side, seg in live
    ]
    src = parts[0]
    for p in parts[1:]:
        src = src.unionByName(p)
    slot, n_slots = shard_slots(src.sparkSession, n_shards, "term")
    return (
        src.repartitionById(n_slots, slot)
        .sortWithinPartitions("shard", "term")
        .mapInArrow(_merge_packed_arrow(bc_a, bc_b), PACKED_SCHEMA)
    )


def _merge_packed(
    spark: SparkSession,
    seg_a: Segment,
    seg_b: Segment,
    docs_a: DataFrame,
    docs_b_all: DataFrame,
    docs: DataFrame,
    dest_dir: str,
    n_shards: int,
) -> bool:
    """Packed-row merge fast path (guide §8: every shuffle but the last
    moves a lightweight proxy — here even the last one moves compressed
    rows). Applies when every live side already has the destination
    shard count (shard = pmod(doc_id, n_shards) is then unchanged, so
    packed rows shuffle whole) and the dead-doc id set fits a broadcast;
    returns False to fall back to the flat-row merge otherwise."""
    live = [(0, seg_a), (1, seg_b)]
    live = [(s, seg) for s, seg in live if seg.num_docs > 0]
    if any(seg.n_shards != n_shards for _, seg in live):
        return False

    # dead-doc sets, exactly the flat path's semi-join semantics:
    #   side A drops its deletes; side B drops its deletes plus the
    #   A-wins url dups (doc_ids of live-B docs whose url lives in A)
    drops: dict[int, set[int]] = {0: set(), 1: set()}
    for side, seg in live:
        if seg.deletes is not None and seg.n_deletes_hint != 0:
            got = _collect_ids_capped(
                seg.deletes.select("doc_id").distinct(), MAX_BROADCAST_DROPS
            )
            if got is None:
                return False
            drops[side] |= got
    if seg_a.num_docs > 0 and seg_b.num_docs > 0:
        dup = docs_b_all.join(
            docs_a.select("url"), "url", "left_semi"
        ).select("doc_id")
        got = _collect_ids_capped(dup, MAX_BROADCAST_DROPS)
        if got is None:
            return False
        drops[1] |= got

    def bc_sorted(ids: set[int]):
        if not ids:
            return None
        arr = np.sort(
            np.fromiter(ids, dtype=np.int64, count=len(ids)).view(np.uint64)
        )
        return spark.sparkContext.broadcast(arr)

    bc_a, bc_b = bc_sorted(drops[0]), bc_sorted(drops[1])
    try:
        # explicit shard list: zero-doc shards still get a (zeroed)
        # lineage row, so the merged segment's shard-count metadata is
        # exact and merge-of-merge chains (compaction's steady state)
        # keep qualifying for this fast path
        pack_and_write(
            spark, _merged_packed_rows(live, n_shards, bc_a, bc_b), docs,
            dest_dir, n_shards, write_terms=True, packed_input=True,
            shards=list(range(n_shards)),
        )
    finally:
        for bc in (bc_a, bc_b):
            if bc is not None:
                bc.unpersist(blocking=False)
    return True


def merge_segments(
    spark: SparkSession,
    seg_a: Segment,
    seg_b: Segment,
    dest_dir: str,
    n_shards: int = 16,
) -> Segment:
    """Merge two segments into dest_dir; side A wins duplicate urls
    (reference merge/common_urls.rs:57-106 keeps the first side's doc)."""
    docs_a = _live_docs(seg_a)
    docs_b_all = _live_docs(seg_b)
    docs_b = docs_b_all.join(
        docs_a.select("url"), "url", "left_anti"
    )

    keep_cols = ["doc_id", "url", "doc_len"]
    if "warc_ts" in docs_a.columns and "warc_ts" in docs_b.columns:
        keep_cols.append("warc_ts")
    # placed like the packed rows (one shard slot per partition, salted
    # by doc_id), so the docs write adds no exchange of its own
    docs = (
        docs_a.select(*keep_cols)
        .unionByName(docs_b.select(*keep_cols))
        .withColumn("shard", shard_of_doc_id(n_shards))
    )
    slot, n_slots = shard_slots(spark, n_shards, "doc_id")
    docs = docs.repartitionById(n_slots, slot)

    if seg_a.num_docs <= 0 and seg_b.num_docs <= 0:
        raise ValueError("refusing to merge two empty segments (index.rs:54-71)")

    # packed-row fast path: shuffle compressed posting rows, not decoded
    # flat rows; falls back below on re-shard or oversized drop sets
    if _merge_packed(
        spark, seg_a, seg_b, docs_a, docs_b_all, docs, dest_dir, n_shards
    ):
        return read_segment(spark, dest_dir)

    # M8 empty-side short-circuit (the reference fast-copies the non-empty
    # side, merge.rs:70-94): skip the dead side's unpack scan entirely —
    # num_docs straight from lineage metadata, no job scheduled. The live
    # side still repacks (it may be re-sharding to a new n_shards).
    sides = []
    if seg_a.num_docs > 0:
        flat_a = unpack_flat(seg_a)
        # A's postings reference exactly A's docs by construction, so the
        # live-docs semi-join is the identity unless A actually carries
        # deletes — skip the join (broadcast build + probe over the full
        # flat side) when the metadata hint says there are none.
        if seg_a.deletes is not None and seg_a.n_deletes_hint != 0:
            flat_a = flat_a.join(
                docs_a.select("doc_id"), "doc_id", "left_semi"
            )
        sides.append(flat_a)
    if seg_b.num_docs > 0:
        # B's semi-join also enforces the A-wins url dedupe, so it stays
        # even when B has no deletes
        sides.append(unpack_flat(seg_b).join(docs_b.select("doc_id"), "doc_id", "left_semi"))
    if not sides:
        raise ValueError("refusing to merge two empty segments (index.rs:54-71)")
    flat = sides[0]
    for s in sides[1:]:
        flat = flat.unionByName(s)
    flat = flat.withColumn("shard", shard_of_doc_id(n_shards))

    # write_terms=True: the merge covers the whole segment in one pass,
    # so the dictionary comes from the persisted packed frame directly.
    # Explicit shard list for the same reason as the packed path: exact
    # shard-count metadata on the merged segment.
    pack_and_write(
        spark, flat, docs, dest_dir, n_shards, write_terms=True,
        shards=list(range(n_shards)),
    )
    return read_segment(spark, dest_dir)
