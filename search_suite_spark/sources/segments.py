"""Segment store: packed, sharded, resumable index builds on parquet.

A *segment* is the Spark-side analogue of the reference's index component
(/root/reference/indexer-qp2/src/index_writer.rs:12-75, 8 files in a
directory). Here a segment is a directory of tables:

    seg/
      docs/      (doc_id, url, doc_len, shard [, warc_ts])
      postings/  partitioned by shard: packed posting lists per
                 (term, shard) — block-aligned delta+varbyte (codec.py)
      lineage/   one row per completed shard: doc/posting/byte counts +
                 wall ms (north_rule: per-partition lineage + metrics)
      deletes/   (doc_id) — docDeletions analogue (Q17)

Sharding: shard = pmod(xxhash64(url), n_shards) — a *doc-keyed* hash
partition. Every term's postings for shard s cover the same doc subset,
so a conjunctive query can be answered shard-locally and merged (the
scatter/gather of reference Query/QueryProcessor.hs:61-152). Stop-word
skew is bounded by construction: the largest (term, shard) group is
df(term)/n_shards — this is the salted two-phase aggregation the
north_rule asks for, with the salt being a stable doc hash instead of a
random number (deterministic ⇒ resumable).

Resume: shards are built in batches; each batch write uses dynamic
partition overwrite (idempotent re-run) and appends lineage rows only
after the write succeeds. A restarted build skips shards already in
lineage — no recomputation (north_rule).

Placement is decided once, upstream of every Python kernel and write:
shard_slots splits each shard into k = max(1, defaultParallelism //
n_shards) slots and a repartitionById exchange puts slot
shard·k + pmod(xxhash64(salt), k) in its own partition. The pack and
merge kernels run one task per slot, and the frames they emit are
already in write layout — SegmentIO.write_postings / write_docs only
sort within partitions, so each shard gets at most k files.

Parquet layout notes for 100 TB scale: postings are partitioned by shard
and sorted by term within files, so Parquet row-group min/max statistics
prune term lookups; on a real cluster you would additionally bucket by
term (or use Iceberg bucket(term, N) partitioning — the intended
production catalog; plain parquet is used here because the sandbox ships
no Iceberg runtime jars, and the writer below isolates that choice).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from search_suite_spark.operators.build import (
    dedupe_newest_wins,
    token_rows_with_doc,
)
from search_suite_spark.sources.segment_io import SegmentIO, current_io

PACKED_SCHEMA = (
    "term string, shard int, n long, ids binary, tfs binary, dls binary, "
    "ids_offs array<long>, tfs_offs array<long>, dls_offs array<long>, "
    "block_last array<long>, block_max_tf array<long>, block_min_dl array<long>, "
    "block_min_tf array<long>, block_max_dl array<long>"
)

# the pack kernel's full output: posting rows (term set, doc fields null)
# interleaved with doc-table rows (term null, doc_id/doc_len/url set) —
# the single-pass build derives BOTH tables from one tokenize+shuffle
# job. Doc identity (url, warc_us) rides ONLY the one marker row per doc
# (null on token rows), so the shuffle and Arrow boundary pay one url
# per doc, not per token, and the docs write needs no pages re-scan.
PACK_STREAM_SCHEMA = (
    PACKED_SCHEMA + ", doc_id long, doc_len int, url string, warc_us long"
)

LINEAGE_SCHEMA = (
    "shard int, n_docs long, total_doc_len long, n_terms long, "
    "n_postings long, packed_bytes long, ms long"
)

_U64_SIGN_FLIP = -(1 << 63)  # XOR flips int64 order into uint64 order


def _pack_stream_arrow(
    has_tf: bool,
    n_shards: int,
    max_row_postings: int | None = None,
    emit_docs: bool | None = None,
):
    """mapInArrow packer over a partition pre-sorted by
    (shard, term, uint64 doc_id) — the build's ONLY Python stage, and it
    does no sorting at all.

    Input rows are narrow on purpose (doc_id, doc_len, term [, tf]) —
    the shard column is NOT shipped across the Arrow boundary; the
    kernel recomputes ``shard = pmod(doc_id, n_shards)`` (numpy ``%``
    matches Spark pmod on int64). With ``emit_docs`` (the build path,
    default = not has_tf for the legacy uncollapsed pipeline) each doc
    contributes one null-term marker row carrying ``-doc_len - 1`` (see
    build.token_rows_with_doc); the kernel emits one doc-table row per
    marker — exactly once, since every input row passes through exactly
    one chunk. ``has_tf`` means tf arrives pre-counted (the build's
    map-side partial agg, or the merge's unpacked rows); otherwise the
    kernel run-length counts token instances.

    ZERO per-row or per-group Python: group boundaries come from pyarrow
    C++ compare kernels, tf run-length counting and the varbyte pack are
    whole-chunk numpy (codec.run_length_by_doc / codec.pack_many), term
    values never materialize as Python strings (pc.take keeps them in
    Arrow), and the packed binary/list columns are assembled zero-copy
    from one buffer per column. A group that straddles batch boundaries
    is carried over (the carry is bounded by one posting list =
    df(term)/n_shards rows — the doc-hash shard bound on stop-word skew).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from search_suite_spark.operators.codec import (
        MAX_ROW_POSTINGS,
        pack_many,
        run_length_by_doc,
        split_group_starts,
    )

    if max_row_postings is None:
        max_row_postings = MAX_ROW_POSTINGS
    if emit_docs is None:
        emit_docs = not has_tf

    def batch_to_output(t: pa.Table) -> list[pa.RecordBatch]:
        n = t.num_rows
        out: list[pa.RecordBatch] = []

        def arr(name):
            c = t.column(name)
            return c.chunk(0) if c.num_chunks == 1 else c.combine_chunks()

        term_a = arr("term")
        ids = np.asarray(arr("doc_id"), dtype=np.int64)
        dls = np.asarray(arr("doc_len"), dtype=np.int64)
        tf_np = np.asarray(arr("tf"), dtype=np.int64) if has_tf else None
        sh = ids % n_shards  # == Spark pmod(doc_id, n_shards)

        def schema_batch(kind_arrays: dict) -> pa.RecordBatch:
            fields, arrays = [], []
            for name, typ in (
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
                ("doc_id", pa.int64()), ("doc_len", pa.int32()),
                ("url", pa.string()), ("warc_us", pa.int64()),
            ):
                fields.append(pa.field(name, typ))
                a = kind_arrays.get(name)
                if a is None:
                    a = pa.nulls(kind_arrays["__len__"], typ)
                arrays.append(a)
            return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

        if emit_docs:
            # doc-marker rows (doc_len stored as -(len)-1): the term
            # value encodes doc identity as "\n" + micros + "\n" + url
            # (build.token_rows_with_doc) — decode with Arrow C++ string
            # kernels and drop the rows from the posting stream. The url
            # is the unsplit REMAINDER (max_splits=2), so urls with
            # embedded newlines round-trip byte-identically.
            doc_mask = dls < 0
            if doc_mask.any():
                mask_pa = pa.array(doc_mask)
                split = pc.split_pattern(
                    pc.filter(term_a, mask_pa), "\n", max_splits=2
                )
                ts_str = pc.list_element(split, 1)
                doc_cols = {
                    "__len__": int(doc_mask.sum()),
                    "shard": pa.array(sh[doc_mask].astype(np.int32)),
                    "doc_id": pa.array(ids[doc_mask]),
                    "doc_len": pa.array(
                        (-dls[doc_mask] - 1).astype(np.int32)),
                    "url": pc.list_element(split, 2),
                    "warc_us": pc.cast(
                        pc.if_else(pc.equal(ts_str, ""), None, ts_str),
                        pa.int64(),
                    ),
                }
                out.append(schema_batch(doc_cols))
                keep = ~doc_mask
                keep_pa = pa.array(keep)
                term_a = pc.filter(term_a, keep_pa)
                sh, ids, dls = sh[keep], ids[keep], dls[keep]
                if tf_np is not None:
                    tf_np = tf_np[keep]
                n = len(term_a)

        if n == 0:
            return out

        # group starts: shard or term changes (term is never null here)
        neq = pc.fill_null(
            pc.not_equal(term_a.slice(1), term_a.slice(0, n - 1)), True
        )
        change = np.asarray(neq) | (sh[1:] != sh[:-1])
        group_starts = np.concatenate(
            ([0], np.flatnonzero(change) + 1)
        ).astype(np.int64)

        u_ids = ids.view(np.uint64)
        u_dls = dls.astype(np.uint64)
        if has_tf:
            u_tfs = tf_np.astype(np.uint64)
            # giant-list split (codec.MAX_ROW_POSTINGS): one (term, shard)
            # posting list becomes several block-aligned rows, each fully
            # self-contained — bounds the Arrow transfer (and int32
            # offsets) per row at query time
            group_starts = split_group_starts(
                group_starts, n, max_row_postings
            )
            gfirst = group_starts  # original index of each row's first token
        else:
            u_ids, u_tfs, u_dls, group_starts, orig_starts = run_length_by_doc(
                u_ids, u_dls, group_starts
            )
            group_starts = split_group_starts(
                group_starts, int(u_ids.size), max_row_postings
            )
            gfirst = orig_starts[group_starts]

        p = pack_many(u_ids, u_tfs, u_dls, group_starts)
        g = int(p["n"].size)

        def binary_arr(buf: bytes, bounds: np.ndarray) -> pa.Array:
            # pa.binary() offsets are int32 — fail loudly instead of
            # silently wrapping if a chunk's varbyte buffer ever crosses
            # 2 GiB (a chunk is one Arrow batch plus at most one carried
            # posting list, orders of magnitude below this)
            if int(bounds[-1]) >= 2**31:
                raise ValueError(
                    f"packed chunk buffer {int(bounds[-1])} bytes overflows "
                    "int32 Arrow offsets; lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            return pa.Array.from_buffers(
                pa.binary(), g,
                [None, pa.py_buffer(bounds.astype(np.int32).tobytes()),
                 pa.py_buffer(buf)],
            )

        bb = np.concatenate(([0], np.cumsum(p["block_counts"])))
        if int(bb[-1]) >= 2**31:
            raise ValueError("block-metadata list offsets overflow int32")
        bb = bb.astype(np.int32)

        def list_arr(vals: np.ndarray) -> pa.Array:
            return pa.ListArray.from_arrays(pa.array(bb), pa.array(vals))

        out.append(schema_batch({
            "__len__": g,
            "term": pc.take(term_a, pa.array(gfirst)),
            "shard": pa.array(sh[gfirst].astype(np.int32)),
            "n": pa.array(p["n"]),
            "ids": binary_arr(p["ids_buf"], p["ids_bounds"]),
            "tfs": binary_arr(p["tfs_buf"], p["tfs_bounds"]),
            "dls": binary_arr(p["dls_buf"], p["dls_bounds"]),
            "ids_offs": list_arr(p["ids_offs"]),
            "tfs_offs": list_arr(p["tfs_offs"]),
            "dls_offs": list_arr(p["dls_offs"]),
            "block_last": list_arr(p["block_last"]),
            "block_max_tf": list_arr(p["block_max_tf"]),
            "block_min_dl": list_arr(p["block_min_dl"]),
            "block_min_tf": list_arr(p["block_min_tf"]),
            "block_max_dl": list_arr(p["block_max_dl"]),
        }))
        return out

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
            sh = np.asarray(t.column("doc_id"), dtype=np.int64) % n_shards
            # a group ends where shard changes, term value changes, or
            # term validity flips (null-term doc rows sort first)
            neq_vals = pc.fill_null(
                pc.not_equal(term_a.slice(1), term_a.slice(0, n - 1)), False
            )
            valid = np.asarray(term_a.is_valid())
            change = (
                np.asarray(neq_vals)
                | (valid[1:] != valid[:-1])
                | (sh[1:] != sh[:-1])
            )
            cut_points = np.flatnonzero(change)
            if cut_points.size == 0:
                pend = t  # one (possibly giant) group continues
                continue
            cut = int(cut_points[-1]) + 1
            pend = t.slice(cut)
            for out in batch_to_output(t.slice(0, cut)):
                if out.num_rows:
                    yield out
        if pend is not None and pend.num_rows:
            for out in batch_to_output(pend.combine_chunks()):
                if out.num_rows:
                    yield out

    return go


@dataclass
class Segment:
    path: str
    postings: DataFrame
    docs: DataFrame
    num_docs: int
    total_doc_len: int
    deletes: DataFrame | None
    terms: DataFrame | None = None  # (term, df) dictionary table
    n_shards: int = 0  # from lineage (one row per shard)
    # row-count upper bound for deletes (parquet footers, no Spark job);
    # None = unknown → queries fall back to a count() job
    n_deletes_hint: int | None = None

    @property
    def avgdl(self) -> int:
        return self.total_doc_len // self.num_docs  # ranking.rs:50 parity

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global doc_freq per term (Q1 dictionary lookup). Reads the
        small terms table when present; falls back to a 2-column
        (term, n) scan of the packed postings."""
        if self.terms is not None:
            src = self.terms.filter(term_probe_predicate(self.terms, terms))
            return {r["term"]: int(r["df"]) for r in src.collect()}
        rows = (
            self.postings.filter(term_in(terms))
            .groupBy("term")
            .agg(F.sum("n").alias("df"))
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}


def _in_sql(col: str, values) -> str:
    """SQL text of ``col IN (values…)``. Strings are quoted for Spark's
    default literal syntax (backslash escapes, i.e.
    spark.sql.parser.escapedStringLiterals off — the engine never sets
    it); anything else must be an integer."""

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return str(int(v))

    return f"`{col}` IN ({', '.join(lit(v) for v in values)})"


def term_in(words) -> Column:
    """``term IN (words…)`` built with ONE driver→JVM call: Column.isin
    pays ~4.5 py4j round trips per literal, which a batched query over
    hundreds of terms feels. The predicate is the same In expression,
    so it still pushes into the Parquet reader as In(term, …). An empty
    list matches nothing."""
    words = list(words)
    return F.expr(_in_sql("term", words)) if words else F.lit(False)


def term_probe_predicate(terms_df: DataFrame, words: list[str]) -> Column:
    """Pushable dictionary point-lookup predicate: term ∈ words, AND —
    when the table carries the materialized tlen column — tlen ∈ their
    lengths. The dictionary is written clustered by (tlen, term), so
    the tlen conjunct prunes the probe back to ~one row group per
    distinct length (the in-file term sort alone would leave one
    candidate group per length cluster). Older segments without tlen
    fall back to the bare term predicate."""
    words = list(words)
    if words and "tlen" in terms_df.columns:
        lens = sorted({len(w) for w in words})
        return F.expr(_in_sql("tlen", lens) + " AND " + _in_sql("term", words))
    return term_in(words)


def shard_of_doc_id(n_shards: int):
    """shard = pmod(doc_id, n_shards); doc_id IS xxhash64(url), so the
    doc-hash shard is derivable from doc_id alone — segment merges can
    re-shard postings without consulting the docs table."""
    return F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")


def shard_slots(
    spark: SparkSession, n_shards: int, salt_col: str
) -> tuple[Column, int]:
    """Write-path placement of rows from ``n_shards`` shards → (slot
    column, slot count) for ``repartitionById(count, slot)``.

    A slot is one (shard, salt) pair: each shard splits k = max(1,
    defaultParallelism // n_shards) ways by pmod(xxhash64(salt_col), k),
    and slot shard·k + salt owns its own partition. k > 1 only when
    there are fewer shards than cores, so a small segment still fills
    the cluster. The count sizes every Python kernel stage of the write
    path (one task per slot: each Python task pays a fixed start-up
    cost, whatever its row count — an empty one too), and the frames
    those stages emit are already in write layout, at most k files per
    shard. Partition ids wrap modulo the count, so a build batch of n
    consecutive shard ids also gets one partition per slot; a batch with
    gaps may share a partition between two shards, which the kernels
    and writes allow (they group by shard). The exchange is
    REPARTITION_BY_NUM, which AQE never coalesces. k keys off
    defaultParallelism, which goes stale under dynamic allocation (at
    worst fewer tasks than cores)."""
    k = max(1, spark.sparkContext.defaultParallelism // n_shards)
    slot = F.col("shard") * k + F.pmod(F.xxhash64(salt_col), F.lit(k))
    return slot.cast("int"), n_shards * k


def _pack(
    flat: DataFrame,
    n_shards: int,
    n_placed: int,
    max_row_postings: int | None = None,
) -> DataFrame:
    """The pack stage → a PACK_STREAM_SCHEMA frame, one shard slot per
    partition: ONE slot exchange (shard_slots over the ``n_placed``
    shards ``flat`` holds), an in-partition (shard, term, uint64 doc_id)
    sort and the pack kernel.

    ``flat`` is either the build's raw marker-carrying token instances
    (doc_id, doc_len, term, shard) or the merge fallback's pre-counted
    posting rows (term, shard, doc_id, tf, doc_len). For the build, tf is
    counted by a hash aggregation planned ABOVE the exchange: the slot is
    one of its grouping keys, so the partition-id passthrough already
    satisfies its required distribution and Catalyst runs BOTH partial
    and final HashAggregate after the shuffle (no second exchange, but
    the exchange itself still carries raw token rows). The collapse to
    (doc, term, tf) therefore pays off in what runs AFTER the shuffle:
    the in-partition sort and the Arrow transfer into the pack kernel
    see ~tf-fold fewer rows. (Aggregating before the exchange would
    collapse pre-shuffle but needs a second full-key exchange — 2×
    collapsed bytes vs 1× raw bytes, a wash at web-text tf ratios.) The
    doc-marker rows ride along (count 1) and, salted by their
    url-carrying term value, spread over their shard's slots.

    The shard column is projected away before the Arrow boundary (the
    kernel re-derives it from doc_id), keeping per-row serialization to
    the columns the kernel needs.
    """
    build = "tf" not in flat.columns
    slot, n_slots = shard_slots(flat.sparkSession, n_placed, "term")
    if build:
        pre = (
            flat.withColumn("slot", slot)
            .repartitionById(n_slots, "slot")
            .groupBy("slot", "shard", "doc_id", "doc_len", "term")
            .agg(F.count("*").cast("int").alias("tf"))
        )
    else:
        pre = flat.repartitionById(n_slots, slot)
    kernel = _pack_stream_arrow(
        has_tf=True, n_shards=n_shards,
        max_row_postings=max_row_postings, emit_docs=build,
    )
    u64sort = F.col("doc_id").bitwiseXOR(F.lit(_U64_SIGN_FLIP))
    return (
        pre.sortWithinPartitions("shard", "term", u64sort)
        .select("doc_id", "doc_len", "term", "tf")
        .mapInArrow(kernel, PACK_STREAM_SCHEMA)
    )


def pack_and_write(
    spark: SparkSession,
    flat: DataFrame,
    docs: DataFrame | None,
    seg_dir: str,
    n_shards: int,
    shards: list[int] | None = None,
    mode: str = "overwrite",
    write_terms: bool = False,
    io: SegmentIO | None = None,
    max_row_postings: int | None = None,
    with_warc_ts: bool = False,
    packed_input: bool = False,
) -> None:
    """Pack flat postings (+ docs rows) into segment tables under seg_dir
    and append per-shard lineage.

    ``flat`` is either pre-counted posting rows (term, shard, doc_id, tf,
    doc_len) — the merge path, with ``docs`` supplied separately, already
    placed by shard_slots salted by doc_id — or raw marker-carrying token
    instances (doc_id, doc_len, term, shard) from token_rows_with_doc, in
    which case ``docs=None``: tf is counted after the one exchange (see
    _pack), and the docs table's (doc_id, doc_len, shard)
    rows are emitted from the SAME stream via the null-term marker rows,
    which also carry doc identity (url, warc_us) — one tokenize, one
    shuffle, zero follow-up scans or joins for the whole build (a second
    full-tokenize docs pass measurably broke core scaling).
    ``shards`` restricts the lineage computation to a batch (resume
    granularity). ``io`` is the storage seam (segment_io.SegmentIO) —
    every persisted byte goes through it. ``packed_input`` means ``flat``
    already IS the packed postings frame (PACKED_SCHEMA, placed one slot
    per partition — the packed merge path runs its own shuffle+kernel):
    skip the pack stage and go straight to the write phase.
    """
    io = io or current_io()
    t0 = time.monotonic()

    single_pass = docs is None
    # persist the packed frame: it is the *compressed* index (orders of
    # magnitude smaller than the flat postings) and every downstream
    # table — postings, docs (single-pass), lineage metrics, terms — is a
    # cheap scan of it; nothing recomputes the expensive pack shuffle.
    # It is one shard slot per partition, so the postings and docs
    # writes consume it without another exchange.
    if not packed_input:
        n_placed = n_shards if shards is None else len(shards)
        flat = _pack(flat, n_shards, n_placed, max_row_postings)
    packed = flat.persist()
    try:
        is_doc_row = F.col("term").isNull()
        postings_out = packed.filter(~is_doc_row).select(
            *[c.split(" ")[0] for c in PACKED_SCHEMA.split(", ")]
        )

        if single_pass:
            docs = packed.filter(is_doc_row).select(
                "doc_id",
                "doc_len",
                "shard",
                "url",
                *(
                    [F.timestamp_micros(F.col("warc_us")).alias("warc_ts")]
                    if with_warc_ts
                    else []
                ),
            )

        # phase A+B — postings, docs and terms writes PLUS the lineage
        # stats aggregation all run concurrently on driver threads (guide
        # §2.6: actions are sequential only because driver code calls
        # them sequentially). Every job is a scan of the one persisted
        # packed frame; whichever task reaches an unmaterialized cache
        # partition first computes it (block-level locking makes the
        # race safe), so the expensive pack pipeline still runs once and
        # the three small jobs' fixed submit/commit latencies hide
        # behind the postings write instead of forming a serial tail
        # (measured ~2s of pure tail per build on local[32]). Crash
        # safety is unchanged: lineage — the "shard complete" marker the
        # resume contract reads — is still written strictly LAST, and
        # partially-written docs/postings of an unfinished batch are
        # idempotently overwritten on re-run.
        import concurrent.futures as cf

        def _lineage_stats() -> dict[int, list[int]]:
            # per-shard (n_docs, total_doc_len, n_terms, n_postings,
            # packed_bytes) in ONE conditional aggregation per source —
            # no join: the tiny per-shard rows are combined driver-side
            if single_pass:
                rows = packed.groupBy("shard").agg(
                    F.count(F.when(is_doc_row, 1)).alias("n_docs"),
                    F.sum(
                        F.when(is_doc_row, F.col("doc_len"))
                    ).alias("total_doc_len"),
                    F.count(F.when(~is_doc_row, 1)).alias("n_terms"),
                    F.sum(F.when(~is_doc_row, F.col("n"))).alias("n_postings"),
                    F.sum(
                        F.when(
                            ~is_doc_row,
                            F.length("ids") + F.length("tfs")
                            + F.length("dls"),
                        )
                    ).alias("packed_bytes"),
                ).collect()
                return {
                    int(r["shard"]): [
                        int(r["n_docs"] or 0),
                        int(r["total_doc_len"] or 0),
                        int(r["n_terms"] or 0),
                        int(r["n_postings"] or 0),
                        int(r["packed_bytes"] or 0),
                    ]
                    for r in rows
                }
            stats: dict[int, list[int]] = {}
            for r in postings_out.groupBy("shard").agg(
                F.count("*").alias("n_terms"),
                F.sum("n").alias("n_postings"),
                F.sum(
                    F.length("ids") + F.length("tfs") + F.length("dls")
                ).alias("packed_bytes"),
            ).collect():
                stats[int(r["shard"])] = [
                    0, 0, int(r["n_terms"]), int(r["n_postings"]),
                    int(r["packed_bytes"]),
                ]
            for r in docs.groupBy("shard").agg(
                F.count("*").alias("n_docs"),
                F.sum("doc_len").alias("total_doc_len"),
            ).collect():
                s = stats.setdefault(int(r["shard"]), [0, 0, 0, 0, 0])
                s[0] = int(r["n_docs"] or 0)
                s[1] = int(r["total_doc_len"] or 0)
            return stats

        with cf.ThreadPoolExecutor(max_workers=4) as ex:
            futs = [
                ex.submit(io.write_postings, postings_out, seg_dir, mode),
                ex.submit(io.write_docs, docs, seg_dir, mode),
            ]
            if write_terms:
                futs.append(
                    ex.submit(
                        write_terms_table, spark, seg_dir, postings_out, io
                    )
                )
            stats_fut = ex.submit(_lineage_stats)
            for f in futs:
                f.result()
            stats = stats_fut.result()

        ms = int((time.monotonic() - t0) * 1000)
        # phase C — lineage LAST (a lineage row means "shard complete",
        # the resume contract). Rows come from the *explicit shard list*
        # of the batch, so a shard with zero docs AND zero postings
        # still gets a (zeroed) lineage row — otherwise a resumed build
        # would rebuild empty shards forever and a fully-empty segment
        # would crash read_segment.
        shard_list = sorted(stats) if shards is None else list(shards)
        lineage_rows = [
            tuple([s] + stats.get(s, [0, 0, 0, 0, 0]) + [ms])
            for s in shard_list
        ]
        io.append_lineage(lineage_rows, seg_dir)
    finally:
        packed.unpersist()


def write_terms_table(
    spark: SparkSession,
    seg_dir: str,
    postings: DataFrame | None = None,
    io: SegmentIO | None = None,
) -> None:
    """Write the segment-global term dictionary (term, df) — the analogue
    of the reference's sorted `terms` file (index_writer.rs:31-36). One
    small table per segment: query-time df lookup reads this instead of
    scanning packed postings, and the spelling scan (Q14) runs over it.

    ``postings`` short-circuits the read-back when the caller still holds
    the (persisted) packed frame — single-batch builds save a scan job.
    """
    io = io or current_io()
    if postings is None:
        postings = io.read_postings(spark, seg_dir)
    # tlen is MATERIALIZED (not derived at read time) so it lands in
    # parquet column statistics: the spelling scan's |len(term) - len(w)|
    # ≤ d prune and the point lookup's tlen = len(w) both become
    # row-group-skipping pushed predicates instead of post-scan filters
    # — the partition-prunable analogue of the reference BK-tree's
    # metric prune (indexer-qp2/src/bk_tree.rs:128-190). The write is
    # clustered by (tlen, term), and every probe carries the literal
    # term's length, so point lookups still touch ~one row group.
    terms = postings.groupBy("term").agg(F.sum("n").alias("df")).select(
        "term", "df", F.length("term").alias("tlen")
    )
    io.write_terms(terms, seg_dir)


def completed_shards(
    spark: SparkSession, seg_dir: str, io: SegmentIO | None = None
) -> set[int]:
    io = io or current_io()
    try:
        # driver-side metadata read when the backend offers one — a
        # resume check should not cost a Spark job submit
        shards = io.lineage_shards(spark, seg_dir)
        if shards is not None:
            return shards
        rows = io.read_lineage(spark, seg_dir).select("shard").distinct().collect()
    except Exception:
        return set()
    return {r["shard"] for r in rows}


def build_segment(
    pages: DataFrame,
    seg_dir: str,
    n_shards: int = 16,
    shards_per_batch: int = 8,
    resume: bool = True,
    dedupe: bool = True,
    io: SegmentIO | None = None,
    max_row_postings: int | None = None,
) -> Segment:
    """Build (or resume building) a packed segment from a pages frame.

    Batches of shards are independent, idempotent jobs: filter pages to
    the batch's shards *before* tokenizing (so total tokenizer cost is a
    single pass over the corpus), pack per (term, shard), overwrite those
    shard partitions, then append lineage. Interrupt anywhere: re-running
    skips completed shards.
    """
    io = io or current_io()
    spark = pages.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # under-partitioned input starves the tokenize stage (a 3-partition
    # scan runs 3 tasks no matter how many cores exist); one cheap page
    # shuffle unlocks full parallelism. A genuinely large table (100 TB)
    # always has ≥ cluster-parallelism partitions, so this never fires
    # there — it is a small-input guard, not a standing repartition.
    target = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < target:
        pages = pages.repartition(target)

    do_dedupe = dedupe and "warc_ts" in pages.columns

    done = completed_shards(spark, seg_dir, io=io) if resume else set()
    todo = [s for s in range(n_shards) if s not in done]

    sharded = pages.withColumn(
        "shard", F.pmod(F.xxhash64("url"), F.lit(n_shards)).cast("int")
    )

    for i in range(0, len(todo), shards_per_batch):
        batch = todo[i : i + shards_per_batch]
        bpages = sharded.filter(F.col("shard").isin(batch)).drop("shard")
        if do_dedupe:
            # AFTER the shard filter, not corpus-wide: every copy of a
            # url lands in the same shard (shard = pmod(xxhash64(url))),
            # so per-url newest-wins dedupe commutes with the filter —
            # and a RESUMED build never pays the dedupe shuffle for
            # pages whose shards already completed.
            bpages = dedupe_newest_wins(bpages)
        # ONE codegen'd pass straight from pages: the JVM tokenizer emits
        # token instances with each doc's first row marked (negative
        # doc_len), so the pack shuffle feeds postings AND the docs
        # table — no second tokenize pass, no Python workers before the
        # pack kernel; tf is collapsed by a post-shuffle hash agg that
        # reuses the one exchange (pack_and_write). Doc identity
        # (url, warc_ts) rides the marker rows.
        flat = token_rows_with_doc(bpages).withColumn(
            "shard", shard_of_doc_id(n_shards)
        )
        one_shot = not done and len(batch) == len(todo)
        pack_and_write(
            spark, flat, None, seg_dir, n_shards, shards=batch,
            write_terms=one_shot, io=io, max_row_postings=max_row_postings,
            with_warc_ts="warc_ts" in pages.columns,
        )

    if todo and not (not done and len(todo) <= shards_per_batch):
        write_terms_table(spark, seg_dir, io=io)

    return read_segment(spark, seg_dir, io=io)


def read_segment(
    spark: SparkSession, seg_dir: str, io: SegmentIO | None = None
) -> Segment:
    io = io or current_io()
    postings = io.read_postings(spark, seg_dir)
    docs = io.read_docs(spark, seg_dir)
    # segment totals come from the lineage table — a handful of rows; a
    # driver-side metadata read when the backend offers one (both
    # shipped backends do), else one small Spark aggregation. This runs
    # after every build/merge, so the saved job submit is a fixed tail
    # off every timed build.
    summary = io.lineage_summary(spark, seg_dir)
    if summary is None:
        lineage = io.read_lineage(spark, seg_dir)
        row = lineage.agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("nd"),
            F.coalesce(F.sum("total_doc_len"), F.lit(0)).alias("tdl"),
            F.coalesce(F.max("shard"), F.lit(-1)).alias("max_shard"),
        ).collect()[0]
        summary = (int(row["nd"]), int(row["tdl"]), int(row["max_shard"]))
    deletes = io.read_deletes(spark, seg_dir)
    terms = io.read_terms(spark, seg_dir)
    return Segment(
        path=seg_dir,
        postings=postings,
        docs=docs,
        num_docs=int(summary[0]),
        total_doc_len=int(summary[1]),
        deletes=deletes,
        terms=terms,
        n_shards=int(summary[2]) + 1,
        n_deletes_hint=(
            io.deletes_count(spark, seg_dir) if deletes is not None else 0
        ),
    )


def dump_segment(seg: Segment, n_terms: int = 20) -> str:
    """S11 index dump (debug): human-readable segment report — the
    analogue of the reference's stdout dump
    (/root/reference/indexer-qp2/src/dump.rs:6-41). Aggregates run
    distributed; only the tiny report reaches the driver.
    """
    lineage = current_io().read_lineage(seg.postings.sparkSession, seg.path)
    lrows = lineage.orderBy("shard").collect()
    stats = seg.postings.agg(
        F.count("*").alias("lists"),
        F.sum("n").alias("postings"),
        F.sum(F.length("ids") + F.length("tfs") + F.length("dls")).alias("bytes"),
    ).collect()[0]
    top = (
        seg.postings.groupBy("term")
        .agg(F.sum("n").alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(n_terms)
        .collect()
    )
    lines = [
        f"segment {seg.path}",
        f"  num_docs={seg.num_docs} total_doc_len={seg.total_doc_len} "
        f"avgdl={seg.avgdl}",
        f"  posting_lists={stats['lists']} postings={stats['postings']} "
        f"packed_bytes={stats['bytes']}",
        "  shard  docs  terms  postings  bytes  ms",
    ]
    for r in lrows:
        lines.append(
            f"  {r['shard']:>5}  {r['n_docs']:>4}  {r['n_terms']:>5}  "
            f"{r['n_postings']:>8}  {r['packed_bytes']:>5}  {r['ms']}"
        )
    lines.append(f"  top {n_terms} terms by df:")
    for r in top:
        lines.append(f"    {r['term']}\t{r['df']}")
    return "\n".join(lines)


def delete_url(
    spark: SparkSession, seg: Segment, url: str, io: SegmentIO | None = None
) -> None:
    """Append the url's doc_id to the segment's deletes table (Q17)."""
    io = io or current_io()
    ids = seg.docs.filter(F.col("url") == url).select("doc_id")
    io.append_deletes(ids, seg.path)
