"""Conjunctive block-max query processing over packed segments.

The scale path of the query engine (SURVEY §2.5 Q4-Q7, north_rule):

  1. The term filter prunes the packed-postings scan to the query terms
     (Parquet row-group min/max on the term column; Iceberg bucket
     pruning in production). The ``term IN (…)`` predicate is one SQL
     expression (segments.term_in), so its driver cost does not grow
     with the term count.
  2. Each *shard* (doc-hash partition) answers the conjunction locally —
     all terms' shard-s postings cover the same doc subset, so shards
     are embarrassingly parallel (the reference's per-segment
     scatter/gather, Query/QueryProcessor.hs:61-152). The scatter
     (_scatter) places shard s in partition s mod n_shards with
     repartitionById — one task per shard, through an exchange AQE
     never coalesces — and runs the kernel per partition in mapInArrow.
  3. Inside a shard (vectorized numpy over Arrow column slices; a term's
     packed rows are grouped with plain dict lookups, never per-term
     pandas frames, and each kernel call builds one output frame):
       a. intersect rarest-term-first (query.rs:97-98) decoding doc-id
          blocks ONLY — tf/dl stay packed through the whole intersection
          (searchsorted against block_last skip pointers picks which id
          blocks to decode at all);
       b. block-max scoring skip: each survivor's score upper bound is
          Σ_t idf_t·impact(block_max_tf, block_min_dl) over the block
          containing it (codec.py metadata); candidates are scored
          exactly in upper-bound order, maintaining the running top-k
          threshold θ, and scoring STOPS when the next upper bound
          cannot enter the heap — tf/dl blocks of hopeless candidates
          are never decoded.
  4. Global top-k = orderBy().limit(k) over ≤ ~k·n_shards candidate rows
     (TakeOrderedAndProject: per-partition heaps + driver merge — the
     bounded-heap merge of Q7/Q12).

Deletions are filtered inside the shard kernel from a small
driver-collected set (the docDeletions bitset analogue) or, above
DELETES_BROADCAST_MAX, from delete rows that ride the shard exchange;
corpus stats (N, avgdl, df) keep counting deleted docs, matching
ranking.rs:48-50.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_suite_spark.functions.normalise import normalise
from search_suite_spark.operators.codec import (
    BLOCK,
    impact,
    impact_bound,
    unpack_blocks,
    unpack_ids,
)
from search_suite_spark.sources.segments import (
    Segment,
    shard_of_doc_id,
    term_in,
    term_probe_predicate,
)

RESULT_SCHEMA = "doc_id long, score double, term_count int"

# observability hook: kernels accumulate (tf/dl blocks decoded, tf/dl
# blocks total) here. ALWAYS access it through _stats_dict(): closures
# shipped to executors are cloudpickled BY VALUE with a synthetic copy
# of their globals, while classes like _BlockCache arrive by reference
# and see the worker's real module — a direct global reference would
# split writers across two dicts and silently under-count.
DECODE_STATS: dict[str, int] = {"blocks_decoded": 0, "blocks_total": 0}


def _stats_dict() -> dict[str, int]:
    from search_suite_spark.operators import wand

    return wand.DECODE_STATS


def _idf(n_docs: int, df: float) -> float:
    return float(np.log((n_docs - df + 0.5) / (df + 0.5)))


# kernel output columns: Spark DDL type → (numpy dtype, Arrow type)
_COL_TYPES = {
    "string": (object, pa.string()),
    "long": (np.int64, pa.int64()),
    "double": (np.float64, pa.float64()),
    "int": (np.int32, pa.int32()),
}


def _fields(schema: str) -> list[tuple[str, str]]:
    return [tuple(f.split(" ")) for f in schema.split(", ")]


def _result_frame(schema: str, *cols) -> pd.DataFrame:
    """A kernel's whole output, built once, in ``schema``'s column order
    and dtypes; no columns = the typed empty frame."""
    fields = _fields(schema)
    if not cols:
        cols = [()] * len(fields)
    return pd.DataFrame({
        n: np.asarray(c, dtype=_COL_TYPES[t][0])
        for (n, t), c in zip(fields, cols)
    })


# the packed-row fields a _TermList reads (PACKED_SCHEMA minus term/shard)
_ROW_FIELDS = (
    "n", "ids", "tfs", "dls", "ids_offs", "tfs_offs", "dls_offs",
    "block_last", "block_max_tf", "block_min_dl", "block_min_tf",
    "block_max_dl",
)


class _TermList:
    """One logical posting list for a (term, shard) — possibly several
    packed ROWS after the giant-list split (codec.MAX_ROW_POSTINGS):
    rows cover disjoint, consecutive doc-id ranges; this class presents
    them as one list addressed by GLOBAL block index. Only the metadata
    arrays are concatenated up front (cheap, and a no-op for the usual
    single row); posting buffers decode lazily per block, per owning
    row."""

    def __init__(self, rows: list):
        if len(rows) > 1:
            rows = sorted(
                rows,
                key=lambda r: np.asarray(r["block_last"], dtype=np.int64)
                .view(np.uint64)[0],
            )
        self.rows = rows
        self.n = sum(int(r["n"]) for r in rows)
        self._meta: dict[str, np.ndarray] = {}
        self.block_last = self.meta("block_last").view(np.uint64)
        # global block b belongs to row searchsorted(row_block_off, b, 'right')-1
        self.row_block_off = np.concatenate(
            ([0], np.cumsum([len(r["block_last"]) for r in rows]))
        ).astype(np.int64)

    def meta(self, name: str) -> np.ndarray:
        # memoized: phase 3 reads two metadata arrays per term per kernel
        # call, and split rows multiply the concat cost at scale
        m = self._meta.get(name)
        if m is None:
            parts = [np.asarray(r[name], dtype=np.int64) for r in self.rows]
            m = parts[0] if len(parts) == 1 else np.concatenate(parts)
            self._meta[name] = m
        return m

    def _by_row(self, global_blocks: np.ndarray):
        gb = np.asarray(global_blocks, dtype=np.int64)
        row_idx = np.searchsorted(self.row_block_off, gb, side="right") - 1
        for ri in np.unique(row_idx):
            yield int(ri), gb[row_idx == ri] - self.row_block_off[ri]

    def decode_all_ids(self) -> np.ndarray:
        return (
            np.concatenate([unpack_ids(r) for r in self.rows])
            if self.rows
            else np.empty(0, dtype=np.uint64)
        )

    def decode_blocks_ids(self, global_blocks: np.ndarray) -> np.ndarray:
        out = [
            unpack_blocks(self.rows[ri], local, cols=("ids",))[0]
            for ri, local in self._by_row(global_blocks)
        ]
        return np.concatenate(out) if out else np.empty(0, dtype=np.uint64)

    def decode_blocks_full(
        self, global_blocks: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(ids, tfs, dls) of the given global blocks, concatenated in
        ascending block order."""
        ids, tfs, dls = [], [], []
        for ri, local in self._by_row(global_blocks):
            i, t, d, _ = unpack_blocks(self.rows[ri], local)
            ids.append(i)
            tfs.append(t)
            dls.append(d)
        if not ids:
            z = np.empty(0, dtype=np.uint64)
            return z, z.copy(), z.copy()
        return np.concatenate(ids), np.concatenate(tfs), np.concatenate(dls)


class _BlockCache:
    """Lazily-decoded (ids, tfs, dls) per GLOBAL block of a _TermList."""

    def __init__(self, tl: _TermList):
        self.tl = tl
        self.blocks: dict[int, tuple] = {}
        self.block_last = tl.block_last

    def block_of(self, ids: np.ndarray) -> np.ndarray:
        return np.searchsorted(self.block_last, ids, side="left")

    def ensure(self, needed: np.ndarray) -> None:
        missing = np.asarray(
            [b for b in np.unique(needed) if int(b) not in self.blocks],
            dtype=np.int64,
        )
        if missing.size == 0:
            return
        _stats_dict()["blocks_decoded"] += int(missing.size)
        for ri, local in self.tl._by_row(missing):
            ids, tfs, dls, pos = unpack_blocks(self.tl.rows[ri], local)
            off = int(self.tl.row_block_off[ri])
            for lb in np.unique(local):
                lb = int(lb)
                s = np.searchsorted(pos, lb * BLOCK)
                e = np.searchsorted(pos, (lb + 1) * BLOCK)
                self.blocks[off + lb] = (ids[s:e], tfs[s:e], dls[s:e])

    def lookup(self, cand_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """tf/dl for candidate ids KNOWN to be present in this list."""
        blk = self.block_of(cand_ids)
        self.ensure(blk)
        tf = np.empty(cand_ids.size, dtype=np.uint64)
        dl = np.empty(cand_ids.size, dtype=np.uint64)
        for b in np.unique(blk):
            sel = blk == b
            bids, btf, bdl = self.blocks[int(b)]
            p = np.searchsorted(bids, cand_ids[sel])
            tf[sel] = btf[p]
            dl[sel] = bdl[p]
        return tf, dl


def _single_term_topk(
    tl: "_TermList",
    cache: "_BlockCache",
    idf: float,
    mult: int,
    avgdl: int,
    k: int,
    deleted_ids: np.ndarray,
) -> tuple[np.ndarray, np.ndarray] | None:
    """Single-term top-k WITHOUT the full id decode: blocks are visited
    in upper-bound order and decoding stops once the k-th best exact
    score (θ) provably beats every remaining block's bound.

    The generic kernel decodes the ENTIRE rarest list's ids for
    candidate generation — correct for conjunctive multi-term queries
    (the rarest list is small by definition) but pathological for a
    single stop-word term, where "rarest" IS the giant list. Here the
    candidate set never materializes: each chunk of high-bound blocks
    decodes ids+tf+dl together, scores exactly, and raises θ. Pruning is
    lossless (ub ≥ exact, ties with θ kept) so results stay
    rank-identical with the flat oracle; the decode stats then show
    transfer ∝ blocks that could matter, matching the reference's
    skip-reads (index_reader.rs:271-311) for the single-term case too.
    Returns (uint64 doc_ids, scores), or None when nothing matches.
    """
    if idf >= 0:
        ub = mult * idf * impact_bound(
            tl.meta("block_max_tf"), tl.meta("block_min_dl"), avgdl
        )
    else:
        ub = mult * idf * impact_bound(
            tl.meta("block_min_tf"), tl.meta("block_max_dl"), avgdl
        )
    by_ub = np.argsort(-ub, kind="stable")
    # ≥ 4k postings per decode call, and ≥ 8 blocks to amortize call
    # overhead — same chunking intent as the generic phase-3 loop
    chunk = max(8, -(-4 * k // BLOCK))
    kept_ids: list[np.ndarray] = []
    kept_scores: list[np.ndarray] = []
    theta = -np.inf
    n_kept = 0
    for s in range(0, by_ub.size, chunk):
        sel = by_ub[s : s + chunk]
        if n_kept >= k and ub[sel[0]] < theta:
            break  # blocks are ub-descending: nothing left can enter
        # decode through the shared cache: a batch kernel scoring many
        # queries over the same term pays each block's decode once
        # (ensure() counts only genuinely-missing blocks in the stats)
        cache.ensure(sel)
        parts = [cache.blocks[int(b)] for b in sel]
        ids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        if deleted_ids.size and ids.size:
            dead = np.searchsorted(deleted_ids, ids)
            dead_ok = dead < deleted_ids.size
            is_dead = np.zeros(ids.size, dtype=bool)
            is_dead[dead_ok] = deleted_ids[dead[dead_ok]] == ids[dead_ok]
            ids, tfs, dls = ids[~is_dead], tfs[~is_dead], dls[~is_dead]
        if ids.size == 0:
            continue
        kept_ids.append(ids)
        kept_scores.append(mult * idf * impact(tfs, dls, avgdl))
        n_kept += ids.size
        if n_kept >= k:
            all_scores = np.concatenate(kept_scores)
            theta = np.partition(all_scores, all_scores.size - k)[
                all_scores.size - k
            ]
    if not kept_ids:
        return None
    out_ids = np.concatenate(kept_ids)
    out_scores = np.concatenate(kept_scores)
    if out_ids.size > k:
        keep = out_scores >= theta
        out_ids, out_scores = out_ids[keep], out_scores[keep]
    return out_ids, out_scores


def _block_upper_bounds(
    lists, caches, terms, terms_meta, idfs, avgdl, cand, hits=None
):
    """Per-candidate block-max upper bound over ``terms``:
    ub_term = mult · idf · impact(max_tf, min_dl)   when idf ≥ 0
            = mult · idf · impact(min_tf, max_dl)   when idf <  0
    (idf may be negative — ranking.rs:43-49 — which flips which block
    extremum bounds the contribution from above). ``hits`` (partial
    match): per-term boolean masks limiting each term's contribution to
    the candidates it actually matches; None (conjunctive) = every term
    contributes to every candidate."""
    ub = np.zeros(cand.size, dtype=np.float64)
    for t in terms:
        h = hits[t] if hits is not None else None
        if h is not None and not h.any():
            continue
        blk = caches[t].block_of(cand if h is None else cand[h])
        mult = terms_meta[t][1]
        if idfs[t] >= 0:
            btf = lists[t].meta("block_max_tf")[blk]
            bdl = lists[t].meta("block_min_dl")[blk]
        else:
            btf = lists[t].meta("block_min_tf")[blk]
            bdl = lists[t].meta("block_max_dl")[blk]
        contrib = mult * idfs[t] * impact_bound(btf, bdl, avgdl)
        if h is None:
            ub += contrib
        else:
            ub[h] += contrib
    return ub


def _theta_pruned_topk(ub, k, score_chunk):
    """Exact scoring in upper-bound order, chunked; stop when the next
    chunk's best possible score cannot beat the running θ (k-th best
    exact score so far). ub ≥ exact always (impact ↑ in tf, ↓ in dl),
    so pruning is lossless; ties with θ are KEPT (the global
    score-then-url tie-break happens at the Spark layer).

    ``score_chunk(sel)`` returns exact scores for candidate indices
    ``sel``; it's the only thing that differs between the conjunctive
    and partial-match kernels. Returns (kept_indices, kept_scores) —
    everything scoring ≥ the k-th best; k=None scores everything."""
    by_ub = np.argsort(-ub, kind="stable")
    chunk = max(1024, 0 if k is None else 4 * k)
    kept_sel: list[np.ndarray] = []
    kept_scores: list[np.ndarray] = []
    theta = -np.inf
    n_scored = 0
    for s in range(0, by_ub.size, chunk):
        sel = by_ub[s : s + chunk]
        if k is not None and n_scored >= k and ub[sel[0]] < theta:
            break  # no remaining candidate can enter the top-k
        kept_sel.append(sel)
        kept_scores.append(score_chunk(sel))
        n_scored += sel.size
        if k is not None and n_scored >= k:
            all_scores = np.concatenate(kept_scores)
            theta = np.partition(all_scores, all_scores.size - k)[
                all_scores.size - k
            ]
    sel_all = np.concatenate(kept_sel)
    scores = np.concatenate(kept_scores)
    if k is not None and sel_all.size > k:
        # keep everything scoring ≥ the k-th best (ties survive for the
        # global tie-break), drop the provably-out rest
        keep = scores >= theta
        sel_all, scores = sel_all[keep], scores[keep]
    return sel_all, scores


def _score_conjunctive(lists, caches, terms_meta, idfs, avgdl, k, deleted_ids):
    """Score ONE conjunctive query against a shard's decoded term lists.

    lists/caches may cover a SUPERSET of this query's terms (the batch
    kernel scores many queries against one shard decode; caches are
    shared so a block decoded for one query is reused by the next).
    terms_meta: {term: (global_df, multiplicity)} for THIS query.
    Returns (uint64 doc_ids, scores), or None when nothing matches.
    """
    if any(t not in lists for t in terms_meta):
        # some query term has no postings in this shard → empty AND
        return None
    # rarest-first by shard-local posting count
    order = sorted(terms_meta, key=lambda t: lists[t].n)

    if len(order) == 1 and k is not None:
        t = order[0]
        return _single_term_topk(
            lists[t], caches.setdefault(t, _BlockCache(lists[t])),
            idfs[t], terms_meta[t][1], avgdl, k, deleted_ids,
        )

    # ---- phase 1+2: ids-only intersection ------------------------
    cand_ids = lists[order[0]].decode_all_ids()
    for t in order[1:]:
        if cand_ids.size == 0:
            return None
        tl = lists[t]
        blocks = np.searchsorted(tl.block_last, cand_ids, side="left")
        in_range = blocks < tl.block_last.size
        cand_ids = cand_ids[in_range]
        ids = tl.decode_blocks_ids(np.unique(blocks[in_range]))
        pos = np.searchsorted(ids, cand_ids)
        pos_ok = pos < ids.size
        hit = np.zeros(cand_ids.size, dtype=bool)
        hit[pos_ok] = ids[pos[pos_ok]] == cand_ids[pos_ok]
        cand_ids = cand_ids[hit]

    if deleted_ids.size and cand_ids.size:
        dead = np.searchsorted(deleted_ids, cand_ids)
        dead_ok = dead < deleted_ids.size
        is_dead = np.zeros(cand_ids.size, dtype=bool)
        is_dead[dead_ok] = deleted_ids[dead[dead_ok]] == cand_ids[dead_ok]
        cand_ids = cand_ids[~is_dead]

    if cand_ids.size == 0:
        return None

    # ---- phase 3: block-max upper bounds, then exact scoring in
    # upper-bound order with lossless θ pruning (shared with the
    # partial-match kernel — see _block_upper_bounds/_theta_pruned_topk)
    for t in order:
        caches.setdefault(t, _BlockCache(lists[t]))
    ub = _block_upper_bounds(
        lists, caches, order, terms_meta, idfs, avgdl, cand_ids
    )

    def score_chunk(sel: np.ndarray) -> np.ndarray:
        ids_c = cand_ids[sel]
        score = np.zeros(ids_c.size, dtype=np.float64)
        for t in order:
            tf, dl = caches[t].lookup(ids_c)
            score += terms_meta[t][1] * idfs[t] * impact(tf, dl, avgdl)
        return score

    sel_kept, out_scores = _theta_pruned_topk(ub, k, score_chunk)
    return cand_ids[sel_kept], out_scores


PARTIAL_RESULT_SCHEMA = "doc_id long, score double, n_matched int"


def _score_partial(
    lists, caches, terms_meta, idfs, avgdl, k, min_match, deleted_ids
):
    """Disjunctive (min-should-match) scoring of ONE query against a
    shard's term lists — the packed twin of query.bm25_partial (the
    reference's own TODO, query.rs:192-193).

    Candidate generation must union EVERY present term's ids (a doc
    matching any ``min_match`` subset qualifies), so the ids decode is
    full per term — the disjunctive floor. Scoring stays block-max
    pruned: per-candidate upper bounds sum only the terms that HIT the
    candidate, exact scoring runs in upper-bound order and stops at θ
    like the conjunctive kernel, so tf/dl blocks of hopeless candidates
    never decode. Returns (uint64 doc_ids, scores, n_matched), or None
    when nothing qualifies."""
    present = [t for t in terms_meta if t in lists]
    if not present:
        return None
    ids_per_term = {t: lists[t].decode_all_ids() for t in present}
    cand = np.unique(np.concatenate([ids_per_term[t] for t in present]))
    hits: dict[str, np.ndarray] = {}
    n_matched = np.zeros(cand.size, dtype=np.int32)
    for t in present:
        ids = ids_per_term[t]
        pos = np.searchsorted(ids, cand)
        ok = pos < ids.size
        hit = np.zeros(cand.size, dtype=bool)
        hit[ok] = ids[pos[ok]] == cand[ok]
        hits[t] = hit
        n_matched += hit
    keep = n_matched >= min_match
    if deleted_ids.size:
        dead = np.searchsorted(deleted_ids, cand)
        dead_ok = dead < deleted_ids.size
        is_dead = np.zeros(cand.size, dtype=bool)
        is_dead[dead_ok] = deleted_ids[dead[dead_ok]] == cand[dead_ok]
        keep &= ~is_dead
    if not keep.any():
        return None
    cand, n_matched = cand[keep], n_matched[keep]
    for t in present:
        hits[t] = hits[t][keep]
        caches.setdefault(t, _BlockCache(lists[t]))

    ub = _block_upper_bounds(
        lists, caches, present, terms_meta, idfs, avgdl, cand, hits=hits
    )

    def score_chunk(sel: np.ndarray) -> np.ndarray:
        score = np.zeros(sel.size, dtype=np.float64)
        for t in present:
            h = hits[t][sel]
            if not h.any():
                continue
            tf, dl = caches[t].lookup(cand[sel][h])
            score[h] += terms_meta[t][1] * idfs[t] * impact(tf, dl, avgdl)
        return score

    sel_kept, out_scores = _theta_pruned_topk(ub, k, score_chunk)
    return cand[sel_kept], out_scores, n_matched[sel_kept]


def _build_lists(rows) -> dict[str, _TermList]:
    """Group a shard's posting rows into _TermLists. ``rows`` maps each
    column name to one value per row — the dict of column lists the
    partition runner builds (_column_lists), or a pandas frame. Every
    row becomes one plain dict and finds its term's list with one dict
    lookup: no per-term frames, no per-row Series."""
    by_term: dict[str, list[dict]] = {}
    for t, *vals in zip(rows["term"], *(rows[c] for c in _ROW_FIELDS)):
        by_term.setdefault(t, []).append(dict(zip(_ROW_FIELDS, vals)))
    return {t: _TermList(rs) for t, rs in by_term.items()}


def _column_lists(table: pa.Table) -> dict[str, list]:
    """An Arrow partition as {column: one value per row}. List columns
    (the block metadata) become numpy views into the column's single
    value buffer; every other column becomes Python scalars/bytes."""
    out = {}
    for name, col in zip(table.column_names, table.columns):
        a = col.combine_chunks()
        if pa.types.is_list(a.type):
            flat = a.values.to_numpy(zero_copy_only=False)
            offs = a.offsets.to_numpy()
            out[name] = [flat[s:e] for s, e in zip(offs[:-1], offs[1:])]
        else:
            out[name] = a.to_numpy(zero_copy_only=False).tolist()
    return out


def _shard_kernel(terms_meta, n_docs, avgdl, k):
    """Build the per-shard conjunctive block-max scorer.

    terms_meta: {term: (global_df, multiplicity)}. global_df may be None
    for EVERY term, meaning the caller joined the dictionary's df onto
    the posting rows JVM-side (wand_scored's single-job path) — the
    kernel then reads each term's global df from the rows' ``df`` column
    and derives idf locally, so no dictionary values ever round-trip
    through the driver. The returned kernel takes (rows, deleted_ids) —
    rows as _build_lists takes them, deleted_ids a sorted uint64 numpy
    array of this shard's deleted doc ids (see _scatter) — and returns a
    RESULT_SCHEMA frame.
    """
    df_in_rows = any(df is None for df, _ in terms_meta.values())
    idfs = (
        {}
        if df_in_rows
        else {t: _idf(n_docs, df) for t, (df, _) in terms_meta.items()}
    )
    n_instances = sum(m for _, m in terms_meta.values())

    def kernel(rows, deleted_ids: np.ndarray) -> pd.DataFrame:
        if set(rows["term"]) != set(terms_meta):
            # some query term has no postings in this shard → empty AND
            # (covers the global missing-term fast abort too on the
            # single-job path: a term absent from the dictionary joins
            # away everywhere)
            return _result_frame(RESULT_SCHEMA)
        lists = _build_lists(rows)
        if df_in_rows:
            # global df rides every posting row (dictionary broadcast
            # join); constant per term — idempotent to recompute across
            # shards of the same worker
            for t, df in zip(rows["term"], rows["df"]):
                idfs[t] = _idf(n_docs, int(df))
        _stats_dict()["blocks_total"] += sum(
            tl.block_last.size for tl in lists.values()
        )
        hit = _score_conjunctive(
            lists, {}, terms_meta, idfs, avgdl, k, deleted_ids
        )
        if hit is None:
            return _result_frame(RESULT_SCHEMA)
        ids, scores = hit
        return _result_frame(
            RESULT_SCHEMA, ids.view(np.int64), scores,
            np.full(ids.size, n_instances),
        )

    return kernel


def _batch_shard_kernel(meta_bc, n_docs, avgdl, k):
    """Per-shard kernel scoring MANY conjunctive queries in one pass.

    ``meta_bc`` is a Spark BROADCAST of (queries_meta, idfs) —
    queries_meta: {qid: {term: (global_df, multiplicity)}}. A 100k-query
    sweep's term metadata is megabytes; captured in the closure it
    would ship in EVERY task's serialized pickle, broadcast it
    transfers once per executor (torrent) and the tasks stay bytes-
    sized. The shard's posting rows (the union of every query's terms)
    are grouped into _TermLists ONCE and the block caches are SHARED —
    a block decoded for one query is free for every other query
    touching it. A query with no match in the shard costs one dict
    probe; the hits of all queries land in ONE output frame whose rows
    carry the qid. Per-query top-k and url resolution happen at the
    Spark layer.
    """

    def kernel(rows, deleted_ids: np.ndarray) -> pd.DataFrame:
        queries_meta, idfs = meta_bc.value
        lists = _build_lists(rows)
        _stats_dict()["blocks_total"] += sum(
            tl.block_last.size for tl in lists.values()
        )
        caches: dict = {}
        qids, ids, scores, counts = [], [], [], []
        for qid, qm in queries_meta.items():
            hit = _score_conjunctive(
                lists, caches, qm, idfs, avgdl, k, deleted_ids
            )
            if hit is not None:
                qids.append(qid)
                ids.append(hit[0])
                scores.append(hit[1])
                counts.append(sum(m for _, m in qm.values()))
        if not ids:
            return _result_frame(BATCH_RESULT_SCHEMA)
        sizes = [a.size for a in ids]
        return _result_frame(
            BATCH_RESULT_SCHEMA,
            np.repeat(np.array(qids, dtype=object), sizes),
            np.concatenate(ids).view(np.int64),
            np.concatenate(scores),
            np.repeat(counts, sizes),
        )

    return kernel


# above this many delete rows the deletes table is never collected to the
# driver: its rows ride the shard exchange into the kernels instead
# (compaction garbage-collects deletes, so most segments sit far below
# this; the cap is a driver-OOM guard for delete-heavy workloads)
DELETES_BROADCAST_MAX = 1 << 16


def _route_deletes(seg: Segment, deletes_broadcast_max: int):
    """(collected_array, deletes_df) — exactly one is populated.

    Volume routing reads the segment's metadata hint (parquet footer
    row-count sum, an upper bound on distinct ids — conservative-safe)
    so no per-query driver count() job runs; only when the hint is
    unavailable does a live count decide."""
    deleted = np.empty(0, dtype=np.uint64)
    deletes_df = None
    if seg.deletes is not None:
        d = seg.deletes.select("doc_id").distinct()
        n_del = (
            seg.n_deletes_hint
            if seg.n_deletes_hint is not None
            else d.count()
        )
        if n_del <= deletes_broadcast_max:
            vals = [r["doc_id"] for r in d.collect()]
            deleted = np.sort(np.array(vals, dtype=np.int64).view(np.uint64))
        else:
            deletes_df = d
    return deleted, deletes_df


def _scatter(
    seg: Segment,
    rows: DataFrame,
    kernel,
    schema: str,
    deletes_broadcast_max: int,
    stats: dict | None = None,
) -> DataFrame:
    """Run ``kernel(rows, deleted_ids)`` once per shard of ``rows`` (the
    segment's posting rows, pruned to the query terms) → the kernels'
    concatenated ``schema`` frames. The one scatter behind wand_scored,
    wand_partial and bm25_batch.

    Placement: repartitionById puts shard s in partition s mod
    n_shards, so every shard gets its own task. The exchange is a
    REPARTITION_BY_NUM one, which AQE does not coalesce — a hash
    groupBy("shard") of a small, term-pruned scan is coalesced into ONE
    task that runs the shards back to back. Rows are still grouped by
    shard inside each partition, so a segment that under-reports
    n_shards only shares tasks between shards, never posting lists.

    Deletes (_route_deletes): a small set is collected once and closed
    over; a large one never reaches the driver — its (shard, doc_id)
    rows join the same exchange as term-less rows, so each partition
    receives exactly its shards' deletes. That routing trusts
    pmod(doc_id, n_shards) to be the postings' shard, so it needs a
    lineage-derived n_shards and fails loudly on a partition holding a
    shard ≥ n_shards (an under-reporting segment).

    ``stats``: the caller's blocks_decoded / blocks_total accumulators
    (see wand_scored), fed with each kernel call's DECODE_STATS delta.
    """
    deleted, deletes_df = _route_deletes(seg, deletes_broadcast_max)
    n_shards = seg.n_shards
    n_parts = n_shards
    if deletes_df is not None:
        if n_shards <= 0:
            # pmod(doc_id, 0) yields nulls → deletes silently mis-shard
            # and deleted docs come back. n_shards is lineage-derived
            # (read_segment); a hand-built Segment must set it.
            raise ValueError(
                "exchange-routed deletes need Segment.n_shards > 0 "
                f"(got {n_shards}); read the segment via read_segment "
                "or raise deletes_broadcast_max"
            )
        rows = rows.unionByName(
            deletes_df.select(
                shard_of_doc_id(n_shards).alias("shard"),
                F.col("doc_id").alias("_del"),
            ),
            allowMissingColumns=True,
        )
    elif n_parts <= 0:
        # hand-built Segment without a lineage-derived shard count: any
        # partition count is correct, rows are grouped by shard below
        n_parts = rows.sparkSession.sparkContext.defaultParallelism
    check_shards = deletes_df is not None  # (the frame never pickles)
    accs = None if stats is None else (
        stats["blocks_decoded"], stats["blocks_total"]
    )
    arrow_schema = pa.schema(
        [(n, _COL_TYPES[t][1]) for n, t in _fields(schema)]
    )

    def run(batches):
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        dead = deleted
        if "_del" in t.column_names:
            is_del = pc.is_null(t.column("term"))
            dead = np.sort(
                pc.drop_null(t.column("_del")).to_numpy().view(np.uint64)
            )
            t = t.filter(pc.invert(is_del)).drop_columns(["_del"])
        shard = t.column("shard").to_numpy()
        if check_shards and (shard >= n_shards).any():
            raise ValueError(
                f"posting rows of shard {int(shard.max())} in a segment "
                f"reporting n_shards={n_shards}: deletes would mis-route"
            )
        sd = _stats_dict()
        shards = np.unique(shard)
        for s in shards:
            part = t if shards.size == 1 else t.filter(pa.array(shard == s))
            d0, t0 = sd["blocks_decoded"], sd["blocks_total"]
            out = kernel(_column_lists(part), dead)
            if accs is not None:
                accs[0].add(sd["blocks_decoded"] - d0)
                accs[1].add(sd["blocks_total"] - t0)
            if len(out):
                yield pa.RecordBatch.from_pandas(
                    out, schema=arrow_schema, preserve_index=False
                )

    return rows.repartitionById(n_parts, "shard").mapInArrow(run, schema)


def wand_scored(
    seg: Segment,
    query: str,
    max_results: int | None = None,
    deletes_broadcast_max: int = DELETES_BROADCAST_MAX,
    term_dfs: dict[str, int] | None = None,
    stats: dict | None = None,
    dict_strategy: str = "collect",
) -> DataFrame:
    """Scored conjunctive query over a packed segment → (url, score,
    term_count), rank-identical to the flat path (tests enforce it).

    ``term_dfs``: precomputed {term: global df} covering (at least) every
    query term present in this segment's dictionary — callers querying
    MANY segments (registry.query_collection) batch all segments'
    dictionary lookups into one tagged-union job and pass each segment's
    slice here, instead of paying one driver round-trip per segment.

    ``stats``: pass a dict to receive two Spark ACCUMULATORS under keys
    'blocks_decoded' / 'blocks_total' — executor-side counts of tf/dl
    blocks the kernels decoded vs held, readable (``.value``) after an
    action. This is the end-to-end transfer-proportionality evidence:
    decoded ≪ total on a top-k query means the engine moved only the
    blocks the block-max bound could not prune (the Spark analogue of
    the reference's mmap-granularity reads, index_reader.rs:271-311).
    """
    spark = seg.postings.sparkSession
    if stats is not None:
        # created up front so early-abort paths still hand back readable
        # (zero) accumulators
        stats["blocks_decoded"] = spark.sparkContext.accumulator(0)
        stats["blocks_total"] = spark.sparkContext.accumulator(0)
    q_terms = normalise(query)

    def empty() -> DataFrame:  # built only on the early-return paths
        return spark.createDataFrame(
            [], "url string, score double, term_count int"
        )

    if not q_terms:
        return empty()

    multiplicity = Counter(q_terms)
    rows = seg.postings.filter(term_in(multiplicity))

    # global df per term (Q1 term lookup) — three strategies:
    #   1. caller-provided (a collection batches every segment's lookups
    #      into one tagged-union job, registry.collection_term_dfs);
    #   2. dict_strategy="collect" (default): one tiny isin-pruned
    #      dictionary collect (terms table if present, else a (term, n)
    #      postings scan) before the main action — measured FASTER p50
    #      and p95 than the join strategy on local[32] (the dictionary
    #      job is ~ms; a broadcast exchange costs more than it saves);
    #   3. dict_strategy="join": broadcast the ≤ n query terms'
    #      (term, df) rows onto the postings JVM-side and let the kernel
    #      derive idf from the joined column — the WHOLE scored query is
    #      then ONE Spark action with zero driver round-trips (the
    #      reference's per-query dictionary seek happens inside its
    #      query process too, index_reader.rs:200-269). The right shape
    #      when driver→cluster latency dominates a small job's cost.
    # The missing-term fast abort (query.rs:34-40) is explicit in 1/2;
    # in 3 it falls out of the kernel's present-set check — a term
    # absent from the dictionary joins away in every shard.
    if term_dfs is not None:
        dfs = {t: term_dfs[t] for t in multiplicity if t in term_dfs}
        if len(dfs) < len(multiplicity):
            return empty()
        terms_meta = {t: (dfs[t], m) for t, m in multiplicity.items()}
    elif dict_strategy == "join" and seg.terms is not None:
        q_dict = seg.terms.filter(
            term_probe_predicate(seg.terms, list(multiplicity))
        ).select("term", F.col("df").cast("long").alias("df"))
        rows = rows.join(F.broadcast(q_dict), "term")
        terms_meta = {t: (None, m) for t, m in multiplicity.items()}
    else:
        dfs = seg.term_dfs(list(multiplicity))
        if len(dfs) < len(multiplicity):
            return empty()
        terms_meta = {t: (dfs[t], m) for t, m in multiplicity.items()}

    kernel = _shard_kernel(terms_meta, seg.num_docs, seg.avgdl, max_results)
    cands = _scatter(
        seg, rows, kernel, RESULT_SCHEMA, deletes_broadcast_max, stats
    )

    # resolve urls BEFORE the global limit: each shard kernel already
    # pruned to its local top-k (+ ties), so the join touches ≤ ~k·n_shards
    # rows, and the k-boundary tie-break lands on url — a deterministic,
    # externally-reproducible order (the packed and flat paths then agree
    # with the SQL oracle's ORDER BY score DESC, url even on exact ties).
    # Broadcast the CANDIDATE side (r6): without the hint the planner
    # either broadcasts the whole docs table (rebuilt per query — 25 MB
    # at 500k docs) or, past the auto-broadcast threshold, sort-merges —
    # shuffling the docs table per query. Candidates are k·n_shards plus
    # θ-ties (a degenerate all-tied corpus could inflate this; such a
    # corpus breaks the unhinted plan's docs shuffle just as hard).
    # Measured at 500k docs: cold p50 0.86-1.01 s → 0.68-0.70 s.
    # Unbounded result sets (max_results=None) keep the planner's choice.
    if max_results is not None:
        cands = F.broadcast(cands)
    out = cands.join(seg.docs.select("doc_id", "url"), "doc_id")
    if max_results is not None:
        out = out.orderBy(F.col("score").desc(), F.col("url")).limit(max_results)
    return (
        out.select("url", "score", "term_count")
        .orderBy(F.col("score").desc(), F.col("url"))
    )


def wand_partial(
    seg: Segment,
    query: str,
    min_should_match: int = 1,
    max_results: int | None = None,
    deletes_broadcast_max: int = DELETES_BROADCAST_MAX,
    term_dfs: dict[str, int] | None = None,
) -> DataFrame:
    """Scored partial-match query over a packed segment → (url, score,
    n_matched), rank-identical to the flat bm25_partial (tests enforce
    it). A doc qualifies when ≥ ``min_should_match`` DISTINCT query
    terms match; the score sums every matched instance. Terms absent
    from the dictionary simply don't match (no conjunctive fast abort —
    disjunctive semantics). Same shard scatter/gather + deletes routing
    as wand_scored (_scatter); candidate generation is the full union of
    present terms' id lists (the disjunctive floor), exact scoring stays
    θ-pruned in upper-bound order."""
    spark = seg.postings.sparkSession
    q_terms = normalise(query)

    def empty() -> DataFrame:  # built only on the early-return paths
        return spark.createDataFrame(
            [], "url string, score double, n_matched int"
        )

    if not q_terms:
        return empty()
    multiplicity = Counter(q_terms)
    dfs = (
        {t: term_dfs[t] for t in multiplicity if t in term_dfs}
        if term_dfs is not None
        else seg.term_dfs(list(multiplicity))
    )
    terms_meta = {
        t: (dfs[t], m) for t, m in multiplicity.items() if t in dfs
    }
    if not terms_meta:
        return empty()
    idfs = {t: _idf(seg.num_docs, df) for t, (df, _) in terms_meta.items()}
    rows = seg.postings.filter(term_in(terms_meta))
    avgdl, k, mm = seg.avgdl, max_results, min_should_match

    def kernel(rows, deleted_ids: np.ndarray) -> pd.DataFrame:
        lists = _build_lists(rows)
        _stats_dict()["blocks_total"] += sum(
            tl.block_last.size for tl in lists.values()
        )
        hit = _score_partial(
            lists, {}, terms_meta, idfs, avgdl, k, mm, deleted_ids
        )
        if hit is None:
            return _result_frame(PARTIAL_RESULT_SCHEMA)
        ids, scores, n_matched = hit
        return _result_frame(
            PARTIAL_RESULT_SCHEMA, ids.view(np.int64), scores, n_matched
        )

    cands = _scatter(
        seg, rows, kernel, PARTIAL_RESULT_SCHEMA, deletes_broadcast_max
    )

    # candidate-side broadcast for the url resolve — see wand_scored
    if max_results is not None:
        cands = F.broadcast(cands)
    out = cands.join(seg.docs.select("doc_id", "url"), "doc_id")
    if max_results is not None:
        out = out.orderBy(
            F.col("score").desc(), F.col("url")
        ).limit(max_results)
    return (
        out.select("url", "score", "n_matched")
        .orderBy(F.col("score").desc(), F.col("url"))
    )


BATCH_RESULT_SCHEMA = "qid string, doc_id long, score double, term_count int"


def _attach_release(df: DataFrame, bcs: list) -> DataFrame:
    """Give a batch-query frame a deterministic executor-storage release:
    ``df.ss_release()`` unpersists the metadata broadcasts after the
    caller's consuming action. Without it the broadcast is freed only
    when the frame is GC'd AND ContextCleaner next runs — still correct,
    but under sustained serving (thousands of bm25_batch calls, each
    broadcasting MBs of query metadata) executor storage grows
    unboundedly between cleaner cycles. ss_release is safe even if the
    frame is re-executed later: unpersist(blocking=False) drops executor
    blocks only; the driver re-ships the value on the next job."""

    def ss_release() -> None:
        for b in bcs:
            b.unpersist(False)

    df.ss_release = ss_release
    return df


def bm25_batch(
    seg: Segment,
    queries: dict[str, str],
    max_results: int | None = 10,
    deletes_broadcast_max: int = DELETES_BROADCAST_MAX,
    stats: dict | None = None,
    term_dfs: dict[str, int] | None = None,
) -> DataFrame:
    """Score MANY conjunctive queries against one segment in ONE Spark
    action → (qid, url, score, term_count), each qid's rows
    rank-identical to ``wand_scored(seg, queries[qid])``.

    The throughput shape Spark is actually good at: the reference serves
    concurrent queries from an always-on API (Controller.hs:73) at ~ms
    each; a Spark job pays a fixed plan+submit cost per ACTION, so the
    way to win is to amortize it — one posting scan pruned to the UNION
    of all queries' terms, one shard shuffle, one kernel pass scoring
    every query, with block decodes SHARED across queries that touch the
    same term. A 10k-query relevance sweep (e.g. mining BM25 hard
    negatives for retriever training) runs as one job instead of 10k.

    Per-query semantics are identical to wand_scored: conjunctive AND,
    duplicate-term multiplicity, missing-term fast abort (empty result
    for that qid only), deletes filtering, top-k with score-then-url
    ordering.

    The returned frame carries ``ss_release()``: serving loops call it
    after their consuming action to drop the query-metadata broadcast
    deterministically (see _attach_release).
    """
    spark = seg.postings.sparkSession
    if stats is not None:
        stats["blocks_decoded"] = spark.sparkContext.accumulator(0)
        stats["blocks_total"] = spark.sparkContext.accumulator(0)

    def empty() -> DataFrame:  # built only on the early-return paths
        return _attach_release(
            spark.createDataFrame(
                [], "qid string, url string, score double, term_count int"
            ),
            [],
        )

    multis = {qid: Counter(normalise(q)) for qid, q in queries.items()}
    all_terms = sorted({t for m in multis.values() for t in m})
    if not all_terms:
        return empty()
    # term_dfs: a collection caller batched every segment's dictionary
    # lookups into one job (registry.collection_term_dfs) — same seam as
    # wand_scored's
    dfs = (
        {t: term_dfs[t] for t in all_terms if t in term_dfs}
        if term_dfs is not None
        else seg.term_dfs(all_terms)
    )
    # global missing-term abort per query (query.rs:34-40): a query with
    # any dictionary-absent term contributes nothing; drop it before the
    # scan so its other terms don't widen the posting filter
    queries_meta = {
        qid: {t: (dfs[t], mult) for t, mult in m.items()}
        for qid, m in multis.items()
        if m and all(t in dfs for t in m)
    }
    if not queries_meta:
        return empty()
    live_terms = sorted({t for qm in queries_meta.values() for t in qm})
    rows = seg.postings.filter(term_in(live_terms))

    # idf is a pure function of (n_docs, df): precompute once, ship with
    # the metadata in ONE broadcast (not the task closure — see
    # _batch_shard_kernel)
    idfs = {
        t: _idf(seg.num_docs, df)
        for qm in queries_meta.values()
        for t, (df, _) in qm.items()
    }
    meta_bc = spark.sparkContext.broadcast((queries_meta, idfs))
    kernel = _batch_shard_kernel(
        meta_bc, seg.num_docs, seg.avgdl, max_results
    )
    cands = _scatter(
        seg, rows, kernel, BATCH_RESULT_SCHEMA, deletes_broadcast_max, stats
    )

    # per-shard kernels already pruned each query to its local top-k
    # (+ θ-ties), so the docs join touches ≤ ~k·n_shards rows per query;
    # the per-qid global top-k is a row_number window with the same
    # score-then-url tie-break as the single-query path
    out = cands.join(seg.docs.select("doc_id", "url"), "doc_id")
    if max_results is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("url")
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_results)
            .drop("_rn")
        )
    return _attach_release(
        out.select("qid", "url", "score", "term_count").orderBy(
            "qid", F.col("score").desc(), F.col("url")
        ),
        [meta_bc],
    )
