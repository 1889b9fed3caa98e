"""Shard-kernel tests without Spark: the batch kernel over a hand-packed
shard must return exactly the rows of one single-query kernel call per
query, and its empty output must carry BATCH_RESULT_SCHEMA's dtypes."""

import numpy as np
import pandas as pd

from search_suite_spark.operators import wand as W
from search_suite_spark.operators.codec import BLOCK, pack_posting_list

N_DOCS, AVGDL, K = 5000, 40, 5


class _Bc:
    """Stand-in for a Spark broadcast: the kernel only reads .value."""

    def __init__(self, value):
        self.value = value


def _shard_rows(max_row_postings=None) -> pd.DataFrame:
    """One synthetic shard: posting lists of several densities, with
    ids spread over the uint64 range (the sign bit set on some), tf and
    doc length varying. ``max_row_postings`` splits lists into several
    block-aligned rows, like the build's giant-list split."""
    rng = np.random.default_rng(11)
    universe = np.unique(rng.integers(1, 2**63, size=3000, dtype=np.uint64))
    universe[::3] |= np.uint64(1 << 63)
    universe = np.unique(universe)
    dl_of = {int(d): int(rng.integers(5, 120)) for d in universe}
    rows = []
    for term, frac in (("rare", 0.01), ("mid", 0.2), ("mid2", 0.3),
                       ("common", 0.9)):
        ids = np.sort(rng.choice(universe, int(frac * universe.size),
                                 replace=False))
        tfs = rng.integers(1, 9, size=ids.size).astype(np.uint64)
        dls = np.array([dl_of[int(d)] for d in ids], dtype=np.uint64)
        step = max_row_postings or ids.size
        for s in range(0, ids.size, step):
            p = pack_posting_list(
                ids[s:s + step], tfs[s:s + step], dls[s:s + step],
                presorted=True,
            )
            # stored as int64 bit patterns, like the build's packer
            p["block_last"] = (
                np.array(p["block_last"], dtype=np.uint64).view(np.int64)
            )
            rows.append({"term": term, "shard": 0, **p})
    return pd.DataFrame(rows)


QUERIES = {
    "single": "rare",
    "single_common": "common",
    "pair": "mid common",
    "triple": "rare mid mid2",
    "dup": "mid mid common",
    "missing": "mid nosuchterm",
}
DFS = {"rare": 40, "mid": 700, "mid2": 1000, "common": 2600}


def _meta(queries):
    out = {}
    for qid, q in queries.items():
        terms = q.split()
        out[qid] = {t: (DFS.get(t, 1), terms.count(t)) for t in terms}
    return out


def _solo_rows(rows, queries_meta, deleted):
    got = []
    for qid, qm in queries_meta.items():
        # the single-query scan is pruned to the query's own terms
        own = rows[rows["term"].isin(list(qm))]
        out = W._shard_kernel(qm, N_DOCS, AVGDL, K)(own, deleted)
        got += [(qid, *r) for r in out.itertuples(index=False)]
    return sorted(got)


def _batch_rows(rows, queries_meta, deleted):
    idfs = {t: W._idf(N_DOCS, df) for t, df in DFS.items()}
    idfs["nosuchterm"] = W._idf(N_DOCS, 1)
    out = W._batch_shard_kernel(_Bc((queries_meta, idfs)), N_DOCS, AVGDL, K)(
        rows, deleted
    )
    return out, sorted(out.itertuples(index=False, name=None))


def test_batch_kernel_matches_single_query_kernel():
    rows = _shard_rows()
    qm = _meta(QUERIES)
    no_dead = np.empty(0, dtype=np.uint64)
    solo = _solo_rows(rows, qm, no_dead)
    out, batch = _batch_rows(rows, qm, no_dead)
    assert batch == solo
    by_qid = {r[0] for r in batch}
    # every live query hits, the missing-term query contributes nothing
    assert by_qid == set(QUERIES) - {"missing"}
    # duplicate terms count twice in term_count
    assert {r[3] for r in batch if r[0] == "dup"} == {3}

    # deletes filter identically on both paths
    dead = np.sort(np.array([r[1] for r in batch[::2]], dtype=np.int64)
                   .view(np.uint64))
    solo_d = _solo_rows(rows, qm, dead)
    _, batch_d = _batch_rows(rows, qm, dead)
    assert batch_d == solo_d
    assert not {r[1] for r in batch_d} & set(dead.view(np.int64).tolist())


def test_batch_kernel_split_rows_match_unsplit():
    qm = _meta(QUERIES)
    no_dead = np.empty(0, dtype=np.uint64)
    _, whole = _batch_rows(_shard_rows(), qm, no_dead)
    _, split = _batch_rows(_shard_rows(max_row_postings=2 * BLOCK), qm,
                           no_dead)
    assert split == whole


def test_batch_kernel_empty_output_dtypes():
    rows = _shard_rows()
    qm = _meta({"a": "nosuchterm", "b": "rare nosuchterm"})
    out, got = _batch_rows(rows, qm, np.empty(0, dtype=np.uint64))
    assert got == []
    assert list(out.columns) == [
        f.split(" ")[0] for f in W.BATCH_RESULT_SCHEMA.split(", ")
    ]
    assert {c: str(out[c].dtype) for c in out.columns} == {
        "qid": "object", "doc_id": "int64", "score": "float64",
        "term_count": "int32",
    }
    # the non-empty frame carries the same dtypes
    full, _ = _batch_rows(rows, _meta(QUERIES), np.empty(0, dtype=np.uint64))
    assert len(full)
    assert full.dtypes.to_dict() == out.dtypes.to_dict()
