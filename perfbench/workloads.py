"""The benchmark workloads: inputs, timed loop and untimed checks.

The engine is driven only through public functions of
``sources.segments``, ``sources.registry``, ``operators.merge`` and
``operators.wand``; the flat relational twin (``operators.build`` +
``operators.query``) is the oracle of the correctness checks.

Each workload runs one client thread as a closed loop: the next call is
made only after the previous one returned its rows. The amount of work
is a pure function of ``--seconds`` (nominal rates of a 4-core host), not
of how fast the run goes, so two commits always do identical work.

A workload has three steps: ``prepare`` makes and stages the inputs from
the seed (no Spark, so it overlaps the JVM start), ``run`` sets up the
starting index SETUP_REPS times and then measures, ``check`` compares
outputs with what the inputs say they must be.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import corpus

N_SHARDS = 4
TOP_K = 10
# the first set-up of a process also pays JVM and Python-worker warm-up,
# so the median is the slower of the other two
SETUP_REPS = 3

_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Outcome:
    """What a workload measured, before it becomes the result line."""

    setup_s: list[float] = field(default_factory=list)
    work_units: int = 0  # pages ingested or queries scored
    work_calls: int = 0  # timed calls that did them (batches or chunks)
    work_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    index_dirs: list[str] = field(default_factory=list)  # every index built
    live_index: str = ""  # the one the measured operations used
    blocks_decoded: int = 0
    blocks_total: int = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def guarded(self, what: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def setup(self, index_dir: str, fn, *args, **kwargs):
        self.index_dirs.append(index_dir)
        t0 = time.perf_counter()
        got = self.guarded("set-up", fn, *args, **kwargs)
        self.setup_s.append(time.perf_counter() - t0)
        log(f"set-up {len(self.setup_s)}: {self.setup_s[-1]:.2f}s")
        return got


def _stage(work: str, name: str, docs: corpus.Docs, batch: int) -> str:
    path = os.path.join(work, "pages", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(corpus.pages_table(docs, batch), path)
    return path


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
    return len(got) == len(want) and all(
        gu == wu and math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-9)
        for (gu, gs), (wu, ws) in zip(got, want)
    )


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


# ------------------------------------------------------------------ ingest


@dataclass
class Batch:
    """One measured ingest batch."""

    new: corpus.Docs  # its new pages (the re-crawls are only staged)
    path: str  # staged parquet of the new pages plus the re-crawls
    deletes: list[str]  # new urls deleted after the batch
    dead_doc: np.ndarray  # term ids of the page of deletes[0]


class Ingest:
    """Crawl ingest into a live collection, with compaction, re-crawls,
    deletes and fresh queries.

    A base crawl is built in set-up. Each measured batch is BATCH_NEW new
    pages plus BATCH_RECRAWL re-crawls of base pages (newer warc_ts);
    then BATCH_DELETES of the batch's new urls are deleted and
    FRESH_QUERIES run against the live collection. The first batch is the
    exact gap from the base to the next Fibonacci size (1300 + 297 =
    1597), so the compaction policy merges it into the base at once and
    the merge drops the base's copies of the re-crawled urls.
    """

    BASE_PAGES = 1300
    BATCH_NEW = 238
    BATCH_RECRAWL = 59
    BATCH_DELETES = 2
    # per batch: conjunctive queries, then one made of a deleted page's
    # rarest terms (it returns that page if the delete filter fails), then
    # one partial-match query
    FRESH_QUERIES = 8
    MIN_SHOULD_MATCH = 2
    BATCH_NOMINAL_S = 10.0

    def prepare(self, seed: int, seconds: int, work: str) -> None:
        self.seed = seed
        self.work = work
        gen = self.gen = corpus.Generator(seed)
        n_batches = max(1, round(seconds / self.BATCH_NOMINAL_S))
        rng = np.random.default_rng([seed, 10])
        base = gen.docs(0, self.BASE_PAGES, 0)
        recrawl = rng.permutation(self.BASE_PAGES)
        self.batches: list[Batch] = []
        all_ids = list(base.term_ids)
        for b in range(n_batches):
            new = gen.docs(b + 1, self.BATCH_NEW, self.BASE_PAGES + b * self.BATCH_NEW)
            pick = recrawl[b * self.BATCH_RECRAWL:(b + 1) * self.BATCH_RECRAWL]
            again = gen.rewrite(1000 + b, [base.urls[i] for i in pick])
            pages = corpus.Docs(
                new.urls + again.urls, new.term_ids + again.term_ids,
                new.texts + again.texts,
            )
            dels = rng.permutation(self.BATCH_NEW)[: self.BATCH_DELETES]
            self.batches.append(Batch(
                new, _stage(work, f"batch{b}", pages, b + 1),
                [new.urls[i] for i in dels], new.term_ids[dels[0]],
            ))
            all_ids += pages.term_ids
        self.base = base
        self.base_path = _stage(work, "base", base, 0)
        # over every page ever staged, so a live df is never higher
        self.df = corpus.doc_freqs(all_ids)
        self.strata = corpus.strata_of(self.df, len(all_ids))
        self.expected_live = self.BASE_PAGES + n_batches * (self.BATCH_NEW - self.BATCH_DELETES)

    def run(self, spark, tracer, out: Outcome) -> None:
        from search_suite_spark.sources import registry, segments

        def build_base(r: int):
            col = os.path.join(self.work, f"ingest{r}")
            return out.setup(
                col, registry.index_into_collection, spark,
                spark.read.parquet(self.base_path), col, n_shards=N_SHARDS,
                compact=True,
            )

        for r in range(SETUP_REPS):
            segs = build_base(r)
        self.col = out.live_index = out.index_dirs[-1]
        if segs is None:
            return

        # untimed: the first query of a process pays JIT warm-up
        warm = corpus.QuerySource(
            self.gen, self.base.term_ids, self.strata, np.random.default_rng([self.seed, 19])
        )
        self._query(out, tracer, segs, warm.conjunctive(), False)
        out.latencies.clear()

        deleted: set[str] = set()
        for b, batch in enumerate(self.batches):
            pages = spark.read.parquet(batch.path)
            t0 = time.perf_counter()
            segs = out.guarded(
                "ingest", registry.index_into_collection, spark, pages, self.col,
                n_shards=N_SHARDS, compact=True,
            )
            out.work_s += time.perf_counter() - t0
            out.work_units += self.BATCH_NEW + self.BATCH_RECRAWL
            out.work_calls += 1
            log(f"batch {b}: {time.perf_counter() - t0:.2f}s, {len(segs or ())} segments")
            if segs is None:
                continue
            holder = out.guarded("find batch segment", _holder, segs, batch.deletes)
            if holder is None:
                continue
            for url in batch.deletes:
                out.guarded("delete", segments.delete_url, spark, holder, url)
            deleted.update(batch.deletes)
            segs = out.guarded("reload", registry.load_collection, spark, self.col)
            qs = corpus.QuerySource(
                self.gen, batch.new.term_ids, self.strata,
                np.random.default_rng([self.seed, 20, b]),
            )
            fresh = [(qs.conjunctive(), False) for _ in range(self.FRESH_QUERIES - 2)]
            fresh += [
                (corpus.rare_query(self.gen, batch.dead_doc, self.df), False),
                (qs.partial(), True),
            ]
            for q, partial in fresh:
                rows = self._query(out, tracer, segs, q, partial)
                if rows is not None and deleted.intersection(r["url"] for r in rows):
                    out.fail(f"deleted url returned for {q!r}")

    def _query(self, out: Outcome, tracer, segs, q: str, partial: bool):
        from search_suite_spark.sources import registry

        name = "query_collection_partial" if partial else "query_collection"

        def one():
            t0 = time.perf_counter()
            if partial:
                frame = registry.query_collection_partial(
                    segs, q, self.MIN_SHOULD_MATCH, TOP_K
                )
            else:
                frame = registry.query_collection(segs, q, TOP_K)
            with tracer.span(f"registry.{name}.action"):
                rows = frame.collect()
            out.latencies.append(time.perf_counter() - t0)
            return rows

        return out.guarded(name, one)

    def check(self, spark, out: Outcome) -> None:
        """Untimed: the live collection holds exactly the expected urls,
        and a one-segment collection holds each of them once (the fresh
        queries already checked that no deleted url came back)."""
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from search_suite_spark.sources import registry

        def live_docs() -> tuple[int, int, int]:
            segs = registry.load_collection(spark, self.col)
            frames = []
            for seg in segs.values():
                docs = seg.docs
                if seg.deletes is not None:
                    docs = docs.join(seg.deletes.select("doc_id"), "doc_id", "left_anti")
                frames.append(docs.select("url"))
            rows, urls = reduce(DataFrame.unionByName, frames).agg(
                F.count("*"), F.countDistinct("url")
            ).collect()[0]
            return len(segs), rows, urls

        got = out.guarded("check live urls", live_docs)
        if got is None:
            return
        n_segs, rows, urls = got
        if urls != self.expected_live:
            out.fail(f"live urls {urls} != expected {self.expected_live}")
        # across segments a re-crawled url is live in each; within one,
        # the merges must have kept only its newest copy
        if n_segs == 1 and rows != urls:
            out.fail(f"{rows} live docs for {urls} urls in one segment")


def _holder(segs: dict, urls: list[str]):
    """The segment that holds ``urls``: a batch's new pages all land in
    one, the batch's own or the merge that absorbed it."""
    from pyspark.sql import functions as F

    for seg in segs.values():
        if seg.docs.filter(F.col("url").isin(urls)).limit(1).count():
            return seg
    raise LookupError(f"no segment holds {urls}")


# ------------------------------------------------------------------ sweep


class Sweep:
    """Chunks of distinct conjunctive queries through ``wand.bm25_batch``
    over one segment built in set-up."""

    PAGES = 2000
    CHUNK = 200
    CHUNK_NOMINAL_S = 3.0
    WARMUP_QUERIES = 20
    CHECKED_QUERIES = 2

    def prepare(self, seed: int, seconds: int, work: str) -> None:
        self.seed = seed
        self.work = work
        gen = corpus.Generator(seed)
        docs = gen.docs(0, self.PAGES, 0)
        self.path = _stage(work, "sweep", docs, 0)
        strata = corpus.strata_of(corpus.doc_freqs(docs.term_ids), self.PAGES)
        qs = corpus.QuerySource(gen, docs.term_ids, strata, np.random.default_rng([seed, 30]))
        self.warm = {f"w{i}": q for i, q in enumerate(qs.distinct(self.WARMUP_QUERIES))}
        self.chunks = [
            {f"c{c}q{i}": q for i, q in enumerate(qs.distinct(self.CHUNK))}
            for c in range(max(3, round(seconds / self.CHUNK_NOMINAL_S)))
        ]
        qids = sorted(q for chunk in self.chunks for q in chunk)
        self.checked = list(
            np.random.default_rng([seed, 40]).permutation(qids)[: self.CHECKED_QUERIES]
        )

    def run(self, spark, tracer, out: Outcome) -> None:
        from search_suite_spark.operators import wand
        from search_suite_spark.sources import segments

        def build(r: int):
            seg_dir = os.path.join(self.work, f"sweep{r}")
            return out.setup(
                seg_dir, segments.build_segment, spark.read.parquet(self.path), seg_dir,
                n_shards=N_SHARDS, resume=False,
            )

        def score(seg, chunk: dict[str, str]):
            stats: dict = {}
            t0 = time.perf_counter()
            frame = wand.bm25_batch(seg, chunk, TOP_K, stats=stats)
            with tracer.span("wand.bm25_batch.action"):
                rows = frame.collect()
            frame.ss_release()
            return rows, stats, time.perf_counter() - t0

        for r in range(SETUP_REPS):
            seg = build(r)
        out.live_index = out.index_dirs[-1]
        if seg is None:
            return
        # an untimed first chunk pays the JIT warm-up of the query path
        out.guarded("bm25_batch", score, seg, self.warm)

        self.results: dict[str, list[tuple[str, float]]] = {}
        for chunk in self.chunks:
            got = out.guarded("bm25_batch", score, seg, chunk)
            if got is None:
                continue
            rows, stats, dt = got
            out.latencies.append(dt)
            out.work_s += dt
            out.work_units += len(chunk)
            out.work_calls += 1
            log(f"chunk of {len(chunk)}: {dt:.2f}s")
            out.blocks_decoded += stats["blocks_decoded"].value
            out.blocks_total += stats["blocks_total"].value
            for r in rows:
                self.results.setdefault(r["qid"], []).append((r["url"], r["score"]))

    def check(self, spark, out: Outcome) -> None:
        """Untimed: sampled top-k lists are rank-identical to the flat twin's."""
        from search_suite_spark.operators.build import build_index
        from search_suite_spark.operators.query import bm25_scored

        twin = out.guarded("twin build", build_index, spark.read.parquet(self.path))
        if twin is None:
            return
        queries = {k: v for chunk in self.chunks for k, v in chunk.items()}
        for qid in self.checked:
            q = queries[qid]
            rows = out.guarded("twin query", lambda: bm25_scored(twin, q, TOP_K).collect())
            if rows is None:
                continue
            want = [(r["url"], r["score"]) for r in rows]
            got = self.results.get(qid, [])
            if not same_ranking(got, want):
                out.fail(f"{qid} {q!r}: got {got[:3]} want {want[:3]}")


WORKLOADS = {"ingest": Ingest, "sweep": Sweep}
