"""Storage seam for the segment store: every byte the engine persists or
reads goes through a SegmentIO implementation, so the production catalog
is one module swap away from the sandbox's plain-parquet layout.

Production target (north_star: "trillion-document Iceberg table"):
Iceberg tables with the layout pinned in ICEBERG_LAYOUT below — postings
bucketed by term so a query's term filter prunes files at the catalog
(the Iceberg analogue of the reference's sorted dictionary + seek,
/root/reference/indexer-qp2/src/index_reader.rs:200-269), plus identity
partitioning on shard so conjunctive queries stay shard-local. The
sandbox ships no Iceberg runtime jars (documented in segments.py), so
ParquetSegmentIO reproduces the same physical intent on plain parquet:
shard directories + term-sorted row groups (Parquet min/max stats do the
pruning the Iceberg bucket transform would).

The interface is deliberately storage-shaped, not DataFrame-shaped: the
physical layout decisions (partition columns, in-file sort, atomic
dictionary replacement) are part of the storage strategy, so they live
in the impl. Placement is not: write_postings / write_docs take frames
the caller already placed one shard slot per partition
(segments.shard_slots, decided once upstream of the Python kernels), so
a write adds no exchange and leaves at most one file per slot.

Segment metadata costs no Spark job: lineage rows are written from the
driver with pyarrow, and docs/terms/deletes reads pass an explicit
schema taken from one parquet footer (Spark's own schema inference
submits a job per read).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the layout contract the production Iceberg impl must create — pinned
# here (and in tests/test_segment_io.py) so the swap cannot silently
# drop the term-bucket pruning the query plans rely on
ICEBERG_LAYOUT = {
    "postings": "PARTITIONED BY (bucket(64, term), shard); "
                "write ordered by (term)",
    "docs": "PARTITIONED BY (shard); write ordered by (doc_id)",
    "lineage": "unpartitioned append-only log",
    "terms": "unpartitioned, replaced atomically per build (snapshot)",
    "deletes": "unpartitioned append-only (doc_id) log",
}


class SegmentIO:
    """Interface: segment table reads/writes under a segment directory.

    ``write_postings`` / ``write_docs`` with mode='overwrite' must
    implement DYNAMIC partition-overwrite semantics on shard: only the
    shards present in the written frame are replaced (the resume
    contract — build_segment re-runs batches of shards idempotently).
    They write the frame's partitions as they are (the caller placed
    them), each file sorted by term / doc_id.
    """

    def write_postings(self, df: DataFrame, seg_dir: str, mode: str) -> None:
        raise NotImplementedError

    def write_docs(self, df: DataFrame, seg_dir: str, mode: str) -> None:
        raise NotImplementedError

    def append_lineage(self, rows: list[tuple], seg_dir: str) -> None:
        """Append driver-held lineage rows (segments.LINEAGE_SCHEMA
        order and types) — no Spark job. Readers never see a partly
        written file."""
        raise NotImplementedError

    def write_terms(self, df: DataFrame, seg_dir: str) -> None:
        raise NotImplementedError

    def append_deletes(self, df: DataFrame, seg_dir: str) -> None:
        raise NotImplementedError

    def read_postings(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        raise NotImplementedError

    def read_docs(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        raise NotImplementedError

    def read_lineage(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        raise NotImplementedError

    def read_terms(self, spark: SparkSession, seg_dir: str) -> DataFrame | None:
        raise NotImplementedError

    def read_deletes(self, spark: SparkSession, seg_dir: str) -> DataFrame | None:
        raise NotImplementedError

    def deletes_count(self, spark: SparkSession, seg_dir: str) -> int | None:
        """Cheap ROW-COUNT upper bound for the deletes table (e.g. from
        parquet footers / catalog stats — no Spark job). None = unknown;
        queries then fall back to a count() job. Used to route between
        the broadcast and cogrouped delete-filter paths (operators/wand)
        without a per-query driver round-trip."""
        return None

    def lineage_summary(
        self, spark: SparkSession, seg_dir: str
    ) -> tuple[int, int, int] | None:
        """(sum n_docs, sum total_doc_len, max shard) of the lineage
        table from DRIVER-SIDE file reads — no Spark job (the Iceberg
        analogue is a snapshot-summary read). The lineage table is
        one tiny row per completed shard, so reading it through a
        distributed aggregation costs a whole job submit for a handful
        of rows; read_segment runs after EVERY build/merge, making that
        submit a fixed tail on every timed build. None = unknown →
        read_segment falls back to the Spark aggregation."""
        return None

    def lineage_shards(
        self, spark: SparkSession, seg_dir: str
    ) -> set[int] | None:
        """The set of shards with a lineage row (= completed, the
        resume contract), from driver-side file reads — no Spark job.
        None = unknown → completed_shards falls back to a distributed
        read."""
        return None


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_ARROW_TYPES = {"int": "int32", "long": "int64"}


def _parquet_files(table_dir: str):
    """Data files under ``table_dir`` in walk order, skipping the names
    Spark's own listing skips: hidden ones, and _-prefixed ones that are
    not partition dirs."""
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith(".") and (not d.startswith("_") or "=" in d)
        )
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(root, f)


def _footer_schema(table_dir: str):
    """The Spark schema of a Spark-written parquet table, read from ONE
    file footer on the driver: the schema Spark stored in the footer
    (what its own inference returns — it too reads a single footer
    unless mergeSchema is on) plus any ``name=value`` partition columns
    on the path below ``table_dir`` (the engine partitions by shard
    only, so they are ints). Spark's inference would submit a job per
    read. None when no file carries Spark's schema; callers then fall
    back to inference."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructField, StructType

    for path in _parquet_files(table_dir):
        meta = pq.read_schema(path).metadata or {}
        if _SPARK_ROW_METADATA not in meta:
            return None
        schema = StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))
        rel = os.path.relpath(os.path.dirname(path), table_dir)
        for part in rel.split(os.sep):
            if "=" in part:
                schema.add(StructField(part.split("=", 1)[0], IntegerType()))
        return schema
    return None


def _read_parquet(spark: SparkSession, table_dir: str, paths=None) -> DataFrame:
    """spark.read.parquet of ``paths`` (default: the table dir) with the
    schema of _footer_schema(table_dir) when there is one."""
    schema = _footer_schema(table_dir)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(*(paths or [table_dir]))


def _write_lineage_file(rows: list[tuple], table_dir: str) -> None:
    """Write ``rows`` as one parquet file under ``table_dir`` with
    pyarrow: to a hidden temporary name first, then renamed into place,
    so no reader (Spark or pyarrow) ever lists a partial file."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_suite_spark.sources.segments import LINEAGE_SCHEMA

    fields = [f.split(" ") for f in LINEAGE_SCHEMA.split(", ")]
    schema = pa.schema([(n, _ARROW_TYPES[t]) for n, t in fields])
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )
    os.makedirs(table_dir, exist_ok=True)
    name = f"part-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = os.path.join(table_dir, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, os.path.join(table_dir, name))


class ParquetSegmentIO(SegmentIO):
    """Plain-parquet segment store (the sandbox default).

    Physical layout mirrors ICEBERG_LAYOUT's intent: postings/docs are
    hive-partitioned by shard with one file per shard slot (query
    latency is dominated by file listing/footers when each (task, shard)
    pair leaves a fragment) and term/doc_id-sorted within files so
    row-group min/max statistics prune scans. The sort leads with the
    partition column: a partitioned write requires its input sorted by
    it and would otherwise put its own Sort[shard] in place of the
    term/doc_id one.
    """

    def write_postings(self, df: DataFrame, seg_dir: str, mode: str) -> None:
        (
            df.sortWithinPartitions("shard", "term")
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(os.path.join(seg_dir, "postings"))
        )

    def write_docs(self, df: DataFrame, seg_dir: str, mode: str) -> None:
        (
            df.sortWithinPartitions("shard", "doc_id")
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(os.path.join(seg_dir, "docs"))
        )

    def append_lineage(self, rows: list[tuple], seg_dir: str) -> None:
        _write_lineage_file(rows, os.path.join(seg_dir, "lineage"))

    def write_terms(self, df: DataFrame, seg_dir: str) -> None:
        # parallel write, (tlen, term)-sorted within files so row-group
        # min/max stats prune BOTH access paths — spelling's length-band
        # scan and point lookups (which carry the literal's length, see
        # segments.term_probe_predicate); no coalesce(1) — a single-task
        # dictionary write is a serial tail at scale (web vocabularies
        # reach 10^8 terms). The rename makes dictionary replacement
        # atomic for concurrent readers.
        tmp = os.path.join(seg_dir, "_terms_tmp")
        sort_cols = (["tlen", "term"] if "tlen" in df.columns else ["term"])
        df.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(tmp)
        final = os.path.join(seg_dir, "terms")
        if os.path.isdir(final):
            import shutil

            shutil.rmtree(final)
        os.rename(tmp, final)

    def append_deletes(self, df: DataFrame, seg_dir: str) -> None:
        df.write.mode("append").parquet(os.path.join(seg_dir, "deletes"))

    def read_postings(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        # explicit schema: skips footer-based inference on every open (a
        # web-scale segment has thousands of posting files) and keeps an
        # all-empty segment readable
        from search_suite_spark.sources.segments import PACKED_SCHEMA

        return spark.read.schema(PACKED_SCHEMA).parquet(
            os.path.join(seg_dir, "postings")
        )

    def read_docs(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        return _read_parquet(spark, os.path.join(seg_dir, "docs"))

    def read_lineage(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        return spark.read.parquet(os.path.join(seg_dir, "lineage"))

    def read_terms(self, spark: SparkSession, seg_dir: str) -> DataFrame | None:
        path = os.path.join(seg_dir, "terms")
        return _read_parquet(spark, path) if os.path.isdir(path) else None

    def read_deletes(self, spark: SparkSession, seg_dir: str) -> DataFrame | None:
        path = os.path.join(seg_dir, "deletes")
        if not os.path.isdir(path):
            return None
        try:
            return _read_parquet(spark, path)
        except Exception:
            return None

    def deletes_count(self, spark: SparkSession, seg_dir: str) -> int | None:
        return _footer_row_count(os.path.join(seg_dir, "deletes"))

    def lineage_summary(
        self, spark: SparkSession, seg_dir: str
    ) -> tuple[int, int, int] | None:
        return _lineage_summary_of_dirs([os.path.join(seg_dir, "lineage")])

    def lineage_shards(
        self, spark: SparkSession, seg_dir: str
    ) -> set[int] | None:
        return _lineage_shards_of_dirs([os.path.join(seg_dir, "lineage")])


def _lineage_shards_of_dirs(dirs: list[str]) -> set[int]:
    """Driver-side distinct shard ids over the lineage parquet files
    under ``dirs`` — pyarrow column reads, no Spark job."""
    import pyarrow.parquet as pq

    shards: set[int] = set()
    for d in dirs:
        for path in _parquet_files(d):
            t = pq.read_table(path, columns=["shard"])
            shards.update(
                int(s) for s in t.column("shard").to_pylist() if s is not None
            )
    return shards


def _lineage_summary_of_dirs(dirs: list[str]) -> tuple[int, int, int]:
    """Driver-side (Σ n_docs, Σ total_doc_len, max shard) over the
    lineage parquet files under ``dirs`` — pyarrow column reads, no
    Spark job. Missing dirs/files behave like an empty table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    nd = tdl = 0
    max_shard = -1
    for d in dirs:
        for path in _parquet_files(d):
            t = pq.read_table(path, columns=["shard", "n_docs", "total_doc_len"])
            if t.num_rows == 0:
                continue
            nd += pc.sum(t.column("n_docs")).as_py() or 0
            tdl += pc.sum(t.column("total_doc_len")).as_py() or 0
            mx = pc.max(t.column("shard")).as_py()
            if mx is not None and mx > max_shard:
                max_shard = mx
    return nd, tdl, max_shard


def _footer_row_count(table_dir: str) -> int:
    """Sum parquet-footer num_rows under a directory — driver-side file
    metadata only, no Spark job (the Iceberg analogue is a snapshot
    summary read). Counts rows, not distinct keys: callers use it as an
    upper bound."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in _parquet_files(table_dir))


class ManifestSegmentIO(SegmentIO):
    """Manifest-file segment store — THE catalog model of this engine
    (the production Iceberg deployment maps onto it one-to-one, see
    the mapping table below).

    Mimics Iceberg's metadata model on plain files: readers never list
    directories; each table carries a ``manifest.json`` naming its live
    data directories, and every commit is (write new immutable data dirs)
    → (atomically replace the manifest via rename). Shard identity for
    postings/docs is tracked IN THE MANIFEST (shard → data dirs), so
    dynamic shard overwrite — the resume contract — is a pure metadata
    swap, and crash-interrupted writes leave orphan dirs that are never
    referenced (exactly Iceberg's uncommitted-snapshot behavior).

    Iceberg mapping (what the production impl substitutes, per
    ICEBERG_LAYOUT — the sandbox ships no Iceberg runtime jars, so the
    file-based twin IS the shipped catalog; re-verified 2026-08-22: no
    iceberg-spark-runtime jar anywhere on the image and no network to
    fetch one, so a real-Iceberg lifecycle run remains impossible here
    — this manifest backend stays the documented stand-in, exercised by
    the full suite behind the same SegmentIO seam):

      manifest.json atomic swap   → Iceberg metadata.json pointer swap
                                     (catalog compare-and-set commit)
      commit-N immutable dirs     → snapshot data/manifest files
      shards{} per-shard dirs     → identity partition on shard +
                                     dynamic partition overwrite
      commits[] append lists      → append snapshots (lineage/deletes)
      write_terms replace         → REPLACE TABLE snapshot
      deletes_count footer sum    → snapshot summary total-records
      orphan commit dirs          → uncommitted snapshots (GC'd by
                                     maintenance, never read)

    Concurrency contract: commit DIRS are reserved atomically (mkdir —
    two concurrent writers can never target the same dir), but the
    manifest load-modify-store itself is last-writer-wins, NOT a
    compare-and-set: this store assumes ONE writer per segment at a
    time, which the engine guarantees by construction (a build/merge
    owns its private tmp_ dir until the registry's atomic rename
    publishes it; compaction runs serially per collection). A real
    multi-writer deployment gets CAS from the Iceberg catalog layer.

    Physical layout intent matches ICEBERG_LAYOUT: postings/docs written
    per shard (one commit dir per write, hive-split by a duplicated
    partition column so each leaf dir is shard-pure), term/doc_id-sorted
    within files; shard survives as a DATA column so reads need no
    partition-path parsing.
    """

    _SHARDED = {"postings": "term", "docs": "doc_id"}  # table → file sort

    def _mf_path(self, seg_dir: str, table: str) -> str:
        return os.path.join(seg_dir, table, "manifest.json")

    def _load(self, seg_dir: str, table: str) -> dict:
        import json

        try:
            with open(self._mf_path(seg_dir, table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"shards": {}, "commits": []}

    def _store(self, seg_dir: str, table: str, mf: dict) -> None:
        import json

        path = self._mf_path(seg_dir, table)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(mf, f)
        os.replace(tmp, path)  # atomic manifest swap = the commit point

    def _next_commit(self, seg_dir: str, table: str) -> str:
        """RESERVE the next commit dir atomically: mkdir either creates
        it exclusively or raises FileExistsError (retry with the next
        index) — two concurrent writers can race the manifest (see the
        class contract) but can never clobber each other's data dirs."""
        tdir = os.path.join(seg_dir, table)
        os.makedirs(tdir, exist_ok=True)
        i = len([n for n in os.listdir(tdir) if n.startswith("commit-")])
        while True:
            name = f"commit-{i:06d}"
            try:
                os.mkdir(os.path.join(tdir, name))
                return name
            except FileExistsError:
                i += 1

    def _live_paths(self, seg_dir: str, table: str) -> list[str]:
        mf = self._load(seg_dir, table)
        rels: list[str] = list(mf.get("commits", []))
        for dirs in mf.get("shards", {}).values():
            rels.extend(dirs)
        return [os.path.join(seg_dir, table, r) for r in rels]

    def _write_sharded(
        self, df: DataFrame, seg_dir: str, table: str, mode: str
    ) -> None:
        from pyspark.sql import functions as F

        sort_col = self._SHARDED[table]
        commit = self._next_commit(seg_dir, table)
        abs_commit = os.path.join(seg_dir, table, commit)
        # the partition column leads the sort (see ParquetSegmentIO)
        (
            df.withColumn("_p_shard", F.col("shard"))
            .sortWithinPartitions("_p_shard", sort_col)
            .write.mode("overwrite")
            .partitionBy("_p_shard")
            .parquet(abs_commit)
        )
        # leaf dirs are shard-pure; record them per shard in the manifest
        written: dict[str, list[str]] = {}
        for name in sorted(os.listdir(abs_commit)):
            if name.startswith("_p_shard="):
                shard = name.split("=", 1)[1]
                written.setdefault(shard, []).append(
                    os.path.join(commit, name)
                )
        mf = self._load(seg_dir, table)
        shards = mf.setdefault("shards", {})
        for shard, dirs in written.items():
            if mode == "append":
                shards.setdefault(shard, []).extend(dirs)
            else:  # dynamic overwrite: replace only the written shards
                shards[shard] = dirs
        self._store(seg_dir, table, mf)

    def _record_commit(self, seg_dir: str, table: str, commit: str) -> None:
        mf = self._load(seg_dir, table)
        mf.setdefault("commits", []).append(commit)
        self._store(seg_dir, table, mf)

    def _append_commit(self, df: DataFrame, seg_dir: str, table: str) -> None:
        commit = self._next_commit(seg_dir, table)
        df.write.mode("overwrite").parquet(
            os.path.join(seg_dir, table, commit)
        )
        self._record_commit(seg_dir, table, commit)

    def _read(self, spark, seg_dir, table, schema=None, empty_schema=None):
        paths = self._live_paths(seg_dir, table)
        if not paths:
            if empty_schema is not None:
                return spark.createDataFrame([], empty_schema)
            raise FileNotFoundError(
                f"no manifest for table {table!r} under {seg_dir}"
            )
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
        return _read_parquet(spark, paths[0], paths)

    def write_postings(self, df: DataFrame, seg_dir: str, mode: str) -> None:
        self._write_sharded(df, seg_dir, "postings", mode)

    def write_docs(self, df: DataFrame, seg_dir: str, mode: str) -> None:
        self._write_sharded(df, seg_dir, "docs", mode)

    def append_lineage(self, rows: list[tuple], seg_dir: str) -> None:
        commit = self._next_commit(seg_dir, "lineage")
        _write_lineage_file(rows, os.path.join(seg_dir, "lineage", commit))
        self._record_commit(seg_dir, "lineage", commit)

    def write_terms(self, df: DataFrame, seg_dir: str) -> None:
        # replace = write new dirs, point the manifest at ONLY them
        commit = self._next_commit(seg_dir, "terms")
        sort_cols = (["tlen", "term"] if "tlen" in df.columns else ["term"])
        df.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(
            os.path.join(seg_dir, "terms", commit)
        )
        self._store(seg_dir, "terms", {"commits": [commit]})

    def append_deletes(self, df: DataFrame, seg_dir: str) -> None:
        self._append_commit(df, seg_dir, "deletes")

    def read_postings(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        from search_suite_spark.sources.segments import PACKED_SCHEMA

        return self._read(
            spark, seg_dir, "postings",
            schema=PACKED_SCHEMA, empty_schema=PACKED_SCHEMA,
        )

    def read_docs(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        # no empty-frame fallback: a docs table with no manifest is a
        # broken/unbuilt segment and must raise, matching the parquet
        # backend's contract (a silent empty frame would also have to
        # guess the schema — warc_ts is optional per build)
        return self._read(spark, seg_dir, "docs")

    def read_lineage(self, spark: SparkSession, seg_dir: str) -> DataFrame:
        return self._read(spark, seg_dir, "lineage")

    def read_terms(self, spark: SparkSession, seg_dir: str) -> DataFrame | None:
        try:
            paths = self._live_paths(seg_dir, "terms")
        except FileNotFoundError:
            return None
        if not paths:
            return None
        return _read_parquet(spark, paths[0], paths)

    def read_deletes(self, spark: SparkSession, seg_dir: str) -> DataFrame | None:
        paths = self._live_paths(seg_dir, "deletes")
        if not paths:
            return None
        try:
            return _read_parquet(spark, paths[0], paths)
        except Exception:
            return None

    def deletes_count(self, spark: SparkSession, seg_dir: str) -> int | None:
        return sum(
            _footer_row_count(p) for p in self._live_paths(seg_dir, "deletes")
        )

    def lineage_summary(
        self, spark: SparkSession, seg_dir: str
    ) -> tuple[int, int, int] | None:
        try:
            paths = self._live_paths(seg_dir, "lineage")
        except FileNotFoundError:
            return (0, 0, -1)
        return _lineage_summary_of_dirs([p for p in paths if os.path.isdir(p)])

    def lineage_shards(
        self, spark: SparkSession, seg_dir: str
    ) -> set[int] | None:
        try:
            paths = self._live_paths(seg_dir, "lineage")
        except FileNotFoundError:
            return set()
        return _lineage_shards_of_dirs([p for p in paths if os.path.isdir(p)])


DEFAULT_IO: SegmentIO = ParquetSegmentIO()

_NAMED = {"parquet": ParquetSegmentIO, "manifest": ManifestSegmentIO}


def make_io(name: str) -> SegmentIO:
    return _NAMED[name]()


# the process-wide ACTIVE impl: engine entry points default their ``io``
# parameter to current_io() (not DEFAULT_IO — a def-time default would
# freeze the object and make the seam untestable). Initialized from
# $SEARCH_SUITE_SEGMENT_IO so spark-submit jobs and subprocesses select
# the backend the same way the test suite does; swap at runtime with
# set_current_io().
_CURRENT_IO: SegmentIO = make_io(
    os.environ.get("SEARCH_SUITE_SEGMENT_IO", "parquet")
)


def current_io() -> SegmentIO:
    return _CURRENT_IO


def set_current_io(io: SegmentIO | None) -> SegmentIO:
    """Swap the active impl; returns the previous one (restore in tests)."""
    global _CURRENT_IO
    old = _CURRENT_IO
    _CURRENT_IO = io if io is not None else DEFAULT_IO
    return old
