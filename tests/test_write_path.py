"""Write-path shape, under every SegmentIO backend: segment metadata
costs no Spark job, the Python kernels run one task per shard slot, the
files a build or merge writes keep their in-file sort, and driver-written
lineage reads back the same through Spark and through pyarrow.

Jobs are counted by job-id window: the DAG scheduler hands out job ids
in submission order from one counter, so the ids taken while a call runs
are exactly the jobs it submitted, from whatever thread.
"""

import contextlib
import os
import re

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from search_suite_spark.sources.corpus import pages_from_docs_list

DOCS = [
    (f"http://w{i}", " ".join(f"t{(i * 7 + j) % 23}" for j in range(9)))
    for i in range(40)
]


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@contextlib.contextmanager
def _jobs(spark):
    """Yields a list that holds, on exit, the ids of the jobs submitted
    inside the block."""
    got: list[int] = []
    lo = _next_job_id(spark)
    try:
        yield got
    finally:
        got.extend(range(lo, _next_job_id(spark)))


def _kernel_stage_tasks(spark, job_ids) -> list[int]:
    """Task count of every stage that ran (not skipped) in ``job_ids``
    and holds a MapInArrow operator — the Python kernel stages, plus the
    scans of a persisted kernel output, which share its partitioning."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    out = []
    for j in job_ids:
        for st in sc.statusTracker().getJobInfo(j).stageIds:
            info = sc.statusTracker().getStageInfo(st)
            if info is None or info.numCompletedTasks == 0:
                continue
            dot = graph.makeDotFile(store.operationGraphForStage(st))
            if re.search(r'label="MapInArrow', dot):
                out.append(info.numTasks)
    return out


def _slots(spark, n_shards: int) -> int:
    return n_shards * max(1, spark.sparkContext.defaultParallelism // n_shards)


def _files(seg_dir: str, table: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(os.path.join(seg_dir, table))
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _assert_files_sorted(seg_dir: str) -> None:
    for table, col in (("postings", "term"), ("docs", "doc_id")):
        files = _files(seg_dir, table)
        assert files, (seg_dir, table)
        for path in files:
            c = pq.read_table(path, columns=[col]).column(col)
            if len(c) > 1:
                ok = pc.all(pc.greater_equal(c[1:], c[:-1])).as_py()
                assert ok, f"{path}: {col} not sorted"


def test_metadata_submits_no_jobs(spark, tmp_path, seg_io):
    from search_suite_spark.sources.registry import (
        index_into_collection,
        load_collection,
    )
    from search_suite_spark.sources.segments import delete_url, read_segment

    col = str(tmp_path / "col")
    segs = index_into_collection(
        spark, pages_from_docs_list(spark, DOCS), col, n_shards=2,
        compact=False,
    )
    (seg,) = segs.values()
    delete_url(spark, seg, "http://w3")  # so every table exists

    with _jobs(spark) as read_jobs:
        seg = read_segment(spark, seg.path)
    with _jobs(spark) as load_jobs:
        loaded = load_collection(spark, col)
    with _jobs(spark) as lineage_jobs:
        seg_io.append_lineage([(7, 0, 0, 0, 0, 0, 1)], str(tmp_path / "lin"))
    assert (read_jobs, load_jobs, lineage_jobs) == ([], [], [])

    # the explicit schemas carry the types the tables were written with
    want = {
        "docs": {
            "doc_id": "bigint", "doc_len": "int", "url": "string",
            "warc_ts": "timestamp", "shard": "int",
        },
        "terms": {"term": "string", "df": "bigint", "tlen": "int"},
        "deletes": {"doc_id": "bigint"},
    }
    for name, frame in (
        ("docs", seg.docs), ("terms", seg.terms), ("deletes", seg.deletes),
    ):
        got = {f.name: f.dataType.simpleString() for f in frame.schema}
        assert got == want[name], name
    assert seg.deletes.collect()[0]["doc_id"] == (
        seg.docs.filter(F.col("url") == "http://w3").collect()[0]["doc_id"]
    )
    assert [s.num_docs for s in loaded.values()] == [len(DOCS)]


def test_kernel_stages_run_one_task_per_slot(spark, tmp_path, seg_io):
    from search_suite_spark.operators.merge import merge_segments
    from search_suite_spark.sources.segments import build_segment

    n_shards = 2
    with _jobs(spark) as build_jobs:
        a = build_segment(
            pages_from_docs_list(spark, DOCS[:25]), str(tmp_path / "a"),
            n_shards=n_shards,
        )
    b = build_segment(
        pages_from_docs_list(spark, DOCS[15:]), str(tmp_path / "b"),
        n_shards=n_shards,
    )
    with _jobs(spark) as merge_jobs:
        merge_segments(spark, a, b, str(tmp_path / "m"), n_shards=n_shards)
    for jobs in (build_jobs, merge_jobs):
        tasks = _kernel_stage_tasks(spark, jobs)
        assert tasks and set(tasks) == {_slots(spark, n_shards)}, tasks

    # a batched build places only the batch's shards: 2 batches of 2
    # shards, each on the slots of 2 shards — no empty Python tasks
    with _jobs(spark) as batch_jobs:
        build_segment(
            pages_from_docs_list(spark, DOCS), str(tmp_path / "c"),
            n_shards=4, shards_per_batch=2,
        )
    tasks = _kernel_stage_tasks(spark, batch_jobs)
    assert tasks and set(tasks) == {_slots(spark, 2)}, tasks


def test_written_files_keep_in_file_sort(spark, tmp_path, seg_io):
    """Every postings file is term-sorted and every docs file doc_id-
    sorted (row-group pruning relies on it), after a build and after
    both merge paths (packed, and the flat re-shard fallback)."""
    from search_suite_spark.operators.merge import merge_segments
    from search_suite_spark.sources.segments import build_segment

    many = [
        (f"http://s{i}", " ".join(f"t{(i * 5 + j) % 61}" for j in range(15)))
        for i in range(300)
    ]
    a = build_segment(
        pages_from_docs_list(spark, many[:200]), str(tmp_path / "a"),
        n_shards=2,
    )
    b = build_segment(
        pages_from_docs_list(spark, many[150:]), str(tmp_path / "b"),
        n_shards=2,
    )
    _assert_files_sorted(a.path)
    packed = merge_segments(spark, a, b, str(tmp_path / "m"), n_shards=2)
    _assert_files_sorted(packed.path)
    flat = merge_segments(spark, a, b, str(tmp_path / "r"), n_shards=3)
    _assert_files_sorted(flat.path)
    assert packed.num_docs == flat.num_docs == len(many)


def test_driver_written_lineage_round_trips(spark, tmp_path, seg_io):
    """Lineage appended from the driver reads back identically through
    Spark (read_lineage) and through the pyarrow metadata readers, with
    LINEAGE_SCHEMA's types; appends accumulate."""
    d = str(tmp_path / "seg")
    first = [(0, 3, 30, 9, 12, 40, 5), (1, 0, 0, 0, 0, 0, 5)]
    second = [(2, 4, 41, 11, 15, 52, 7)]
    seg_io.append_lineage(first, d)
    seg_io.append_lineage(second, d)

    lineage = seg_io.read_lineage(spark, d)
    assert lineage.schema.simpleString() == (
        "struct<shard:int,n_docs:bigint,total_doc_len:bigint,n_terms:bigint,"
        "n_postings:bigint,packed_bytes:bigint,ms:bigint>"
    )
    assert sorted(tuple(r) for r in lineage.collect()) == first + second
    assert seg_io.lineage_summary(spark, d) == (7, 71, 2)
    assert seg_io.lineage_shards(spark, d) == {0, 1, 2}
    # no temporary file is left behind for a reader to trip over
    assert not [
        f for _, _, files in os.walk(os.path.join(d, "lineage"))
        for f in files if f.endswith(".tmp")
    ]
