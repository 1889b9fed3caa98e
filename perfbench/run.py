"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (each
metric a ``{"value", "unit"}`` pair). ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones,
from a run with Spark's event log on and spans around the engine's
public calls. The line before it names every metric with its sample
count. Everything the run writes goes under ``.perfbench_work/`` in the
current directory, which is removed again at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

DRIVER_MEM = "2g"
# a run must end within 180 s; past this, give up and clean up instead
WATCHDOG_S = 170


class NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "sweep"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    """local[nproc] session with every scratch path inside ``work``."""
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers start from the JVM's working directory, so they
    # need the repository root on their path to import the engine
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    from search_suite_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            # the Spark 4 default codec is zstd, which Python cannot read here
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        app="perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf
    )


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the JVM plus its Python workers."""
    return sum(_hwm_kb(p) for p in [jvm_pid, *_descendants(jvm_pid)]) / 1024


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        with contextlib.suppress(ProcessLookupError):
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def bytes_per_posting(spark, index_dir: str) -> float:
    """Packed posting bytes over postings, from the lineage of every
    segment of the live index (a collection, or one segment)."""
    import pyarrow.parquet as pq

    from search_suite_spark.sources import registry

    segs = registry.load_collection(spark, index_dir)
    seg_dirs = [s.path for s in segs.values()] or [index_dir]
    nbytes = postings = 0
    for d in seg_dirs:
        t = pq.read_table(os.path.join(d, "lineage"), columns=["packed_bytes", "n_postings"])
        nbytes += sum(t.column("packed_bytes").to_pylist())
        postings += sum(t.column("n_postings").to_pylist())
    return nbytes / postings


def du(paths: list[str]) -> int:
    """Bytes of the data files under ``paths`` (not the .crc sidecars)."""
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files if not f.startswith(".")
            )
    return total


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "search_suite_spark")):
        print("perfbench: search_suite_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import spans as tr
    import workloads as wl

    def overdue(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S}s")

    signal.signal(signal.SIGALRM, overdue)
    signal.alarm(WATCHDOG_S)
    # on SIGTERM, unwind through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    work = os.path.join(os.getcwd(), ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    workload = wl.WORKLOADS[args.workload]()
    out = wl.Outcome()
    with ThreadPoolExecutor(max_workers=1) as pool:
        # inputs are generated while the JVM starts
        prepared = pool.submit(workload.prepare, args.seed, args.seconds, work)
        spark = start_spark(work, bool(args.trace))
        wl.log("spark started")
        try:
            prepared.result()
            jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
            tracer = tr.Tracer(spark) if args.trace else NullTracer()
            if args.trace:
                job_lo = tracer.next_job_id()
                tracer.install()
            try:
                workload.run(spark, tracer, out)
            finally:
                if args.trace:
                    tracer.uninstall()
                    job_hi = tracer.next_job_id()
            rss = peak_rss_mb(jvm_pid)
            bpp = bytes_per_posting(spark, out.live_index)
            index_bytes = du(out.index_dirs)
            wl.log("checking results")
            workload.check(spark, out)
        finally:
            stop_spark(spark)
    wl.log("stopped")

    summary = {
        "setup_s": (wl.median(out.setup_s), "s", len(out.setup_s)),
        "throughput_per_s": (
            out.work_units / out.work_s if out.work_s else float("nan"),
            "1/s", out.work_calls,
        ),
        "latency_p50_s": (wl.median(out.latencies), "s", len(out.latencies)),
        "index_bytes_per_posting": (bpp, "B", 1),
        "peak_rss_mb": (rss, "MB", 1),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in summary.items()}
    if args.trace:
        jobs, stages = tr.read_event_log(os.path.join(work, "events"))
        layers, totals = tr.layer_metrics(tracer.spans, jobs, stages, job_lo, job_hi)
        dec, tot = out.blocks_decoded, out.blocks_total
        layers.update({
            "wand.blocks_decoded": dec,
            "wand.blocks_total": tot,
            "wand.block_decode_frac": dec / tot if tot else 0.0,
            "segment_io.bytes_written_per_live_byte": totals["bytes_written"] / index_bytes,
            "trace.unattributed_jobs": totals["unattributed_jobs"],
            "trace.throughput_per_s": summary["throughput_per_s"][0],
        })
        if totals["unaccounted_spans"]:
            out.fail(f"{totals['unaccounted_spans']} spans hold jobs not attributed to them")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}

    shutil.rmtree(work, ignore_errors=True)
    for e in out.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    samples = " ".join(f"{k}={v:.6g}{u}(n={n})" for k, (v, u, n) in summary.items())
    err = out.failed / out.attempted if out.attempted else 1.0
    print(f"{args.workload} seed={args.seed}: {samples} error_frac={err:.4g}"
          f"({out.failed}/{out.attempted})")
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


def _unit(key: str) -> str:
    leaf = key.rsplit(".", 1)[1]
    if leaf.endswith("_per_s"):
        return "1/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_frac") or leaf.endswith("_per_live_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
