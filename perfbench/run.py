"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run starts a Spark session, makes its
inputs from the seed, warms the engine up until per-op latency stops
falling, times a fixed number of op cycles, checks every response, and
prints two JSON lines: a detail record (samples, warm-up, CPU steal,
calibration probe, failures) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``E2E``); with
``--trace 1`` the engine's public functions are wrapped in spans and the
metrics are the per-layer ones (``per_layer_names``). Scratch files, the
trace dump and per-run records go to ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

import stats  # noqa: E402
import workloads  # noqa: E402

#: the end-to-end metrics, reported by every workload (all in seconds).
#: Per-step medians are in the detail record only: run to run they spread
#: too widely on a shared 4-vCPU host to carry a bound (see README.md).
E2E = ("setup_s", "cycle_p50_s")
#: Spark's local[N]: at most this many cores, never more than the host has.
#: Two task slots leave the rest of a 4-vCPU host to the JVM's own threads
#: (JIT compiler, GC, scheduler) and the Python workers, so that compile
#: bursts and CPU steal from the shared host move the figures less.
MAX_CORES = 2


def per_layer_names() -> list[str]:
    """Every per-layer metric; a traced run of any workload reports all of
    them, with 0 for layers the workload does not reach."""
    names = []
    for k in ("search_s", "route_self_s"):
        names += [f"app.{k}.{t}" for t in workloads.gen.SEARCH_TYPES]
    for k in ("construct_s", "py4j_cmds", "execute_s", "jobs", "tasks"):
        names += [f"rag.{k}.{t}" for t in workloads.gen.SEARCH_TYPES]
    names.append("rag.failed_tasks")
    names += [f"ingest.{k}" for k in (
        "construct_s", "write_s", "readback_s", "jobs", "tasks", "noop_jobs",
        "executor_run_s", "executor_cpu_s", "rows_per_batch", "store_files",
        "store_bytes_per_row")]
    for q in workloads.TAIL_QUERIES:
        names += [f"tail.{q}.{k}" for k in workloads.TAIL_LAYER_KEYS]
    names += ["session.start_s", "session.warmup_s", "session.warmup_ops"]
    return names


def unit_of(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    leaf = name.split(".")[-2] if name.startswith(("app.", "rag.")) else name.split(".")[-1]
    if leaf == "store_bytes_per_row":
        return "bytes/row"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf == "core_busy":
        return "ratio"
    if leaf == "rows_per_batch":
        return "rows"
    if leaf == "store_files":
        return "files"
    return "count"


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tally = stats.Tally()
        self.tracer = None
        self.spark = None
        self.session_start_s = 0.0

    def start_spark(self):
        from vector_database_app_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t
        if self.trace:
            self.tracer = install_tracer(self.spark)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, the JVM it launched and the JVM's Python
        workers, and wait until all of them have ended."""
        if self.tracer:
            self.tracer.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc  # None when attached to a JVM started elsewhere
        workers = descendants(proc.pid) if proc else []
        self.spark.stop()
        gateway.shutdown()
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        wait_gone(workers + descendants(proc.pid), timeout=30)


def descendants(pid: int) -> list[int]:
    """Process ids of every descendant of ``pid`` (from ``/proc``)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` runs; at the timeout, kill those left and
    wait 5 s more. They are not this process's children, so they cannot be
    waited for directly. A zombie counts as ended."""
    deadline = time.monotonic() + timeout
    killed = False
    while alive := [p for p in pids if _running(p)]:
        if time.monotonic() > deadline:
            if killed:
                return
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def install_tracer(spark):
    """Wrap the engine's public functions in spans (from the outside: the
    engine itself is untouched) and count py4j commands."""
    from pyspark.sql.classic.dataframe import DataFrame
    from tracing import Tracer
    from vector_database_app_spark import api
    from vector_database_app_spark.operators import rag
    from vector_database_app_spark.sources import ingest

    tr = Tracer(spark)
    tr.count_py4j()
    for attr in ("run_search", "chunks", "vectorize_folder"):
        tr.wrap(api.VectorDatabase, attr, f"api.{attr}")
    for attr in ("run_search", "assemble_prompts", "answer_prompts", "source_list"):
        tr.wrap(rag, attr, f"rag.{attr}")
    for attr in ("ingest_folder", "write_chunks", "load_chunks"):
        tr.wrap(ingest, attr, f"ingest.{attr}")
    for attr in ("collect", "count", "localCheckpoint"):
        tr.wrap(DataFrame, attr, f"spark.{attr}")
    return tr


def e2e_metrics(report: dict, setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "cycle_p50_s": stats.percentile(report["cycle_s"], 50)}


def configure_env(work: str) -> None:
    """Keep every scratch file of the engine, the JVM and the Python
    workers inside the checkout, and let the workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={tmp}",
            # no /tmp/hsperfdata_<user> file: it would sit outside the checkout
            "-XX:-UsePerfData",
            "-Dspark.ui.showConsoleProgress=false",
        ) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(
        min(MAX_CORES, len(os.sched_getaffinity(0)))
    )
    sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "vector_database_app_spark", "app.py")):
        print("perfbench: the engine package vector_database_app_spark is not "
              f"in {ROOT}; run from the root of a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    steal0, cal0 = stats.steal_seconds(), stats.calibration_s()
    ctx = Ctx(work, args.seed, args.seconds, bool(args.trace))
    try:
        report = workloads.WORKLOADS[args.workload](ctx)
    except Exception:  # noqa: BLE001 — report, then fail the run
        traceback.print_exc()
        return 1
    finally:
        ctx.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    steal1, cal1 = stats.steal_seconds(), stats.calibration_s()

    e2e = e2e_metrics(report, report["timed_start"] - T_START)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "e2e": e2e,
        "cycles": len(report["cycle_s"]),
        "steps": {k: stats.summary(v) for k, v in report["timed"].items()},
        "timed_s": report["timed"],
        "warmup": {"ops": report["warmup_ops"], "seconds": report["warmup_s"],
                   "steady": report["warmup_steady"],
                   "history": report["warmup_history"]},
        "session_start_s": ctx.session_start_s,
        "steal_s": None if steal0 is None else steal1 - steal0,
        "calibration_s": [cal0, cal1],
        "failures": ctx.tally.reasons,
        "row_counts": report.get("row_counts"),
        "ingest_s": report.get("ingest_s"),
    }
    os.makedirs(WORK_ROOT, exist_ok=True)
    untraced = os.path.join(WORK_ROOT, f"result-{args.workload}-trace0.json")
    if args.trace:
        layers = dict.fromkeys(per_layer_names(), 0)
        layers.update(report.get("layers", {}))
        layers.update({
            "session.start_s": ctx.session_start_s,
            "session.warmup_s": report["warmup_s"],
            "session.warmup_ops": report["warmup_ops"],
        })
        metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in per_layer_names()}
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            detail["trace_overhead"] = {
                k: e2e[k] / base[k] - 1.0 for k in E2E if base.get(k)
            }
        ctx.tracer.dump(
            os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"),
            {"detail": detail, "layers": layers},
        )
    else:
        metrics = {k: {"value": e2e[k], "unit": "s"} for k in E2E}
        with open(untraced, "w") as f:
            json.dump(detail, f)

    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ctx.tally.failed == 0,
        "attempted": ctx.tally.attempted,
        "failed": ctx.tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
