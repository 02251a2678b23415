"""The benchmark workloads. Each is a single closed-loop client that calls
the engine only through its public surface:

- ``search``: the reference user's read path, ``/search`` on the Flask app
  (``app.create_app(spark).test_client()``), over a fixed corpus ingested
  through ``/embed`` during set-up. One cycle is ``full → scoped → image``.
- ``batch_tail``: slow-tail registry queries, each built from
  ``registry.QUERIES`` and written through the ``noop`` sink. One cycle is
  one sweep over ``TAIL_QUERIES``.

A workload function returns, per op type (the cycle's steps, in order), the
latencies of its timed ops, and, in a traced run, per-layer figures.
"""

from __future__ import annotations

import itertools
import math
import os
import statistics
import time

import gen
import stats

#: the slow-tail registry queries of one sweep, in sweep order
TAIL_QUERIES = (
    "graph_pagerank",
    "dedup_similarity_join",
    "knn_classify",
)
#: output row counts of TAIL_QUERIES at sf0.01, recorded on the commit
#: that introduced this benchmark
TAIL_EXPECTED_ROWS = {
    "graph_pagerank": 1600,
    "dedup_similarity_join": 25,
    "knn_classify": 92,
}

#: per workload: the steps of a cycle, the nominal seconds one warm cycle
#: takes on a 4-vCPU host (sizes the timed phase from --seconds), and the
#: most warm-up cycles the benchmark's time budget allows
SPEC = {
    "search": {"steps": gen.SEARCH_TYPES, "cycle_s": 6.5, "max_warm": 2},
    "batch_tail": {"steps": TAIL_QUERIES, "cycle_s": 5.5, "max_warm": 3},
}
#: warm-up stop rule: compare blocks of this many cycles ...
WARM_BLOCK = 1
#: ... and stop once no step's block median fell by more than this share
WARM_TOL = 0.10

SOURCE_KEYS = ("doc_name", "page_num", "content_type", "content_id", "content_raw")


def timed_cycles(workload: str, seconds: int) -> int:
    """Cycles in the timed phase: a fixed number for a given --seconds, so
    that every seed runs the same ops per type."""
    return max(2, math.ceil(seconds / SPEC[workload]["cycle_s"]))


# ---------------------------------------------------------------------------
# correctness checks (pure functions of the request and the response)
# ---------------------------------------------------------------------------


def check_search(op: dict, status: int, body) -> list[str]:
    """Problems with one ``/search`` response: it must be a 200 carrying
    ``{response, sources}`` with the five source keys; a scoped op must
    return at least one source and only sources inside its scope; an image
    op must return at least one image source."""
    if status != 200:
        return [f"{op['type']}: HTTP {status}: {str(body)[:200]}"]
    if not isinstance(body, dict) or set(body) != {"response", "sources"}:
        return [f"{op['type']}: bad body keys {sorted(body or {})}"]
    sources = body["sources"]
    problems = [
        f"{op['type']}: source without keys {sorted(set(SOURCE_KEYS) - set(s))}"
        for s in sources
        if not set(SOURCE_KEYS) <= set(s)
    ]
    if problems:
        return problems[:1]
    scope = op.get("scope")
    if scope is not None:
        if not sources:
            problems.append(f"scoped: no sources for scope {scope}")
        for s in sources:
            inside = (
                s["doc_name"].lower().startswith("file:" + scope.lower())
                if scope.endswith("/")
                else s["doc_name"] == scope
            )
            if not inside:
                problems.append(f"scoped: {s['doc_name']} outside {scope}")
                break
    if op["type"] == "image" and not any(
        s["content_type"] == "image" for s in sources
    ):
        problems.append("image: no image source")
    return problems


def check_embed(status: int, body, expect_new: bool) -> list[str]:
    """Problems with one ``/embed`` response: a new batch must append rows,
    a re-ingest of stored files must append exactly none."""
    if status != 200:
        return [f"embed: HTTP {status}: {str(body)[:200]}"]
    n = body.get("new_chunks")
    if expect_new and not (isinstance(n, int) and n > 0):
        return [f"embed: new batch appended {n} rows"]
    if not expect_new and n != 0:
        return [f"embed: re-ingest appended {n} rows"]
    return []


# ---------------------------------------------------------------------------
# shared warm-up / timed-phase loop
# ---------------------------------------------------------------------------


def warm_then_time(workload, run_op, warm_ops, timed_ops, report):
    """Run cycles of ``warm_ops`` until every step's block median stops
    falling, or the spec's ``max_warm`` cycles ran, then the ``timed_ops``.
    Two blocks are needed before the rule can hold.
    ``run_op(op, timed)`` returns the op's latency. Fills ``report`` with
    the warm-up figures and returns the timed latencies per step."""
    spec = SPEC[workload]
    steps = spec["steps"]
    history: dict[str, list[float]] = {s: [] for s in steps}
    t0 = time.perf_counter()
    cycles = 0
    while cycles < spec["max_warm"]:
        for op in warm_ops[cycles * len(steps) : (cycles + 1) * len(steps)]:
            history[op["type"]].append(run_op(op, False))
        cycles += 1
        if stats.steady(history, WARM_BLOCK, WARM_TOL):
            break
    report["warmup_s"] = time.perf_counter() - t0
    report["warmup_ops"] = cycles * len(steps)
    report["warmup_steady"] = stats.steady(history, WARM_BLOCK, WARM_TOL)
    report["warmup_history"] = history
    report["timed_start"] = time.perf_counter()
    timed: dict[str, list[float]] = {s: [] for s in steps}
    cycle_s: list[float] = []
    for c in range(len(timed_ops) // len(steps)):
        total = 0.0
        for op in timed_ops[c * len(steps) : (c + 1) * len(steps)]:
            dt = run_op(op, True)
            timed[op["type"]].append(dt)
            total += dt
        cycle_s.append(total)
    return timed, cycle_s


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------


def run_search(ctx) -> dict:
    from vector_database_app_spark.app import create_app
    from vector_database_app_spark.session import DEFAULT_SF_DIR

    docs = gen.load_documents(DEFAULT_SF_DIR)
    corpus = os.path.join(ctx.work, "corpus")
    gen.write_search_corpus(corpus, docs)
    cycles = timed_cycles("search", ctx.seconds)
    n_steps = len(gen.SEARCH_TYPES)
    warm_ops = gen.search_schedule(
        ctx.seed, SPEC["search"]["max_warm"] * n_steps, docs, corpus, "warm"
    )
    timed_ops = gen.search_schedule(ctx.seed, cycles * n_steps, docs, corpus)

    spark = ctx.start_spark()
    tr = ctx.tracer
    client = create_app(spark).test_client()
    r = client.post("/initialize", json={"save_dir": os.path.join(ctx.work, "store")})
    ctx.tally.record([] if r.status_code == 200 else [f"initialize: {r.get_json()}"])
    store = os.path.join(ctx.work, "store", "chunks")

    ingest_ops, ingest_s = [], []
    stored_rows = 0
    for i, expect_new in enumerate((True, False)):
        op_id = f"ingest-{i}"
        if tr:
            tr.start_op(op_id)
            idx = tr.begin("app./embed")
        t = time.perf_counter()
        r = client.post("/embed", json={"path": corpus, "is_folder": True})
        ingest_s.append(time.perf_counter() - t)
        body = r.get_json() or {}
        ctx.tally.record(check_embed(r.status_code, body, expect_new))
        stored_rows += body.get("new_chunks") or 0
        if tr:
            tr.end(idx)
            ingest_ops.append(_ingest_layers(tr, op_id, body, store, stored_rows))

    def run_op(op, timed):
        body = {"query": op["query"]}
        if "scope" in op:
            body["search_location"] = op["scope"]
        op_id = f"{'t' if timed else 'w'}{next(op_no)}-{op['type']}"
        if tr:
            tr.start_op(op_id)
            before = tr.py4j
            idx = tr.begin("app./search")
        t = time.perf_counter()
        r = client.post("/search", json=body)
        dt = time.perf_counter() - t
        if tr:
            tr.end(idx)
            py4j = tr.py4j - before
            jobs = tr.finish_op()
            if timed:
                per_op.append((op["type"], _search_layers(tr, op_id, py4j, jobs)))
        ctx.tally.record(check_search(op, r.status_code, r.get_json()))
        return dt

    op_no = itertools.count()
    per_op: list[tuple[str, dict]] = []
    report: dict = {}
    timed, cycle_s = warm_then_time("search", run_op, warm_ops, timed_ops, report)
    report.update(timed=timed, cycle_s=cycle_s, ingest_s=ingest_s)
    if tr:
        report["layers"] = _search_layer_metrics(per_op, ingest_ops)
    return report


def _store_size(store: str) -> tuple[int, int]:
    """Parquet data files in the chunk store, and their total bytes."""
    files = size = 0
    for d, _, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


#: spans whose self time is the read path's construct cost
CONSTRUCT_SPANS = {
    "api.chunks",
    "rag.run_search",
    "rag.assemble_prompts",
    "rag.answer_prompts",
    "rag.source_list",
}


def _search_layers(tr, op_id: str, py4j: int, jobs: dict) -> dict:
    """Per-layer figures of one traced ``/search`` op."""
    dur = tr.durations(op_id)
    return {
        "search_s": dur["app./search"],
        "route_self_s": dur["app./search"] - dur.get("api.run_search", 0.0),
        "construct_s": tr.self_times(op_id, CONSTRUCT_SPANS),
        "py4j_cmds": py4j,
        "execute_s": dur.get("spark.collect", 0.0),
        "jobs": jobs["jobs"],
        "tasks": jobs["tasks"],
        "failed_tasks": jobs["failed_tasks"],
    }


def _ingest_layers(tr, op_id, body, store, stored_rows) -> dict:
    """Per-layer figures of one traced ``/embed`` op."""
    jobs = tr.finish_op()
    dur = tr.durations(op_id)
    files, size = _store_size(store)
    readback = sum(
        s["end"] - s["start"]
        for s in tr.op_spans(op_id)
        if s["name"] == "spark.count"
        and tr.spans[s["parent"]]["name"] == "api.vectorize_folder"
    )
    return {
        "construct_s": tr.self_times(op_id, {"ingest.ingest_folder"}),
        "write_s": dur.get("ingest.write_chunks", 0.0),
        "readback_s": readback,
        "jobs": jobs,
        "rows": body.get("new_chunks") or 0,
        "store_files": files,
        "store_bytes_per_row": size / max(stored_rows, 1),
    }


def _search_layer_metrics(per_op, ingest_ops) -> dict:
    out = {}
    for t in gen.SEARCH_TYPES:
        rows = [m for kind, m in per_op if kind == t]
        for k in ("search_s", "route_self_s"):
            out[f"app.{k}.{t}"] = _median([m[k] for m in rows])
        for k in ("construct_s", "py4j_cmds", "execute_s", "jobs", "tasks"):
            out[f"rag.{k}.{t}"] = _median([m[k] for m in rows])
    out["rag.failed_tasks"] = sum(m["failed_tasks"] for _, m in per_op)
    new, noop = ingest_ops
    out.update({
        "ingest.construct_s": new["construct_s"],
        "ingest.write_s": new["write_s"],
        "ingest.readback_s": new["readback_s"],
        "ingest.jobs": new["jobs"]["jobs"],
        "ingest.tasks": new["jobs"]["tasks"],
        "ingest.noop_jobs": noop["jobs"]["jobs"],
        "ingest.executor_run_s": new["jobs"]["executor_run_s"],
        "ingest.executor_cpu_s": new["jobs"]["executor_cpu_s"],
        "ingest.rows_per_batch": new["rows"],
        "ingest.store_files": new["store_files"],
        "ingest.store_bytes_per_row": new["store_bytes_per_row"],
    })
    return out


# ---------------------------------------------------------------------------
# batch_tail
# ---------------------------------------------------------------------------


def run_batch_tail(ctx) -> dict:
    from vector_database_app_spark import registry
    from vector_database_app_spark.session import DEFAULT_SF_DIR

    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    spark = ctx.start_spark()
    tr = ctx.tracer
    cores = spark.sparkContext.defaultParallelism
    spec = SPEC["batch_tail"]
    sweep = [{"type": q} for q in TAIL_QUERIES]
    cycles = timed_cycles("batch_tail", ctx.seconds)
    per_op: list[tuple[str, dict]] = []
    counts: dict[str, int] = {}

    def run_op(op, timed):
        q = op["type"]
        # the first (cold, warm-up) run of a query collects its rows to
        # check them; every other run writes them to the noop sink
        check = q not in counts
        op_id = f"{'t' if timed else 'w'}{next(op_no)}-{q}"
        m: dict = {}
        if tr:
            tr.start_op(op_id)
            idx = tr.begin("bench.op")
        t = time.perf_counter()
        if tr:
            before = tr.py4j
            s = tr.begin(f"registry.{q}")
        try:
            df = registry.QUERIES[q](spark, sf_dir)
        except Exception as e:  # noqa: BLE001 — a failed op, counted
            if tr:
                tr.end(s)
                tr.end(idx)
                tr.finish_op()
            ctx.tally.record([f"{q}: {type(e).__name__}: {e}"[:300]])
            return time.perf_counter() - t
        if tr:
            m["construct_s"] = _dur(tr.end(s))
            m["py4j_cmds"] = tr.py4j - before
            s = tr.begin("spark.executedPlan")
            df._jdf.queryExecution().executedPlan()
            m["plan_s"] = _dur(tr.end(s))
            s = tr.begin("spark.noop_write")
        try:
            if check:
                counts[q] = len(df.collect())
            else:
                df.write.format("noop").mode("overwrite").save()
            problems = []
        except Exception as e:  # noqa: BLE001 — a failed op, counted
            problems = [f"{q}: {type(e).__name__}: {e}"[:300]]
        dt = time.perf_counter() - t
        if tr:
            m["execute_s"] = _dur(tr.end(s))
            tr.end(idx)
            jobs = tr.finish_op()
            m.update(jobs)
            m["core_busy"] = jobs["executor_run_s"] / max(m["execute_s"] * cores, 1e-9)
            if timed:
                per_op.append((q, m))
        ctx.tally.record(problems)
        return dt

    op_no = itertools.count()
    report: dict = {}
    timed, cycle_s = warm_then_time(
        "batch_tail", run_op, sweep * spec["max_warm"], sweep * cycles, report
    )
    report.update(timed=timed, cycle_s=cycle_s)
    # a query whose output row count drifts from the recorded one fails
    # every one of its timed ops
    report["row_counts"] = counts
    for q in TAIL_QUERIES:
        n = counts.get(q)
        if n != TAIL_EXPECTED_ROWS[q]:
            ctx.tally.fail(len(timed[q]), f"{q}: {n} rows, expected {TAIL_EXPECTED_ROWS[q]}")
    if tr:
        out = {}
        for q in TAIL_QUERIES:
            rows = [m for kind, m in per_op if kind == q]
            for k in TAIL_LAYER_KEYS:
                out[f"tail.{q}.{k}"] = _median([m[k] for m in rows])
        report["layers"] = out
    return report


TAIL_LAYER_KEYS = (
    "construct_s", "py4j_cmds", "plan_s", "execute_s", "jobs",
    "max_tasks_per_stage", "executor_run_s", "executor_cpu_s",
    "shuffle_bytes", "spill_bytes", "core_busy",
)


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


WORKLOADS = {"search": run_search, "batch_tail": run_batch_tail}
