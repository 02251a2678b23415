#!/usr/bin/env python
"""Registry fingerprint: prove a refactor left every query and oracle as-is.

Records, for the driver contract in ``__spark_entry__.py``:

- the ordered ``queries()`` keys (the driver's sweep order),
- ``twins()``,
- the sha256 of every ``oracle_sql()`` string,
- the sha256 of every query's ``explain("formatted")`` at sf0.001, after
  expression ids (``#\\d+``), ``plan_id=\\d+`` and the repo root path are
  normalized.

Run:

    python tools/registry_fingerprint.py --out before.json
    python tools/registry_fingerprint.py --out after.json
    python tools/registry_fingerprint.py --compare before.json after.json

The core count is pinned (``CPUS``) because some plans depend on
``defaultParallelism``. A child process first builds every query once, so
trainer-backed queries persist their artifacts (plans/artifacts.py); the
fingerprinting process then plans them from those artifacts, as every
later run does, never from an in-process first-touch training run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 2

_NORMALIZE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
)


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def normalize_plan(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan.replace(ROOT, "<root>")


def _build_all():
    """Build every query once; returns (spark, entry module)."""
    sys.path.insert(0, ROOT)
    import __spark_entry__ as E
    from vector_database_app_spark.session import get_spark

    spark = get_spark(cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    for fn in E.queries().values():
        fn(spark, E.SMOKE_SF_DIR)
    return spark, E


def fingerprint() -> dict:
    warm = multiprocessing.get_context("spawn").Process(target=_build_all)
    warm.start()
    warm.join()
    if warm.exitcode:
        raise SystemExit(f"warm-up build failed (exit {warm.exitcode})")
    spark, E = _build_all()
    utils = spark.sparkContext._jvm.PythonSQLUtils
    queries = E.queries()
    plans = {}
    for name, fn in queries.items():
        qe = fn(spark, E.SMOKE_SF_DIR)._jdf.queryExecution()
        plans[name] = _sha(normalize_plan(utils.explainString(qe, "formatted")))
    return {
        "cpus": CPUS,
        "queries": list(queries),
        "twins": E.twins(),
        "oracle_sha256": {k: _sha(v) for k, v in E.oracle_sql().items()},
        "plan_sha256": plans,
    }


def compare(a: dict, b: dict) -> list[str]:
    diffs = [f"{key} differ" for key in ("cpus", "queries", "twins") if a[key] != b[key]]
    for key in ("oracle_sha256", "plan_sha256"):
        for name in sorted(set(a[key]) | set(b[key])):
            if a[key].get(name) != b[key].get(name):
                diffs.append(f"{key}[{name}] differs")
    return diffs


def _summary(fp: dict) -> str:
    return (
        f"{len(fp['queries'])} queries, {len(fp['twins'])} twins, "
        f"{len(fp['oracle_sha256'])} oracles, {len(fp['plan_sha256'])} plans"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--out", help="write this checkout's fingerprint here")
    mode.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.out:
        fp = fingerprint()
        with open(args.out, "w") as f:
            json.dump(fp, f, indent=1, sort_keys=True)
        print(f"{_summary(fp)} -> {args.out}")
        return 0
    with open(args.compare[0]) as fa, open(args.compare[1]) as fb:
        a, b = json.load(fa), json.load(fb)
    diffs = compare(a, b)
    print("\n".join(diffs + [f"{len(diffs)} difference(s) over {_summary(b)}"]))
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
