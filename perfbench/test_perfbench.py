"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import zipfile

import pytest

import gen
import run
import stats
import tracing
import workloads

DOCS = [
    (i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(40)), f"src{i % 4}")
    for i in range(40)
]


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


# -- generator ----------------------------------------------------------------


def test_corpus_is_byte_identical_and_seed_free(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_search_corpus(str(a), DOCS)
    gen.write_search_corpus(str(b), DOCS)
    da, db = _tree_digest(str(a)), _tree_digest(str(b))
    assert da == db
    assert sum(n.endswith(".pptx") for n in da) == gen.DECKS
    assert sum(n.endswith(".txt") for n in da) == 4 * gen.SEARCH_DOCS_PER_SOURCE


def test_schedule_same_seed_same_ops_and_counts_fixed_across_seeds():
    s1 = gen.search_schedule(3, 30, DOCS, "/c")
    assert s1 == gen.search_schedule(3, 30, DOCS, "/c")
    s2 = gen.search_schedule(4, 30, DOCS, "/c")
    assert s1 != s2
    for ops in (s1, s2):
        kinds = [op["type"] for op in ops]
        assert {k: kinds.count(k) for k in gen.SEARCH_TYPES} == {
            "full": 10, "scoped": 10, "image": 10}
    assert gen.search_schedule(3, 30, DOCS, "/c", "warm") != s1


def test_scoped_ops_alternate_file_and_folder_scopes():
    ops = [o for o in gen.search_schedule(1, 12, DOCS, "/c") if o["type"] == "scoped"]
    assert [o["scope"].endswith("/") for o in ops] == [False, True, False, True]
    assert ops[0]["scope"].startswith("file:/c/src")
    assert ops[1]["scope"].startswith("/c/src")


def test_pptx_and_png_are_well_formed():
    import random

    png = gen.png_bytes(random.Random(0))
    assert png.startswith(b"\x89PNG\r\n\x1a\n") and png.endswith(b"IEND\xaeB`\x82")
    deck = gen.pptx_bytes([("hello", png), ("world", png)])
    names = zipfile.ZipFile(io.BytesIO(deck)).namelist()
    assert "ppt/slides/slide2.xml" in names and "ppt/media/image1.png" in names
    assert deck == gen.pptx_bytes([("hello", png), ("world", png)])


# -- statistics ---------------------------------------------------------------


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 5.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    assert stats.percentile(list(range(11)), 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(92, 90) == 10
    assert stats.samples_beyond(91, 90) == 9
    assert "p90" not in stats.summary([1.0] * 91)
    s = stats.summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5 and "p90" in s


def test_warmup_stops_when_every_type_stops_falling():
    assert stats.falling([3.0], 1, 0.05)  # one block: cannot tell yet
    assert stats.falling([3.0, 2.0], 1, 0.05)
    assert not stats.falling([2.0, 1.95], 1, 0.05)
    assert stats.falling([5.0, 4.0, 2.0, 2.1], 2, 0.05)
    assert not stats.falling([2.0, 2.1, 2.0, 2.05], 2, 0.05)
    assert not stats.steady({"a": [2.0, 1.99], "b": [3.0, 2.0]}, 1, 0.05)
    assert stats.steady({"a": [2.0, 1.99], "b": [3.0, 3.1]}, 1, 0.05)
    assert not stats.steady({}, 1, 0.05)


def test_tally_counts_failed_ops_against_attempted():
    t = stats.Tally()
    assert t.record([]) and not t.record(["bad"])
    assert (t.attempted, t.failed) == (2, 1)
    t.fail(5, "late check")
    assert (t.attempted, t.failed) == (2, 2)  # never more than attempted
    assert t.reasons == ["bad", "late check"]


def test_steal_reads_the_steal_column(tmp_path):
    p = tmp_path / "stat"
    hz = os.sysconf("SC_CLK_TCK")
    p.write_text(f"cpu  1 2 3 4 5 6 7 {3 * hz} 0 0\ncpu0 1 1 1 1 1 1 1 1\n")
    assert stats.steal_seconds(str(p)) == 3.0
    assert stats.steal_seconds(str(tmp_path / "missing")) is None
    assert stats.calibration_s(100) > 0


# -- tracing ------------------------------------------------------------------


def _span(start, end):
    return {"start": start, "end": end}


def test_self_time_subtracts_merged_clipped_children():
    parent = _span(0.0, 10.0)
    assert tracing.self_time(parent, []) == 10.0
    assert tracing.self_time(parent, [_span(1, 3), _span(5, 6)]) == 7.0
    # overlapping children are covered once
    assert tracing.self_time(parent, [_span(1, 4), _span(2, 5)]) == 6.0
    # children reaching outside the span are clipped to it
    assert tracing.self_time(parent, [_span(-2, 1), _span(9, 12)]) == 8.0


class _FakeSpark:
    class sparkContext:  # noqa: N801 — mirrors SparkSession's attribute
        pass


def test_wrap_records_nested_spans_and_restores():
    class Target:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 41

    tr = tracing.Tracer(_FakeSpark)
    tr.wrap(Target, "outer", "t.outer")
    tr.wrap(Target, "inner", "t.inner")
    tr.op = "op1"
    assert Target().outer() == 42
    outer, inner = tr.spans
    assert (outer["name"], inner["name"]) == ("t.outer", "t.inner")
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert tr.children(outer) == [inner]
    assert set(tr.durations("op1")) == {"t.outer", "t.inner"}
    tr.close()
    assert Target.outer.__name__ == "outer" and not hasattr(Target.outer, "__wrapped__")


# -- correctness checks -------------------------------------------------------


def _src(doc, kind="text_chunk"):
    return {"doc_name": doc, "page_num": 0, "content_type": kind,
            "content_id": "0", "content_raw": "x"}


def test_check_search_accepts_good_and_rejects_bad_responses():
    full = {"type": "full", "query": {"text": "a"}}
    ok = {"response": "r", "sources": [_src("file:/c/src1/doc_1.txt")]}
    assert workloads.check_search(full, 200, ok) == []
    assert workloads.check_search(full, 500, {"error": "x"})
    assert workloads.check_search(full, 200, {"response": "r"})
    missing = {"response": "r", "sources": [{"doc_name": "d"}]}
    assert workloads.check_search(full, 200, missing)


def test_check_search_scopes():
    folder = {"type": "scoped", "query": {"text": "a"}, "scope": "/c/src1/"}
    inside = {"response": "r", "sources": [_src("file:/c/src1/doc_1.txt")]}
    outside = {"response": "r", "sources": [_src("file:/c/src10/doc_1.txt")]}
    assert workloads.check_search(folder, 200, inside) == []
    assert workloads.check_search(folder, 200, outside)
    # a scope that silently matches nothing is a failure
    assert workloads.check_search(folder, 200, {"response": "r", "sources": []})
    one = {"type": "scoped", "query": {"text": "a"},
           "scope": "file:/c/src1/doc_1.txt"}
    assert workloads.check_search(one, 200, inside) == []
    other = {"response": "r", "sources": [_src("file:/c/src1/doc_2.txt")]}
    assert workloads.check_search(one, 200, other)


def test_check_search_image_needs_an_image_source():
    img = {"type": "image", "query": {"text": "a", "image": ["AA=="]}}
    text_only = {"response": "r", "sources": [_src("file:/d/deck.pptx")]}
    with_img = {"response": "r", "sources": [_src("file:/d/deck.pptx", "image")]}
    assert workloads.check_search(img, 200, text_only)
    assert workloads.check_search(img, 200, with_img) == []


def test_check_embed_new_and_noop():
    assert workloads.check_embed(200, {"new_chunks": 5}, True) == []
    assert workloads.check_embed(200, {"new_chunks": 0}, True)
    assert workloads.check_embed(200, {"new_chunks": 0}, False) == []
    assert workloads.check_embed(200, {"new_chunks": 2}, False)
    assert workloads.check_embed(400, {"error": "x"}, True)


# -- process clean-up -----------------------------------------------------------


def test_wait_gone_finds_and_ends_descendants():
    import subprocess

    proc = subprocess.Popen(["sleep", "30"])
    try:
        assert proc.pid in run.descendants(os.getpid())
        run.wait_gone([proc.pid], timeout=0.2)  # kills it at the timeout
        assert proc.wait(timeout=5) == -9
    finally:
        proc.kill()
        proc.wait()
    run.wait_gone([proc.pid], timeout=0.2)  # already gone: returns at once


# -- the benchmark definition ---------------------------------------------------


def _benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_runner_reports():
    b = _benchmark_json()
    assert {w["name"] for w in b["workloads"]} == set(workloads.WORKLOADS)
    assert [m["name"] for m in b["end_to_end"]] == list(run.E2E)
    assert [m["name"] for m in b["per_layer"]] == run.per_layer_names()
    assert {m["unit"] for m in b["per_layer"] if m["name"].endswith("_s")} == {"s"}
    for m in b["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])


def test_timed_cycles_do_not_depend_on_the_seed():
    for w in workloads.WORKLOADS:
        assert workloads.timed_cycles(w, 1) >= 2
        assert workloads.timed_cycles(w, 600) > workloads.timed_cycles(w, 10)


def test_e2e_metrics_from_report():
    report = {"timed": {"a": [1.0, 2.0, 3.0]}, "cycle_s": [8.0, 10.0, 9.0]}
    assert run.e2e_metrics(report, 12.5) == {"setup_s": 12.5, "cycle_p50_s": 9.0}
    assert run.e2e_metrics({"cycle_s": [8.0, 9.0]}, 1.0)["cycle_p50_s"] == 8.5
