"""The benchmark's own checks that need no Spark session.

    python3 -m pytest perfbench/tests
"""

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import datagen
import report
import schedule
import spans
from serve import TOPK, check_search

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _serve_draws(seed):
    inputs = schedule.ServeInputs(seed)
    live = {i: f"a b c d tok{i}" for i in range(100)}
    return inputs.queries(live), inputs.appended(live), inputs.deleted(live)


def test_same_seed_same_operations():
    names = ["q1", "q2", "q3", "q4", "q5"]
    for p in range(4):
        assert schedule.pass_order(7, p, names) == schedule.pass_order(7, p, names)
    assert _serve_draws(7) == _serve_draws(7)
    assert _serve_draws(7) != _serve_draws(8)
    assert [schedule.pass_order(s, 1, names) for s in range(5)] != [names] * 5
    # The cold pass keeps the given order on every seed.
    assert all(schedule.pass_order(s, 0, names) == names for s in range(5))


def test_serve_draws_respect_the_live_set():
    inputs = schedule.ServeInputs(1)
    live = {i: " ".join(f"t{j}" for j in range(i % 5 + 1)) for i in range(200)}
    deleted = inputs.deleted(live)
    assert len(set(deleted)) == schedule.DELETE_IDS and set(deleted) <= set(live)
    appended = inputs.appended(live)
    assert all(i >= schedule.FRESH_ID_BASE for i, _ in appended)
    assert len({i for i, _ in appended}) == schedule.APPEND_ROWS
    for _, terms in inputs.queries(live):
        assert 1 <= len(terms) <= schedule.QUERY_TERMS == 3


def test_generator_is_deterministic(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 5, 0.01)
    b = datagen.generate(str(tmp_path / "b"), 5, 0.01)
    assert a == b
    import pyarrow.parquet as pq

    for name in a:
        assert pq.read_table(tmp_path / "a" / f"{name}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{name}.parquet"))


def test_quantiles_match_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert spans.median(xs) == 3.0
    assert spans.quantile(xs, 0.25) == 2.0
    assert spans.median([1.0, 2.0]) == 1.5
    assert spans.quantile([10.0], 0.9) == 10.0
    with pytest.raises(ValueError):
        spans.median([])


def test_union_length_merges_and_clips():
    assert spans.union_length([], 0, 10) == 0
    assert spans.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.union_length([(1, 9), (2, 3)], 0, 10) == 8
    assert spans.union_length([(3, 4)], 5, 10) == 0


def _span(name, start, end, children=(), jobs=()):
    s = spans.Span(name, start, end)
    s.children.extend(children)
    s.jobs.extend(jobs)
    return s


def test_driver_idle_is_wall_minus_union_of_job_intervals():
    job = lambda i, a, b: spans.Job(i, a, b)  # noqa: E731
    child = _span("child", 2, 6, jobs=[job(1, 3, 5)])
    root = _span("root", 0, 10, [child], [job(0, 1, 4), job(2, 8, 12)])
    assert spans.driver_idle(child) == pytest.approx(2)
    # Jobs cover [1, 5] and [8, 10] of the root's [0, 10].
    assert spans.driver_idle(root) == pytest.approx(4)
    assert root.self_time == pytest.approx(6)


def test_call_coverage_counts_only_call_spans():
    def call(name, a, b, children=()):
        s = _span(name, a, b, children)
        s.call = True
        return s

    nested = call("engine.outer", 1, 4, [call("engine.inner", 2, 3)])
    grouping = _span("plans.build", 0, 6, [nested, call("engine.other", 3, 5)])
    op = _span("query", 0, 10, [grouping, call("exec.collect", 7, 9)])
    # Calls cover [1, 5] and [7, 9]; the grouping span counts for nothing.
    assert spans.call_coverage(op) == pytest.approx(6)
    assert spans.call_coverage(_span("bare", 0, 1, [_span("group", 0, 1)])) == 0


def test_attribution_picks_the_innermost_open_span():
    tracer = spans.Tracer()
    inner = _span("inner", 2, 4)
    outer = _span("outer", 1, 6, [inner])
    tracer.roots.append(outer)
    jobs = [spans.Job(0, 3), spans.Job(1, 5), spans.Job(2, 7)]
    orphans = spans.attribute(tracer, jobs)
    assert [j.job_id for j in inner.jobs] == [0]
    assert [j.job_id for j in outer.jobs] == [1]
    assert [j.job_id for j in orphans] == [2]


def test_wrapped_module_functions_become_spans():
    import types

    mod = types.ModuleType("pkg.mod")
    exec("def visible(x):\n    return x + 1\n\ndef _hidden():\n    return 0\n",
         mod.__dict__)
    user = types.ModuleType("pkg.user")
    user.visible = mod.visible
    sys.modules.update({"pkg.mod": mod, "pkg.user": user})
    try:
        tracer = spans.Tracer()
        assert spans.wrap_modules(tracer, ["pkg.mod"], "pkg") == 1
        assert user.visible(1) == 2 and mod._hidden() == 0
        assert [s.name for s in tracer.roots] == ["mod.visible"]
        tracer.enabled = False
        user.visible(1)
        assert len(tracer.roots) == 1
    finally:
        del sys.modules["pkg.mod"], sys.modules["pkg.user"]


def test_check_search_flags_every_contract_break():
    live, deleted = {1, 2, 3}, {9}
    ok = [{"query_id": 0, "id": 1, "rank": 1}, {"query_id": 0, "id": 2, "rank": 2},
          {"query_id": 1, "id": 3, "rank": 1}]
    assert check_search(ok, 2, live, deleted) == []
    bad = ok + [{"query_id": 1, "id": 9, "rank": 3}, {"query_id": 1, "id": 7, "rank": 4}]
    problems = " ".join(check_search(bad, 3, live, deleted))
    for text in ("deleted id 9", "unknown id 7", "ranks not contiguous",
                 "2 of 3 queries"):
        assert text in problems
    many = [{"query_id": 0, "id": 1, "rank": r} for r in range(1, TOPK + 2)]
    assert "rows >" in " ".join(check_search(many, 1, {1}, set()))


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [w["name"] for w in spec["workloads"]] + list(bounds) + list(report.PER_LAYER)
    assert all(name.match(n) for n in names)
    from run import WORKLOADS

    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS
    assert len(json.dumps(spec)) < 64 * 1024


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""
