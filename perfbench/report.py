"""Turns a finished run into the printed report and the result line."""

from __future__ import annotations

import spans
from batch import QUERIES as BATCH_QUERIES
from schedule import SERVE_KINDS

#: Named spans of the serve workload whose job counts are reported.
SERVE_SPANS = (
    "operators.retrieval.load", "operators.retrieval.search", "operators.text.embed",
    *(f"operators.{m}.{v}" for v in ("append", "delete", "compact") for m in ("text", "pq")),
)

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}
#: Per-pass sums over the traced warm passes (median across passes).
PASS_LAYERS = {
    "pass.jobs": "count", "pass.stages": "count", "pass.tasks": "count",
    "spark.driver_idle_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.shuffle_bytes": "bytes",
    "spark.input_bytes": "bytes", "plans.build_s": "s", "exec.collect_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "process.peak_rss_mb": "MB",
    **PASS_LAYERS,
    "compile_tax_s": "s", "trace.overhead_s": "s", "trace.coverage": "ratio",
    **{f"{q}.jobs": "count" for q in BATCH_QUERIES},
    **{f"{s}.jobs": "count" for s in SERVE_SPANS},
    **{f"sources.store.{s}.{k}": "bytes" if k == "bytes" else "count"
       for s in ("bm25", "pq") for k in ("files", "bytes")},
    "operators.retrieval.skew_warnings": "count",
    "store_bytes_per_user_byte": "ratio",
}


def _pass_layers(ops) -> dict[str, float]:
    """Sums over the traced operations of one pass."""
    out = dict.fromkeys(PASS_LAYERS, 0.0)
    covered = 0.0
    for op in ops:
        jobs = spans.subtree_jobs(op.span)
        out["pass.jobs"] += len(jobs)
        out["pass.stages"] += sum(j.stages for j in jobs)
        out["pass.tasks"] += sum(j.tasks for j in jobs)
        out["spark.executor_run_s"] += sum(j.run_s for j in jobs)
        out["spark.executor_cpu_s"] += sum(j.cpu_s for j in jobs)
        out["spark.shuffle_bytes"] += sum(j.shuffle_bytes for j in jobs)
        out["spark.input_bytes"] += sum(j.input_bytes for j in jobs)
        out["spark.driver_idle_s"] += spans.driver_idle(op.span)
        out["exec.collect_s"] += sum(
            s.wall for s in spans.descendants(op.span) if s.name == "exec.collect")
        out["plans.build_s"] += op.span.wall
        covered += spans.call_coverage(op.span)
    out["plans.build_s"] -= out["exec.collect_s"]
    out["covered_s"] = covered
    return out


def per_layer(bench, extra: dict) -> tuple[dict, list]:
    """Attribute the event log's jobs to the spans and compute every
    per-layer metric from the traced warm passes."""
    jobs = spans.read_event_log(bench.event_dir)
    orphans = spans.attribute(bench.tracer, jobs)
    warm = [o for o in bench.ops if o.pass_no > 0]
    traced = [o for o in warm if o.span is not None]
    traced_passes = sorted({o.pass_no for o in traced})

    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update(bench.layer)
    values.update(extra)
    rows = [_pass_layers([o for o in traced if o.pass_no == p]) for p in traced_passes]
    for key in PASS_LAYERS:
        values[key] = spans.median(r[key] for r in rows)
    values["trace.coverage"] = sum(r["covered_s"] for r in rows) / sum(
        o.span.wall for o in traced)
    # First-run minus steady wall, over the operation kinds both the cold
    # pass and the traced warm passes ran.
    cold = _walls_by_kind(o for o in bench.ops if o.pass_no == 0)
    steady = _walls_by_kind(traced)
    values["compile_tax_s"] = sum(
        cold[k][0] - spans.median(steady[k]) for k in cold.keys() & steady.keys())
    n_spans = sum(1 for o in traced for _ in spans.descendants(o.span))
    values["trace.overhead_s"] = spans.span_cost() * n_spans / len(traced_passes)

    # Job counts do not depend on warmth: medians over every traced pass,
    # so the cold pass's compaction is counted too.
    occurrences: dict[str, list[int]] = {}
    for op in (o for o in bench.ops if o.span is not None):
        if op.kind in BATCH_QUERIES:
            occurrences.setdefault(f"{op.kind}.jobs", []).append(
                len(spans.subtree_jobs(op.span)))
        for s in spans.descendants(op.span):
            if s.name in SERVE_SPANS:
                occurrences.setdefault(f"{s.name}.jobs", []).append(
                    len(spans.subtree_jobs(s)))
    for key, counts in occurrences.items():
        values[key] = spans.median(counts)

    print(f"jobs in the event log: {len(jobs)}; outside traced spans: {len(orphans)}")
    print("  share of warm wall inside engine calls and Spark actions, per kind:")
    for kind, ops in sorted(_ops_by_kind(traced).items()):
        share = sum(spans.call_coverage(o.span) for o in ops) / sum(
            o.span.wall for o in ops)
        print(f"    {kind:<34} {share:6.3f}")
    print("  set-up spans: wall s, jobs")
    for root in bench.tracer.roots:
        if root.name.startswith("setup."):
            _print_tree(root, 4)
    return values, _span_table(traced, len(traced_passes))


def _print_tree(span, indent: int) -> None:
    name = " " * indent + span.name
    print(f"{name:<60} {span.wall:8.3f} {len(spans.subtree_jobs(span)):6d}")
    for c in span.children:
        _print_tree(c, indent + 2)


def _span_table(traced_ops, n_passes: int) -> list[tuple]:
    """(span name, calls, wall, self, jobs, idle) per traced warm pass."""
    agg: dict[str, list[float]] = {}
    for op in traced_ops:
        for s in spans.descendants(op.span):
            row = agg.setdefault(s.name, [0, 0.0, 0.0, 0, 0.0])
            row[0] += 1
            row[1] += s.wall
            row[2] += s.self_time
            row[3] += len(s.jobs)
            row[4] += spans.driver_idle(s)
    return sorted(((k, *(x / n_passes for x in v)) for k, v in agg.items()),
                  key=lambda r: -r[3])


def build(bench, workload: str, extra: dict, peak_rss: int, seconds: float) -> dict:
    """Print the report and return the result line's object."""
    passes = bench.passes()
    warm = [p for p in passes if p > 0]
    failed = bench.failures()
    attempted = len(bench.ops)
    timed = sum(bench.pass_wall(p) for p in passes)
    print(f"workload {workload} seed {bench.seed} trace {int(bench.trace)}: "
          f"{len(passes)} passes, {attempted} operations, {timed:.1f} s timed "
          f"(sized for {seconds:g} s)")
    e2e = {
        "setup_s": bench.first_op_at - bench.started,
        "cold_pass_s": bench.pass_wall(0),
        "warm_pass_s": spans.median(bench.pass_wall(p) for p in warm),
    }
    bench.layer["process.peak_rss_mb"] = peak_rss / 2**20
    lines = [(k, v, END_TO_END[k], len(warm) if k == "warm_pass_s" else 1)
             for k, v in e2e.items()]
    lines.append(("peak_rss_mb", bench.layer["process.peak_rss_mb"], "MB", 1))
    if workload == "hybrid_serve":
        for kind in SERVE_KINDS:
            xs = [o.wall for o in bench.ops if o.kind == kind]
            lines.append((f"{kind}_p50_s", spans.median(xs), "s", len(xs)))
        lines.append(("store_bytes_per_user_byte",
                      extra["store_bytes_per_user_byte"], "ratio", 1))
    lines.append(("failed_op_ratio", len(failed) / attempted, "ratio", attempted))
    for name, value, unit, n in lines:
        print(f"  {name:<28} {value:12.4f} {unit:<6} n={n}")
    for op in failed:
        print(f"  FAILED pass {op.pass_no} {op.kind}: {'; '.join(op.problems)}")
    print("  per operation: kind, cold s, warm p50 s, warm n")
    cold = _walls_by_kind(o for o in bench.ops if o.pass_no == 0)
    for kind, xs in sorted(_walls_by_kind(o for o in bench.ops if o.pass_no != 0).items()):
        first = f"{cold[kind][0]:8.3f}" if kind in cold else " " * 8
        print(f"    {kind:<34} {first} {spans.median(xs):8.3f} {len(xs):3d}")
    print(f"correct: {not failed}")

    if not bench.trace:
        values, units = e2e, END_TO_END
    else:
        values, table = per_layer(bench, extra)
        units = PER_LAYER
        print("  per span, per traced warm pass: calls, wall s, self s, jobs, idle s")
        for name, calls, wall, self_s, jobs, idle in table:
            print(f"    {name:<52} {calls:5.1f} {wall:8.3f} {self_s:8.3f} "
                  f"{jobs:6.1f} {idle:8.3f}")
        for name, unit in PER_LAYER.items():
            print(f"  {name:<44} {values[name]:14.4f} {unit}")
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def _ops_by_kind(ops) -> dict[str, list]:
    out: dict[str, list] = {}
    for op in ops:
        out.setdefault(op.kind, []).append(op)
    return out


def _walls_by_kind(ops) -> dict[str, list[float]]:
    return {k: [o.wall for o in v] for k, v in _ops_by_kind(ops).items()}
