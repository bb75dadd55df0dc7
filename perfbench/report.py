"""Metrics from a finished run, and the printed report."""

from __future__ import annotations

import json
import os
import statistics

from .harness import self_times


def summarize(wl, session_s: float, tracing) -> dict:
    """``{"e2e": {...}, "layers": {...}, "extra": {...}}`` — values with units."""
    timed = [o for o in wl.ops if o.phase == "timed"]
    walls = [o.wall for o in timed]
    cycles = _cycle_walls(walls, wl.cycle)
    builds = statistics.median(wl.build_walls) if wl.build_walls else 0.0
    e2e = {
        "setup_s": (session_s + wl.warmup_s + builds, "s"),
        "op_s.geomean": (kind_geomean(timed), "s"),
        "cycle_s": (statistics.median(cycles), "s"),
        "cpu_s_per_op": (sum(o.cpu for o in timed) / len(timed), "s"),
    }
    attempted, failed = wl.counts()
    extra = {
        "failed_frac": (failed / attempted, "ratio"),
        "rows_per_s": (wl.rows_done() / sum(walls), "rows/s"),
        "op_s.p50": (statistics.median(walls), "s"),
        "ops": (len(walls), "count"),
        "cycles": (len(cycles), "count"),
        "session_s": (session_s, "s"),
        "warmup_s": (wl.warmup_s, "s"),
        "build_s": (builds, "s"),
    }
    for k, v in wl.layer_counts().items():
        extra[k] = (v, "")
    layers = {}
    if tracing is not None:
        values = {**tracing.layer_metrics(), **wl.layer_counts()}
        values["trace.overhead_s"] = trace_overhead(wl.ops)
        # A layer the workload never reaches did no work: it reports zero.
        layers = {name: (values.get(name, 0.0), "") for name in _spec_names("per_layer")}
    return {"e2e": e2e, "layers": layers, "extra": extra}


def kind_geomean(ops) -> float:
    """Geometric mean, over operation kinds, of each kind's median wall.

    The kinds of a workload differ several-fold in cost, so the median of
    all operations is the wall of whichever kind happens to sit in the
    middle; this weighs every kind alike, as the TPC-H power metric weighs
    its queries."""
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o.kind, []).append(o.wall)
    return statistics.geometric_mean([statistics.median(v) for v in by.values()])


def _cycle_walls(walls: list[float], cycle: int) -> list[float]:
    """Summed wall of each whole cycle of operations (of all of them when
    the run stopped before finishing one)."""
    whole = [sum(walls[i:i + cycle]) for i in range(0, len(walls) - cycle + 1, cycle)]
    return whole or [sum(walls)]


def trace_overhead(ops) -> float:
    """Tracing overhead per operation: the median, over operation kinds run
    in both phases, of the kind's median traced wall minus its median
    untraced wall, so that only like operations are compared."""
    by: dict[tuple[str, str], list[float]] = {}
    for o in ops:
        by.setdefault((o.kind, o.phase), []).append(o.wall)
    kinds = {k for k, phase in by if phase == "traced" and (k, "timed") in by}
    return statistics.median(
        statistics.median(by[k, "traced"]) - statistics.median(by[k, "timed"]) for k in kinds
    )


def emit(meta: dict, wl, result: dict, tracing, state_dir: str, args) -> None:
    """Print metadata, metrics and check verdicts, then the JSON line."""
    units = _units()
    print("run " + json.dumps(meta))
    print(f"workload {wl.name}: one operation = {wl.op_label}")
    print("set-up builds " + " ".join(f"{w:.3f}" for w in wl.build_walls) + " s")
    for group in ("layers", "extra") if args.trace else ("e2e", "extra"):
        for name, (value, unit) in result[group].items():
            print(f"metric {group} {name} = {value:.6g} {unit or units.get(name, '')}")
    print("op walls " + " ".join(f"{o.kind}={o.wall:.3f}" for o in wl.ops))
    kinds: dict[tuple[str, str], list] = {}
    for o in wl.ops:
        kinds.setdefault((o.phase, o.kind), []).append(o)
    for (phase, kind), ops in sorted(kinds.items()):
        print(f"kind {phase} {kind}: n={len(ops)} wall p50={statistics.median(o.wall for o in ops):.4f} s"
              f" cpu p50={statistics.median(o.cpu for o in ops):.3f} s")
    failed_checks = [c for c in wl.checks if not c.ok]
    print(f"checks: {len(wl.checks) - len(failed_checks)}/{len(wl.checks)} pass")
    for c in wl.checks:
        if not c.ok:
            print(f"check FAIL {c.name}: {c.detail}")
    for c in _check_summary(wl.checks):
        print(f"check ok   {c}")
    if tracing is not None:
        path = _write_spans(tracing, state_dir, args)
        print(f"spans written to {path}")
        for name, (total, self_s, n) in _self_time_table(tracing.tracer.spans).items():
            print(f"span {name}: n={n} total={total:.4f} s self={self_s:.4f} s")
    attempted, failed = wl.counts()
    metrics = result["layers"] if args.trace else result["e2e"]
    line = {
        "correct": not failed_checks and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units.get(k, u or "count")} for k, (v, u) in metrics.items()
        },
    }
    print(json.dumps(line))


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return json.load(f)


def _spec_names(group: str) -> list[str]:
    return [m["name"] for m in _spec()[group]]


def _units() -> dict[str, str]:
    spec = _spec()
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _check_summary(checks) -> list[str]:
    """Passing checks grouped by what they assert."""
    groups: dict[str, int] = {}
    for c in checks:
        if c.ok:
            key = c.name.split(": ", 1)[-1]
            groups[key] = groups.get(key, 0) + 1
    return [f"{k} (x{n})" for k, n in sorted(groups.items())]


def _self_time_table(spans) -> dict[str, tuple[float, float, int]]:
    selfs = self_times(spans)
    table: dict[str, list] = {}
    for s in spans:
        row = table.setdefault(s["name"].split(":")[0], [0.0, 0.0, 0])
        row[0] += s["end"] - s["start"]
        row[1] += selfs[s["id"]]
        row[2] += 1
    return {k: tuple(v) for k, v in sorted(table.items())}


def _write_spans(tracing, state_dir: str, args) -> str:
    out = os.path.join(state_dir, "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace_{args.workload}_{args.seed}.json")
    selfs = self_times(tracing.tracer.spans)
    spans = [dict(s, self=selfs[s["id"]]) for s in tracing.tracer.spans]
    with open(path, "w") as f:
        json.dump({"run": tracing.tracer.run_id, "spans": spans}, f)
    return path
