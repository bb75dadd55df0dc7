"""Shared pieces of the benchmark: the workload base class, output checks,
per-operation wall and CPU time, spans and their self time."""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""
    op: int | None = None  # index of the operation checked; None in set-up


@dataclass
class Op:
    wall: float
    cpu: float  # CPU seconds of the whole process tree during the operation
    kind: str
    phase: str  # "warm" (trace runs only), "timed" (untraced) or "traced"
    failed: bool = False


class Meter:
    """Wall and process-tree CPU time of the block it brackets; the CPU is
    read from /proc outside the wall-clock interval."""

    wall = cpu = 0.0

    def __enter__(self):
        self.cpu = tree_cpu_s(os.getpid())
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s(os.getpid()) - self.cpu


@dataclass
class Ctx:
    """What a workload is given: the session, its inputs and its tracer."""

    spark: object
    seed: int
    work: str  # scratch directory inside the checkout
    fixtures: str  # read-only fixture tables
    tracer: object = None
    op_hooks: object = None  # trace.OpHooks while the traced phase runs


#: Input builds made during set-up; set-up time reports their median, which
#: leaves out the first, cold build.
SETUP_REPEATS = 3


class Workload:
    """One named workload: ``setup`` (repeated builds), ``run_cycles`` (the
    closed loop, one client), ``final_checks``; ops and checks are recorded
    as they happen."""

    name = ""
    op_label = ""
    #: Operations in one cycle of the workload: every run measures whole
    #: cycles, so that each run times the same mix of operation kinds.
    cycle = 1
    #: Wall of one cycle on a 4-vCPU host at the benchmark's parallelism.
    #: A run of ``seconds`` measures a fixed number of cycles derived from
    #: it (:meth:`cycles_for`), not as many as fit: the operations keep
    #: speeding up over the first cycles as the JVM compiles them, so a
    #: count that followed the host's speed would add to the run-to-run
    #: spread the very slowdowns it measures.
    nominal_cycle_s = 10.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.checks: list[Check] = []
        self.build_walls: list[float] = []
        self.warmup_s = 0.0
        self.phase = "timed"
        self.in_setup = True

    def timed_build(self, i: int) -> None:
        t0 = time.perf_counter()
        self.build(i)
        self.build_walls.append(time.perf_counter() - t0)

    def build(self, i: int) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        for i in range(SETUP_REPEATS):
            self.timed_build(i)

    def run_once(self) -> bool:
        """One step of the closed loop; False when the workload cannot go on."""
        raise NotImplementedError

    def cycles_for(self, seconds: float) -> int:
        """The fewest whole cycles that take at least ``seconds`` on the
        nominal host (at least one)."""
        return max(1, math.ceil(seconds / self.nominal_cycle_s))

    def run_cycles(self, n: int) -> None:
        """``n`` whole cycles of steps, each step started when the previous
        one ended: a closed loop with one client."""
        for _ in range(n * self.cycle):
            if not self.run_once():
                break

    def final_checks(self) -> None:
        pass

    def rows_done(self) -> int:
        return 0

    def layer_counts(self) -> dict[str, float]:
        return {}

    def record_op(self, meter: Meter, kind: str, failed: bool = False) -> None:
        self.ops.append(Op(meter.wall, meter.cpu, kind, self.phase, failed))

    def check(self, c: Check) -> None:
        if not self.in_setup:
            c.op = len(self.ops)  # the operation under way, recorded next
        self.checks.append(c)

    @contextmanager
    def op_scope(self, kind: str):
        """Brackets one timed operation; in the traced phase, the hooks
        snapshot Spark and scratch state around an ``op`` span."""
        hooks = self.ctx.op_hooks
        if hooks is None:
            yield
            return
        hooks.before(kind)
        try:
            with self.ctx.tracer.span("op", kind=kind):
                yield
        finally:
            hooks.after()

    def counts(self) -> tuple[int, int]:
        """(attempted, failed): timed operations plus set-up checks; an
        operation fails when it raised or any of its checks failed."""
        bad_ops = {i for i, o in enumerate(self.ops) if o.failed}
        last = max(0, len(self.ops) - 1)  # final checks verify the last state
        bad_ops |= {min(c.op, last) for c in self.checks if not c.ok and c.op is not None}
        setup = [c for c in self.checks if c.op is None]
        attempted = len(self.ops) + len(setup)
        failed = len(bad_ops) + sum(not c.ok for c in setup)
        return max(1, attempted), failed


# -- spans -----------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  A span has a name, start, end, the span
    that was open on the same thread when it started, and the run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    spans: list[dict] = []

    def span(self, name: str, **attrs):
        return nullcontext()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children may overlap; their union is subtracted)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], start), min(c["end"], end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (end - start) - covered
    return out


# -- process tree ----------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``, its live
    descendants and the children they have reaped, from /proc."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out
