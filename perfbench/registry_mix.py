"""``registry_mix``: registry queries on the committed fixture tables.

One operation is one member query: a registry build, Catalyst planning
forced through ``executedPlan()``, and a collect.  A cycle is one pass over
the members: short side-effect-free queries (one per registering module),
then a drain of the ``streaming`` module, which no other workload reaches,
each block in seeded order.  The merge layer and the nightly pipeline are
bypassed.

Every result is checked against the DuckDB oracle's fingerprint stored in
``fingerprints.json``, after the operation's wall time is taken.
"""

from __future__ import annotations

import json
import os
import random
import time
import traceback

from trafsys_data_transfer_spark.registry import all_queries
from trafsys_data_transfer_spark.schemas import FIXTURE_TABLES

from . import members
from .fingerprint import compare
from .harness import Check, Meter, Workload

HERE = os.path.dirname(os.path.abspath(__file__))


def load_fingerprints() -> dict:
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        return json.load(f)["queries"]


class RegistryMix(Workload):
    name = "registry_mix"
    op_label = "member query (build + plan + collect); a cycle is a pass over the members"
    queries = members.QUERY_MIX + members.STREAM_DRAIN
    cycle = len(queries)
    nominal_cycle_s = 8.0

    def __init__(self, ctx):
        super().__init__(ctx)
        self.specs = all_queries()
        self.expected = load_fingerprints()
        self.order_rng = random.Random(ctx.seed)
        self.rows_out = 0
        self.pending: list[str] = []  # the rest of the current pass

    # -- set-up ------------------------------------------------------------

    def build(self, i: int) -> None:
        """Open every fixture table: list it and read its parquet footer."""
        for table in FIXTURE_TABLES:
            self.ctx.spark.read.parquet(os.path.join(self.ctx.fixtures, f"{table}.parquet")).schema

    def setup(self) -> None:
        """Fixture builds, then every member once, untimed and checked, so
        that first-use costs (class loading, code generation, Python worker
        and streaming start) land in set-up, not on whichever member the
        seeded order puts first."""
        super().setup()
        t0 = time.perf_counter()
        for name in self.queries:
            self._verify(name, *self._query(name, Meter()))
        self.warmup_s = time.perf_counter() - t0
        self.rows_out = 0

    # -- timed work ---------------------------------------------------------

    def _query(self, name: str, meter: Meter):
        """Build, plan and collect one query, timed by ``meter``.  Returns
        ``(columns, rows)``, with ``rows`` None when the query raised."""
        tracer = self.ctx.tracer
        try:
            with meter:
                with tracer.span("registry.build", query=name):
                    df = self.specs[name].build(self.ctx.spark, self.ctx.fixtures)
                with tracer.span("catalyst.plan", query=name):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec.collect", query=name) as rec:
                    rows = [tuple(r) for r in df.collect()]
                    if rec is not None:
                        rec["rows"] = len(rows)
        except Exception:  # a failed query is counted, and the loop goes on
            self.check(Check(f"{name}: ran", False, traceback.format_exc(limit=3)))
            return None, None
        self.rows_out += len(rows)
        return df.columns, rows

    def _verify(self, name: str, columns, rows) -> bool:
        """Compare with the oracle's fingerprint; never inside a timed span."""
        if rows is None:
            return False
        problem = compare(self.expected[name], columns, rows)
        self.check(Check(f"{name}: matches oracle", problem is None, problem or ""))
        return problem is None

    def run_once(self) -> bool:
        """The next member of the pass.  A pass runs the queries, then the
        drains, each block in seeded order: keeping the blocks apart keeps
        the drains' state stores from landing on a different query in every
        order."""
        if not self.pending:
            queries, drains = list(members.QUERY_MIX), list(members.STREAM_DRAIN)
            self.order_rng.shuffle(queries)
            self.order_rng.shuffle(drains)
            self.pending = queries + drains
        name = self.pending.pop(0)
        meter = Meter()
        with self.op_scope(name):
            result = self._query(name, meter)
        self.record_op(meter, name, failed=not self._verify(name, *result))
        return True

    def rows_done(self) -> int:
        return self.rows_out
