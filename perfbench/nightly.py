"""``nightly_load``: the paper's own job, timed end to end.

Set-up loads :data:`feed.HISTORY_DAYS` days of seeded TrafSys records into a
``PeriodDate``-partitioned parquet table through ``plans.pipeline.run_pipeline``.
The timed part then replays :data:`SCRIPT` through the same call with a
file-backed ``fetch_window``: one-day nightly runs whose window comes from
the run-log watermark, a 7-day backfill, a redelivered window in which every
row is an unchanged update, and a late correction of scattered old dates.
The MERGE layer therefore sees inserts, pure updates and scattered updates.

Checks, all outside the timed calls:

* the final table equals the DuckDB last-write-wins oracle over the files;
* the redelivered window leaves the table's fingerprint unchanged;
* the partitions each run rewrites are exactly the dates in its delivery;
* each watermark-driven run's FromDate is the previous run's ToDate, and the
  run log's latest row is the run just made.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import traceback

import duckdb
from pyspark.sql import functions as F

from trafsys_data_transfer_spark.plans import pipeline
from trafsys_data_transfer_spark.schemas import TRAFFIC_RAW_SCHEMA

from . import feed as feedmod
from .harness import Check, Meter, Workload

#: The timed script, one run_pipeline call per step, repeated in whole
#: cycles; every other step is a one-day nightly run.
SCRIPT = ("nightly", "backfill", "nightly", "redeliver", "nightly", "correction")


def _file_fetch(spark, step, tracer):
    """The source adapter ``run_pipeline`` calls: reads the delivery file of
    ``step`` and keeps the rows inside the requested window."""

    def fetch_window(date_from: str, date_to: str):
        hi = (dt.date.fromisoformat(date_to) + dt.timedelta(days=1)).isoformat()
        with tracer.span("sources.fetch"):
            return (
                spark.read.schema(TRAFFIC_RAW_SCHEMA)
                .parquet(step.path)
                .filter((F.col("PeriodEnding") >= date_from) & (F.col("PeriodEnding") < hi))
            )

    return fetch_window


def _data_files(target: str) -> dict[str, dict[str, int]]:
    """``{partition dir: {parquet file: bytes}}`` of the target table."""
    out: dict[str, dict[str, int]] = {}
    if not os.path.isdir(target):
        return out
    for part in os.scandir(target):
        if part.is_dir():
            out[part.name] = {
                f.name: f.stat().st_size
                for f in os.scandir(part.path)
                if f.name.endswith(".parquet")
            }
    return out


class NightlyLoad(Workload):
    name = "nightly_load"
    #: Every run_pipeline call counts, not only the one-day runs; each kind
    #: of call is summarised on its own (per-kind medians, their geometric
    #: mean), so the mix of kinds in a cycle does not move the figures.
    op_label = "run_pipeline call (one-day, backfill, redelivery or correction)"
    cycle = len(SCRIPT)
    nominal_cycle_s = 10.0

    def __init__(self, ctx):
        super().__init__(ctx)
        self.con = duckdb.connect()
        self.feed = None
        self.target = self.log = None
        self.merged_rows = 0
        self.steps_run = 0
        self.merge_counts = {"partitions_rewritten": 0, "files_written": 0, "bytes_written": 0, "delta_bytes": 0}

    # -- set-up ------------------------------------------------------------

    def build(self, i: int) -> None:
        """A fresh feed and the initial load of its history into a new
        target table and run log."""
        root = os.path.join(self.ctx.work, f"nightly{i}")
        shutil.rmtree(root, ignore_errors=True)
        self.feed = feedmod.Feed(os.path.join(root, "feed"), self.ctx.seed)
        self.target = os.path.join(root, "target")
        self.log = os.path.join(root, "run_log")
        step = self.feed.history()
        self._run(step)
        self.merged_rows = 0
        self.merge_counts = dict.fromkeys(self.merge_counts, 0)

    def setup(self) -> None:
        """The builds, then one untimed nightly run: the first MERGE into an
        existing table pays cold costs no later run pays."""
        super().setup()
        t0 = time.perf_counter()
        self.run_once()
        self.warmup_s = time.perf_counter() - t0
        self.ops.clear()
        self.merged_rows = 0
        self.merge_counts = dict.fromkeys(self.merge_counts, 0)

    # -- timed work ---------------------------------------------------------

    def _run(self, step, meter: Meter | None = None) -> dict:
        spark = self.ctx.spark
        before = _data_files(self.target)
        kwargs = {"today": step.today}
        if step.explicit:
            kwargs.update(cli_from=step.window[0], cli_to=step.window[1])
        with meter or Meter(), self.ctx.tracer.span(f"plans.pipeline.run_pipeline:{step.kind}"):
            info = pipeline.run_pipeline(
                spark, _file_fetch(spark, step, self.ctx.tracer), self.target, self.log, **kwargs
            )
        after = _data_files(self.target)
        rewritten = {p for p in after if after[p] != before.get(p)}
        new_files = [
            size for p, files in after.items() for f, size in files.items()
            if f not in before.get(p, {})
        ]
        if step.kind != "history":
            self.merge_counts["partitions_rewritten"] += len(rewritten)
            self.merge_counts["files_written"] += len(new_files)
            self.merge_counts["bytes_written"] += sum(new_files)
            self.merge_counts["delta_bytes"] += step.bytes
            self.merged_rows += info["Records"]
        return {"info": info, "rewritten": rewritten}

    def run_once(self) -> bool:
        """The next step of the script; SCRIPT repeats cycle after cycle."""
        kind = SCRIPT[self.steps_run % len(SCRIPT)]
        self.steps_run += 1
        step = getattr(self.feed, kind)()
        prev_to = self.feed.steps[-2].window[1]
        fp_before = self._fingerprint() if kind == "redeliver" else None
        meter = Meter()
        try:
            with self.op_scope(kind):
                out = self._run(step, meter)
        except Exception:  # the load is broken: count it, stop the script
            self.check(Check(f"{kind}#{len(self.feed.steps) - 1}: ran", False,
                             traceback.format_exc(limit=3)))
            self.record_op(meter, kind, failed=True)
            return False
        self._check_step(step, out, prev_to, fp_before)
        self.record_op(meter, kind)
        return True

    # -- checks -------------------------------------------------------------

    def _fingerprint(self):
        return self.con.execute(feedmod.fingerprint_sql(feedmod.table_sql(self.target))).fetchone()

    def _check_step(self, step, out, prev_to, fp_before) -> None:
        info = out["info"]
        label = f"{step.kind}#{len(self.feed.steps) - 1}"
        self.check(
            Check(
                f"{label}: window", tuple((info["FromDate"], info["ToDate"])) == step.window,
                f"run resolved {info['FromDate']}..{info['ToDate']}, expected {step.window}",
            )
        )
        if not step.explicit:
            self.check(Check(f"{label}: FromDate = previous ToDate", info["FromDate"] == prev_to,
                             f"{info['FromDate']} != {prev_to}"))
        self.check(Check(f"{label}: partitions rewritten = delivery dates",
                         out["rewritten"] == set(f"PeriodDate={d}" for d in step.dates),
                         f"{sorted(out['rewritten'])} vs {sorted(step.dates)}"))
        if fp_before is not None:
            fp_after = self._fingerprint()
            self.check(Check(f"{label}: redelivery leaves fingerprint", fp_after == fp_before,
                             f"{fp_before} -> {fp_after}"))

    def final_checks(self) -> None:
        oracle = feedmod.oracle_sql(self.feed.steps)
        table = feedmod.table_sql(self.target)
        bad = feedmod.mismatches(self.con, oracle, table)
        n = self.con.execute(f"SELECT count(*) FROM ({table})").fetchone()[0]
        self.check(Check("final table = DuckDB last-write-wins oracle", bad == 0,
                         f"{bad} mismatching rows of {n}"))
        latest = pipeline.RunLog(self.ctx.spark, self.log).latest()
        want = self.feed.steps[-1].window
        self.check(Check("run log latest = last run", (latest["FromDate"], latest["ToDate"]) == want,
                         f"{(latest['FromDate'], latest['ToDate'])} vs {want}"))

    # -- metrics ------------------------------------------------------------

    def rows_done(self) -> int:
        return self.merged_rows

    def layer_counts(self) -> dict[str, float]:
        c = self.merge_counts
        ops = max(1, len(self.ops))
        return {
            "operators.merge.partitions_rewritten": c["partitions_rewritten"] / ops,
            "operators.merge.files_written": c["files_written"] / ops,
            "operators.merge.bytes_written": c["bytes_written"] / ops,
            "operators.merge.write_amp": c["bytes_written"] / c["delta_bytes"] if c["delta_bytes"] else 0.0,
        }
