"""The traced phase: span wrappers around calls into the engine's layers,
Spark's own status, streaming progress and scratch left behind.

Everything here is installed by :func:`install` in the traced process only
and removed by :meth:`Tracing.uninstall`; nothing in the engine is edited.

Spans (name -> wrapped callable):

* ``plans.watermark.latest`` / ``.append`` -> ``RunLog.latest`` / ``RunLog.append``
* ``plans.traffic.normalize`` -> ``normalize_traffic`` as ``plans.pipeline`` calls it
* ``operators.merge.dedupe`` / ``.upsert`` -> ``dedupe_last_write`` /
  ``merge_upsert_parquet`` as ``plans.pipeline`` calls them
* ``spark.reader.parquet`` -> ``DataFrameReader.parquet``
* ``spark.action.count`` -> ``DataFrame.count``
* ``spark.checkpoint`` -> ``DataFrame.localCheckpoint``

The workloads add ``op``, ``sources.fetch``, ``registry.build``,
``catalyst.plan`` and ``exec.collect`` around their own calls.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from collections import Counter

from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.streaming import StreamingQueryListener

from trafsys_data_transfer_spark.plans import pipeline, watermark

from .harness import NullTracer, Tracer

SPARK_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
)


class SparkStatus:
    """New jobs and stages since the last call, read from the status store.

    Job and stage ids are allocated in sequence, so the ids past the last
    one seen are exactly the work started since.  This also covers the
    micro-batch jobs that streaming queries run on their own threads, which
    carry the stream's job group rather than the benchmark's."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self.next_job = self._scan(self._job, 0)[1]
        self.next_stage = self._scan(self._stage, 0)[1]

    def _job(self, i):
        return self.store.job(i)

    def _stage(self, i):
        return self.store.lastStageAttempt(i)

    @staticmethod
    def _scan(get, start: int, misses: int = 2):
        """Items from id ``start`` on, until ``misses`` ids in a row are
        absent; returns (items, the id after the last one found)."""
        found, nxt, i = [], start, start
        while i - nxt < misses:
            try:
                found.append(get(i))
                nxt = i + 1
            except Exception:  # py4j error wrapping NoSuchElementException
                pass
            i += 1
        return found, nxt

    def collect(self) -> Counter:
        jobs, self.next_job = self._scan(self._job, self.next_job)
        stages, self.next_stage = self._scan(self._stage, self.next_stage)
        c = Counter({"spark.jobs": len(jobs)})
        for s in stages:
            if s.status().toString() in ("SKIPPED", "PENDING"):
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += s.numTasks()
            c["spark.failed_tasks"] += s.numFailedTasks()
            c["spark.executor_run_s"] += s.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["spark.gc_s"] += s.jvmGcTime() / 1e3
            c["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                c["spark.stage_wall_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
        return c


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress of every streaming query."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        states = p.stateOperators or []
        self.batches.append(
            {
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_memory_bytes": sum(s.memoryUsedBytes for s in states),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class OpHooks:
    """Around each traced operation: a job group named after it, and the
    Spark work, scratch entries and catalog tables it left."""

    def __init__(self, spark, tmpdir: str):
        self.spark = spark
        self.tmpdir = tmpdir
        self.status = SparkStatus(spark)
        self.totals = Counter()
        self.n = 0

    def before(self, kind: str) -> None:
        self.n += 1
        self.spark.sparkContext.setJobGroup(f"perfbench:{self.n}:{kind}", kind)
        self.tmp0 = set(os.listdir(self.tmpdir))
        self.tables0 = {t.name for t in self.spark.catalog.listTables()}
        self.status.collect()

    def after(self) -> None:
        self.spark.sparkContext._jsc.clearJobGroup()
        self.totals.update(self.status.collect())
        self.totals["scratch.tmp_entries_created"] += len(set(os.listdir(self.tmpdir)) - self.tmp0)
        tables = {t.name for t in self.spark.catalog.listTables()}
        self.totals["scratch.catalog_tables_created"] += len(tables - self.tables0)
        self.totals["ops"] += 1


class Tracing:
    def __init__(self, ctx, run_id: str):
        self.ctx = ctx
        self.tracer = Tracer(run_id)
        self.hooks = OpHooks(ctx.spark, os.environ["TMPDIR"])
        self.listener = ProgressListener()
        self._restore: list[tuple] = []
        self.cores = ctx.spark.sparkContext.defaultParallelism

    def _wrap(self, owner, attr: str, name: str) -> None:
        own = attr in owner.__dict__
        orig = getattr(owner, attr)
        tracer = self.tracer

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig if own else None))

    def install(self) -> "Tracing":
        df_cls = type(self.ctx.spark.range(0))
        self._wrap(watermark.RunLog, "latest", "plans.watermark.latest")
        self._wrap(watermark.RunLog, "append", "plans.watermark.append")
        self._wrap(pipeline, "normalize_traffic", "plans.traffic.normalize")
        self._wrap(pipeline, "dedupe_last_write", "operators.merge.dedupe")
        self._wrap(pipeline, "merge_upsert_parquet", "operators.merge.upsert")
        self._wrap(DataFrameReader, "parquet", "spark.reader.parquet")
        self._wrap(df_cls, "count", "spark.action.count")
        self._wrap(df_cls, "localCheckpoint", "spark.checkpoint")
        self.ctx.spark.streams.addListener(self.listener)
        self.ctx.tracer = self.tracer
        self.ctx.op_hooks = self.hooks
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._restore.clear()
        self._drain_listener()
        self.ctx.spark.streams.removeListener(self.listener)
        self.ctx.tracer = NullTracer()
        self.ctx.op_hooks = None

    def _drain_listener(self, quiet: float = 0.5, limit: float = 5.0) -> None:
        """Progress events arrive asynchronously; wait until none arrive for
        ``quiet`` seconds."""
        t_end = time.perf_counter() + limit
        n = -1
        while n != len(self.listener.batches) and time.perf_counter() < t_end:
            n = len(self.listener.batches)
            time.sleep(quiet)

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics, per traced operation (or per batch where so
        named)."""
        ops = max(1, self.hooks.totals["ops"])
        by_name = Counter()
        calls = Counter()
        rows_out = 0
        for s in self.tracer.spans:
            by_name[s["name"]] += s["end"] - s["start"]
            calls[s["name"]] += 1
            rows_out += s.get("rows", 0)
        out = {
            "plans.watermark.latest_s": by_name["plans.watermark.latest"] / ops,
            "plans.watermark.append_s": by_name["plans.watermark.append"] / ops,
            "plans.traffic.normalize_s": by_name["plans.traffic.normalize"] / ops,
            "operators.merge.dedupe_s": by_name["operators.merge.dedupe"] / ops,
            "operators.merge.upsert_s": by_name["operators.merge.upsert"] / ops,
            "sources.fetch_s": by_name["sources.fetch"] / ops,
            "spark.reader.parquet_s": by_name["spark.reader.parquet"] / ops,
            "spark.action.count_s": by_name["spark.action.count"] / ops,
            "registry.build_s": by_name["registry.build"] / ops,
            "catalyst.plan_s": by_name["catalyst.plan"] / ops,
            "exec.collect_s": by_name["exec.collect"] / ops,
            "exec.rows_out": rows_out / ops,
            "spark.checkpoints": calls["spark.checkpoint"] / ops,
            "spark.checkpoint_s": by_name["spark.checkpoint"] / ops,
        }
        t = self.hooks.totals
        for k in SPARK_COUNTERS:
            out[k] = t[k] / ops
        slots = self.cores * t["spark.stage_wall_s"]
        out["spark.slot_idle_frac"] = 1 - t["spark.executor_run_s"] / slots if slots else 0.0
        b = self.listener.batches
        out["streaming.batches"] = len(b) / ops
        out["streaming.batch_s.p50"] = statistics.median([x["trigger_s"] for x in b]) if b else 0.0
        out["streaming.add_batch_s"] = sum(x["add_batch_s"] for x in b) / ops
        out["streaming.input_rows"] = sum(x["input_rows"] for x in b) / ops
        out["streaming.state_rows"] = max((x["state_rows"] for x in b), default=0)
        out["streaming.state_memory_bytes"] = max((x["state_memory_bytes"] for x in b), default=0)
        out["scratch.tmp_entries_created"] = t["scratch.tmp_entries_created"] / ops
        out["scratch.catalog_tables_created"] = t["scratch.catalog_tables_created"] / ops
        return out


def install(ctx, run_id: str) -> Tracing:
    return Tracing(ctx, run_id).install()
