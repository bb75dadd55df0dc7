"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import feed  # noqa: E402
from perfbench.fingerprint import compare, fingerprint  # noqa: E402
from perfbench.harness import self_times  # noqa: E402


def _script(root, seed):
    f = feed.Feed(str(root), seed)
    f.history()
    for kind in ("nightly", "backfill", "redeliver", "correction", "nightly"):
        getattr(f, kind)()
    return f


def _tables(f):
    return [pq.read_table(s.path) for s in f.steps]


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _script(tmp_path / "a", 7)
    b = _script(tmp_path / "b", 7)
    c = _script(tmp_path / "c", 8)
    assert [s.window for s in a.steps] == [s.window for s in b.steps]
    assert all(x.equals(y) for x, y in zip(_tables(a), _tables(b)))
    assert a.state == b.state
    assert not all(x.equals(y) for x, y in zip(_tables(a), _tables(c)))


def test_generator_script_shape(tmp_path):
    f = _script(tmp_path, 3)
    hist, nightly, backfill, redeliver, correction, nightly2 = f.steps
    assert len(hist.dates) == feed.HISTORY_DAYS
    # a watermark run starts at the previous ToDate (the boundary day again)
    assert nightly.window[0] == hist.window[1] and len(nightly.dates) == 2
    assert backfill.window[0] == nightly.window[1] and len(backfill.dates) == feed.BACKFILL_DAYS + 1
    assert redeliver.window[1] == backfill.window[1] and len(redeliver.dates) == feed.REDELIVER_DAYS
    assert len(correction.dates) == feed.CORRECTION_DATES
    assert max(correction.dates) < hist.window[1]
    assert nightly2.window[0] == correction.window[1]
    assert schema_names(hist.path) == ["SiteCode", "Location", "IsInternal", "PeriodEnding", "Ins", "Outs"]


def schema_names(path):
    return pq.read_schema(path).names


def _write(path, rows):
    cols = list(zip(*rows))
    pq.write_table(
        pa.Table.from_arrays([pa.array(c, t) for c, t in zip(cols, feed.RAW_SCHEMA.types)], schema=feed.RAW_SCHEMA),
        path,
    )
    return str(path)


def test_last_write_wins_oracle_three_batches(tmp_path):
    T = "2024-01-01T01:00:00"
    U = "2024-01-01T02:00:00"
    V = "2024-01-02T05:00:00"
    b0 = _write(tmp_path / "b0.parquet", [
        ("S", "L", False, T, 10, 1),
        ("S", "L", False, U, 20, 2),
    ])
    b1 = _write(tmp_path / "b1.parquet", [
        # in-batch duplicates: the larger (Ins, Outs, IsInternal) is "last"
        ("S", "L", False, T, 5, 9),
        ("S", "L", True, T, 7, 0),
        ("S", "L", False, V, 1, 1),
        ("S", "L", True, V, 1, 1),
        # outside this run's window: the fetch never returns it
        ("S", "L", False, "2024-01-03T00:00:00", 99, 99),
    ])
    b2 = _write(tmp_path / "b2.parquet", [("S", "L", False, U, 3, 3)])
    steps = [
        feed.Step("history", b0, ("2024-01-01", "2024-01-01"), True, None),
        feed.Step("nightly", b1, ("2024-01-01", "2024-01-02"), False, None),
        feed.Step("redeliver", b2, ("2024-01-01", "2024-01-01"), True, None),
    ]
    got = duckdb.sql(feed.oracle_sql(steps) + " ORDER BY PeriodEnding").fetchall()
    assert [(r[2], r[3].isoformat(), r[4], r[5]) for r in got] == [
        (1, T, 7, 0),  # batch 1 beats batch 0; within batch 1, Ins 7 > 5
        (0, U, 3, 3),  # batch 2 is the latest write even with smaller counts
        (1, V, 1, 1),  # tie on Ins and Outs: IsInternal descending decides
    ]


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)  # [1,5] and [9,10] covered
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_fingerprint_is_order_insensitive_and_rejects_a_changed_cell():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (3, None)]
    fp = fingerprint(cols, rows)
    assert compare(fp, ["a", "b"], [("y", 2), (None, 3), ("x", 1)]) is None
    assert compare(fp, cols, list(reversed(rows))) is None
    assert compare(fp, cols, [(1, "x"), (2, "y"), (4, None)]) is not None
    # strict: an equal value of another type class is a different cell
    assert compare(fp, cols, [(1.0, "x"), (2, "y"), (3, None)]) is not None
    assert compare(fp, cols, rows[:2]) is not None


def test_members_follow_the_work_in_build_classification():
    from bench import WORK_IN_BUILD
    from perfbench import members

    assert not set(members.QUERY_MIX) & WORK_IN_BUILD
    assert set(members.STREAM_DRAIN) <= WORK_IN_BUILD
    assert not set(members.LEFT_OUT) & set(members.QUERY_MIX + members.STREAM_DRAIN)


def test_report_compares_like_operations():
    from perfbench.harness import Op
    from perfbench.report import _cycle_walls, kind_geomean, trace_overhead

    ops = [
        Op(1.0, 0, "a", "timed"), Op(4.0, 0, "b", "timed"),
        Op(3.0, 0, "a", "timed"), Op(4.0, 0, "b", "timed"),
        Op(2.5, 0, "a", "traced"), Op(4.5, 0, "b", "traced"),
    ]
    # per-kind medians 2.0 and 4.0; their geometric mean
    assert kind_geomean([o for o in ops if o.phase == "timed"]) == pytest.approx(8.0 ** 0.5)
    # kind a: 2.5 - 2.0, kind b: 4.5 - 4.0, never a traced b against an untraced a
    assert trace_overhead(ops) == pytest.approx(0.5)
    assert _cycle_walls([1.0, 2.0, 3.0, 4.0, 5.0], 2) == [3.0, 7.0]
    assert _cycle_walls([1.0], 2) == [1.0]


def test_a_run_measures_a_fixed_number_of_whole_cycles():
    from perfbench.harness import Ctx, Workload

    class Steps(Workload):
        cycle = 3
        nominal_cycle_s = 8.0

        def run_once(self):
            self.steps = getattr(self, "steps", 0) + 1
            return True

    wl = Steps(Ctx(spark=None, seed=1, work="", fixtures=""))
    assert [wl.cycles_for(s) for s in (0, 6.7, 16, 20)] == [1, 1, 2, 3]
    wl.run_cycles(2)
    assert wl.steps == 6
