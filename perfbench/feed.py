"""Seeded TrafSys-shaped deliveries for the ``nightly_load`` workload, and
their DuckDB last-write-wins oracle.

A :class:`Feed` plays the TrafSys REST API: every call to one of its step
methods writes one parquet file with the ``TRAFFIC_RAW_SCHEMA`` columns
(``IsInternal`` boolean, ``PeriodEnding`` an ISO string) holding exactly the
rows the API would return for that run's window.  The benchmark's
``fetch_window`` only reads those files.

The feed also keeps the table the load should end with (``state``), so a
re-fetched day or a redelivered window carries the values already loaded —
every such row is an update that changes nothing.  The independent check is
:func:`oracle_sql`, which recomputes last-write-wins in DuckDB from the
delivered files alone.

Generation is single-process and depends only on the seed.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = dt.date(2024, 1, 1)
SITES = 6
LOCATIONS = 5
HOURS = 24
#: Days of history in the initial table — one ``PeriodDate`` partition each.
HISTORY_DAYS = 30
#: Share of a new day's keys delivered twice in one batch with different
#: counts; the in-batch "last" is the larger (Ins, Outs, IsInternal).
DUP_FRAC = 0.05
#: Late correction: this many scattered old dates, this many keys each.
CORRECTION_DATES = 4
CORRECTION_KEYS = 40
#: Redelivered window length in days, ending at the watermark.
REDELIVER_DAYS = 3
BACKFILL_DAYS = 7

RAW_SCHEMA = pa.schema(
    [
        ("SiteCode", pa.string()),
        ("Location", pa.string()),
        ("IsInternal", pa.bool_()),
        ("PeriodEnding", pa.string()),
        ("Ins", pa.int64()),
        ("Outs", pa.int64()),
    ]
)

SERIES = [(f"S{s:02d}", f"L{l:02d}") for s in range(SITES) for l in range(LOCATIONS)]


def _iso(d: dt.date) -> str:
    return d.isoformat()


@dataclass
class Step:
    """One scripted run: the file the API returns and how the run is called."""

    kind: str  # history | nightly | backfill | redeliver | correction
    path: str
    window: tuple[str, str]  # (FromDate, ToDate) the run must resolve
    explicit: bool  # window passed as cli_from/cli_to, not from the watermark
    today: dt.date  # the run's "today"; a watermark window ends yesterday
    dates: frozenset = field(default_factory=frozenset)  # PeriodDate values
    bytes: int = 0


class Feed:
    """Writes seeded deliveries under ``root`` and tracks the expected table."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.state: dict[tuple[str, str, str], tuple[bool, int, int]] = {}
        self.steps: list[Step] = []
        self.watermark: dt.date | None = None  # ToDate of the last run
        os.makedirs(root, exist_ok=True)

    # -- row makers --------------------------------------------------------

    def _fresh_day(self, day: dt.date) -> list[tuple]:
        """All series × hours of a new day, with in-batch duplicates."""
        n = len(SERIES) * HOURS
        ins = self.rng.integers(0, 500, n)
        outs = self.rng.integers(0, 500, n)
        internal = self.rng.random(n) < 0.2
        dup = self.rng.random(n) < DUP_FRAC
        rows = []
        i = 0
        for site, loc in SERIES:
            for h in range(HOURS):
                pe = f"{_iso(day)}T{h:02d}:00:00"
                versions = [(bool(internal[i]), int(ins[i]), int(outs[i]))]
                if dup[i]:
                    versions.append(
                        (not versions[0][0], int(self.rng.integers(0, 500)), int(ins[i]))
                    )
                for v in versions:
                    rows.append((site, loc, v[0], pe, v[1], v[2]))
                self.state[(site, loc, pe)] = max(versions, key=_last_order)
                i += 1
        return rows

    def _current_day(self, day: dt.date) -> list[tuple]:
        """A day re-sent with the values already loaded (pure updates)."""
        prefix = _iso(day)
        return [
            (k[0], k[1], v[0], k[2], v[1], v[2])
            for k, v in self.state.items()
            if k[2].startswith(prefix)
        ]

    # -- steps -------------------------------------------------------------

    def _write(self, kind: str, rows: list[tuple], window, explicit, today) -> Step:
        order = self.rng.permutation(len(rows))
        cols = list(zip(*[rows[i] for i in order])) if rows else [[]] * 6
        table = pa.Table.from_arrays([pa.array(c, t) for c, t in zip(cols, RAW_SCHEMA.types)], schema=RAW_SCHEMA)
        path = os.path.join(self.root, f"{len(self.steps):04d}_{kind}.parquet")
        pq.write_table(table, path)
        step = Step(
            kind=kind,
            path=path,
            window=window,
            explicit=explicit,
            today=today,
            dates=frozenset(r[3][:10] for r in rows),
            bytes=os.path.getsize(path),
        )
        self.steps.append(step)
        self.watermark = dt.date.fromisoformat(window[1])
        return step

    def history(self) -> Step:
        last = START + dt.timedelta(days=HISTORY_DAYS - 1)
        rows = []
        for d in range(HISTORY_DAYS):
            rows += self._fresh_day(START + dt.timedelta(days=d))
        return self._write("history", rows, (_iso(START), _iso(last)), True, last + dt.timedelta(days=1))

    def forward(self, days: int, kind: str) -> Step:
        """A watermark-driven run ``days`` past the last ToDate: the boundary
        day is fetched again (FromDate = previous ToDate), then new days."""
        w = self.watermark
        rows = self._current_day(w)
        for d in range(1, days + 1):
            rows += self._fresh_day(w + dt.timedelta(days=d))
        end = w + dt.timedelta(days=days)
        return self._write(kind, rows, (_iso(w), _iso(end)), False, end + dt.timedelta(days=1))

    def nightly(self) -> Step:
        return self.forward(1, "nightly")

    def backfill(self) -> Step:
        return self.forward(BACKFILL_DAYS, "backfill")

    def redeliver(self) -> Step:
        """The last REDELIVER_DAYS days sent again unchanged."""
        w = self.watermark
        first = w - dt.timedelta(days=REDELIVER_DAYS - 1)
        rows = []
        for d in range(REDELIVER_DAYS):
            rows += self._current_day(first + dt.timedelta(days=d))
        return self._write("redeliver", rows, (_iso(first), _iso(w)), True, w + dt.timedelta(days=1))

    def correction(self) -> Step:
        """Changed counts for a few keys on scattered dates of the history."""
        w = self.watermark
        days = self.rng.choice(HISTORY_DAYS - 1, CORRECTION_DATES, replace=False)
        rows = []
        for d in sorted(int(x) for x in days):
            day = START + dt.timedelta(days=d + 1)
            picks = self.rng.choice(len(SERIES) * HOURS, CORRECTION_KEYS, replace=False)
            for p in picks:
                site, loc = SERIES[int(p) // HOURS]
                pe = f"{_iso(day)}T{int(p) % HOURS:02d}:00:00"
                v = (bool(self.rng.random() < 0.2), int(self.rng.integers(500, 900)), int(self.rng.integers(0, 500)))
                rows.append((site, loc, v[0], pe, v[1], v[2]))
                self.state[(site, loc, pe)] = v
        first = min(r[3][:10] for r in rows)
        return self._write("correction", rows, (first, _iso(w)), True, w + dt.timedelta(days=1))


def _last_order(v: tuple[bool, int, int]) -> tuple[int, int, int]:
    """The pipeline's in-batch "last": Ins, Outs, IsInternal descending."""
    internal, ins, outs = v
    return (ins, outs, int(internal))


def oracle_sql(steps: list[Step]) -> str:
    """DuckDB last-write-wins over every applied delivery: a later run wins;
    within one run the row with the largest (Ins, Outs, IsInternal) wins,
    mirroring ``plans.pipeline``'s ``dedupe_last_write`` order."""
    parts = []
    for i, s in enumerate(steps):
        lo, hi = s.window
        hi_next = _iso(dt.date.fromisoformat(hi) + dt.timedelta(days=1))
        parts.append(
            f"SELECT *, {i} AS batch FROM read_parquet('{s.path}') "
            f"WHERE PeriodEnding >= '{lo}' AND PeriodEnding < '{hi_next}'"
        )
    union = " UNION ALL ".join(parts)
    return f"""
        SELECT SiteCode, Location, CAST(IsInternal AS INTEGER) AS IsInternal,
               strptime(PeriodEnding, '%Y-%m-%dT%H:%M:%S') AS PeriodEnding,
               Ins, Outs
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY SiteCode, Location, PeriodEnding
                ORDER BY batch DESC, Ins DESC, Outs DESC, IsInternal DESC
            ) AS rn
            FROM ({union})
        ) WHERE rn = 1
    """


def table_sql(target: str) -> str:
    """The loaded target table as DuckDB reads it back from parquet."""
    return f"""
        SELECT SiteCode, Location, IsInternal,
               CAST(PeriodEnding AS TIMESTAMP) AS PeriodEnding, Ins, Outs
        FROM read_parquet('{target}/*/*.parquet', hive_partitioning = false)
    """


def fingerprint_sql(relation: str) -> str:
    """Order-insensitive fingerprint of a relation: row count plus the sum
    of per-row hashes."""
    return (
        "SELECT count(*), sum(hash(SiteCode, Location, IsInternal, "
        f"PeriodEnding, Ins, Outs)::HUGEINT) FROM ({relation})"
    )


def mismatches(con, oracle: str, table: str) -> int:
    """Rows in either relation and not the other, counting duplicates."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({oracle}) EXCEPT ALL ({table}))) + "
        f"(SELECT count(*) FROM (({table}) EXCEPT ALL ({oracle})))"
    ).fetchone()[0]
