"""scan_serve: a read-heavy serving mix over a static primary-key table.

The table is partitioned by ``day``, bucketed and ``write-only`` (no
compaction), and setup builds it with overlapping commits, so every read
pays a real merge. The timed loop interleaves partition + key-range pruned
scans, full merge-on-read aggregates, one time-travel read and lookup
batches against a query whose index cache holds the whole table (warm).
About a fifth of the lookup keys are misses and recently written keys are
favoured. Every answer is compared with a value computed from the
generator's model.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

import stats
from incubator_paimon_spark import P

DAYS = 4
ID_SPAN = 12_000       # ids per day
WINDOW = 3_000         # each commit rewrites a window of ids in every day
ROWS_PER_DAY = 1_000   # per commit
BUILD_COMMITS = 5
TRAVEL_AT = 2          # time travel reads the snapshot of this commit
ROUNDS = 5             # timed rounds: 2 scans, a lookup batch and an agg each
SCAN_RANGE = 2_500
SCAN_STARTS = (1_000, 5_000, 9_000)
LOOKUP_KEYS = 2_048

OPTIONS = {"bucket": "2", "write-only": "true", "file.format": "parquet"}
SCHEMA = T.StructType([
    T.StructField("day", T.IntegerType(), False),
    T.StructField("id", T.LongType(), False),
    T.StructField("val", T.LongType()),
    T.StructField("cat", T.IntegerType()),
])


class Model:
    """Latest (val, cat) per (day, id), the commit that last wrote each key,
    and aggregates frozen at the time-travel snapshot."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.val = np.zeros((DAYS, ID_SPAN), np.int64)
        self.cat = np.zeros((DAYS, ID_SPAN), np.int32)
        self.written = np.full((DAYS, ID_SPAN), -1, np.int32)  # last commit
        self.commits: list[pd.DataFrame] = []
        self.scans = [(d, lo) for d in range(DAYS) for lo in SCAN_STARTS]
        rng.shuffle(self.scans)
        self.scans_done = 0
        for c in range(BUILD_COMMITS):
            self.commits.append(self._commit(c))
            if c == TRAVEL_AT:
                self.travel = self.totals()

    def _commit(self, c: int) -> pd.DataFrame:
        parts = []
        for d in range(DAYS):
            # fixed window positions: every seed gets the same overlap
            # pattern, so seeds differ in ids and values, not in how much
            # a scan or a merge has to do
            lo = (c * 3 + d * 5) % 7 * (ID_SPAN - WINDOW) // 6
            ids = np.sort(self.rng.choice(np.arange(lo, lo + WINDOW), ROWS_PER_DAY,
                                          replace=False))
            val = self.rng.integers(0, 1 << 40, len(ids), dtype=np.int64)
            cat = self.rng.integers(0, 50, len(ids)).astype(np.int32)
            self.val[d, ids], self.cat[d, ids], self.written[d, ids] = val, cat, c
            parts.append(pd.DataFrame({"day": np.int32(d), "id": ids.astype(np.int64),
                                       "val": val, "cat": cat}))
        return pd.concat(parts, ignore_index=True)

    def totals(self) -> tuple[int, int]:
        live = self.written >= 0
        return int(live.sum()), int(self.val[live].sum())

    def range_query(self) -> tuple[int, int, int, tuple[int, int]]:
        """The next of a fixed set of (day, id range) scans, in seeded order."""
        d, lo = self.scans[self.scans_done % len(self.scans)]
        self.scans_done += 1
        hi = lo + SCAN_RANGE - 1
        live = self.written[d, lo:hi + 1] >= 0
        return d, lo, hi, (int(live.sum()), int(self.val[d, lo:hi + 1][live].sum()))

    def lookup_keys(self, n: int) -> list[dict]:
        """80% live keys, half of them written by the last three commits;
        20% keys never written."""
        live = np.argwhere(self.written >= 0)
        recent = np.argwhere(self.written >= BUILD_COMMITS - 3)
        n_hit = int(n * 0.8)
        hits = np.concatenate([
            recent[self.rng.integers(0, len(recent), n_hit // 2)],
            live[self.rng.integers(0, len(live), n_hit - n_hit // 2)]])
        never = np.argwhere(self.written < 0)
        miss = never[self.rng.integers(0, len(never), n - n_hit)]
        keys = np.concatenate([hits, miss])
        self.rng.shuffle(keys)
        return [{"day": int(d), "id": int(i)} for d, i in keys]

    def expect(self, key: dict):
        d, i = key["day"], key["id"]
        if self.written[d, i] < 0:
            return None
        return {"day": d, "id": i, "val": int(self.val[d, i]), "cat": int(self.cat[d, i])}


def _count_sum(df) -> tuple[int, int]:
    row = df.agg(F.count(F.lit(1)), F.sum("val")).first()
    return int(row[0]), int(row[1] or 0)


def run(b, catalog) -> dict:
    spark = b.spark
    model = Model(np.random.default_rng(b.seed))
    frames = [spark.createDataFrame(pdf, SCHEMA) for pdf in model.commits]

    t0 = time.perf_counter()
    t = catalog.create_table("bench.serve", SCHEMA, partition_keys=["day"],
                             primary_keys=["day", "id"], options=OPTIONS)
    for df in frames:
        b.op("load", lambda: b.write(t, df) is not None, timed=False)
    b.load_s = time.perf_counter() - t0
    b.phase("load done")
    travel_id = t.snapshots.latest_id() - (BUILD_COMMITS - 1 - TRAVEL_AT)

    def scan(timed=True):
        d, lo, hi, want = model.range_query()
        pred = P.eq("day", d) & P.between("id", lo, hi)
        b.op("scan", lambda: b.scan(t, _count_sum, pred) == want, timed, rows=want[0])

    def agg(timed=True):
        want = model.totals()
        b.op("agg", lambda: b.scan(t, _count_sum) == want, timed, rows=want[0])

    def travel(timed=True):
        b.op("travel", lambda: b.scan(t, _count_sum, snapshot_id=travel_id) == model.travel,
             timed)

    query = t.new_query()

    def lookup(timed=True):
        keys = model.lookup_keys(LOOKUP_KEYS)
        b.op("lookup", lambda: b.lookup(query, keys) == [model.expect(k) for k in keys],
             timed, rows=len(keys))

    t0 = time.perf_counter()
    scan(False)
    lookup(False)
    agg(False)
    b.setup_s = b.session_start_s + b.load_s + time.perf_counter() - t0

    b.tables = [t]
    rounds = b.scaled(ROUNDS)
    with b.timed():
        for r in range(rounds):
            scan()
            lookup()
            agg()
            scan()
            if r == rounds // 2:
                travel()

    # nothing is committed while serving: amplification over the build
    b.amp_start[t.path] = 0
    write_amp = b.write_amp()
    live = b.live_sizes(t)
    t.compact(spark, full=True)
    space_amp = stats.space_amp(live, b.live_sizes(t))
    b.phase("final checks done")
    return {"write_amp": (write_amp, "ratio"), "space_amp": (space_amp, "ratio")}
