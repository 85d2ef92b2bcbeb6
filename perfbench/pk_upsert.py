"""pk_upsert: a write-heavy stream of upserts into a bucketed parquet
primary-key table (deduplicate merge engine, write-time compaction on).

Each commit carries Zipf-skewed updates of live keys, fresh inserts and a
few deletes. After every commit the loop refreshes a ``LocalTableQuery``,
runs one lookup batch, whose files were just rewritten, so lookups miss
the index cache, and runs a full merge-on-read aggregate. Every result is checked against the generator's
key -> last-value model, deletes and misses included.

The compaction trigger is set so that about one commit in six compacts:
the commit median and its tail both sit well inside the non-compacting
mode instead of on the boundary between the two modes.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

import stats

BASE_ROWS = 40_000
UPDATES, INSERTS, DELETES = 6_000, 2_000, 200
COMMITS = 8           # timed rounds: a commit, a lookup batch and an agg each
LOOKUP_KEYS = 2_048
ZIPF_S = 1.1

OPTIONS = {
    "bucket": "4",
    "merge-engine": "deduplicate",
    "file.format": "parquet",
    "num-sorted-run.compaction-trigger": "10",
}
SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("grp", T.IntegerType()),
    T.StructField("val", T.LongType()),
    T.StructField("payload", T.StringType()),
])
WRITE_SCHEMA = T.StructType(SCHEMA.fields + [T.StructField("_row_kind", T.StringType())])


def payload(val: int, grp: int) -> str:
    return f"{val:016x}:{grp:04d}:{val * 7919 % 1000003:07d}"


class Model:
    """Key -> last value, plus each key's Zipf weight (by a random rank)."""

    def __init__(self, rng: np.random.Generator, capacity: int):
        self.rng = rng
        self.val = np.zeros(capacity, np.int64)
        self.grp = np.zeros(capacity, np.int32)
        self.live = np.zeros(capacity, bool)
        self.ever = np.zeros(capacity, bool)
        ranks = rng.integers(0, capacity, capacity)
        self.log_w = -ZIPF_S * np.log1p(ranks)
        self.next_id = 0
        self.recent = np.zeros(0, np.int64)

    def _rows(self, ids: np.ndarray, kinds=None) -> pd.DataFrame:
        n = len(ids)
        val = self.rng.integers(0, 1 << 40, n, dtype=np.int64)
        grp = self.rng.integers(0, 1000, n).astype(np.int32)
        pdf = pd.DataFrame({"id": ids.astype(np.int64), "grp": grp, "val": val,
                            "payload": [payload(int(v), int(g)) for v, g in zip(val, grp)]})
        if kinds is not None:
            pdf["_row_kind"] = kinds
        return pdf

    def _apply(self, pdf: pd.DataFrame) -> None:
        ids = pdf["id"].to_numpy()
        add = (pdf["_row_kind"] == "+I").to_numpy() if "_row_kind" in pdf else np.ones(len(ids), bool)
        self.val[ids[add]] = pdf["val"].to_numpy()[add]
        self.grp[ids[add]] = pdf["grp"].to_numpy()[add]
        self.live[ids[add]] = True
        self.live[ids[~add]] = False
        self.ever[ids] = True

    def _top_live(self, k: int) -> np.ndarray:
        """k distinct live keys drawn by Zipf weight (Gumbel top-k)."""
        n = self.next_id
        score = self.log_w[:n] + self.rng.gumbel(size=n)
        score[~self.live[:n]] = -np.inf
        return np.argpartition(-score, k)[:k]

    def base(self, n: int) -> pd.DataFrame:
        ids = np.arange(n)
        self.next_id = n
        pdf = self._rows(ids)
        self._apply(pdf)
        return pdf

    def commit(self) -> pd.DataFrame:
        upd = self._top_live(UPDATES)
        free = np.flatnonzero(self.live[:self.next_id])
        free = np.setdiff1d(free, upd, assume_unique=True)
        dels = self.rng.choice(free, DELETES, replace=False)
        ins = np.arange(self.next_id, self.next_id + INSERTS)
        self.next_id += INSERTS
        self.recent = ins
        ids = np.concatenate([upd, ins, dels])
        kinds = ["+I"] * (len(upd) + len(ins)) + ["-D"] * len(dels)
        pdf = self._rows(ids, kinds)
        self._apply(pdf)
        return pdf

    def lookup_keys(self, n: int) -> list[int]:
        """Half hot live keys, 15% of the last commit's inserts, 10% keys
        that were deleted, the rest ids never written."""
        hot = self._top_live(n // 2)
        recent = self.rng.choice(self.recent, int(n * 0.15), replace=False)
        gone = np.flatnonzero(self.ever[:self.next_id] & ~self.live[:self.next_id])
        gone = self.rng.choice(gone, min(len(gone), n // 10), replace=False)
        miss = self.next_id + self.rng.integers(0, 1 << 30, n - len(hot) - len(recent) - len(gone))
        keys = np.concatenate([hot, recent, gone, miss])
        self.rng.shuffle(keys)
        return [int(k) for k in keys]

    def expect(self, key: int):
        if key >= self.next_id or not self.live[key]:
            return None
        v, g = int(self.val[key]), int(self.grp[key])
        return {"id": key, "grp": g, "val": v, "payload": payload(v, g)}

    def totals(self) -> tuple[int, int]:
        live = self.live[:self.next_id]
        return int(live.sum()), int(self.val[:self.next_id][live].sum())


def run(b, catalog) -> dict:
    spark = b.spark
    rng = np.random.default_rng(b.seed)
    model = Model(rng, BASE_ROWS + (b.scaled(COMMITS) + 4) * INSERTS)
    base = model.base(BASE_ROWS)

    t0 = time.perf_counter()
    t = catalog.create_table("bench.pk", SCHEMA, primary_keys=["id"], options=OPTIONS)
    b.op("load", lambda: b.write(t, spark.createDataFrame(base, SCHEMA)) is not None,
         timed=False)
    b.load_s = time.perf_counter() - t0
    b.phase("load done")
    query = t.new_query()

    def commit(timed=True):
        pdf = model.commit()
        df = spark.createDataFrame(pdf, WRITE_SCHEMA)
        b.op("commit", lambda: b.write(t, df) is not None, timed, rows=len(pdf))

    def lookup(timed=True):
        keys = model.lookup_keys(LOOKUP_KEYS)
        b.op("refresh", lambda: b.refresh(query) or True, timed)
        b.op("lookup", lambda: b.lookup(query, keys) == [model.expect(k) for k in keys],
             timed, rows=len(keys))

    def agg(timed=True):
        want = model.totals()
        b.op("agg", lambda: b.scan(t, lambda df: tuple(df.agg(
            F.count(F.lit(1)), F.sum("val")).first())) == want, timed, rows=want[0])

    t0 = time.perf_counter()
    for _ in range(2):
        commit(False)
        lookup(False)
    agg(False)
    b.setup_s = b.session_start_s + b.load_s + time.perf_counter() - t0

    b.tables = [t]
    with b.timed():
        for _ in range(b.scaled(COMMITS)):
            commit()
            lookup()
            agg()

    b.op("final_scan", lambda: _scan_equals_model(b, t, model), timed=False)
    write_amp = b.write_amp()
    live = b.live_sizes(t)
    t.compact(spark, full=True)
    space_amp = stats.space_amp(live, b.live_sizes(t))
    b.phase("final checks done")
    return {"write_amp": (write_amp, "ratio"), "space_amp": (space_amp, "ratio")}


def _scan_equals_model(b, t, model: Model) -> bool:
    got = b.scan(t, lambda df: df.toPandas()).sort_values("id")
    ids = np.flatnonzero(model.live[:model.next_id])
    if len(got) != len(ids) or not np.array_equal(got["id"].to_numpy(), ids):
        return False
    vals, grps = model.val[ids], model.grp[ids]
    return (np.array_equal(got["val"].to_numpy(), vals)
            and np.array_equal(got["grp"].to_numpy(), grps)
            and list(got["payload"]) == [payload(int(v), int(g)) for v, g in zip(vals, grps)])
