"""The run harness shared by the workloads: op timing and failure counting,
layer instrumentation for the traced run, and the figures every workload
reports.

Ops are closed loop with one client: the next op starts when the previous
one has returned and its result has been checked against the generator's
model. A failed check counts the op as failed and keeps its latency out of
the samples.

Tracing (``--trace 1``) covers every op of the timed section and gives the
per-layer figures. Its overhead is the tracer's own time (registry reads,
Spark status queries, span bookkeeping), measured directly; the untraced
figures come from a ``--trace 0`` run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import stats
from spans import Tracer

HEADLINE = {"pk_upsert": "commit", "scan_serve": "scan", "corpus_dedup": "pass"}
# the workloads' round counts are sized for a run of this many seconds on a
# 4-core host; --seconds scales them
REF_SECONDS = 15


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return time.time() - (btime + start_ticks / os.sysconf("SC_CLK_TCK"))


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        # op kind -> seconds of each successful timed op
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.rows: dict[str, int] = defaultdict(int)  # op kind -> rows handled
        self.layer: dict[str, float] = defaultdict(float)  # timed-section sums
        self.timed_s = 0.0  # wall time of the timed section
        self.tables: list = []  # tables whose manifests feed the amp figures
        self.amp_start: dict[str, int] = {}  # table path -> last untimed snapshot
        self.setup_s = 0.0  # session start + load + warm-ups
        self.load_s = 0.0
        self._op_id = 0
        self.steal0 = _steal_s()

    # ------------------------------------------------------------------
    # session
    def start_session(self):
        from incubator_paimon_spark import get_spark
        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=cpus)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.status = self.sc.statusTracker()
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.session_start_s = process_age_s()
        self.phase("session ready")

    def stop_session(self):
        """Stop Spark and wait for the driver JVM (and with it the Python
        workers it forked) to exit."""
        sc = self.sc
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ------------------------------------------------------------------
    # ops
    def scaled(self, rounds: int) -> int:
        return max(1, round(rounds * self.seconds / REF_SECONDS))

    @contextmanager
    def timed(self):
        """The timed section: traced throughout when the run is traced, and
        the baseline of ``write_amp``."""
        self.amp_baseline()
        self.phase("setup done")
        self.tracer.active = self.trace
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.timed_s = time.perf_counter() - t0
            self.tracer.active = False
            self.phase("timed section done")

    def phase(self, name: str) -> None:
        print(f"perfbench: {name} at {process_age_s():.2f} s", file=sys.stderr)

    def op(self, kind: str, fn, timed: bool = True, rows: int = 0) -> bool:
        """Run one op; ``fn`` returns True when its result matched the
        model. Exceptions and mismatches count as failed ops."""
        self._op_id += 1
        self.attempted += 1
        traced = self.tracer.active
        group = f"{kind}-{self._op_id}"
        if traced:
            with self.tracer.bookkeeping():
                self.sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, op_id=self._op_id):
                ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        if traced:
            with self.tracer.bookkeeping():
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(group)
        if not ok:
            self.failed += 1
            print(f"perfbench: {kind} op {self._op_id} failed its check",
                  file=sys.stderr)
        elif timed:
            self.samples[kind].append(dt)
            self.rows[kind] += rows
        return ok

    def _count_jobs(self, group: str) -> None:
        st = self.status
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            self.layer["spark.jobs"] += 1
            for stage in info.stageIds:
                self.layer["spark.stages"] += 1
                sinfo = st.getStageInfo(stage)
                if sinfo is not None:
                    self.layer["spark.tasks"] += sinfo.numTasks

    def span(self, name: str):
        return self.tracer.span(name)

    def add_layer(self, name: str, value: float) -> None:
        if self.tracer.active:
            self.layer[name] += value

    # ------------------------------------------------------------------
    # layer-instrumented calls into the engine's public API
    def write(self, table, df):
        """``Table.write`` with its commit and inline compaction split out
        of the write span using the engine's metrics registry."""
        if not self.tracer.active:
            return table.write(self.spark, df)
        from incubator_paimon_spark import metrics as M
        with self.tracer.bookkeeping():
            before = _registry(M, table.path)
            first = (table.snapshots.latest_id() or 0) + 1
        with self.tracer.span("write") as sp:
            snap = table.write(self.spark, df)
        with self.tracer.bookkeeping():
            d = {k: v - before[k] for k, v in _registry(M, table.path).items()}
            # commits after the first are the inline compaction's, made
            # inside its interval; the registry keeps the last one's
            # duration, taken as the size of each of them
            inner = (d["commit.ops"] - 1) * M.get(table.path, "commit", "last_duration_ms")
            own_s = max(d["commit.duration_ms"] - inner, 0.0) / 1000.0
            compact_s = d["compaction.duration_ms"] / 1000.0
            c_start = sp.end - compact_s
            if compact_s > 0:
                self.tracer.add_derived(sp, "compact", c_start, sp.end)
            self.tracer.add_derived(sp, "metadata.commit", c_start - own_s, c_start)
            self.layer["write.self_s"] += self.tracer.self_s(sp)
            self.layer["commit.s"] += d["commit.duration_ms"] / 1000.0
            self.layer["commit.attempts"] += d["commit.attempts"]
            self.layer["commit.retries"] += d["commit.retries"]
            self.layer["compact.s"] += compact_s
            self.layer["compact.performed"] += d["compaction.performed"]
            last = table.snapshots.latest_id() or 0
            for sid in range(first, last + 1):
                s = table.snapshots.read(sid)
                adds = table.delta_entries(s)
                size = sum(e.file.file_size for e in adds)
                if s.commit_kind == "COMPACT":
                    self.layer["compact.bytes_rewritten"] += size
                else:
                    self.layer["write.files_added"] += len(adds)
                    self.layer["write.data_bytes_added"] += size
        return snap

    def plan(self, table, predicate=None, snapshot_id=None):
        """``new_scan().plan()`` with the scan registry's pruning counters."""
        if not self.tracer.active:
            return table.new_scan(snapshot_id=snapshot_id).plan(predicate)
        from incubator_paimon_spark import metrics as M
        with self.tracer.bookkeeping():
            before = _scan_registry(M, table.path)
        with self.tracer.span("read.plan") as sp:
            plan = table.new_scan(snapshot_id=snapshot_id).plan(predicate)
        with self.tracer.bookkeeping():
            d = {k: v - before[k] for k, v in _scan_registry(M, table.path).items()}
            self.layer["read.plan_s"] += sp.end - sp.start
            self.layer["read.plans"] += 1
            for k in ("live_files", "resulted_files", "skipped_by_partition",
                      "skipped_by_bucket", "skipped_by_stats"):
                self.layer[f"read.{k}"] += d[k]
            self.layer["manifest.entries"] += d["manifest_entries"]
            if plan.snapshot is not None:
                ms = table.manifests
                self.layer["manifest.files"] += (
                    len(ms.read_manifest_list(plan.snapshot.base_manifest_list))
                    + len(ms.read_manifest_list(plan.snapshot.delta_manifest_list)))
        return plan

    def scan(self, table, action, predicate=None, snapshot_id=None,
             layer: str = "spark.exec_s"):
        """plan → ``plan_to_df`` → action: the sequence ``Table.read`` runs,
        split so planning and Spark execution are timed apart. Without an
        action the DataFrame itself is returned."""
        from incubator_paimon_spark.read import plan_to_df
        plan = self.plan(table, predicate, snapshot_id)
        with self.span("read.to_df"):
            df = plan_to_df(self.spark, table, plan)
        if action is None:
            return df
        with self.span(layer) as sp:
            out = action(df)
        if sp is not None:
            self.layer[layer] += sp.end - sp.start
        return out

    def timed_span(self, name: str, fn):
        """Run ``fn`` inside span ``name`` and add its duration to layer
        ``name`` + ``_s`` when traced."""
        with self.span(name) as sp:
            out = fn()
        if sp is not None:
            self.layer[name + "_s"] += sp.end - sp.start
        return out

    def refresh(self, query):
        return self.timed_span("query.refresh", query.refresh)

    def lookup(self, query, keys):
        """``lookup_many`` plus the batch's index-cache hit ratio: one minus
        the share of the table's live data files the batch had to load.
        The query has no public view of its cache, so the cache's keys are
        read, never changed; if they cannot be read the ratio stays 0."""
        if not self.tracer.active:
            return query.lookup_many(keys)
        with self.tracer.bookkeeping():
            before = _cached_files(query)
        out = self.timed_span("query.lookup", lambda: query.lookup_many(keys))
        with self.tracer.bookkeeping():
            after = _cached_files(query)
            if before is not None and after is not None:
                self.layer["query.loaded_files"] += len(after - before)
                self.layer["query.live_files"] += len(self.live_sizes(query.table))
        return out

    # ------------------------------------------------------------------
    # figures
    def amp_baseline(self) -> None:
        """Mark the current snapshot of every tracked table: write
        amplification counts the snapshots committed after this point."""
        for t in self.tables:
            self.amp_start[t.path] = t.snapshots.latest_id() or 0

    def write_amp(self) -> float:
        entries = []
        for t in self.tables:
            for sid in range(self.amp_start.get(t.path, 0) + 1,
                             (t.snapshots.latest_id() or 0) + 1):
                s = t.snapshots.read(sid)
                entries += [(s.commit_kind, e.kind, e.file.file_size)
                            for e in t.manifests.read_all_entries(s.delta_manifest_list)]
        return stats.write_amp(entries)

    @staticmethod
    def live_sizes(table) -> list[int]:
        return [e.file.file_size for e in table.entries_at()]

    def result(self, extra_e2e: dict) -> dict:
        if self.trace:
            return self._per_layer()
        head = HEADLINE[self.workload]
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "py_peak_rss_mb": (_hwm_mb("self"), "MB"),
            "op_p50_s": (stats.median(self.samples[head]), "s"),
            "rows_per_s": (self.rows[head] / sum(self.samples[head]), "1/s"),
            "agg_rows_per_s": (self.rows["agg"] / sum(self.samples["agg"]), "1/s"),
            "lookup_keys_per_s": (self.rows["lookup"] / sum(self.samples["lookup"]), "1/s"),
        }
        metrics.update(extra_e2e)
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    def _per_layer(self) -> dict:
        L = self.layer
        m = {
            "session.start_s": (self.session_start_s, "s"),
            "session.jvm_peak_rss_mb": (_hwm_mb(self.jvm_pid), "MB"),
            "setup.load_s": (self.load_s, "s"),
            "read.kept_ratio": (L["read.resulted_files"] / L["read.live_files"]
                                if L["read.live_files"] else 0.0, "ratio"),
            "query.hit_ratio": (1.0 - L["query.loaded_files"] / L["query.live_files"]
                                if L["query.live_files"] else 0.0, "ratio"),
            "dedup.kept_ratio": (L["dedup.kept"] / L["dedup.docs"]
                                 if L["dedup.docs"] else 0.0, "ratio"),
            "trace.overhead_ratio": (self.tracer.bookkeeping_s / self.timed_s
                                     if self.timed_s else 0.0, "ratio"),
            "trace.bookkeeping_s": (self.tracer.bookkeeping_s, "s"),
            "ops.failed_ratio": (self.failed / max(self.attempted, 1), "ratio"),
        }
        totals = {
            "write.self_s": "s", "write.files_added": "count",
            "write.data_bytes_added": "bytes", "commit.s": "s",
            "commit.attempts": "count", "commit.retries": "count",
            "compact.s": "s", "compact.performed": "count",
            "compact.bytes_rewritten": "bytes", "read.plan_s": "s",
            "read.live_files": "count", "read.resulted_files": "count",
            "read.skipped_by_partition": "count",
            "read.skipped_by_bucket": "count", "read.skipped_by_stats": "count",
            "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
            "spark.tasks": "count", "query.refresh_s": "s", "query.lookup_s": "s",
            "formats.avro_write_s": "s", "formats.avro_read_s": "s",
            "dedup.minhash_s": "s", "dedup.clusters_s": "s", "dedup.exact_s": "s",
            "dedup.candidate_pairs": "count",
        }
        for k, unit in totals.items():
            m[k] = (L[k], unit)
        # manifest sizes are per plan, not totals
        plans = max(L["read.plans"], 1)
        m["manifest.files"] = (L["manifest.files"] / plans, "count")
        m["manifest.entries"] = (L["manifest.entries"] / plans, "count")
        return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}

    def summary(self) -> dict:
        """Every op type's median and tail with its sample count, the driver
        JVM's peak RSS, and the CPU steal time during the run: time the
        hypervisor gave the CPUs to other guests (a noisy-neighbour
        diagnostic)."""
        out = {}
        for kind, samples in sorted(self.samples.items()):
            out[kind] = stats.summarize(samples)
        out["jvm_peak_rss_mb"] = _hwm_mb(self.jvm_pid)
        out["steal_s"] = _steal_s() - self.steal0
        return out


def _registry(M, path: str) -> dict:
    return {
        "commit.ops": M.get(path, "commit", "ops"),
        "commit.duration_ms": M.get(path, "commit", "total_duration_ms"),
        "commit.attempts": M.get(path, "commit", "total_attempts"),
        "commit.retries": M.get(path, "commit", "total_retries"),
        "compaction.duration_ms": M.get(path, "compaction", "total_duration_ms"),
        "compaction.performed": M.get(path, "compaction", "total_performed"),
    }


def _scan_registry(M, path: str) -> dict:
    return {k: M.get(path, "scan", f"total_{k}") for k in (
        "manifest_entries", "live_files", "resulted_files",
        "skipped_by_partition", "skipped_by_bucket", "skipped_by_stats")}


def _cached_files(query) -> set | None:
    cache = getattr(query, "_file_cache", None)
    return None if cache is None else set(cache)
