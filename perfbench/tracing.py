"""Traced runs: spans and counts recorded from the benchmark's side of
each layer boundary, kept in memory and written when the run ends.

Span tree (every span carries the run's trace id):

    workload -> phase (catchup / live / backfill / pass)
             -> micro-batch (from StreamingQueryListener progress)
             -> merge_batch (wrapper around StateTable.merge_batch)
    workload -> query -> build / exec, build -> load_table (wrapped
             where ``__spark_entry__`` binds it)

Jobs and stages are attributed through job groups and
``SparkContext.statusTracker()``.  A layer's self time is its spans'
duration minus the part covered by their children.  Every per-layer
metric is printed by every workload; a layer a workload never reaches
reads 0 (README.md says which layers each workload reaches).
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import asdict, dataclass

import numpy as np

# per_layer metrics of BENCHMARK.json: name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "stream.latestOffset_ms": "ms",
    "stream.getBatch_ms": "ms",
    "sources.scans_per_batch": "ratio",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "query.jobs_build": "count",
    "transform.rows_out_per_in": "ratio",
    "compact.keys_out_per_ops_in": "ratio",
    "merge.busy_s": "s",
    "merge.jobs_per_batch": "count",
    "merge.stages_per_batch": "count",
    "merge.state_rows": "count",
    "merge.state_bytes": "bytes",
    "merge.bytes_written_per_batch": "bytes",
    "merge.touched_per_rewritten": "ratio",
    "stream.addBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.files_per_batch": "count",
    "stream.idle_s": "s",
    "gen.late_s_max": "s",
    "query.build_s": "s",
    "query.exec_s": "s",
    "query.jobs_exec": "count",
    "query.stages_exec": "count",
    "query.build_share": "ratio",
    "self.bench_s": "s",
    "self.phase_s": "s",
    "self.micro_batch_s": "s",
    "self.merge_batch_s": "s",
    "self.build_s": "s",
    "self.exec_s": "s",
    "self.load_table_s": "s",
    "tracing.overhead_frac": "ratio",
    "cdc.scale_ratio": "ratio",
}

# span name -> the self-time metric it feeds
_SELF = {
    "workload": "self.bench_s",
    "catchup": "self.phase_s",
    "live": "self.phase_s",
    "backfill": "self.phase_s",
    "pass": "self.phase_s",
    "micro_batch": "self.micro_batch_s",
    "merge_batch": "self.merge_batch_s",
    "query": "self.bench_s",
    "build": "self.build_s",
    "exec": "self.exec_s",
    "load_table": "self.load_table_s",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


class _Null:
    """Stand-in for untraced runs: spans cost nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    @contextlib.contextmanager
    def traced(self, on: bool = True):
        yield None

    @contextlib.contextmanager
    def job_group(self, name: str):
        yield []


NULL = _Null()
ALTERNATE = "alternate"  # Tracer.traced(ALTERNATE): wrap every other merge


class Tracer:
    enabled = True

    def __init__(self, bench):
        self.bench = bench
        self.trace_id = f"{bench.workload}-seed{bench.seed}-{os.getpid()}"
        self.spans: list[Span] = []
        self.values: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._hooks = False  # wrappers record only while this is set
        self._merges: list[dict] = []
        self.merge_flags: list[bool] = []  # per merge under ALTERNATE: wrapped?
        self._root = self._open("workload", None)

    # --- spans -------------------------------------------------------
    def _open(self, name: str, parent: int | None) -> Span:
        with self._lock:
            span = Span(len(self.spans), name, time.time(), float("nan"), parent, self.trace_id)
            self.spans.append(span)
        return span

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self._root.id
        span = self._open(name, parent)
        stack.append(span.id)
        try:
            yield span
        finally:
            span.end = time.time()
            stack.pop()

    def add_span(self, name: str, start: float, end: float, parent: int) -> Span:
        span = self._open(name, parent)
        span.start, span.end = start, end
        return span

    @contextlib.contextmanager
    def traced(self, on: bool | str = True):
        """Turn the merge / load_table wrappers on (or off, or on for
        every other merge) for a block: the untraced side of an
        overhead comparison runs with them off."""
        prev, self._hooks = self._hooks, on
        try:
            yield
        finally:
            self._hooks = prev

    # --- jobs and stages ---------------------------------------------
    @contextlib.contextmanager
    def job_group(self, name: str):
        """Run the block under a fresh job group; yields a list that is
        filled with (jobs, stages) when the block ends.  The caller's
        job group is restored afterwards (a stream's thread carries
        its run id as the group)."""
        sc = self.bench.spark.sparkContext
        keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        saved = {k: sc.getLocalProperty(k) for k in keys}
        gid = f"perfbench-{name}-{len(self.spans)}"
        sc.setJobGroup(gid, name)
        out: list[int] = []
        try:
            yield out
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
            out.extend(self._count(gid))

    def _count(self, gid: str) -> tuple[int, int]:
        tracker = self.bench.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages.add(s)
        return len(jobs), len(stages)

    # --- wrappers around public entry points ---------------------------
    def wrap_merge(self) -> None:
        """Wrap ``StateTable.merge_batch``: span, jobs/stages, and the
        rows/bytes of the version it commits."""
        from monstache_spark.sinks.merge import StateTable

        original = StateTable.merge_batch
        tracer = self

        def merge_batch(state, ops):
            on = tracer._hooks
            if on == ALTERNATE:
                on = len(tracer.merge_flags) % 2 == 1
                tracer.merge_flags.append(on)
            if not on:
                return original(state, ops)
            with tracer.span("merge_batch") as span, tracer.job_group("merge") as counts:
                original(state, ops)
            rows, nbytes = _committed(state.path)
            tracer._merges.append(
                {"span": span.id, "jobs": counts[0], "stages": counts[1], "rows": rows, "bytes": nbytes}
            )

        StateTable.merge_batch = merge_batch

    def wrap_load_table(self, entrymod) -> None:
        original = entrymod.load_table
        tracer = self
        calls = [0, 0.0]

        def load_table(*args, **kwargs):
            if not tracer._hooks:
                return original(*args, **kwargs)
            t0 = time.perf_counter()
            with tracer.span("load_table"):
                out = original(*args, **kwargs)
            calls[0] += 1
            calls[1] += time.perf_counter() - t0
            return out

        entrymod.load_table = load_table
        self._load_calls = calls

    # --- layer numbers handed over by the workloads ---------------------
    def add_stream_layers(
        self, catchup, traced_catchup, live, live_window, file_batches, file_rows, touched, gen_late_s_max
    ) -> None:
        """Micro-batch spans and stream-phase numbers from listener
        progress; catch-up batches read one known file each.  A batch
        whose merge ran unwrapped becomes a ``micro_batch.unwrapped``
        span: it covers its phase but feeds no self time, so
        ``self.micro_batch_s`` never includes an unrecorded merge."""
        phases = {s.name: s for s in self.spans if s.name in ("catchup", "live")}
        wrapped = {id(b) for b in traced_catchup} | {id(b) for b in live}
        for name, batches in (("catchup", catchup), ("live", live)):
            parent = phases[name].id if name in phases else self._root.id
            for b in batches:
                kind = "micro_batch" if id(b) in wrapped else "micro_batch.unwrapped"
                self.add_span(kind, b["start"], b["start"] + b["ms"]["triggerExecution"] / 1000.0, parent)
        self._reparent_merges()

        def p50(key, batches):
            vals = [b["ms"].get(key, 0) for b in batches]
            return float(np.median(vals)) if vals else 0.0

        for key in ("latestOffset", "getBatch", "addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            self.values[f"stream.{key}_ms"] = p50(key, catchup)
        rows_by_batch: dict[int, int] = {}
        files_by_batch: dict[int, int] = {}
        for name, b in file_batches.items():
            rows_by_batch[b] = rows_by_batch.get(b, 0) + file_rows.get(name, 0)
            files_by_batch[b] = files_by_batch.get(b, 0) + 1
        scans = [b["rows"] / rows_by_batch[b["batch"]] for b in catchup if rows_by_batch.get(b["batch"])]
        self.values["sources.scans_per_batch"] = float(np.median(scans)) if scans else 0.0
        live_ids = {b["batch"] for b in live}
        live_files = [files_by_batch[i] for i in live_ids if i in files_by_batch]
        self.values["stream.files_per_batch"] = float(np.mean(live_files)) if live_files else 0.0
        busy = sum(b["ms"]["triggerExecution"] for b in live) / 1000.0
        self.values["stream.idle_s"] = max(0.0, (live_window[1] - live_window[0]) - busy)
        self.values["gen.late_s_max"] = gen_late_s_max
        # distinct keys a catch-up batch touches / state rows its merge rewrote
        catchup_merges = [m for m in self._merges if self._phase_of(m["span"]) == "catchup"]
        touched = [t for t, on in zip(touched, self.merge_flags) if on]
        ratios = [t / m["rows"] for t, m in zip(touched, catchup_merges) if m["rows"]]
        self.values["merge.touched_per_rewritten"] = float(np.mean(ratios)) if ratios else 0.0

    def _phase_of(self, span_id: int) -> str | None:
        s = self.spans[span_id]
        while s.parent is not None:
            s = self.spans[s.parent]
            if s.name in _SELF and s.name not in ("micro_batch", "merge_batch", "workload"):
                return s.name
        return None

    def _reparent_merges(self) -> None:
        """A merge runs inside its micro-batch's addBatch: hang each
        merge span under the batch whose interval holds its midpoint."""
        batches = [s for s in self.spans if s.name == "micro_batch"]
        for m in self.spans:
            if m.name != "merge_batch":
                continue
            mid = (m.start + m.end) / 2
            for b in batches:
                if b.start <= mid <= b.end:
                    m.parent = b.id
                    break

    def add_op_layers(self, spark, events, cfg) -> None:
        """Ratios at the transform and compaction boundaries, counted
        with the layers' own public functions on the run's input
        (outside every timed region)."""
        from monstache_spark.envelope import events_to_envelope
        from monstache_spark.operators.materialize import last_state
        from monstache_spark.streaming.pipeline import transform

        env = events_to_envelope(events)
        ops_in = env.count()
        ops = transform(env, cfg)
        ops_out = ops.count()
        keys = last_state(ops).count()
        self.values["transform.rows_out_per_in"] = ops_out / ops_in if ops_in else 0.0
        self.values["compact.keys_out_per_ops_in"] = keys / ops_out if ops_out else 0.0

    def add_state_layers(self, state) -> None:
        rows, nbytes = _committed(state.path)
        self.values["merge.state_rows"] = float(rows)
        self.values["merge.state_bytes"] = float(nbytes)

    def add_queries(self, builds: list[tuple[int, int]], execs: list[tuple[int, int]]) -> None:
        self.values["query.jobs_build"] = float(sum(j for j, _ in builds))
        self.values["query.jobs_exec"] = float(sum(j for j, _ in execs))
        self.values["query.stages_exec"] = float(sum(s for _, s in execs))
        calls = getattr(self, "_load_calls", [0, 0.0])
        self.values["sources.load_table_calls"] = float(calls[0])
        self.values["sources.load_table_s"] = calls[1]

    # --- the end of the run --------------------------------------------
    def finish(self, res) -> None:
        self._root.end = time.time()
        self._reparent_merges()
        merges = [self.spans[m["span"]] for m in self._merges]
        v = self.values
        v["session.start_s"] = self.bench.session_start_s
        if merges:
            v["merge.busy_s"] = sum(s.end - s.start for s in merges)
            v["merge.jobs_per_batch"] = float(np.mean([m["jobs"] for m in self._merges]))
            v["merge.stages_per_batch"] = float(np.mean([m["stages"] for m in self._merges]))
            v["merge.bytes_written_per_batch"] = float(np.mean([m["bytes"] for m in self._merges]))
        build = sum(s.end - s.start for s in self.spans if s.name == "build")
        execute = sum(s.end - s.start for s in self.spans if s.name == "exec")
        v["query.build_s"] = build
        v["query.exec_s"] = execute
        v["query.build_share"] = build / (build + execute) if build + execute else 0.0
        for metric in set(_SELF.values()):
            v[metric] = 0.0
        for name, total in self_times(self.spans).items():
            if name in _SELF:  # unwrapped batches only cover their phase
                v[_SELF[name]] += total
        res.layers = {k: float(v.get(k, 0.0)) for k in PER_LAYER}
        out = os.path.join(self.bench.root, ".perfbench_work", "traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{self.trace_id}.json"), "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], "layers": res.layers}, f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part of each span's
    interval covered by its children."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    totals: dict[str, float] = {}
    for s in spans:
        if not np.isfinite(s.end):
            continue
        covered, cur_end = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        totals[s.name] = totals.get(s.name, 0.0) + max(0.0, s.end - s.start - covered)
    return totals


def _committed(state_dir: str) -> tuple[int, int]:
    """(rows, bytes) of a StateTable's current committed version, read
    from parquet footers and file sizes (no Spark job)."""
    import pyarrow.parquet as pq

    try:
        with open(os.path.join(state_dir, "CURRENT")) as f:
            version_dir = os.path.join(state_dir, f"v{int(f.read().strip())}")
    except FileNotFoundError:
        return 0, 0
    rows = nbytes = 0
    for name in os.listdir(version_dir):
        path = os.path.join(version_dir, name)
        if name.endswith(".parquet"):
            rows += pq.ParquetFile(path).metadata.num_rows
        if not name.startswith((".", "_")):
            nbytes += os.path.getsize(path)
    return rows, nbytes


def overhead(untraced: list[float], traced: list[float]) -> float:
    """Relative cost of tracing: traced over untraced time, minus one."""
    return float(np.median(traced) / np.median(untraced) - 1.0)


def scale_ratio(root: str, args, res) -> float:
    """Median catch-up micro-batch time on local[1] over the same on
    local[all cores]; the local[1] catch-up runs in its own process
    after this one's JVM has ended."""
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", "cdc_stream",
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", "0",
        "--cores", "1",
        "--catchup-only",
    ]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=170, check=True)
    single = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["step_p50_s"]["value"]
    return single / res.metrics["step_p50_s"]
