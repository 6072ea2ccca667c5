"""The two CDC workloads: ``cdc_stream`` (resume, then tail) and
``cdc_backfill`` (one large direct read into an empty table).

Both drive the engine only through ``streaming.pipeline.run_stream`` /
``run_batch`` with a ``PipelineConfig``, and both end with an untimed
check of the final ``StateTable.read()`` against a DuckDB last-state
computed independently from the generated op files (``reference.py``).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

import numpy as np

import opgen
import reference
import tracing
from harness import Bench, Result, percentiles

# --- cdc_stream shape (fixed: later commits must see the same traffic) ---
STREAM_KEYSPACE = 250_000  # seed inserts one op per key -> 150k live keys
CATCHUP_FILES = 7  # pre-staged backlog, one file per micro-batch, after
# one more file whose batch warms the streaming path and is not measured
CATCHUP_OPS_PER_FILE = 5_000
# open loop: 10 files/s x 120 ops = 1,200 ops/s, about half the
# 2,300-3,000 ops/s catch-up rate measured at the benchmark's first commit
LIVE_FILES_PER_S = 10.0
LIVE_OPS_PER_FILE = 120
LIVE_LEAD_IN_S = 2  # files written but not measured while the restarted stream settles
LIVE_SECONDS = 10  # then 100 measured files over five to seven micro-batches
LIVE_FILES = 100  # the lag p90 needs at least this many files
SETUP_ROUNDS = 3  # setup_s is the median round (the first one is cold)

# --- cdc_backfill shape ---
BACKFILL_KEYSPACE = 1_000_000
BACKFILL_FILES = 3
BACKFILL_OPS_PER_FILE = 200_000
BACKFILL_REPS = 3  # each into a fresh, empty table

GUARDED_RESIDUES = (3, 4)  # user_id % 5 -> system / chunks namespaces


def _events_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _config(bench: Bench, name: str, **kw):
    from monstache_spark.streaming.pipeline import PipelineConfig

    return PipelineConfig(
        checkpoint_dir=bench.path(name, "checkpoint"),
        state_dir=bench.path(name, "state"),
        **kw,
    )


def _read_events(spark, *paths: str):
    from monstache_spark.sources.testdata import normalize_nanos

    return normalize_nanos(spark.read.schema(_events_schema()).parquet(*paths))


def _batch_files(checkpoint_dir: str) -> dict[str, int]:
    """file name -> first batch id that consumed it, read from the
    file-stream source's log in the checkpoint (compacted or not)."""
    first: dict[str, int] = {}
    for log in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        if os.path.basename(log).startswith("."):
            continue
        with open(log) as f:
            lines = f.read().splitlines()[1:]  # line 0 is the log version
        for line in lines:
            if not line.strip():
                continue
            entry = json.loads(line)
            name = os.path.basename(unquote(urlparse(entry["path"]).path))
            first[name] = min(first.get(name, entry["batchId"]), entry["batchId"])
    return first


def _commit_time(checkpoint_dir: str, batch_id: int) -> float | None:
    try:
        return os.stat(os.path.join(checkpoint_dir, "commits", str(batch_id))).st_mtime
    except FileNotFoundError:
        return None


class ProgressLog:
    """Collects ``StreamingQueryProgress`` events from outside the
    program (a ``StreamingQueryListener``)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        self._lock = threading.Lock()
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with log._lock:
                    log.events.append(
                        {
                            "run": str(p.runId),
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "start": _iso_to_epoch(p.timestamp),
                            "ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def batches(self, since: int = 0) -> list[dict]:
        """Progress of batches that read data, from event ``since`` on."""
        with self._lock:
            return [e for e in self.events[since:] if e["rows"] > 0]

    def mark(self) -> int:
        with self._lock:
            return len(self.events)

    def wait_for(self, since: int, n: int, timeout: float = 30.0) -> list[dict]:
        deadline = time.time() + timeout
        while time.time() < deadline:
            got = self.batches(since)
            if len(got) >= n:
                return got
            time.sleep(0.05)
        return self.batches(since)


def _batch_end(progress: dict) -> float:
    return progress["start"] + progress["ms"]["triggerExecution"] / 1000.0


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _valid_keys(user_ids: np.ndarray) -> np.ndarray:
    """Distinct keys that survive the namespace guards."""
    u = np.unique(user_ids)
    return u[~np.isin(u % 5, GUARDED_RESIDUES)]


@dataclass
class StreamInputs:
    seed_file: str  # one insert per key, written
    backlog: list  # OpBatch per catch-up file, written at catch-up
    live: list  # OpBatch per live file, written by the mover
    event_id: int  # next free event id after the seed file


def _stream_inputs(bench: Bench, name: str, n_backlog: int, n_live: int) -> StreamInputs:
    """Draw every ``cdc_stream`` input from the seed and write the seed
    file; the same seed gives the same ops in every set-up round."""
    rng = np.random.default_rng(bench.seed)
    mix = opgen.KeyMix(STREAM_KEYSPACE)
    hot = mix.hot_keys(rng)
    seed_file = bench.path(name, "seed.parquet")
    os.makedirs(bench.path(name))
    event_id = opgen.write_ops(seed_file, opgen.seed_ops(rng, STREAM_KEYSPACE), 0)
    backlog = [opgen.draw_ops(rng, mix.draw(rng, hot, CATCHUP_OPS_PER_FILE)) for _ in range(n_backlog)]
    live = [opgen.draw_ops(rng, mix.draw(rng, hot, LIVE_OPS_PER_FILE)) for _ in range(n_live)]
    return StreamInputs(seed_file, backlog, live, event_id)


def _check_state(state, op_files: list[str], res: Result) -> None:
    """Untimed: final state vs the DuckDB last-state of every op file."""
    got = state.read()
    res.attempted += 1
    ok, detail = reference.compare_state(got.toArrow(), reference.last_state(op_files))
    if not ok:
        res.failed += 1
        print(f"perfbench: state mismatch: {detail}")


def cdc_stream(bench: Bench, tracer, catchup_only: bool = False) -> Result:
    """Seed 150k live keys, drain a pre-staged backlog one file per
    micro-batch (closed loop), then tail an open-loop source."""
    from monstache_spark.streaming.pipeline import run_batch, run_stream

    res = Result()
    n_backlog = max(2, round(CATCHUP_FILES * bench.scale))
    n_lead = round(LIVE_FILES_PER_S * LIVE_LEAD_IN_S)
    n_live = max(LIVE_FILES, round(LIVE_FILES_PER_S * LIVE_SECONDS * bench.scale))
    src = bench.path("source")
    staging = bench.path("staging")
    os.makedirs(src)
    os.makedirs(staging)

    spark = bench.start_session()
    progress = ProgressLog(spark)
    schema = _events_schema()
    glob_path = os.path.join(src, "*.parquet")

    # set-up, SETUP_ROUNDS times from the same seed: the inputs and the
    # seeded state table.  The last round's table and inputs are the
    # ones measured.
    rounds = []
    for rnd in range(1 if catchup_only else SETUP_ROUNDS):
        t_round = time.perf_counter()
        name = f"round{rnd}"
        inputs = _stream_inputs(bench, name, 1 + n_backlog, n_lead + n_live)
        state = run_batch(spark, _read_events(spark, inputs.seed_file), _config(bench, name))
        rounds.append(time.perf_counter() - t_round)
    setup_s = bench.session_start_s + float(np.median(rounds))
    res.metrics["setup_s"] = setup_s
    res.name(
        "cdc_setup_s",
        setup_s,
        "s",
        f"session {bench.session_start_s:.3f} s + median of rounds "
        + ", ".join(f"{r:.3f}" for r in rounds),
    )
    seed_file, backlog, live, event_id = inputs.seed_file, inputs.backlog, inputs.live, inputs.event_id

    # catch-up: closed loop, one file per micro-batch.  The first batch
    # runs the streaming path cold and is left out; the drain is timed
    # from its commit to the last batch's.  A traced run wraps every
    # other merge, so tracing.overhead_frac compares neighbouring
    # batches with the wrappers off and on.
    backlog_files = []
    for ops in backlog:
        path = os.path.join(src, f"backlog-{len(backlog_files):05d}.parquet")
        event_id = opgen.write_ops(path, ops, event_id)
        backlog_files.append(path)
    if tracer.enabled:
        tracer.wrap_merge()
    mark = progress.mark()
    with tracer.span("catchup"), tracer.traced(tracing.ALTERNATE):
        run_stream(spark, glob_path, _config(bench, name, max_files_per_trigger=1), events_schema=schema)
    batches = progress.wait_for(mark, len(backlog))
    measured = batches[1:]
    traced_batches = batches
    if tracer.enabled:
        flags = tracer.merge_flags
        traced_batches = [b for b, on in zip(batches, flags) if on]
        tracer.values["tracing.overhead_frac"] = tracing.overhead(
            [b["ms"]["triggerExecution"] for b, on in zip(measured, flags[1:]) if not on],
            [b["ms"]["triggerExecution"] for b, on in zip(measured, flags[1:]) if on],
        )
    res.attempted += 1
    if len(batches) != len(backlog):
        print(f"perfbench: catch-up ran {len(batches)} data batches, expected {len(backlog)}")
        res.failed += 1
        measured = measured or [{"start": 0.0, "ms": {"triggerExecution": float("nan")}}]
    trig = [b["ms"]["triggerExecution"] / 1000.0 for b in measured]
    catchup_s = _batch_end(batches[-1]) - _batch_end(batches[0]) if len(batches) > 1 else float("nan")
    n_ops = n_backlog * CATCHUP_OPS_PER_FILE
    ops_per_s = n_ops / catchup_s
    b50, b90 = percentiles(trig)
    res.metrics.update(throughput_per_s=ops_per_s, step_p50_s=b50, step_p90_s=b90)
    res.name("cdc_catchup_ops_per_s", ops_per_s, "ops/s", f"{n_ops} ops in {catchup_s:.3f} s")
    res.name("cdc_batch_p50_s", b50, "s", f"n={len(trig)} micro-batches")
    res.name("cdc_batch_p90_s", b90, "s", f"n={len(trig)} micro-batches")
    if catchup_only:
        return res

    # live: the stream tails while the mover writes on a fixed schedule
    mark = progress.mark()
    live_cfg = _config(bench, name)
    runner = threading.Thread(
        target=run_stream,
        args=(spark, glob_path, live_cfg),
        kwargs={"events_schema": schema, "drain": False},
        name="live-stream",
        daemon=True,
    )
    with tracer.span("live"), tracer.traced():
        t_live = time.time()
        runner.start()
        while not spark.streams.active and runner.is_alive():
            time.sleep(0.01)
        mover = opgen.OpenLoopMover(src, staging, live, 1.0 / LIVE_FILES_PER_S, event_id)
        mover.start()
        mover.join()
        lags = _await_live_commits(live_cfg.checkpoint_dir, mover.moved[n_lead:], timeout=60.0)
        for q in spark.streams.active:
            q.stop()
        runner.join(timeout=60)
        t_live_end = time.time()
    if lags is None:
        print("perfbench: live files were not all committed")
        res.failed += 1
        lags = [float("nan")]
    res.attempted += 1
    l50, l90 = percentiles(lags)
    res.metrics.update(lag_p50_s=l50, lag_p90_s=l90)
    res.name("cdc_live_lag_p50_s", l50, "s", f"n={len(lags)} files at {LIVE_FILES_PER_S:g} files/s")
    res.name("cdc_live_lag_p90_s", l90, "s", f"n={len(lags)} files at {LIVE_FILES_PER_S:g} files/s")
    res.name("gen_late_s_max", mover.late_s_max(), "s", "open-loop mover: worst write after due time")

    all_files = [seed_file, *backlog_files, *(m.path for m in mover.moved)]
    if tracer.enabled:
        file_batches = _batch_files(live_cfg.checkpoint_dir)
        n_live_batches = len({file_batches[os.path.basename(m.path)] for m in mover.moved})
        tracer.add_stream_layers(
            catchup=batches,
            traced_catchup=traced_batches,
            live=progress.wait_for(mark, n_live_batches),
            live_window=(t_live, t_live_end),
            file_batches=file_batches,
            file_rows={os.path.basename(p): CATCHUP_OPS_PER_FILE for p in backlog_files}
            | {os.path.basename(m.path): LIVE_OPS_PER_FILE for m in mover.moved},
            touched=[len(_valid_keys(b.user_id)) for b in backlog],
            gen_late_s_max=mover.late_s_max(),
        )
        tracer.add_op_layers(spark, _read_events(spark, *backlog_files), live_cfg)
        tracer.add_state_layers(state)
    _check_state(state, all_files, res)
    return res


def _await_live_commits(checkpoint_dir: str, moved, timeout: float) -> list[float] | None:
    """Per live file: commit time of its first batch minus its due time."""
    deadline = time.time() + timeout
    names = [os.path.basename(m.path) for m in moved]
    while time.time() < deadline:
        first = _batch_files(checkpoint_dir)
        if all(n in first for n in names):
            commits = {b: _commit_time(checkpoint_dir, b) for b in set(first[n] for n in names)}
            if all(t is not None for t in commits.values()):
                return [commits[first[n]] - m.due for n, m in zip(names, moved)]
        time.sleep(0.05)
    return None


def cdc_backfill(bench: Bench, tracer) -> Result:
    """Direct-read backfill of a 600k-op log (3 files) into an empty
    state table, repeated into fresh tables after one warm-up backfill."""
    from monstache_spark.streaming.pipeline import run_batch

    res = Result()
    rng = np.random.default_rng(bench.seed)
    mix = opgen.KeyMix(BACKFILL_KEYSPACE)
    hot = mix.hot_keys(rng)
    reps = max(1, round(BACKFILL_REPS * bench.scale))

    t_setup = time.perf_counter()
    spark = bench.start_session()
    log_dir = bench.path("oplog")
    os.makedirs(log_dir)
    event_id = 0
    files = []
    for i in range(BACKFILL_FILES):
        path = os.path.join(log_dir, f"part-{i:05d}.parquet")
        event_id = opgen.write_ops(path, opgen.draw_ops(rng, mix.draw(rng, hot, BACKFILL_OPS_PER_FILE)), event_id)
        files.append(path)
    run_batch(spark, _read_events(spark, log_dir), _config(bench, "warm"))
    res.metrics["setup_s"] = time.perf_counter() - t_setup

    # a traced run alternates reps with the wrappers off and on
    if tracer.enabled:
        tracer.wrap_merge()
        plan = [False, True] * max(1, reps // 2)
    else:
        plan = [False] * reps
    walls = {False: [], True: []}
    state = None
    for rep, hooks in enumerate(plan):
        with (tracer if hooks else tracing.NULL).span("backfill"), tracer.traced(hooks):
            t0 = time.perf_counter()
            state = run_batch(spark, _read_events(spark, log_dir), _config(bench, f"rep{rep}"))
            walls[hooks].append(time.perf_counter() - t0)
    if tracer.enabled:
        tracer.values["tracing.overhead_frac"] = tracing.overhead(walls[False], walls[True])
    walls = walls[False] + walls[True]
    res.attempted += len(walls)
    n_ops = BACKFILL_FILES * BACKFILL_OPS_PER_FILE
    w50, w90 = percentiles(walls)
    ops_per_s = n_ops / w50
    res.metrics.update(
        throughput_per_s=ops_per_s, step_p50_s=w50, step_p90_s=w90, lag_p50_s=w50, lag_p90_s=w90
    )
    res.name("backfill_ops_per_s", ops_per_s, "ops/s", f"{n_ops} ops / median of {len(walls)} backfills")
    res.name("backfill_p50_s", w50, "s", f"n={len(walls)} backfills")
    res.name("backfill_p90_s", w90, "s", f"n={len(walls)} backfills")
    if tracer.enabled:
        tracer.add_op_layers(spark, _read_events(spark, log_dir), _config(bench, "probe"))
        tracer.add_state_layers(state)
    _check_state(state, files, res)
    return res
