"""The ``query_mix`` workload: one closed-loop client runs a seed-chosen,
stratified sample of the registry (``__spark_entry__.queries()``) over
tables generated by ``tables.py``, each query forced through a ``noop``
write.  A warm pass in setup runs the same sample once, collecting each
result and checking it against the query's ``oracle_sql()`` on DuckDB.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import time

import duckdb
import numpy as np

import tables
import tracing
from harness import Bench, Result, percentiles

TABLE_SEED = 42  # the tables are fixed; the seed picks the sample
TABLE_SCALE = 0.1  # x the repository's sf0.1 row counts (sf0.01 sizes)
POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_pool.json")
PASSES = 2
SETUP_ROUNDS = 3  # table generations; setup_s counts the median


def sample(seed: int, scale: float = 1.0) -> list[str]:
    """``take`` queries from each stratum of the pool, in seeded order."""
    with open(POOL) as f:
        strata = json.load(f)["strata"]
    rng = np.random.default_rng(seed)
    picked: list[str] = []
    for stratum in strata:
        take = max(1, round(stratum["take"] * scale))
        picked += list(rng.choice(stratum["queries"], size=take, replace=False))
    rng.shuffle(picked)
    return [str(q) for q in picked]


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    return repr(v)


def signature(cols: list[str], rows: list[tuple]) -> tuple[list[str], int, str]:
    """Sorted column names, row count and an order-insensitive hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    digest = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return [cols[i] for i in order], len(lines), digest


class Oracle:
    """DuckDB over the same parquet tables."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in tables.ROWS.keys() | {"region", "nation"}:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def check(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the engine's rows match the oracle, else why not."""
        res = self.con.execute(sql)
        want = signature([d[0] for d in res.description], res.fetchall())
        got = signature(cols, rows)
        if got == want:
            return None
        return f"engine {got[1]} rows {got[0]} vs oracle {want[1]} rows {want[0]}"

    def close(self) -> None:
        self.con.close()


def _run_once(spark, fn, sf_dir: str, tracer, name: str, wrapped: bool = True):
    """Build then execute one query; returns (build_s, exec_s, build
    jobs/stages, exec jobs/stages).  An unwrapped run (the untraced
    side of the overhead comparison) records only its covering span."""
    with tracer.span("query" if wrapped else "query.unwrapped"):
        if not wrapped:
            tracer = tracing.NULL
        t0 = time.perf_counter()
        with tracer.span("build"), tracer.job_group(f"build-{name}") as bj:
            df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        with tracer.span("exec"), tracer.job_group(f"exec-{name}") as ej:
            df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
    return t1 - t0, t2 - t1, tuple(bj), tuple(ej)


def query_mix(bench: Bench, tracer) -> Result:
    import __spark_entry__ as entrymod

    res = Result()
    names = sample(bench.seed, bench.scale)
    registry = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = bench.start_session()
    # the tables, SETUP_ROUNDS times from the same seed (the last ones
    # are read), then one warm pass
    gens = []
    for rnd in range(SETUP_ROUNDS):
        sf_dir = bench.path(f"tables{rnd}")
        t_gen = time.perf_counter()
        tables.generate(sf_dir, TABLE_SEED, TABLE_SCALE)
        gens.append(time.perf_counter() - t_gen)
    oracle = Oracle(sf_dir)
    check_s = 0.0
    # warm pass: every sampled query once, its result checked (untimed)
    t_warm = time.perf_counter()
    for name in names:
        try:
            df = registry[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            t_check = time.perf_counter()
            why = oracle.check(oracles[name], df.columns, rows)
            check_s += time.perf_counter() - t_check
        except Exception as e:  # a failing query is counted, not fatal
            why = f"{type(e).__name__}: {e}"
        res.attempted += 1
        if why is not None:
            res.failed += 1
            print(f"perfbench: {name}: {why}")
    warm_s = time.perf_counter() - t_warm - check_s
    oracle.close()
    setup_s = bench.session_start_s + float(np.median(gens)) + warm_s
    res.metrics["setup_s"] = setup_s
    res.name(
        "query_setup_s",
        setup_s,
        "s",
        f"session {bench.session_start_s:.3f} s + median table generation "
        + ", ".join(f"{g:.3f}" for g in gens)
        + f" + warm pass {warm_s:.3f} s",
    )

    if tracer.enabled:
        tracer.wrap_load_table(entrymod)
    # PASSES timed passes, keeping each query's best as bench.py does: a
    # run hit by another tenant's burst on a shared host loses out
    passes = []
    builds, execs, untraced, traced = [], [], [], []
    for _ in range(1 if tracer.enabled else PASSES):
        runs = {}
        with tracer.span("pass"):
            t_pass = time.perf_counter()
            for i, name in enumerate(names):
                fn = registry[name]
                res.attempted += 1
                try:
                    if tracer.enabled:
                        # alternate which goes first so warmth favours neither
                        for hooks in ((False, True) if i % 2 == 0 else (True, False)):
                            with tracer.traced(hooks):
                                b, x, bj, ej = _run_once(spark, fn, sf_dir, tracer, name, wrapped=hooks)
                            (traced if hooks else untraced).append(b + x)
                            if hooks:
                                builds.append(bj)
                                execs.append(ej)
                    else:
                        b, x, _, _ = _run_once(spark, fn, sf_dir, tracer, name)
                except Exception as e:  # a failing query is counted, not fatal
                    res.failed += 1
                    print(f"perfbench: {name}: {type(e).__name__}: {e}")
                    continue
                print(f"query {name:40s} build {b:8.4f} s  exec {x:8.4f} s")
                runs[name] = b + x
            passes.append((time.perf_counter() - t_pass, runs))
    if tracer.enabled:
        tracer.add_queries(builds, execs)
        tracer.values["tracing.overhead_frac"] = tracing.overhead(untraced, traced)
    # throughput from the fastest pass; per-query latency from each
    # query's fastest run.  A closed loop has no lag of its own: the next
    # query starts when the last one ends, so the lag slots repeat the
    # latency percentiles.
    pass_s = min(p[0] for p in passes)
    completed = [name for name in names if all(name in p[1] for p in passes)]
    latencies = [min(p[1][name] for p in passes) for name in completed]

    q50, q90 = percentiles(latencies)
    qps = len(latencies) / pass_s
    res.metrics.update(
        throughput_per_s=qps, step_p50_s=q50, step_p90_s=q90, lag_p50_s=q50, lag_p90_s=q90
    )
    res.name("query_latency_p50_s", q50, "s", f"n={len(latencies)} queries")
    res.name("query_latency_p90_s", q90, "s", f"n={len(latencies)} queries")
    res.name("query_pass_s", pass_s, "s", f"{len(names)} queries, 1 client, best of {len(passes)} passes")
    return res
