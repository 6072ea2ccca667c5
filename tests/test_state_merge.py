"""StateTable.merge_batch across batch cuts, with hand-built version ties.

The version guard (tsVersion monstache.go:4053-4063, delete versioning
monstache.go:4077-4080) must make the committed state — tombstones
included — a pure function of the op stream: cutting the stream into
1-3 micro-batches must not change it.  Each example is checked against
the unsplit merge AND against a small pure-Python statement of the tie
rules (``_model``)."""

from __future__ import annotations

import datetime as dt
import uuid

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from monstache_spark.sinks.merge import StateTable

NAMESPACES = ("test.a", "test.b")
DROPS = ("drop", "dropDatabase")
ENV_SCHEMA = (
    "op string, ns string, id string, ts timestamp, ts_ord long, "
    "source string, value double, k long, version long"
)


def _value(ns: str, kid: int, v: int) -> float:
    # the payload is a function of (key, version): two upserts at one
    # version are then the same row, as a replay of one event is
    return float(v * 100 + kid * 10 + NAMESPACES.index(ns))


def _hits(drop_op: str, drop_ns: str, ns: str) -> bool:
    return ns == drop_ns if drop_op == "drop" else ns.split(".", 1)[0] == drop_ns


@st.composite
def _streams(draw):
    """(ops in delivery order, cut points).  Versions come from a tiny
    range so upsert/delete ties and exact duplicates are common.  An
    optional drop ties the version of a row delivered before it; ops
    delivered after a drop of their namespace are strictly newer than
    the drop (oplog order — a tying op can only precede the drop)."""
    ops = draw(
        st.lists(
            st.tuples(
                st.sampled_from(["i", "u", "d"]),
                st.sampled_from(NAMESPACES),
                st.integers(0, 2),
                st.integers(1, 6),
            ),
            min_size=1,
            max_size=10,
        )
    )
    if draw(st.booleans()):
        pos = draw(st.integers(1, len(ops)))
        _, tied_ns, _, v = ops[draw(st.integers(0, pos - 1))]
        kind = draw(st.sampled_from(DROPS))
        ns = tied_ns if kind == "drop" else tied_ns.split(".", 1)[0]
        after = [o for o in ops[pos:] if not (_hits(kind, ns, o[1]) and o[3] <= v)]
        ops = ops[:pos] + [(kind, ns, None, v)] + after
    cuts = draw(st.lists(st.integers(0, len(ops)), max_size=2))
    return ops, sorted(cuts)


def _model(ops):
    """The tie rules in plain Python: per key the op with the largest
    (version, is_delete) wins — a delete beats an upsert at its version,
    equal rows are interchangeable; a winning delete is a stored
    tombstone.  A drop then erases every row of its namespace(s) at or
    below its version."""
    best: dict = {}
    for op, ns, kid, v in ops:
        if op in DROPS:
            continue
        cand = (v, op == "d")
        best[(ns, kid)] = max(best.get((ns, kid), cand), cand)
    drops = [(op, ns, v) for op, ns, _, v in ops if op in DROPS]
    return sorted(
        (ns, str(kid), v, tomb, None if tomb else _value(ns, kid, v))
        for (ns, kid), (v, tomb) in best.items()
        if not any(_hits(dop, dns, ns) and v <= dv for dop, dns, dv in drops)
    )


def _df(spark, ops):
    rows = [
        (
            op, ns, None if kid is None else str(kid),
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=v), v, "oplog",
            None if op in DROPS else _value(ns, kid, v), v, v,
        )
        for op, ns, kid, v in ops
    ]
    return spark.createDataFrame(rows, ENV_SCHEMA)


def _state(table):
    df = table.read(include_tombstones=True)
    return sorted(
        (r["ns"], r["id"], r["version"], r["_tomb"], r["last_value"])
        for r in df.collect()
    )


def _merged(spark, root, batches):
    table = StateTable(spark, f"{root}/{uuid.uuid4().hex}")
    for ops in batches:
        table.merge_batch(_df(spark, ops))
    return _state(table)


A, B = NAMESPACES


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(stream=_streams())
# a stored tombstone vs a later batch's upsert at the same version
@example(stream=([("i", A, 0, 1), ("d", A, 0, 3), ("u", A, 0, 3)], [2]))
# a batch delete vs a stored upsert at the same version
@example(stream=([("u", A, 0, 3), ("i", B, 1, 2), ("d", A, 0, 3)], [2]))
# exact duplicate replays, upserts and deletes, across and within cuts
@example(stream=(
    [("i", A, 1, 2), ("u", A, 1, 4), ("d", B, 0, 5), ("i", A, 1, 2),
     ("u", A, 1, 4), ("d", B, 0, 5)],
    [1, 4],
))
# a drop mid-batch that ties a row's version; the newer re-create lives
@example(stream=(
    [("i", A, 0, 2), ("i", B, 2, 3), ("i", A, 1, 4), ("drop", A, None, 4),
     ("i", A, 1, 5)],
    [1],
))
@example(stream=(
    [("d", B, 0, 3), ("i", A, 2, 3), ("dropDatabase", "test", None, 3),
     ("u", B, 0, 6)],
    [2, 3],
))
def test_merge_batch_cut_invariant_with_version_ties(spark, tmp_path, stream):
    ops, cuts = stream
    bounds = [0, *cuts, len(ops)]
    batches = [ops[lo:hi] for lo, hi in zip(bounds, bounds[1:])]
    whole = _merged(spark, tmp_path, [ops])
    assert whole == _model(ops)
    assert _merged(spark, tmp_path, batches) == whole


def test_merge_runs_at_most_three_jobs(spark, tmp_path):
    """One exchange per merge: the drop-list collect plus the shuffle
    and write of the single keyed pick.  Counted like the benchmark
    tracer does (a job group + statusTracker) on the second merge of a
    batch, so the state read reuses the schema its last commit wrote."""
    table = StateTable(spark, str(tmp_path / "pin"))
    table.merge_batch(_df(spark, [("i", A, k, 1) for k in range(20)]))
    batch = [("u", A, 1, 5), ("d", A, 2, 6), ("i", B, 0, 7), ("u", A, 1, 4)]
    table.merge_batch(_df(spark, batch))
    ops = _df(spark, batch)
    sc = spark.sparkContext
    gid = f"merge-job-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "merge job pin")
    try:
        table.merge_batch(ops)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) <= 3
