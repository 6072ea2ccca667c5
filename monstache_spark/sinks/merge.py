"""Version-guarded merge sink (SURVEY.md §2.6 K1-K6).

The reference's sink is an Elasticsearch BulkProcessor doing
upsert-by-id with EXTERNAL versions so at-least-once replays and
cross-key disorder are harmless (monstache.go:3160-3245, version
monstache.go:4053-4063, 409-conflict-ignore monstache.go:566-571).

Spark-first: the sink is a keyed state TABLE (queryable — required for
J3 delete-lookups and K3 delete protection), maintained by an
idempotent MERGE per micro-batch:

    MERGE INTO state USING batch ON (ns, id)
      WHEN MATCHED AND src.version >= tgt.version AND src.op='d' THEN DELETE
      WHEN MATCHED AND src.version >= tgt.version THEN UPDATE
      WHEN NOT MATCHED AND src.op != 'd' THEN INSERT

Without Delta/Iceberg jars in this image, the MERGE is emulated over
parquet as ONE keyed pick over ONE union, atomically swapped via
directory versioning: the stored rows and the batch's raw data ops
(mapped to the state schema, a delete as a null-payload tombstone row)
share one exchange on ``(ns, id)``, and per key the row with the
largest ``(version, _tomb, from_batch)`` is kept (``_pick_latest``).
Batch compaction and the cross-batch version guard are that same pick.
On a real lakehouse this maps 1:1 onto ``MERGE INTO`` (and the version
guard rides along unchanged — ``sinks/delta.py``).

Drop propagation (K6, doDrop monstache.go:3056-3075): ``drop``/
``dropDatabase`` ops delete state rows of the matching namespace(s)
whose version is <= the drop's — version-aware, so a micro-batch
``[drop ns v=25, insert ns/id v=30]`` keeps the post-drop re-create
regardless of batch boundaries (the same convention as
``operators.materialize.apply_drops``). A metadata-only predicate
delete here, a partition drop on a partitioned state table at scale.

Delete tombstones PERSIST in the committed state (``_tomb=true`` rows,
hidden from ``read()``): a stale insert arriving in a LATER batch
(version < delete version) stays dead — the analogue of Elasticsearch
external versioning + ``index.gc_deletes`` that makes the reference's
at-least-once replay safe (monstache.go:4077-4080). Bound their growth
with ``tombstone_retention`` (version units) or an explicit
``prune_tombstones()``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from monstache_spark.envelope import OP_DELETE, OP_DROP, OP_DROP_DB
from monstache_spark.operators.filters import ns_database
from monstache_spark.operators.materialize import _STATE_COLS

# marker column for persisted delete tombstones (hidden from read())
TOMB_COL = "_tomb"
# merge-time helper columns, never committed
_FROM_BATCH = "_from_batch"
_RANK = "_rank"


def _batch_rows(
    data_ops: DataFrame, payload_cols: tuple[str, ...] | None = None
) -> DataFrame:
    """A batch's data ops in the state schema, uncompacted: an insert or
    update carries each payload column ``c`` (default: the testdata
    envelope's ``_STATE_COLS``) as ``last_<c>`` with ``_tomb = false``;
    a delete becomes a tombstone row (``_tomb = true``, null payload).
    ``op`` is never stored.  One projection, so the merge scans the
    batch once."""
    if payload_cols is None:
        payload_cols = _STATE_COLS
    tomb = F.col("op") == OP_DELETE
    payload = [F.when(~tomb, F.col(c)).alias(f"last_{c}") for c in payload_cols if c != "op"]
    return data_ops.select("ns", "id", *payload, "version", tomb.alias(TOMB_COL))


def _pick_latest(current: DataFrame | None, batch: DataFrame) -> DataFrame:
    """The version guard — the ONE statement of the tie rules for every
    state backend: per ``(ns, id)`` over the stored rows and the batch
    rows (both in the state schema, with ``_tomb``), keep the row with
    the lexicographically largest ``(version, _tomb, from_batch)``.

    Newer versions win; at one version a delete beats an upsert, inside
    a batch or across batches (ES external versioning rejects an index
    at or below a stored tombstone's version, monstache.go:4053-4063,
    gc_deletes monstache.go:4077-4080), so ``[delete v, insert v]``
    stays dead wherever the batch boundary falls; between two upserts
    (or two identical tombstones) the batch row beats the stored one
    (ES accepts version >= stored for upserts).  Tombstones persist in
    the committed state so stale inserts in LATER batches stay dead.

    One window over one union: a single exchange on the key, which is
    also the batch's compaction (``row_number() = 1`` lets Spark limit
    each key's rows map-side before the shuffle)."""
    rows = batch.withColumn(_FROM_BATCH, F.lit(1))
    if current is not None:
        if TOMB_COL not in current.columns:  # table written before tombstone support
            current = current.withColumn(TOMB_COL, F.lit(False))
        rows = current.withColumn(_FROM_BATCH, F.lit(0)).unionByName(rows)
    w = Window.partitionBy("ns", "id").orderBy(
        F.col("version").desc(), F.col(TOMB_COL).desc(), F.col(_FROM_BATCH).desc()
    )
    return (
        rows.withColumn(_RANK, F.row_number().over(w))
        .filter(F.col(_RANK) == 1)
        .drop(_RANK, _FROM_BATCH)
    )


def _stage_batch(batch: DataFrame, tombs: DataFrame | None = None) -> DataFrame:
    """Compact one batch to one row per key: ``_pick_latest`` with no
    stored rows (the Delta backend's staging, whose MERGE predicate
    then applies the cross-batch half of the same rule).  ``batch`` is
    state-schema rows with ``_tomb`` (``_batch_rows``), or, with
    ``tombs``, upsert rows without ``_tomb`` plus ``(ns, id, version)``
    delete keys that join as null-payload tombstones."""
    if tombs is not None:
        batch = batch.withColumn(TOMB_COL, F.lit(False)).unionByName(
            tombs.withColumn(TOMB_COL, F.lit(True)), allowMissingColumns=True
        )
    return _pick_latest(None, batch)


def _erase_dropped(state: DataFrame, drop_rows: list[tuple]) -> DataFrame:
    """Version-aware K6 erase over materialized rows: a drop at version
    v removes rows of its namespace(s) with version <= v — only
    strictly-newer post-drop re-creates survive, regardless of
    micro-batch boundaries (same convention as
    operators.materialize.apply_drops; the reference deletes the whole
    index on drop, and a tying op can only precede the drop in the
    oplog)."""
    for op, ns, v in drop_rows:
        if op == OP_DROP_DB:
            hit = ns_database(F.col("ns")) == ns.split(".", 1)[0]
        else:
            hit = F.col("ns") == ns
        state = state.filter(~(hit & (F.col("version") <= F.lit(v))))
    return state


def _prune_old_tombstones(
    state: DataFrame, batch_ops: DataFrame, retention: int
) -> DataFrame:
    """Retention sweep: drop tombstones more than ``retention`` version
    units behind the batch high-water mark. The HWM rides along as a
    broadcast cross join so the whole merge stays one lazy plan."""
    hwm = batch_ops.agg(F.max("version").alias("_hwm"))
    return (
        state.crossJoin(F.broadcast(hwm))
        .filter(
            ~(
                F.col(TOMB_COL)
                & F.col("_hwm").isNotNull()
                & (F.col("version") < F.col("_hwm") - F.lit(retention))
            )
        )
        .drop("_hwm")
    )


def protected_deletes(state: DataFrame, deletes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """K3 delete protection (doDelete monstache.go:4065-4147): when a
    delete must be located by id across routed indexes, the reference
    searches the delete-index-pattern and REFUSES the delete unless
    exactly one document matches (monstache.go:4113-4139).

    Set-level twin: join the tombstones against the state table by id
    only; ids matching exactly one state row are applied, others
    (0 or >1 matches) are refused. Returns (applied, refused)."""
    matches = (
        deletes.select(F.col("id"), F.col("version").alias("v_del"))
        .join(state.select("ns", "id"), "id", "left")
        .groupBy("id", "v_del")
        .agg(F.count("ns").alias("n_hits"), F.min("ns").alias("target_ns"))
    )
    applied = matches.filter(F.col("n_hits") == 1).select(
        F.col("target_ns").alias("ns"), "id", F.col("v_del").alias("version")
    )
    refused = matches.filter(F.col("n_hits") != 1).select("id", F.col("n_hits"))
    return applied, refused


class StateTable:
    """Parquet-backed keyed state table with version-guarded merges.

    Directory-versioned commits: each merge writes ``v{n+1}`` then
    flips a CURRENT pointer file — readers never see partial writes
    (the poor man's transaction log; Delta/Iceberg replace this
    wholesale at scale).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        tombstone_retention: int | None = None,
        payload_cols: tuple[str, ...] | None = None,
    ):
        self.spark = spark
        self.path = path
        # keep delete tombstones only while `batch_max_version - version
        # <= retention` (version units — BSON-ts-like int64s here). None
        # = keep forever; prune explicitly via prune_tombstones().
        self.tombstone_retention = tombstone_retention
        # payload carried per key into the materialized row; None = the
        # testdata envelope default (operators.materialize._STATE_COLS).
        # Dynamic-doc pipelines pass e.g. ("op","ts","ts_ord","doc");
        # the payload rides the merge's window pick, never an
        # aggregation buffer, so a string payload costs no SortAggregate.
        self.payload_cols = payload_cols
        # (version, StructType) of the last version THIS instance
        # committed: metadata, not results — it spares read() the
        # parquet footer-inference job while CURRENT still names that
        # version.  A fresh instance (e.g. on restart) infers once.
        self._known_schema: tuple[int, StructType] | None = None
        os.makedirs(path, exist_ok=True)

    def _current_file(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _current_version(self) -> int:
        try:
            with open(self._current_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def read(self, include_tombstones: bool = False) -> DataFrame | None:
        v = self._current_version()
        if v == 0:
            return None
        reader = self.spark.read
        if self._known_schema is not None and self._known_schema[0] == v:
            reader = reader.schema(self._known_schema[1])
        df = reader.parquet(os.path.join(self.path, f"v{v}"))
        if TOMB_COL not in df.columns:  # table written before tombstone support
            return df
        if include_tombstones:
            return df
        return df.filter(~F.col(TOMB_COL)).drop(TOMB_COL)

    def _commit(self, df: DataFrame) -> None:
        v = self._current_version()
        new_dir = os.path.join(self.path, f"v{v + 1}")
        df.write.mode("overwrite").parquet(new_dir)
        with open(self._current_file(), "w") as f:
            f.write(str(v + 1))
        self._known_schema = (v + 1, df.schema)
        old_dir = os.path.join(self.path, f"v{v}")
        if v and os.path.isdir(old_dir):
            shutil.rmtree(old_dir, ignore_errors=True)

    def merge_batch(self, ops: DataFrame) -> None:
        """Apply one micro-batch of envelope ops."""
        # drop ops are rare control-plane events; collecting the distinct
        # (op, ns, max version) list to the driver is O(#drops), not O(data)
        drops = ops.filter(F.col("op").isin(OP_DROP, OP_DROP_DB))
        data_ops = ops.filter(~F.col("op").isin(OP_DROP, OP_DROP_DB))
        drop_rows = [
            tuple(r)
            for r in drops.groupBy("op", "ns").agg(F.max("version").alias("v")).collect()
        ]
        merged = _pick_latest(
            self.read(include_tombstones=True), _batch_rows(data_ops, self.payload_cols)
        )
        merged = _erase_dropped(merged, drop_rows)
        if self.tombstone_retention is not None:
            merged = _prune_old_tombstones(merged, data_ops, self.tombstone_retention)
        self._commit(merged)

    def prune_tombstones(self, before_version: int) -> None:
        """Drop persisted tombstones older than ``before_version`` —
        the explicit gc_deletes sweep (safe once no source can replay
        ops older than that version)."""
        cur = self.read(include_tombstones=True)
        if cur is None or TOMB_COL not in cur.columns:
            return  # empty, or written before tombstone support: nothing to prune
        self._commit(
            cur.filter(~(F.col(TOMB_COL) & (F.col("version") < F.lit(before_version))))
        )
