"""Delta-backed state table — the 100 TB deployment answer to
``StateTable``'s parquet+CURRENT-pointer commit
(``merge.StateTable._commit``, which is single-writer by construction).

Same public surface (``read`` / ``merge_batch``) and the SAME
version-guard semantics (test-pinned by tests/test_delta_state.py
against the shared ``_stage_batch``; the parquet backend's semantics
tests are the oracle), but the cross-batch guard runs as a Delta
``MERGE`` — transactional, concurrent-writer safe, and O(touched
files) via Delta's data skipping instead of a full-table rewrite:

* batch staging (within-batch ties: delete beats upsert at the same
  version) is ``merge.py:_stage_batch`` — the parquet backend's
  ``_pick_latest`` with no stored rows;
* cross-batch ties land in the MERGE predicate: a staged row replaces
  a stored row iff ``version > stored.version`` OR (equal version AND
  the stored row is not a tombstone) — ``_pick_latest``'s
  ``(version, _tomb, from_batch)`` order spelled as a predicate;
* drops (K6) become version-scoped Delta DELETEs;
* tombstone retention is a DELETE sweep below the batch high-water
  mark.

Requires delta-spark (``pip install delta-spark``, plus the
``io.delta:delta-spark`` jars on the session) — absent in this image,
so construction raises ImportError with guidance and the tests carry a
skip marker. Nothing else in the engine imports this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monstache_spark.envelope import OP_DROP, OP_DROP_DB
from monstache_spark.operators.filters import ns_database
from monstache_spark.sinks.merge import TOMB_COL, _batch_rows, _stage_batch


# The cross-batch MERGE update predicate — the ONE piece of semantics
# this backend adds over the shared ``_stage_batch``: a staged row
# replaces a stored row iff strictly newer, or tied with a
# non-tombstone stored row (merge.py:_pick_latest's order with the
# staged row as ``from_batch = 1``; at a tie of two tombstones either
# row is the same).  Module-level so the
# delta-less equivalence test (test_delta_state.py's simulated
# transactional backend) exercises THIS string, not a re-typed copy.
MERGE_UPDATE_CONDITION = (
    "s.version > t.version OR "
    f"(s.version = t.version AND NOT t.{TOMB_COL})"
)


def drop_condition(op: str, ns: str, version: int):
    """The Delta DELETE condition a drop/dropDatabase op compiles to
    (version-scoped: rows re-created after the drop survive)."""
    if op == OP_DROP_DB:
        db = ns.split(".", 1)[0]
        return (ns_database(F.col("ns")) == db) & (
            F.col("version") <= F.lit(version)
        )
    return (F.col("ns") == ns) & (F.col("version") <= F.lit(version))


def retention_condition(hwm: int, retention: int):
    """The tombstone-retention DELETE sweep below the batch
    high-water mark."""
    return F.col(TOMB_COL) & (F.col("version") < F.lit(hwm - retention))


def _require_delta():
    try:
        from delta.tables import DeltaTable  # noqa: F401

        return DeltaTable
    except ImportError as e:  # pragma: no cover - exercised via skip marker
        raise ImportError(
            "DeltaStateTable requires delta-spark (pip install delta-spark and "
            "configure spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension, "
            "spark.sql.catalog.spark_catalog=org.apache.spark.sql.delta.catalog."
            "DeltaCatalog); use sinks.merge.StateTable / sinks.bucketed."
            "BucketedStateTable where Delta is unavailable"
        ) from e


class DeltaStateTable:
    """Keyed state with version-guarded merges over a Delta table.

    API-compatible with ``StateTable``: ``read(include_tombstones=)``,
    ``merge_batch(ops)``, ``prune_tombstones(before_version)``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        tombstone_retention: int | None = None,
        payload_cols: tuple[str, ...] | None = None,
    ):
        self._delta = _require_delta()
        self.spark = spark
        self.path = path
        self.tombstone_retention = tombstone_retention
        self.payload_cols = payload_cols

    def _table(self):
        return self._delta.forPath(self.spark, self.path)

    def _exists(self) -> bool:
        return self._delta.isDeltaTable(self.spark, self.path)

    def read(self, include_tombstones: bool = False) -> DataFrame | None:
        if not self._exists():
            return None
        df = self.spark.read.format("delta").load(self.path)
        if include_tombstones:
            return df
        return df.filter(~F.col(TOMB_COL)).drop(TOMB_COL)

    def merge_batch(self, ops: DataFrame) -> None:
        drops = ops.filter(F.col("op").isin(OP_DROP, OP_DROP_DB))
        data_ops = ops.filter(~F.col("op").isin(OP_DROP, OP_DROP_DB))
        drop_rows = [
            tuple(r)
            for r in drops.groupBy("op", "ns").agg(F.max("version").alias("v")).collect()
        ]
        staged = _stage_batch(_batch_rows(data_ops, self.payload_cols))

        if not self._exists():
            staged.write.format("delta").mode("overwrite").save(self.path)
        else:
            # cross-batch guard as the MERGE predicate
            # (MERGE_UPDATE_CONDITION: merge.py:_pick_latest's order)
            (
                self._table()
                .alias("t")
                .merge(
                    staged.alias("s"),
                    "t.ns = s.ns AND t.id = s.id",
                )
                .whenMatchedUpdateAll(condition=MERGE_UPDATE_CONDITION)
                .whenNotMatchedInsertAll()
                .execute()
            )

        for op, ns, v in drop_rows:
            self._table().delete(drop_condition(op, ns, v))

        if self.tombstone_retention is not None:
            hwm = data_ops.agg(F.max("version")).first()[0]
            if hwm is not None:
                self._table().delete(
                    retention_condition(hwm, self.tombstone_retention)
                )

    def prune_tombstones(self, before_version: int) -> None:
        if self._exists():
            self._table().delete(F.col(TOMB_COL) & (F.col("version") < F.lit(before_version)))
