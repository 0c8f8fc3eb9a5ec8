"""Streaming merge sink (SURVEY §2.9 T6): per-micro-batch incremental
merge via ``foreachBatch`` — the streaming form of the reference's
``syncdb`` loop. Each micro-batch is one changeset; the sink compacts
it and applies it to the current replica snapshot.

Snapshot management: parquet can't be overwritten while being read, so
the sink's ``table_dir`` is a replica root (``replica.py``) holding a
``data`` table, and every bootstrap and micro-batch commits through
``replica.publish`` — copy-on-write staging plus one atomic manifest
swap, the commit shape Iceberg/Delta implement with a metadata log.
Everything stays distributed: no driver-side collect of table data,
ever.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from .. import replica
from ..operators.merge import apply_changeset


class StreamingMergeSink:
    """Maintains a replica table under ``table_dir`` from a stream of
    change records (payload columns + ``action`` + ``ts``)."""

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        keys: Sequence[str],
        compact_by: Sequence[str],
    ) -> None:
        self.spark = spark
        self.table_dir = table_dir
        self.keys = list(keys)
        self.compact_by = list(compact_by)

    # -- snapshot reads ----------------------------------------------------

    def current_version(self) -> int:
        """The committed version: 0 before bootstrap, +1 per commit."""
        return replica.load(self.table_dir)["version"]

    def _read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(replica.table_dir(self.table_dir, table))

    def current_snapshot(self) -> DataFrame:
        return self._read("data")

    # -- the merge loop ----------------------------------------------------

    def bootstrap(self, base: DataFrame) -> None:
        """M2 snapshot load: the first committed version."""
        replica.publish(self.table_dir, {"data": base})

    def _next(self, base: DataFrame, changes: DataFrame) -> dict:
        """The tables one micro-batch commits, keyed by name."""
        return {
            "data": apply_changeset(
                base, changes, keys=self.keys, compact_by=self.compact_by
            )
        }

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        replica.publish(self.table_dir, self._next(self.current_snapshot(), changes))

    def start(self, change_stream: DataFrame, checkpoint_dir: str):
        """Run the merge loop with AvailableNow (bounded replay)."""
        return (
            change_stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingIVMSink(StreamingMergeSink):
    """Merge sink that ALSO maintains an aggregate view incrementally —
    the streaming materialized view: each micro-batch updates the
    replica (M1) and delta-updates a (group → count, sum) view from
    the same changeset, never re-aggregating the replica. View deltas
    use exact decimal sums, so the maintained view equals a fresh
    recompute bit-for-bit (asserted in tests/test_streaming.py);
    snapshot and view commit in the same ``replica.publish``, so a
    reader never sees one advanced without the other.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        keys: Sequence[str],
        compact_by: Sequence[str],
        view_group: str,
        view_sum: str,
    ) -> None:
        super().__init__(spark, table_dir, keys, compact_by)
        self.view_group = view_group
        self.view_sum = view_sum

    # -- view bookkeeping --------------------------------------------------

    def _view_agg(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.groupBy(self.view_group).agg(
            F.count("*").alias("n"),
            F.sum(F.col(self.view_sum).cast("decimal(28,6)")).alias("total"),
        )

    def current_view(self) -> DataFrame:
        return self._read("view")

    def bootstrap(self, base: DataFrame) -> None:
        replica.publish(self.table_dir, {"data": base, "view": self._view_agg(base)})

    def _next(self, base: DataFrame, changes: DataFrame) -> dict:
        from pyspark.sql import functions as F

        from ..operators.merge import compact_changeset

        compacted = compact_changeset(changes, self.keys, self.compact_by)
        dec = F.col(self.view_sum).cast("decimal(28,6)")
        adds = compacted.where(F.col("action") == "U").select(
            self.view_group,
            F.lit(1).cast("long").alias("n"),
            dec.alias("total"),
        )
        touched = compacted.select(*self.keys).distinct()
        rems = base.join(touched, self.keys, "left_semi").select(
            self.view_group,
            F.lit(-1).cast("long").alias("n"),
            (-dec).alias("total"),
        )
        new_view = (
            self.current_view()
            .unionByName(adds)
            .unionByName(rems)
            .groupBy(self.view_group)
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
            .where(F.col("n") > 0)
        )
        # One publish commits the merged replica and its view together.
        return {**super()._next(base, changes), "view": new_view}
