"""Streaming ingest: the dual-store upsert (SURVEY.md §2.9 ST1/ST2).

The reference simulates a stream by replaying CSV rows one per second
into put_record (reference: update_feature_store.py:56-58), which the
managed service fans out to the online store (latest-wins upsert) and
the offline store (async append). Spark-natively that is a file-source
readStream with a foreachBatch sink doing both writes per micro-batch:

- offline: append the batch to the history parquet (partitioned by
  event_date — same layout as batch ingest, so batch and streaming
  ingest are indistinguishable to readers);
- online: keyed MERGE into a bucket-partitioned snapshot
  (core/online.py): only the bucket partitions the batch's keys hash
  into are read and rewritten — O(batch + dirty buckets) per
  micro-batch. With Delta/Iceberg present this is literally MERGE INTO
  keyed on the record identifier; the semantics (A1 latest-wins with
  ingest_seq tie-break) are identical and tested equal to the batch
  window form.

Checkpointing gives exactly-once for the offline append; the snapshot
merge is idempotent (same max row wins on replay).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..core.feature_group import FeatureGroup
from ..core.feature_store import (
    DELETED_COL,
    EVENT_DATE_COL,
    EVENT_TS_COL,
    INGEST_SEQ_COL,
)
from ..core.online import DEFAULT_N_BUCKETS, upsert_bucketed_snapshot
from ..functions.ids import with_dense_row_ids
from ..functions.timeutil import format_iso_z, parse_iso_z

# ingest_seq = batch_id * BATCH_SEQ_STRIDE + dense row id. Dense ids
# (functions/ids.py) are bounded by the batch's ROW COUNT, so the
# stride bounds capacity explicitly: up to ~1.1e12 rows per micro-batch
# and ~8.4e6 micro-batches in an int64 — vs the former
# monotonically_increasing_id form whose partition-indexed ids crossed
# the stride as soon as a batch had >128 partitions. A pure function of
# (batch_id, batch content), so checkpoint replays reassign identical
# sequences and the snapshot merge stays idempotent.
BATCH_SEQ_STRIDE = 1 << 40


class StreamingIngest:
    """File-source streaming ingestion for one feature group."""

    def __init__(
        self,
        spark: SparkSession,
        group: FeatureGroup,
        input_dir: str,
        store_root: str,
        n_buckets: int = DEFAULT_N_BUCKETS,
        with_tombstones: bool = False,
    ):
        """``with_tombstones`` reads an extra boolean ``is_deleted``
        column from the stream (the CDC delete-marker shape): tombstone
        rows land in offline history like any record, participate in
        the latest-wins merge, and suppress their key from the serving
        view while remaining in the stored snapshot to outrank late
        older records — identical semantics to the batch
        ``FeatureStore.delete_record`` path."""
        self.spark = spark
        self.group = group
        self.input_dir = input_dir
        self.n_buckets = n_buckets
        self.with_tombstones = with_tombstones
        self.offline_dir = os.path.join(store_root, group.name, "offline")
        self.snapshot_dir = os.path.join(store_root, group.name, "online_snapshot")
        self.checkpoint_dir = os.path.join(store_root, group.name, "_checkpoint")

    # -- micro-batch sink --------------------------------------------------

    def _normalize(self, batch: DataFrame) -> DataFrame:
        """Schema-validate, cast, and time-normalize one micro-batch —
        everything BEFORE id assignment, so the caller can persist the
        result and the dense-id counts job + both store writes all see
        one materialization (round-2 advice, functions/ids.py:38)."""
        tcol = self.group.event_time_feature
        # validate the feature columns (tombstone marker is internal),
        # then project features + flag from the SAME frame so rows stay
        # aligned — mirrors FeatureStore.ingest
        self.group.validate_frame(batch.drop(DELETED_COL))
        flag = (
            F.coalesce(F.col(DELETED_COL).cast("boolean"), F.lit(False))
            if DELETED_COL in batch.columns
            else F.lit(False)
        ).alias(DELETED_COL)
        base = batch.select(
            *[
                batch[f.name].cast(f.spark_type).alias(f.name)
                for f in self.group.features
            ],
            flag,
        )
        return (
            base.withColumn(EVENT_TS_COL, parse_iso_z(tcol))
            .withColumn(tcol, format_iso_z(EVENT_TS_COL))
            .withColumn(EVENT_DATE_COL, F.to_date(F.col(EVENT_TS_COL)))
        )

    def _assign_seq(self, normalized: DataFrame, batch_id: int) -> DataFrame:
        # dense per-batch ids under a batch-id epoch: later micro-batches
        # always win event-time ties (later-write-wins), at ANY partition
        # count — see BATCH_SEQ_STRIDE
        with_ids, _ = with_dense_row_ids(normalized, "__did")
        return with_ids.withColumn(
            INGEST_SEQ_COL,
            F.col("__did") + F.lit(batch_id) * F.lit(BATCH_SEQ_STRIDE),
        ).drop("__did")

    def _upsert_snapshot(self, normalized: DataFrame) -> None:
        """Keyed MERGE into the bucketed snapshot: reads and rewrites
        only the bucket partitions the batch's keys hash into —
        O(batch + dirty buckets) per micro-batch
        (core/online.py; replaces the r1 full recompute + swap)."""
        upsert_bucketed_snapshot(
            self.spark,
            self.snapshot_dir,
            normalized,
            keys=self.group.record_identifier,
            event_time_col=self.group.event_time_feature,
            tie_breaker=INGEST_SEQ_COL,
            n_buckets=self.n_buckets,
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        normalized = self._normalize(batch)
        normalized.persist()
        try:
            # empty micro-batch (e.g. a trigger with no new files):
            # nothing to write, and an empty partitioned append to a NEW
            # offline dir would fail schema inference on read-back
            if not normalized.take(1):
                return
            tagged = self._assign_seq(normalized, batch_id)
            tagged.write.partitionBy(EVENT_DATE_COL).mode("append").parquet(
                self.offline_dir, compression="snappy"
            )
            self._upsert_snapshot(tagged)
        finally:
            normalized.unpersist()

    # -- stream wiring -----------------------------------------------------

    def start(self, trigger_once: bool = True):
        """ST1/ST2: readStream over the input directory -> foreachBatch
        dual-store sink. `trigger_once` processes all available input and
        stops (the test/replay mode); continuous mode just drops it."""
        schema = self.group.schema
        if self.with_tombstones:
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(DELETED_COL, T.BooleanType(), nullable=True)]
            )
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .csv(self.input_dir, header=True)
        )
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- read sides --------------------------------------------------------

    def offline_store(self) -> DataFrame:
        return self.spark.read.parquet(self.offline_dir)

    def online_snapshot(self) -> DataFrame:
        """Serving view: tombstoned keys filtered out (the stored
        snapshot keeps them so they outrank late older records)."""
        snap = self.spark.read.parquet(self.snapshot_dir)
        return snap.filter(~F.col(DELETED_COL)).select(*self.group.feature_names)
