"""FeatureStore: dual-store semantics on Parquet + DataFrames.

Re-implements the reference's managed dual store (SURVEY.md §1.1)
Spark-natively:

- offline store — append-only full history as Snappy Parquet
  (reference: setup.sh:86,139-141), here partitioned by `event_date`:
  the reference's flat S3 layout forces a full scan per time-range query
  (reference: setup.sh:140); date partitioning turns the canonical
  BETWEEN query (reference: historical_features.py:31) into a partition-
  pruned scan — the single biggest 100 TB lever (SURVEY.md §4).
- online store — a *derived* latest-record-per-key view (reference
  semantics at update_feature_store.py:26-47, real_time_inference.py:16-19),
  computed by operators.latest; optionally materialized for point
  lookups.

Every ingested row gets a monotone `ingest_seq` so "later write wins
ties" (public SageMaker behavior the reference relies on) is
deterministic and replay-order-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.casts import double_with_default, row_to_record
from ..functions.ids import with_dense_row_ids
from ..functions.timeutil import format_iso_z, parse_iso_z, parse_loose_timestamp
from ..operators.latest import latest_snapshot
from .feature_group import FeatureGroup
from .online import (
    BUCKET_COL,
    DEFAULT_N_BUCKETS,
    bucket_expr,
    read_snapshot_bucket,
    read_snapshot_meta,
    snapshot_exists,
    upsert_bucketed_snapshot,
    write_snapshot_meta,
)

INGEST_SEQ_COL = "ingest_seq"
EVENT_TS_COL = "event_ts"  # typed twin of the string event-time column
EVENT_DATE_COL = "event_date"  # partition column
DELETED_COL = "is_deleted"  # tombstone marker (public SageMaker offline-store column)


class FeatureStore:
    """Catalog of feature groups plus their offline materializations."""

    def __init__(self, spark: SparkSession, root_path: str):
        self.spark = spark
        self.root_path = root_path
        self._groups: dict[str, FeatureGroup] = {}
        # next free ingest_seq per group, lazily seeded from the stored
        # max so sequences stay monotone across FeatureStore instances
        self._next_seq: dict[str, int] = {}
        # last ingested batch per group, kept persisted so the frame
        # `ingest` returns re-reads cached blocks instead of re-running
        # a possibly non-deterministic source lineage (round-2 advice,
        # functions/ids.py:38); re-pinned per ingest, so at most one
        # batch per group is cached at a time
        self._pinned: dict[str, DataFrame] = {}

    # -- catalog -----------------------------------------------------------

    def create_feature_group(self, group: FeatureGroup) -> FeatureGroup:
        if group.name in self._groups:
            raise ValueError(f"feature group {group.name!r} already exists")
        self._groups[group.name] = group
        return group

    def describe_feature_group(self, name: str) -> FeatureGroup:
        return self._groups[name]

    def list_feature_groups(self) -> list[str]:
        return sorted(self._groups)

    def delete_feature_group(self, name: str) -> None:
        """Drop catalog entry (cleanup path — reference: cleanup.sh:43-60)."""
        self._groups.pop(name, None)
        pinned = self._pinned.pop(name, None)
        if pinned is not None:
            pinned.unpersist()

    def offline_path(self, name: str) -> str:
        return os.path.join(self.root_path, name, "offline")

    # -- ingest (S5/S6 + F1/F3) -------------------------------------------

    def ingest(
        self,
        name: str,
        df: DataFrame,
        loose_timestamp: bool = False,
        base_seq: int = 0,
    ) -> DataFrame:
        """Append a batch to the offline store (append-only history).

        Normalizes the event-time column to the ISO-8601-Z wire string
        plus a typed timestamp twin, assigns a monotone ingest sequence,
        and appends Snappy Parquet partitioned by event_date. The
        reference's row-at-a-time put_record loop (reference:
        update_feature_store.py:56-58) collapses into one distributed
        append.

        The sequence is provably monotone ACROSS batches: each batch
        gets dense ids ``base .. base+N-1`` (functions/ids.py) where
        ``base`` is the tracked next-free sequence — seeded from
        ``max(ingest_seq)`` in the stored history when this instance
        first touches the group, advanced by the batch's exact row
        count after. ``base_seq`` acts as a floor (never lowers the
        base), kept for callers that partition the id space themselves.
        Later-write-wins ties (including delete tombstones) therefore
        resolve by ingest order, never by partition layout.
        """
        group = self._groups[name]
        # validate the feature columns (tombstone marker is internal,
        # not part of the declared schema), then project features + flag
        # from the SAME frame so rows stay aligned
        group.validate_frame(df.drop(DELETED_COL))
        flag = (
            F.col(DELETED_COL).cast("boolean")
            if DELETED_COL in df.columns
            else F.lit(False)
        ).alias(DELETED_COL)
        df = df.select(
            *[df[f.name].cast(f.spark_type).alias(f.name) for f in group.features],
            flag,
        )
        tcol = group.event_time_feature
        ts = (
            parse_loose_timestamp(tcol)
            if loose_timestamp
            else parse_iso_z(tcol)
        )
        normalized = (
            df.withColumn(EVENT_TS_COL, ts)
            .withColumn(tcol, format_iso_z(EVENT_TS_COL))
            .withColumn(EVENT_DATE_COL, F.to_date(F.col(EVENT_TS_COL)))
        )
        # persist BEFORE tagging: the dense-id counts job, the offline
        # write, and any later action on the returned frame (e.g.
        # upsert_online) must all see ONE materialization — a
        # non-deterministic source (rand, unstable shuffle, mutable
        # re-read) would otherwise yield colliding ids or an online
        # snapshot diverging from offline history, silently (round-2
        # advice, functions/ids.py:38). Pinned until the group's next
        # ingest (or delete_feature_group) so the return value stays
        # backed by the cached blocks.
        normalized = normalized.persist()
        prev = self._pinned.pop(name, None)
        if prev is not None:
            prev.unpersist()
        self._pinned[name] = normalized
        base = max(self._seq_base(name), base_seq)
        with_ids, n_rows = with_dense_row_ids(normalized, "__did")
        out = with_ids.withColumn(
            INGEST_SEQ_COL, F.col("__did") + F.lit(base)
        ).drop("__did")
        if n_rows > 0:  # an empty append to a NEW store would leave a
            # schema-less directory that breaks later reads
            out.write.partitionBy(EVENT_DATE_COL).mode("append").parquet(
                self.offline_path(name), compression="snappy"
            )
        self._next_seq[name] = base + n_rows
        return out

    def _seq_base(self, name: str) -> int:
        """Next free ingest_seq: session cache, else stored max + 1.
        The seed scan is column-pruned to ingest_seq and runs once per
        (instance, group) — O(history footers + one column), not O(data)."""
        if name not in self._next_seq:
            # explicit existence probe: a broad except here treated ANY
            # read failure as "no store yet" and silently restarted
            # ingest_seq at 0, inverting later-write-wins ties (round-2
            # advice). A real read error now propagates.
            if snapshot_exists(self.spark, self.offline_path(name)):
                m = (
                    self.spark.read.parquet(self.offline_path(name))
                    .agg(F.max(INGEST_SEQ_COL))
                    .collect()[0][0]
                )
                self._next_seq[name] = (m + 1) if m is not None else 0
            else:
                self._next_seq[name] = 0
        return self._next_seq[name]

    def delete_record(
        self, name: str, record_identifier_value, event_time_iso: str, base_seq: int = 0
    ) -> None:
        """Soft delete (public SageMaker delete_record semantics): append
        a tombstone to the append-only history. The key disappears from
        the online view iff the tombstone is the key's latest event;
        an older tombstone changes nothing (same late-data rule as any
        record). History keeps everything — audit and point-in-time
        reads before the delete still see the record."""
        group = self._groups[name]
        tcol = group.event_time_feature
        row = {group.record_identifier: record_identifier_value, tcol: event_time_iso}
        df = self.spark.createDataFrame(
            [tuple(row.get(c) for c in group.feature_names)],
            group.schema,
        ).withColumn(DELETED_COL, F.lit(True))
        self.ingest(name, df, base_seq=base_seq)

    # -- offline reads (S4, P1, P2) ---------------------------------------

    def offline_store(self, name: str) -> DataFrame:
        df = self.spark.read.parquet(self.offline_path(name))
        # stores written before tombstone support lack the column; a
        # parquet file without it reads as null under the merged schema
        if DELETED_COL in df.columns:
            df = df.withColumn(DELETED_COL, F.coalesce(F.col(DELETED_COL), F.lit(False)))
        else:
            df = df.withColumn(DELETED_COL, F.lit(False))
        return df

    def compact_offline(self, name: str, files_per_partition: int = 1):
        """Small-file compaction of the group's offline store — see
        core/maintenance.py. Content-preserving (tests assert full-frame
        equality before/after)."""
        from .maintenance import compact_offline

        return compact_offline(
            self.spark, self.offline_path(name), files_per_partition
        )

    def vacuum_offline(self, name: str, cutoff_iso: str):
        """Retention vacuum of the group's offline store: drops history
        older than the cutoff while preserving each key's latest record
        (and therefore the online view, tombstone suppression included).
        Day-granular — see core/maintenance.py."""
        from .maintenance import vacuum_offline

        return vacuum_offline(
            self.spark,
            self.offline_path(name),
            key_col=self._groups[name].record_identifier,
            cutoff_iso=cutoff_iso,
            event_ts_col=EVENT_TS_COL,
            tie_breaker=INGEST_SEQ_COL,
            event_date_col=EVENT_DATE_COL,
        )

    def history_between(
        self, name: str, lo_iso: str, hi_iso: str, columns: list[str] | None = None
    ) -> DataFrame:
        """The reference's canonical offline query: projection + string
        BETWEEN, inclusive both ends (reference:
        historical_features.py:28-31). The string compare is kept —
        ISO-8601-Z sorts identically to the instants — while the
        event_date partition column lets Catalyst prune to the date
        range instead of scanning all history."""
        group = self._groups[name]
        tcol = group.event_time_feature
        df = self.offline_store(name).filter(
            (F.col(EVENT_DATE_COL) >= F.lit(lo_iso[:10]))
            & (F.col(EVENT_DATE_COL) <= F.lit(hi_iso[:10]))
            & F.col(tcol).between(lo_iso, hi_iso)
        )
        return df.select(*(columns or group.feature_names))

    # -- online view (A1, P3, P4) -----------------------------------------

    def latest_view(self, name: str) -> DataFrame:
        """Latest record per key — the online store's contents.

        Tombstones participate in the latest-wins race like any record
        (an OLDER delete must not remove a NEWER record); a key whose
        latest event is a tombstone is absent from the view."""
        group = self._groups[name]
        return self._latest_raw(name).filter(~F.col(DELETED_COL)).select(
            *group.feature_names
        )

    def _snapshot_is_fresh(self, name: str) -> bool:
        """True when the materialized snapshot has merged every ingested
        sequence. The sidecar's high-water mark vs the store's next-free
        sequence (session-cached after first use) makes staleness
        explicit: an ingest/delete not followed by upsert_online used to
        be silently invisible to point lookups (round-2 advice,
        feature_store.py:221)."""
        meta = read_snapshot_meta(self.spark, self.online_path(name))
        if meta is None:
            return False
        return int(meta["seq_high"]) >= self._seq_base(name) - 1

    def _serving_view(self, name: str, key_values: list) -> DataFrame:
        """Lookup path for the given keys: bucket-pruned scan of the
        materialized snapshot when present AND current (reads
        ~1/n_buckets of the store); a missing or stale snapshot falls
        back to the always-fresh derived latest view."""
        group = self._groups[name]
        if not self._snapshot_is_fresh(name):
            return self.latest_view(name)
        snap = read_snapshot_bucket(
            self.spark, self.online_path(name),
            [group.record_identifier], key_values,
        )
        return snap.filter(~F.col(DELETED_COL)).select(*group.feature_names)

    def get_record(
        self, name: str, record_identifier_value
    ) -> list[dict[str, str]] | None:
        """Point lookup: 0-or-1 latest record for a key, in the
        reference's wire shape (reference: real_time_inference.py:16-25).
        Returns None when the key is absent (reference:
        real_time_inference.py:20-22)."""
        group = self._groups[name]
        rows = (
            self._serving_view(name, [record_identifier_value])
            .filter(F.col(group.record_identifier) == F.lit(record_identifier_value))
            .limit(1)
            .collect()
        )
        return row_to_record(rows[0]) if rows else None

    def batch_get_record(
        self, name: str, record_identifier_values: list
    ) -> dict[object, list[dict[str, str]]]:
        """[EXT] Batch point lookup (public SageMaker batch_get_record
        analog): latest record for each requested key, absent keys
        omitted. One lookup for N keys — an IN-filter over the serving
        view, pruned to the keys' buckets — instead of N point queries;
        it still runs several Spark jobs (sidecar read, listing, scan)."""
        group = self._groups[name]
        rows = (
            self._serving_view(name, record_identifier_values)
            .filter(F.col(group.record_identifier).isin(record_identifier_values))
            .collect()
        )
        return {r[group.record_identifier]: row_to_record(r) for r in rows}

    # -- online materialization (S6 at scale) -------------------------------

    def online_path(self, name: str) -> str:
        return os.path.join(self.root_path, name, "online")

    def _latest_raw(self, name: str) -> DataFrame:
        """Latest row per key INCLUDING tombstones — what the snapshot
        must store so a tombstone keeps outranking late older records."""
        group = self._groups[name]
        return latest_snapshot(
            self.offline_store(name).select(
                *group.feature_names, EVENT_TS_COL, INGEST_SEQ_COL, DELETED_COL
            ),
            key_cols=group.record_identifier,
            event_time_col=group.event_time_feature,
            tie_breaker=INGEST_SEQ_COL,
        )

    def materialize_online(self, name: str, n_buckets: int = DEFAULT_N_BUCKETS) -> None:
        """Full (re)build of the bucketed online snapshot: one window
        pass over history, written partitioned by key-hash bucket so
        later refreshes can be incremental (`upsert_online`) and point
        lookups prune to one bucket. Correct under any arrival order;
        the recovery/bootstrap path — steady-state refreshes should use
        `upsert_online`. Records the bucket count and ingest high-water
        mark in the snapshot sidecar (core/online.py)."""
        group = self._groups[name]
        # high-water mark BEFORE the build: history is append-only, so
        # the snapshot covers at least everything up to this sequence
        # (single-writer assumption, as with any non-transactional store)
        seq_high = self._seq_base(name) - 1
        snap = self._latest_raw(name).withColumn(
            BUCKET_COL, bucket_expr([group.record_identifier], n_buckets)
        )
        snap.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(
            self.online_path(name), compression="snappy"
        )
        write_snapshot_meta(self.spark, self.online_path(name), n_buckets, seq_high)

    def upsert_online(
        self, name: str, batch: DataFrame, n_buckets: int | None = None
    ) -> None:
        """Incremental online refresh: MERGE the batch returned by
        `ingest` into the bucketed snapshot, touching only the bucket
        partitions the batch's keys hash into — O(batch + dirty
        buckets) (core/online.py). Equivalent to
        `materialize_online` when applied to every ingested batch.
        The bucket count is taken from the snapshot sidecar; passing an
        explicit conflicting value raises (core/online.py)."""
        group = self._groups[name]
        upsert_bucketed_snapshot(
            self.spark,
            self.online_path(name),
            batch.select(
                *group.feature_names, EVENT_TS_COL, INGEST_SEQ_COL, DELETED_COL
            ),
            keys=group.record_identifier,
            event_time_col=group.event_time_feature,
            tie_breaker=INGEST_SEQ_COL,
            n_buckets=n_buckets,
        )

    def online_store(self, name: str) -> DataFrame:
        """Serving view: the materialized snapshot when present AND
        current (point lookups hit a key-sized table, not all of
        history), else the derived latest view. Tombstoned keys are
        filtered at read — the stored snapshot keeps them (see
        _latest_raw)."""
        group = self._groups[name]
        if not self._snapshot_is_fresh(name):
            return self.latest_view(name)
        snap = self.spark.read.parquet(self.online_path(name))
        return snap.filter(~F.col(DELETED_COL)).select(*group.feature_names)

    def feature_vector(
        self,
        name: str,
        record_identifier_value,
        feature_cols: list[str],
        default: float = 0.0,
    ) -> list[float]:
        """P4/F5: numeric features for a key with missing->default
        (reference: real_time_inference.py:47)."""
        group = self._groups[name]
        row = (
            self._serving_view(name, [record_identifier_value])
            .filter(F.col(group.record_identifier) == F.lit(record_identifier_value))
            .select(*[double_with_default(c, default).alias(c) for c in feature_cols])
            .limit(1)
            .collect()
        )
        if not row:
            return [default] * len(feature_cols)
        return [row[0][c] for c in feature_cols]
