"""Feature-store semantics tests (SURVEY.md §5.2-5.4): append-only
offline history, latest-wins online view, ties/late records, point
lookup with defaults, timestamp normalization round-trip."""

from __future__ import annotations

import pytest

from cust_sagemaker_feature_store_spark.core import (
    FeatureDefinition,
    FeatureGroup,
    FeatureStore,
)
from cust_sagemaker_feature_store_spark.functions import (
    format_iso_z,
    parse_loose_timestamp,
)
from pyspark.sql import functions as F

GROUP = FeatureGroup(
    name="CustomerTransactions",
    record_identifier="customer_id",
    event_time_feature="event_time",
    features=(
        FeatureDefinition("customer_id", "Integral"),
        FeatureDefinition("event_time", "String"),
        FeatureDefinition("latest_purchase_value", "Fractional"),
        FeatureDefinition("latest_loyalty_score", "Fractional"),
    ),
)

ROWS = [
    # (customer_id, event_time, purchase_value, loyalty_score)
    (1, "2022-01-02T07:43:18Z", 10.0, 0.5),
    (1, "2022-03-01T00:00:00Z", 20.0, 0.6),  # latest for key 1
    (2, "2022-02-01T12:00:00Z", 30.0, 0.7),
    (2, "2022-02-01T12:00:00Z", 31.0, 0.8),  # tie: later write wins
    (3, "2022-05-05T05:05:05Z", 40.0, 0.9),
]


@pytest.fixture()
def store(spark, tmp_path):
    fs = FeatureStore(spark, str(tmp_path / "store"))
    fs.create_feature_group(GROUP)
    df = spark.createDataFrame(
        ROWS, "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double"
    )
    fs.ingest(GROUP.name, df)
    return fs


def test_offline_is_append_only(store):
    # every ingested record lands in history (reference contract:
    # setup.sh:86 offline store keeps the full history)
    assert store.offline_store(GROUP.name).count() == len(ROWS)
    # a second ingest of one record appends, never overwrites
    extra = store.spark.createDataFrame(
        [(1, "2022-01-01T00:00:00Z", 5.0, 0.1)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    store.ingest(GROUP.name, extra)
    assert store.offline_store(GROUP.name).count() == len(ROWS) + 1


def test_latest_view_one_row_per_key(store):
    latest = store.latest_view(GROUP.name)
    assert latest.count() == 3  # distinct keys
    by_key = {r["customer_id"]: r for r in latest.collect()}
    assert by_key[1]["latest_purchase_value"] == 20.0
    # tie on event_time: the later write (higher ingest_seq) wins —
    # public SageMaker behavior the reference relies on (SURVEY.md §1.4)
    assert by_key[2]["latest_purchase_value"] == 31.0


def test_late_record_never_surfaces_online(store):
    # a record older than the stored one lands in history but does not
    # change the online view (reference late-data semantic, SURVEY.md §2.9)
    late = store.spark.createDataFrame(
        [(3, "2022-01-01T00:00:00Z", 99.0, 0.0)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    store.ingest(GROUP.name, late)
    row = [r for r in store.latest_view(GROUP.name).collect() if r["customer_id"] == 3]
    assert row[0]["latest_purchase_value"] == 40.0


def test_history_between_string_semantics(store):
    # inclusive BETWEEN on the ISO string (reference: historical_features.py:31)
    out = store.history_between(
        GROUP.name, "2022-01-01T00:00:00Z", "2022-02-28T23:59:59Z"
    )
    assert sorted(r["customer_id"] for r in out.collect()) == [1, 2, 2]


def test_point_lookup_and_defaults(store):
    rec = store.get_record(GROUP.name, 1)
    d = {f["FeatureName"]: f["ValueAsString"] for f in rec}
    assert d["latest_purchase_value"] == "20.0"
    assert store.get_record(GROUP.name, 999) is None  # absent key -> None
    # absent key -> all-defaults vector (reference: real_time_inference.py:47)
    assert store.feature_vector(GROUP.name, 999, ["latest_purchase_value"]) == [0.0]


def test_delete_record_tombstone(store):
    # newest-event tombstone removes the key from the online view...
    store.delete_record(GROUP.name, 1, "2022-07-01T00:00:00Z")
    assert store.get_record(GROUP.name, 1) is None
    # ...but history keeps every record plus the tombstone (append-only)
    assert store.offline_store(GROUP.name).count() == len(ROWS) + 1
    # other keys unaffected
    assert store.get_record(GROUP.name, 3) is not None


def test_old_tombstone_does_not_delete(store):
    # a tombstone OLDER than the stored record loses the latest-wins
    # race — same late-data rule as any record
    store.delete_record(GROUP.name, 1, "2022-02-01T00:00:00Z")
    rec = store.get_record(GROUP.name, 1)
    assert rec is not None
    d = {f["FeatureName"]: f["ValueAsString"] for f in rec}
    assert d["latest_purchase_value"] == "20.0"


def test_reingest_after_delete_resurrects(store):
    store.delete_record(GROUP.name, 1, "2022-07-01T00:00:00Z")
    assert store.get_record(GROUP.name, 1) is None
    fresh = store.spark.createDataFrame(
        [(1, "2022-08-01T00:00:00Z", 99.0, 1.0)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    store.ingest(GROUP.name, fresh)
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 1)}
    assert d["latest_purchase_value"] == "99.0"


def test_batch_get_record(store):
    got = store.batch_get_record(GROUP.name, [1, 2, 999])
    assert set(got) == {1, 2}  # absent key omitted
    d1 = {f["FeatureName"]: f["ValueAsString"] for f in got[1]}
    assert d1["latest_purchase_value"] == "20.0"
    d2 = {f["FeatureName"]: f["ValueAsString"] for f in got[2]}
    assert d2["latest_purchase_value"] == "31.0"  # tie-break preserved


def test_online_materialization(store):
    # before materialization the serving view is the derived latest view
    assert store.online_store(GROUP.name).count() == 3
    store.materialize_online(GROUP.name)
    snap = store.online_store(GROUP.name)
    assert snap.count() == 3
    assert {r["customer_id"]: r["latest_purchase_value"] for r in snap.collect()} == {
        1: 20.0,
        2: 31.0,
        3: 40.0,
    }
    # materialized snapshot equals the derived view row-for-row
    derived = store.latest_view(GROUP.name)
    assert sorted(map(tuple, snap.select(*GROUP.feature_names).collect())) == sorted(
        map(tuple, derived.collect())
    )


def test_incremental_upsert_equals_recompute(store, spark):
    # MERGE path: materialize once, then upsert each later batch — the
    # result must equal a full recompute at every step, including an
    # equal-event-time overwrite and a tombstone.
    store.materialize_online(GROUP.name)
    batch2 = spark.createDataFrame(
        [
            (1, "2022-03-01T00:00:00Z", 77.0, 0.9),  # tie with stored latest
            (9, "2022-04-01T00:00:00Z", 50.0, 0.4),  # brand-new key
        ],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    out2 = store.ingest(GROUP.name, batch2)
    store.upsert_online(GROUP.name, out2)
    got = {
        r["customer_id"]: r["latest_purchase_value"]
        for r in store.online_store(GROUP.name).collect()
    }
    assert got == {1: 77.0, 2: 31.0, 3: 40.0, 9: 50.0}
    # tombstone via the same incremental path
    store.delete_record(GROUP.name, 3, "2022-12-01T00:00:00Z")
    tomb = store.offline_store(GROUP.name).filter(F.col("is_deleted"))
    store.upsert_online(GROUP.name, tomb)
    assert store.get_record(GROUP.name, 3) is None
    # stepwise-incremental snapshot == full recompute over history
    incremental = sorted(
        map(tuple, store.online_store(GROUP.name).collect())
    )
    store.materialize_online(GROUP.name)
    assert incremental == sorted(map(tuple, store.online_store(GROUP.name).collect()))
    # serving lookups go through the bucket-pruned materialized path
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 9)}
    assert d["latest_purchase_value"] == "50.0"
    assert store.get_record(GROUP.name, 424242) is None


def test_latest_view_subset_of_history(store):
    hist = set(
        (r["customer_id"], r["event_time"])
        for r in store.offline_store(GROUP.name).collect()
    )
    for r in store.latest_view(GROUP.name).collect():
        assert (r["customer_id"], r["event_time"]) in hist


def test_schema_enforcement(store, spark):
    bad = spark.createDataFrame([(1, "2022-01-01T00:00:00Z")], "customer_id long, event_time string")
    with pytest.raises(ValueError, match="missing feature columns"):
        store.ingest(GROUP.name, bad)
    unknown = spark.createDataFrame(
        [(1, "2022-01-01T00:00:00Z", 1.0, 1.0, "x")],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double, extra string",
    )
    with pytest.raises(ValueError, match="unknown feature columns"):
        store.ingest(GROUP.name, unknown)


def test_ingest_seq_dense_and_monotone_across_batches(spark, tmp_path):
    # ingest_seq must be dense 0..N-1 within a batch and strictly
    # greater in every later batch, regardless of partition count —
    # monotonically_increasing_id's 2^33 partition stride must never
    # leak into the sequence (ADVICE r1: a multi-partition batch's ids
    # dominated later batches' million-scale offsets).
    fs = FeatureStore(spark, str(tmp_path / "store"))
    fs.create_feature_group(GROUP)
    big = spark.createDataFrame(
        [(i, "2022-01-01T00:00:00Z", float(i), 0.5) for i in range(100)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    ).repartition(37)  # many partitions: the old scheme strides to 36*2^33
    fs.ingest(GROUP.name, big)
    seqs1 = sorted(
        r["ingest_seq"] for r in fs.offline_store(GROUP.name).select("ingest_seq").collect()
    )
    assert seqs1 == list(range(100))
    small = spark.createDataFrame(
        [(1, "2022-01-01T00:00:00Z", 999.0, 0.9)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    fs.ingest(GROUP.name, small)  # monotone across batches automatically
    seqs2 = sorted(
        r["ingest_seq"] for r in fs.offline_store(GROUP.name).select("ingest_seq").collect()
    )
    assert seqs2 == list(range(101))
    # the later batch's equal-event-time write wins for key 1
    by_key = {r["customer_id"]: r for r in fs.latest_view(GROUP.name).collect()}
    assert by_key[1]["latest_purchase_value"] == 999.0


def test_cross_batch_equal_timestamp_tombstone(spark, tmp_path):
    # A tombstone with the SAME event time as the stored record, written
    # in a later batch, must win the tie by ingest order alone — the
    # resurrect-on-replay hazard from ADVICE r1.
    fs = FeatureStore(spark, str(tmp_path / "store"))
    fs.create_feature_group(GROUP)
    big = spark.createDataFrame(
        [(i, "2022-06-01T00:00:00Z", float(i), 0.5) for i in range(64)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    ).repartition(16)
    fs.ingest(GROUP.name, big)
    fs.delete_record(GROUP.name, 7, "2022-06-01T00:00:00Z")
    assert fs.get_record(GROUP.name, 7) is None
    # a FRESH store instance (empty session cache) seeds its sequence
    # from the stored max: re-ingesting the key at the same event time
    # must resurrect it (later write wins again)
    fs2 = FeatureStore(spark, str(tmp_path / "store"))
    fs2.create_feature_group(GROUP)
    fresh = spark.createDataFrame(
        [(7, "2022-06-01T00:00:00Z", 123.0, 1.0)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    fs2.ingest(GROUP.name, fresh)
    d = {f["FeatureName"]: f["ValueAsString"] for f in fs2.get_record(GROUP.name, 7)}
    assert d["latest_purchase_value"] == "123.0"


def test_nondefault_bucket_count_is_persisted(store):
    # ADVICE r2 (online.py:105): a snapshot built with a non-default
    # bucket count must serve correct lookups without the caller
    # restating the count — it is recorded in the sidecar.
    store.materialize_online(GROUP.name, n_buckets=5)
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 1)}
    assert d["latest_purchase_value"] == "20.0"
    assert store.get_record(GROUP.name, 999) is None
    # an upsert with no explicit count adopts the stored layout
    batch = store.spark.createDataFrame(
        [(9, "2022-09-01T00:00:00Z", 5.0, 0.5)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    out = store.ingest(GROUP.name, batch)
    store.upsert_online(GROUP.name, out)
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 9)}
    assert d["latest_purchase_value"] == "5.0"


def test_conflicting_bucket_count_fails_loud(store):
    # a mismatched explicit count would prune the WRONG partitions —
    # it must raise, not silently miss keys
    store.materialize_online(GROUP.name, n_buckets=5)
    batch = store.spark.createDataFrame(
        [(9, "2022-09-01T00:00:00Z", 5.0, 0.5)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    out = store.ingest(GROUP.name, batch)
    with pytest.raises(ValueError, match="n_buckets"):
        store.upsert_online(GROUP.name, out, n_buckets=16)


def test_stale_snapshot_falls_back_to_latest_view(store):
    # ADVICE r2 (feature_store.py:221): an ingest not followed by
    # upsert_online must still be visible to point lookups — the
    # sidecar high-water mark flags the snapshot as stale.
    store.materialize_online(GROUP.name)
    newer = store.spark.createDataFrame(
        [(1, "2023-01-01T00:00:00Z", 555.0, 1.0)],
        "customer_id long, event_time string, latest_purchase_value double, latest_loyalty_score double",
    )
    store.ingest(GROUP.name, newer)  # no upsert_online on purpose
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 1)}
    assert d["latest_purchase_value"] == "555.0"
    assert store.online_store(GROUP.name).count() == 3
    # a delete is equally visible without a snapshot refresh
    store.delete_record(GROUP.name, 2, "2023-02-01T00:00:00Z")
    assert store.get_record(GROUP.name, 2) is None
    # refreshing the snapshot restores the pruned serving path
    store.materialize_online(GROUP.name)
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 1)}
    assert d["latest_purchase_value"] == "555.0"
    assert store.get_record(GROUP.name, 2) is None


def test_empty_upsert_batch_is_a_noop(store):
    # ADVICE r2 (online.py:69): an empty batch must neither clobber the
    # snapshot nor leave a schema-less write behind
    store.materialize_online(GROUP.name)
    before = sorted(map(tuple, store.online_store(GROUP.name).collect()))
    empty = store.offline_store(GROUP.name).filter(F.lit(False))
    store.upsert_online(GROUP.name, empty)
    assert sorted(map(tuple, store.online_store(GROUP.name).collect())) == before


def test_high_water_mark_counts_rows_that_lose_latest_wins(store, monkeypatch):
    # the batch's highest ingest_seq row is OLDER in event time than an
    # earlier row of the same key, so it loses the latest-wins race; the
    # snapshot has still merged it, and must not look stale afterwards
    store.materialize_online(GROUP.name)
    batch = store.spark.createDataFrame(
        [
            (1, "2023-06-01T00:00:00Z", 60.0, 0.6),  # key 1's winner
            (1, "2023-01-01T00:00:00Z", 10.0, 0.1),  # last row, loses
        ],
        SCHEMA4,
    ).coalesce(1)
    out = store.ingest(GROUP.name, batch)
    seqs = {r["latest_purchase_value"]: r["ingest_seq"] for r in out.collect()}
    assert seqs[10.0] == max(seqs.values())
    store.upsert_online(GROUP.name, out)
    assert store._fresh_snapshot_meta(GROUP.name) is not None

    def no_fallback(name):
        raise AssertionError("lookup fell back to latest_view")

    monkeypatch.setattr(store, "latest_view", no_fallback)
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 1)}
    assert d["latest_purchase_value"] == "60.0"


def test_null_deleted_flag_is_a_live_record(store):
    # a null is_deleted marks no tombstone: upsert_online must serve the
    # keys exactly as latest_view does, not store a null flag that the
    # serving filter then drops
    store.materialize_online(GROUP.name)
    batch = store.spark.createDataFrame(
        [
            (1, "2023-06-01T00:00:00Z", 61.0, 0.6, None),
            (2, "2023-06-01T00:00:00Z", 62.0, 0.7, None),
        ],
        SCHEMA4 + ", is_deleted boolean",
    )
    store.upsert_online(GROUP.name, store.ingest(GROUP.name, batch))
    latest = {r["customer_id"] for r in store.latest_view(GROUP.name).collect()}
    online = {r["customer_id"] for r in store.online_store(GROUP.name).collect()}
    assert {1, 2} <= latest
    assert online == latest
    for key, value in [(1, "61.0"), (2, "62.0")]:
        rec = store.get_record(GROUP.name, key)
        assert rec is not None, key
        d = {f["FeatureName"]: f["ValueAsString"] for f in rec}
        assert d["latest_purchase_value"] == value


def test_upsert_keeps_an_older_64_bucket_layout(store, spark):
    # a snapshot built under the former 64-bucket default must keep
    # being merged and served with 64 buckets: the sidecar wins over
    # the new default
    import os as _os

    from cust_sagemaker_feature_store_spark.core.online import (
        DEFAULT_N_BUCKETS,
        read_snapshot_meta,
    )

    assert DEFAULT_N_BUCKETS != 64
    store.materialize_online(GROUP.name, n_buckets=64)
    batch = spark.createDataFrame(
        [(k, "2023-03-01T00:00:00Z", 100.0 + k, 0.5) for k in (1, 3, 9, 70, 133)],
        SCHEMA4,
    )
    store.upsert_online(GROUP.name, store.ingest(GROUP.name, batch))
    online = store.online_path(GROUP.name)
    assert read_snapshot_meta(spark, online)["n_buckets"] == 64
    assert store._fresh_snapshot_meta(GROUP.name) is not None
    got = store.batch_get_record(GROUP.name, [1, 2, 3, 9, 70, 133, 999])
    vals = {
        k: {f["FeatureName"]: f["ValueAsString"] for f in rec}["latest_purchase_value"]
        for k, rec in got.items()
    }
    assert vals == {1: "101.0", 2: "31.0", 3: "103.0", 9: "109.0", 70: "170.0", 133: "233.0"}
    incremental = sorted(map(tuple, store.online_store(GROUP.name).collect()))
    store.materialize_online(GROUP.name, n_buckets=64)
    assert incremental == sorted(map(tuple, store.online_store(GROUP.name).collect()))
    # the merge goes straight into the snapshot: no scratch sibling
    assert not _os.path.exists(online + "__merge_scratch")


# measured with the suite's session (local[8], 8 shuffle partitions):
# 4 for the stats collect, which also fills the persisted batch from
# the ingest lineage; 2 for the pinned merge; 1 for the write. A
# scratch hop or an extra collect pushes it over.
UPSERT_JOB_BUDGET = 7


def test_upsert_online_job_budget(store, spark, count_jobs):
    store.materialize_online(GROUP.name)
    batch = spark.createDataFrame(
        [(k, "2023-03-01T00:00:00Z", float(k), 0.5) for k in range(1, 40)], SCHEMA4
    )
    out = store.ingest(GROUP.name, batch)
    jobs = count_jobs(lambda: store.upsert_online(GROUP.name, out))
    assert 0 < jobs <= UPSERT_JOB_BUDGET, jobs
    assert store.get_record(GROUP.name, 39) is not None


def test_fresh_lookup_is_one_job_and_one_sidecar_read(store, count_jobs, monkeypatch):
    # the sidecar is read once per lookup and carries the schema, so the
    # scan needs no footer schema-inference job before it
    from cust_sagemaker_feature_store_spark.core import feature_store, online

    store.materialize_online(GROUP.name)
    reads, read_meta = [], online.read_snapshot_meta

    def counted(spark, snapshot_dir):
        reads.append(snapshot_dir)
        return read_meta(spark, snapshot_dir)

    for mod in (online, feature_store):
        monkeypatch.setattr(mod, "read_snapshot_meta", counted)
    got = {}
    lookups = {
        "get_record": lambda: got.update(rec=store.get_record(GROUP.name, 2)),
        "feature_vector": lambda: got.update(
            vec=store.feature_vector(GROUP.name, 2, ["latest_purchase_value"])
        ),
    }
    for name, lookup in lookups.items():
        reads.clear()
        assert count_jobs(lookup) == 1, name
        assert len(reads) == 1, name
    d = {f["FeatureName"]: f["ValueAsString"] for f in got["rec"]}
    assert d["latest_purchase_value"] == "31.0"
    assert got["vec"] == [31.0]


def test_sidecar_without_schema_is_stale_until_rewritten(store, monkeypatch):
    # a sidecar written before the schema was recorded serves through
    # latest_view, and the next upsert_online rewrites it fresh
    import json
    import os as _os

    store.materialize_online(GROUP.name)
    meta_path = _os.path.join(store.online_path(GROUP.name), "_snapshot_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    with open(meta_path, "w") as fh:
        json.dump({"n_buckets": meta["n_buckets"], "seq_high": meta["seq_high"]}, fh)
    # the local Hadoop FS would reject the edit against its old checksum
    _os.remove(_os.path.join(_os.path.dirname(meta_path), "._snapshot_meta.json.crc"))
    assert store._fresh_snapshot_meta(GROUP.name) is None

    fallbacks = []
    latest_view = store.latest_view

    def counted(name):
        fallbacks.append(name)
        return latest_view(name)

    monkeypatch.setattr(store, "latest_view", counted)
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 1)}
    assert d["latest_purchase_value"] == "20.0"
    got = {
        r["customer_id"]: r["latest_purchase_value"]
        for r in store.online_store(GROUP.name).collect()
    }
    assert got == {1: 20.0, 2: 31.0, 3: 40.0}
    assert len(fallbacks) == 2

    batch = store.spark.createDataFrame([(9, "2023-03-01T00:00:00Z", 9.0, 0.9)], SCHEMA4)
    store.upsert_online(GROUP.name, store.ingest(GROUP.name, batch))
    assert "schema" in store._fresh_snapshot_meta(GROUP.name)
    fallbacks.clear()
    got = {
        r["customer_id"]: r["latest_purchase_value"]
        for r in store.online_store(GROUP.name).collect()
    }
    assert got == {1: 20.0, 2: 31.0, 3: 40.0, 9: 9.0}
    d = {f["FeatureName"]: f["ValueAsString"] for f in store.get_record(GROUP.name, 9)}
    assert d["latest_purchase_value"] == "9.0"
    assert fallbacks == []


def test_loose_timestamp_roundtrip(spark):
    # F1/F3: '2022-01-02 7:43:18' (unpadded hour, reference:
    # test_task_data.csv:2) -> ISO-8601-Z
    df = spark.createDataFrame([("2022-01-02 7:43:18",)], "raw string")
    out = df.select(format_iso_z(parse_loose_timestamp("raw")).alias("iso")).collect()
    assert out[0]["iso"] == "2022-01-02T07:43:18Z"


def test_partitioned_by_event_date(store):
    # date partitioning is the 100 TB pruning lever (SURVEY.md §4)
    import os

    root = store.offline_path(GROUP.name)
    parts = [p for p in os.listdir(root) if p.startswith("event_date=")]
    assert len(parts) >= 4


SCHEMA4 = (
    "customer_id long, event_time string, "
    "latest_purchase_value double, latest_loyalty_score double"
)


def test_compact_offline_preserves_content(spark, tmp_path):
    from cust_sagemaker_feature_store_spark.core.maintenance import (
        _data_files,
        _partition_dirs,
    )

    fs = FeatureStore(spark, str(tmp_path / "cstore"))
    fs.create_feature_group(GROUP)
    # three ingests touching the SAME event_date -> >=3 files in it
    for i in range(3):
        fs.ingest(
            GROUP.name,
            spark.createDataFrame(
                [(10 + i, "2022-06-01T00:00:0%dZ" % i, float(i), 0.1)], SCHEMA4
            ),
        )
    path = fs.offline_path(GROUP.name)
    import os as _os

    dirs = _partition_dirs(path)
    assert dirs == ["event_date=2022-06-01"]
    assert len(_data_files(_os.path.join(path, dirs[0]))) >= 3

    before = sorted(map(tuple, fs.offline_store(GROUP.name).collect()))
    rewritten = fs.compact_offline(GROUP.name)
    assert rewritten.get("event_date=2022-06-01", 0) >= 3
    assert len(_data_files(_os.path.join(path, dirs[0]))) == 1
    after = sorted(map(tuple, fs.offline_store(GROUP.name).collect()))
    assert before == after


def test_vacuum_offline_preserves_latest_view(spark, tmp_path):
    fs = FeatureStore(spark, str(tmp_path / "vstore"))
    fs.create_feature_group(GROUP)
    fs.ingest(GROUP.name, spark.createDataFrame(ROWS, SCHEMA4))
    # key 2's latest becomes a tombstone (still pre-cutoff): it must
    # survive the vacuum or the deletion would silently un-delete
    fs.delete_record(GROUP.name, 2, "2022-02-02T00:00:00Z")

    view_before = sorted(
        map(tuple, fs.latest_view(GROUP.name).collect())
    )
    recent_before = sorted(
        map(
            tuple,
            fs.history_between(
                GROUP.name, "2022-04-01T00:00:00Z", "2022-12-31T23:59:59Z"
            ).collect(),
        )
    )

    touched = fs.vacuum_offline(GROUP.name, "2022-04-01T00:00:00Z")
    assert touched  # pre-cutoff partitions were rewritten

    # serving contract identical: key 1 keeps its (old) latest record,
    # key 2 stays deleted, key 3 untouched
    view_after = sorted(map(tuple, fs.latest_view(GROUP.name).collect()))
    assert view_before == view_after
    recent_after = sorted(
        map(
            tuple,
            fs.history_between(
                GROUP.name, "2022-04-01T00:00:00Z", "2022-12-31T23:59:59Z"
            ).collect(),
        )
    )
    assert recent_before == recent_after

    # and history actually shrank: key 1's January row and key 2's two
    # superseded February records are gone; kept = key1 latest (Mar 1),
    # key2 tombstone, key3 May row
    hist = fs.offline_store(GROUP.name)
    assert hist.count() == 3
    assert (
        hist.filter(F.col("customer_id") == 1).count() == 1
        and hist.filter(F.col("customer_id") == 2).count() == 1
    )


def test_stage_and_swap_leftovers_are_harmless(spark, tmp_path):
    """Crash-safety contract of core/maintenance: a leftover staging or
    backup directory from an interrupted rewrite must neither break
    store reads (dot-prefixed dirs are invisible to Spark's file index)
    nor corrupt a subsequent maintenance run (stale leftovers are
    cleared before re-staging)."""
    import os as _os

    fs = FeatureStore(spark, str(tmp_path / "sstore"))
    fs.create_feature_group(GROUP)
    for i in range(2):
        fs.ingest(
            GROUP.name,
            spark.createDataFrame(
                [(20 + i, "2022-07-01T00:00:0%dZ" % i, float(i), 0.2)], SCHEMA4
            ),
        )
    path = fs.offline_path(GROUP.name)
    before = sorted(map(tuple, fs.offline_store(GROUP.name).collect()))

    # simulate an interrupted rewrite: stale staging + backup dirs with
    # junk parquet-less content sitting next to the live partition
    for leftover in (
        ".event_date=2022-07-01.staging",
        ".event_date=2022-07-01.old",
    ):
        d = _os.path.join(path, leftover)
        _os.makedirs(d, exist_ok=True)
        with open(_os.path.join(d, "garbage.txt"), "w") as fh:
            fh.write("not parquet")

    # reads ignore the hidden leftovers entirely
    assert sorted(map(tuple, fs.offline_store(GROUP.name).collect())) == before

    # a new maintenance run clears them and still round-trips content
    rewritten = fs.compact_offline(GROUP.name)
    assert rewritten  # the 2-file partition was compacted
    assert sorted(map(tuple, fs.offline_store(GROUP.name).collect())) == before
    leftovers = [
        d
        for d in _os.listdir(path)
        if d.startswith(".") and (".staging" in d or ".old" in d)
    ]
    assert leftovers == []


def test_recover_interrupted_mid_swap_with_later_ingest(spark, tmp_path):
    """The worst interrupted-rewrite case: crash BETWEEN the two swap
    renames (live dir gone, pre-crash rows only in .old, staging
    leftover present), followed by a NEW ingest that re-creates the
    live partition dir. Recovery must merge the pre-crash rows back
    without touching the newly ingested ones — and must classify an
    .old WITHOUT staging (post-swap crash) as garbage."""
    import os as _os
    import shutil as _shutil

    from cust_sagemaker_feature_store_spark.core.maintenance import (
        recover_interrupted_swaps,
    )

    fs = FeatureStore(spark, str(tmp_path / "rstore"))
    fs.create_feature_group(GROUP)
    fs.ingest(
        GROUP.name,
        spark.createDataFrame(
            [(40, "2022-08-01T00:00:00Z", 1.0, 0.1),
             (41, "2022-08-01T01:00:00Z", 2.0, 0.2),
             (49, "2022-09-09T00:00:00Z", 9.0, 0.9)],  # untouched partition
            SCHEMA4,
        ),
    )
    path = fs.offline_path(GROUP.name)
    live = _os.path.join(path, "event_date=2022-08-01")
    before = sorted(map(tuple, fs.offline_store(GROUP.name).collect()))

    # simulate the mid-swap crash: live renamed to .old, staging left
    _os.rename(live, _os.path.join(path, ".event_date=2022-08-01.old"))
    _os.makedirs(_os.path.join(path, ".event_date=2022-08-01.staging"))
    # the crashed partition is now invisible to reads
    assert sorted(
        r["customer_id"] for r in fs.offline_store(GROUP.name).collect()
    ) == [49]

    # a later ingest re-creates the live dir with NEW rows
    fs.ingest(
        GROUP.name,
        spark.createDataFrame(
            [(42, "2022-08-01T02:00:00Z", 3.0, 0.3)], SCHEMA4
        ),
    )

    repaired = recover_interrupted_swaps(path)
    assert repaired == ["event_date=2022-08-01"]
    after = sorted(map(tuple, fs.offline_store(GROUP.name).collect()))
    ids = sorted(r[0] for r in after)
    assert ids == [40, 41, 42, 49]  # pre-crash rows restored, new row kept
    assert [t for t in before if t in after] == before

    # post-swap crash signature: .old alone, live present -> garbage
    bak = _os.path.join(path, ".event_date=2022-08-01.old")
    _os.makedirs(bak)
    assert recover_interrupted_swaps(path) == []
    assert not _os.path.isdir(bak)
    _shutil.rmtree(str(tmp_path / "rstore"), ignore_errors=True)


def test_swap_concurrent_writer_raises_and_restores(spark, tmp_path, monkeypatch):
    """Single-writer contract violation (ADVICE r4): a concurrent ingest
    re-creating the live dir between the two swap renames must make the
    maintenance job fail LOUDLY after routing the partition through
    recovery — original rows restored, the concurrent writer's new rows
    kept, zero hidden leftovers."""
    import os as _os

    from cust_sagemaker_feature_store_spark.core import maintenance as M

    fs = FeatureStore(spark, str(tmp_path / "wstore"))
    fs.create_feature_group(GROUP)
    for i in range(2):  # two files in one partition so compaction engages
        fs.ingest(
            GROUP.name,
            spark.createDataFrame(
                [(30 + i, "2022-07-02T00:00:0%dZ" % i, float(i), 0.3)], SCHEMA4
            ),
        )
    before = sorted(map(tuple, fs.offline_store(GROUP.name).collect()))

    real_rename = _os.rename

    def racing_rename(src, dst):
        if src.endswith(".staging"):
            # a concurrent ingest lands between the two renames,
            # re-creating the live partition dir with a new row
            fs.ingest(
                GROUP.name,
                spark.createDataFrame(
                    [(99, "2022-07-02T09:00:00Z", 9.0, 0.9)], SCHEMA4
                ),
            )
        real_rename(src, dst)

    monkeypatch.setattr(M.os, "rename", racing_rename)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        fs.compact_offline(GROUP.name)
    monkeypatch.undo()

    after = sorted(map(tuple, fs.offline_store(GROUP.name).collect()))
    assert sorted(r[0] for r in after) == [30, 31, 99]
    assert [t for t in after if t in before] == before  # originals intact
    path = fs.offline_path(GROUP.name)
    leftovers = [
        d
        for d in _os.listdir(path)
        if d.startswith(".") and (d.endswith(".staging") or d.endswith(".old"))
    ]
    assert leftovers == []


def test_bitemporal_pin_is_stable_under_late_data(spark):
    """The (event-time T, knowledge K) bitemporal snapshot must be
    byte-identical before and after a LATE record (event time <= T,
    ingest seq > K) lands — that is the reproducibility contract — and
    the knowledge-unpinned as-of view must change, which is why the
    pin exists."""
    from pyspark.sql import functions as F

    from cust_sagemaker_feature_store_spark.operators.latest import (
        latest_snapshot_window,
    )

    schema = "user_id long, seq long, ts string, value double"

    def frame(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    base = frame(
        [
            (1, 10, "2024-01-05 00:00:00", 1.0),
            (1, 11, "2024-01-08 00:00:00", 2.0),
            (2, 12, "2024-01-09 00:00:00", 5.0),
        ]
    )
    # event time before T=Jan-10, but ingested after K=20
    late = frame([(1, 99, "2024-01-09 12:00:00", 7.0)])

    def snap(df, pin_knowledge):
        f = df.filter(F.col("ts") <= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        if pin_knowledge:
            f = f.filter(F.col("seq") <= 20)
        return sorted(
            (r["user_id"], r["seq"], r["value"])
            for r in latest_snapshot_window(
                f, "user_id", "ts", tie_breaker="seq"
            ).collect()
        )

    before = snap(base, pin_knowledge=True)
    after = snap(base.unionByName(late), pin_knowledge=True)
    assert before == after == [(1, 11, 2.0), (2, 12, 5.0)]
    # without the knowledge pin the late record rewrites history
    assert snap(base.unionByName(late), pin_knowledge=False) != before
