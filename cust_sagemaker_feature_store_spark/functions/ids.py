"""Dense, deterministic row-id assignment (ingest-sequence support).

``monotonically_increasing_id`` alone is NOT a usable cross-batch
sequence: it packs the partition index into bits 33+ (ids stride by
2^33 per partition), so "offset the next batch by a million" does not
dominate a prior multi-partition batch's ids — equal-event-time
tie-breaks (including delete tombstones) could then resolve by
partition layout instead of ingest order, silently resurrecting stale
records. Flagged in round-1 review (ADVICE r1, feature_store.py:115).

The fix assigns ids DENSE in ``0..N-1`` for a batch, so the id space a
batch occupies is bounded by its row count — which a caller CAN
provably offset past:

1. per-partition row index = the low 33 bits of
   ``monotonically_increasing_id`` (its documented layout: partition id
   above bit 33, row-in-partition below);
2. exact per-partition offsets from a count-by-partition job (narrow,
   column-pruned — it reads no data columns), looked up as a literal
   ``partition id -> offset`` map, so the returned frame has no join
   and its actions run no more jobs than the input's.

Two passes over the batch, no shuffle of data rows, dense regardless of
partition count or skew. Correctness requires the input's partitioning
and row order to be IDENTICAL across the two jobs, which the function
now enforces rather than documents (round-3 advice): an input that is
not already persisted is pinned via an EAGER ``localCheckpoint`` here,
so the counts job and the id-assignment job both read one fixed
materialization instead of recomputing a possibly non-deterministic
lineage (rand(), unstable shuffle, mutable re-read). Both engine ingest
paths persist before calling and keep managing that lifecycle
themselves; the in-function pin only catches future callers who
forget. localCheckpoint (not ``persist``) for two reasons: its blocks
are reclaimed by the ContextCleaner once the frame is garbage-
collected (a ``persist`` registered here could never be safely
unpersisted in-function and would leak one cache entry per call), and
— decisive for the CONTRACT — on executor loss persist silently
*recomputes* evicted blocks from lineage, which for a non-
deterministic source re-introduces the very divergence this pin
exists to prevent; a lost localCheckpoint block instead fails the job
loudly. Loud failure beats silent id corruption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MONO_ROW_MASK = (1 << 33) - 1  # low bits of monotonically_increasing_id


def with_dense_row_ids(df: DataFrame, out_col: str) -> tuple[DataFrame, int]:
    """Add ``out_col`` holding dense row ids ``0..N-1``; return the
    frame and ``N``. Ids are assigned in (partition, row-in-partition)
    order — an arbitrary but deterministic order for a deterministic
    source."""
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        # not pinned by the caller: pin it here so both jobs see one
        # materialization (see module docstring — determinism contract,
        # and why this is a localCheckpoint rather than a persist)
        df = df.localCheckpoint(eager=True)
    tagged = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__row", F.monotonically_increasing_id().bitwiseAND(F.lit(MONO_ROW_MASK))
    )
    counts = sorted(
        tagged.groupBy("__pid").count().collect(), key=lambda r: r["__pid"]
    )
    pairs, total = [], 0
    for r in counts:
        pairs += [F.lit(r["__pid"]), F.lit(total).cast("long")]
        total += r["count"]
    off = F.create_map(*pairs)[F.col("__pid")] if pairs else F.lit(0)
    out = tagged.withColumn(out_col, off + F.col("__row")).drop("__pid", "__row")
    return out, total
