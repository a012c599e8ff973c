"""Core data model: opcodes, schemas, the ordered change-time encoding.

Re-creates (from scratch, Spark-first) the data model of scylla-cdc-java:

- operation codes 0-9 (reference: scylla-cdc-replicator Main.java:547-556),
- the CDC log row shape ``cdc$stream_id / cdc$time / cdc$operation / cdc$ttl /
  cdc$deleted_<col>`` plus nullable copies of every base-table column
  (reference: scylla-cdc-lib Change.java:11-43, driver/Reader.java:105-111),
- three-valued cell semantics: value present -> write; NULL + deleted marker ->
  write NULL; NULL + no marker -> column untouched (reference: replicator
  Main.java:143-144),
- a totally-ordered, tie-free stand-in for ``timeuuid`` ``cdc$time``: a struct
  ``(ms, seq)`` packed into one int64 ``ms * 2^21 + seq`` for cheap JVM-side
  comparisons (reference relies on timeuuid total order per stream,
  Change.java:25-27).

The base ("target") table is the BASELINE input shape:
``repo_content(repo string, path string, commit string, lang string,
content string)`` with logical PK ``(repo, path)`` — ``repo`` is the
partition key, ``path`` the clustering key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Operation codes (reference: replicator Main.java:547-556 + mode dispatch
# 563-598,653-672)
# --------------------------------------------------------------------------
OP_PREIMAGE = 0
OP_ROW_UPDATE = 1
OP_ROW_INSERT = 2
OP_ROW_DELETE = 3
OP_PARTITION_DELETE = 4
OP_RANGE_DELETE_START_INCLUSIVE = 5
OP_RANGE_DELETE_START_EXCLUSIVE = 6
OP_RANGE_DELETE_END_INCLUSIVE = 7
OP_RANGE_DELETE_END_EXCLUSIVE = 8
OP_POSTIMAGE = 9

WRITE_OPS = (OP_ROW_UPDATE, OP_ROW_INSERT)
RANGE_START_OPS = (OP_RANGE_DELETE_START_INCLUSIVE, OP_RANGE_DELETE_START_EXCLUSIVE)
RANGE_END_OPS = (OP_RANGE_DELETE_END_INCLUSIVE, OP_RANGE_DELETE_END_EXCLUSIVE)

# cdc$time packing: ts = ms * 2^SEQ_BITS + seq. seq breaks ms ties; the
# generator guarantees seq < 2^SEQ_BITS so packing is order-preserving and
# tie-free (the reference's timeuuid is unique per event).
SEQ_BITS = 21
SEQ_MOD = 1 << SEQ_BITS


def pack_time(ms: int, seq: int) -> int:
    """Pack (ms, seq) into one sortable int64 (timeuuid stand-in)."""
    return ms * SEQ_MOD + seq


def unpack_time(ts: int) -> tuple[int, int]:
    return divmod(ts, SEQ_MOD)


# --------------------------------------------------------------------------
# Table configuration
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class TableConfig:
    """Schema-level knowledge the reference reads from live cluster metadata
    (replicator Main.java:544-545); we carry it explicitly.

    ``value_columns`` may grow/shrink between batches (schema evolution —
    reference enumerates columns per row, Main.java:141): the apply engine
    always derives the *active* column set from the batch schema, this is
    just the initial/default.
    """

    name: str = "repo_content"
    partition_key: tuple[str, ...] = ("repo",)
    clustering_key: tuple[str, ...] = ("path",)
    value_columns: tuple[str, ...] = ("commit", "lang", "content")
    # Non-frozen collection columns (reference: UnpreparedUpdateOp,
    # replicator Main.java:203-276), modeled as map<string,string>:
    # a SET is map<elem,"">, a LIST is map<timeuuid,elem> whose read
    # order is the key sort (Main.java:150-161). Log sidecars per column
    # c: `cdc$deleted_<c>` boolean = whole-collection overwrite,
    # `cdc$deleted_elements_<c>` array<string> = per-element removals.
    collection_columns: tuple[str, ...] = ()

    @property
    def primary_key(self) -> tuple[str, ...]:
        return self.partition_key + self.clustering_key


DEFAULT_TABLE = TableConfig()

# Metadata column names in the CDC log (reference: Change.java:11-43)
COL_STREAM_ID = "cdc$stream_id"
COL_TIME = "cdc$time"  # struct<ms,seq> in storage
COL_TS = "cdc$ts"  # packed int64, derived by the source normalizer
COL_OP = "cdc$operation"
COL_TTL = "cdc$ttl"
COL_BATCH_SEQ = "cdc$batch_seq_no"
DELETED_PREFIX = "cdc$deleted_"

# Physical partition columns of the log (design addition for pruning;
# mirrors the reference's (stream ids x time window) scan predicate,
# Reader.java:105-111, as static partition pruning).
COL_GENERATION = "generation"  # int64 generation start ms
COL_STREAM_GROUP = "stream_group"
COL_TIME_BUCKET = "time_bucket"

CDC_META_COLS = (COL_STREAM_ID, COL_TIME, COL_TS, COL_OP, COL_TTL, COL_BATCH_SEQ)
LOG_PARTITION_COLS = (COL_GENERATION, COL_STREAM_GROUP, COL_TIME_BUCKET)

# Hidden bookkeeping columns in the target table (per-cell last-write
# timestamps -> cell-level LWW, the Spark equivalent of Scylla's
# `USING TIMESTAMP` idempotent writes, replicator Main.java:124-128).
TS_PREFIX = "_ts_"
COL_MARKER_TS = "_ts_marker"  # row marker from INSERT (op 2) / POSTIMAGE (9)
COL_TOMB_TS = "_ts_tomb"  # max covering tombstone (row/partition/range)
COL_LIVE = "_live"  # precomputed row-visibility flag

# Per-cell TTL carried with the winning write (the reference binds/unsets
# TTL on every statement, replicator Main.java:131-138; Scylla expires the
# cell at write-time + TTL). The sink stores the winning write's TTL next
# to its timestamp; expiry is applied at READ time (`read(as_of_ms=...)`)
# — the lake-storage equivalent of Scylla's compaction-time expiry.
TTL_PREFIX = "_ttl_"
COL_MARKER_TTL = "_ttl_marker"  # TTL bound with the winning INSERT marker


def ts_col(value_col: str) -> str:
    return TS_PREFIX + value_col


def ttl_col(value_col: str) -> str:
    return TTL_PREFIX + value_col


DELETED_ELEMENTS_PREFIX = "cdc$deleted_elements_"
CTOMB_PREFIX = "_ctomb_"  # collection tombstone (whole-map overwrite)


def deleted_elements_col(coll_col: str) -> str:
    return DELETED_ELEMENTS_PREFIX + coll_col


def ctomb_col(coll_col: str) -> str:
    return CTOMB_PREFIX + coll_col


def deleted_col(value_col: str) -> str:
    return DELETED_PREFIX + value_col


def time_struct_type() -> T.StructType:
    return T.StructType(
        [
            T.StructField("ms", T.LongType(), False),
            T.StructField("seq", T.LongType(), False),
        ]
    )


def cdc_log_schema(table: TableConfig = DEFAULT_TABLE) -> T.StructType:
    """StructType of the log parquet (FIXTURES.md section 2)."""
    fields = [
        T.StructField(COL_STREAM_ID, T.BinaryType(), False),
        T.StructField(COL_TIME, time_struct_type(), False),
        T.StructField(COL_OP, T.ByteType(), False),
        T.StructField(COL_TTL, T.LongType(), True),
        T.StructField(COL_BATCH_SEQ, T.IntegerType(), True),
    ]
    for c in table.partition_key:
        fields.append(T.StructField(c, T.StringType(), False))
    for c in table.clustering_key:
        fields.append(T.StructField(c, T.StringType(), True))
    for c in table.value_columns:
        fields.append(T.StructField(c, T.StringType(), True))
    for c in table.value_columns:
        fields.append(T.StructField(deleted_col(c), T.BooleanType(), True))
    fields += [
        T.StructField(COL_GENERATION, T.LongType(), False),
        T.StructField(COL_STREAM_GROUP, T.IntegerType(), False),
        T.StructField(COL_TIME_BUCKET, T.LongType(), False),
    ]
    return T.StructType(fields)


def generations_schema() -> T.StructType:
    """Mirror of system_distributed.cdc_streams_descriptions
    (reference: Reader.java:94-103): (time, streams set<blob>)."""
    return T.StructType(
        [
            T.StructField("time", T.LongType(), False),  # generation start, ms
            T.StructField("streams", T.ArrayType(T.BinaryType(), False), False),
        ]
    )


def target_physical_schema(table: TableConfig = DEFAULT_TABLE) -> T.StructType:
    fields = [T.StructField(c, T.StringType(), False) for c in table.primary_key]
    for c in table.value_columns:
        fields.append(T.StructField(c, T.StringType(), True))
    for c in table.value_columns:
        fields.append(T.StructField(ts_col(c), T.LongType(), True))
    for c in table.value_columns:
        fields.append(T.StructField(ttl_col(c), T.LongType(), True))
    fields += [
        T.StructField(COL_MARKER_TS, T.LongType(), True),
        T.StructField(COL_MARKER_TTL, T.LongType(), True),
        T.StructField(COL_TOMB_TS, T.LongType(), True),
        T.StructField(COL_LIVE, T.BooleanType(), False),
    ]
    return T.StructType(fields)


@dataclass
class EngineConfig:
    """Tunables; the protocol constants mirror the reference
    (FetchingWindowFactory.java:16-18, Worker.java:28-30,
    GenerationsFetcher.java:88)."""

    late_writes_window_ms: int = 10_000
    window_length_limit_ms: int = 30_000
    poll_cropped_s: float = 1.0
    poll_busy_s: float = 10.0
    poll_idle_s: float = 30.0
    # Multiplier on every tail-mode poll sleep. Production default 1.0
    # keeps the reference's real 1/10/30 s tiers (Worker.java:28-30);
    # tests inject a small value to run fast (round 2 hard-capped every
    # sleep at 50 ms in production code — judged a wart, now a config).
    sleep_scale: float = 1.0
    min_generation_age_ms: int = 30_000
    # quiet period between generation-metadata re-reads in live tail
    # (reference: UpdateableGenerationMetadata.java:29) — an idle poll
    # inside the quiet window costs ZERO Spark jobs (cached generations
    # + footer-stats window pruning)
    gen_refresh_quiet_ms: int = 10_000
    num_buckets: int = 32  # target-table storage buckets (partition-key hash)
    # merge-on-read: compact a bucket once it accumulates this many
    # delta segments (amortized bucket-rewrite cost = 1/compact_threshold
    # per window); 1 = copy-on-write per window
    compact_threshold: int = 8
    # LSM minor-compaction size ratio (ParquetMergeSink
    # minor_compact_ratio): over-threshold buckets whose delta rows are
    # <= base_rows * ratio fold deltas only, leaving the base
    # untouched; 0 = always rewrite the bucket (pre-round-5 behavior)
    minor_compact_ratio: float = 0.5
    # bloom-filter bucket skipping on these value columns (sink
    # bloom_columns; None inherits the table's persisted config)
    bloom_columns: tuple | None = None
    # Opt-in adaptive window split: cap a fetch window's ESTIMATED event
    # count (parquet-footer row counts, proportional ms-overlap) in
    # addition to the reference's time cap. The epoch-0 backfill window
    # is exempt from the time cap by protocol
    # (FetchingWindowFactory.java:45), so first catch-up on a 10^10-event
    # backlog folds one table-sized slice: Spark's sort shuffle handles
    # that (it spills), but a single task failure retries the whole
    # backfill and no checkpoint lands until it finishes. The cap bounds
    # retry cost and checkpoint granularity — it is NOT a throughput
    # optimization: interleaved A/B on the 108 M-event world (BASELINE.md
    # round 4) measured capped-at-25M ~1.6x SLOWER than uncapped at
    # local[16] (fixed per-window cost × 3x windows), so it stays off by
    # default and the protocol's window shape is preserved.
    max_window_rows: int | None = None
    mode: str = "delta"  # delta | postimage | preimage (Main.java:563-598)
