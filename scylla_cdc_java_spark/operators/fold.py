"""The vectorized apply fold — Spark-first re-creation of the replicator's
per-change apply engine (reference: scylla-cdc-replicator Main.java:
UpdateOp 278-305, InsertOp 307-326, RowDeleteOp 328-346,
PartitionDeleteOp 348-366, bind path 140-174).

Design: the reference applies one prepared CQL statement per change row,
relying on Scylla's cell-level ``USING TIMESTAMP`` last-writer-wins to
make order and redelivery irrelevant (Main.java:124-128). That semantics
is *monotone*: the final value of every cell/marker/tombstone is a pure
``max`` over (timestamp, payload) pairs. So the whole per-key apply loop
collapses into ONE ``groupBy(pk).agg(max(struct(ts, value)) ...)`` —
entirely JVM-side and **skew-immune**. Struct-typed ``max`` buffers are
not HashAggregateExec-compatible, so Spark plans a SortAggregate: a
partial aggregate over each locally sorted input partition, the
shuffle, then the final aggregate (plans/r06/replay_fold_after.txt). A
hot (repo, path) key is therefore pre-collapsed per input partition
before the shuffle and each reducer receives at most #map-partitions
pre-aggregated rows per key. This is why we deliberately use
groupBy+max(struct) instead of a window ``last(ignorenulls)`` (a window
would shuffle ALL rows of the hot key to one task). No pandas/Python in
this hot path at all.

Three-valued cell semantics (Main.java:143-144) map to:
  written  := value IS NOT NULL OR cdc$deleted_<col>
  payload  := CASE WHEN cdc$deleted_<col> THEN NULL ELSE value END
  cell     := max(struct(ts, payload)) over written rows   -- LWW
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from ..model import (
    COL_OP,
    COL_STREAM_ID,
    COL_TIME,
    COL_TS,
    COL_TTL,
    COL_MARKER_TS,
    COL_MARKER_TTL,
    DELETED_PREFIX,
    ctomb_col,
    deleted_elements_col,
    OP_PARTITION_DELETE,
    OP_POSTIMAGE,
    OP_ROW_DELETE,
    OP_ROW_INSERT,
    OP_ROW_UPDATE,
    SEQ_MOD,
    TableConfig,
    deleted_col,
)
from .tombstones import extract_range_tombstones


def normalize_log(df: DataFrame) -> DataFrame:
    """Add the packed int64 ``cdc$ts`` (one comparison instead of struct
    compare everywhere downstream)."""
    return df.withColumn(
        COL_TS,
        F.col(COL_TIME + ".ms") * F.lit(SEQ_MOD) + F.col(COL_TIME + ".seq"),
    )


@dataclass
class FoldResult:
    """Per-batch folded state, all still-lazy DataFrames.

    key_state:  one row per touched (pk); columns per value column c:
                ``c`` (winning payload, NULL = explicit delete or unwritten)
                ``_ts_c`` (winning write ts, NULL = untouched this batch)
                plus ``_ts_marker`` (INSERT/POSTIMAGE marker ts) and
                ``_row_tomb`` (ROW_DELETE ts) — NULLs mean "no event".
    part_tombs: (repo..., ts) partition tombstones (op 4).
    range_tombs:(repo..., lo, lo_incl, hi, hi_incl, ts) closed pairs.
    pending_range_df: open range starts at batch end (op 5/6 without a
                following end in this batch) — tiny; goes to checkpoint
                (reference RangeTombstoneState, Main.java:491-531).
    pending_end_df: range ends whose start has not arrived (possible
                only under out-of-order streaming file delivery; always
                empty for the chronological batch engine).
    """

    key_state: DataFrame
    part_tombs: DataFrame
    range_tombs: DataFrame
    pending_range_df: DataFrame
    pending_end_df: DataFrame = None


def _cell_aggs(table: TableConfig, value_cols: list[str]) -> list[Column]:
    aggs: list[Column] = []
    for c in value_cols:
        dc = deleted_col(c)
        written = F.col(c).isNotNull() | F.coalesce(F.col(dc), F.lit(False))
        payload = F.when(F.coalesce(F.col(dc), F.lit(False)), F.lit(None)).otherwise(
            F.col(c)
        )
        # the struct rides the winning write's TTL along with it
        # (replicator binds/unsets TTL per statement, Main.java:131-138);
        # ts is tie-free, so the extra field never affects the max order
        cell = F.when(
            written,
            F.struct(
                F.col(COL_TS).alias("ts"),
                payload.alias("v"),
                F.col(COL_TTL).alias("ttl"),
            ),
        )
        aggs.append(F.max(cell).alias(f"__cell_{c}"))
    return aggs


def _fold_collections(keyed: DataFrame, pk: list[str],
                      coll_cols: list[str], postimage: bool) -> DataFrame:
    """Per-element LWW fold for non-frozen collection columns
    (reference: UnpreparedUpdateOp, replicator Main.java:203-276),
    entirely JVM-side: EXPLODE each row's element writes (map entries)
    and element removals (``cdc$deleted_elements_<c>`` keys, folded as
    NULL-valued cells), group per (pk, element key) for the winning
    (ts, value, ttl), then regroup to one ``map<elem, struct<v,ts,ttl>>``
    per key. A whole-collection overwrite (``cdc$deleted_<c>`` true, or
    any postimage row) contributes a collection tombstone at ts-1 — the
    Cassandra/Scylla encoding that lets the same statement's elements
    survive their own overwrite.

    Returns one row per touched pk: the folded map + ``_ctomb_<c>`` per
    collection column. Skew posture: the element fold is an aggregate
    on (pk, elem) — partial aggregation before the shuffle collapses
    hot keys exactly like the scalar fold."""
    df = keyed
    for c in coll_cols:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("map<string,string>"))
        if deleted_col(c) not in df.columns:
            df = df.withColumn(deleted_col(c), F.lit(None).cast("boolean"))
        if deleted_elements_col(c) not in df.columns:
            df = df.withColumn(
                deleted_elements_col(c), F.lit(None).cast("array<string>")
            )

    merged = None
    for c in coll_cols:
        empty_map = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
        writes = F.transform(
            F.map_entries(F.coalesce(F.col(c), empty_map)),
            lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v")),
        )
        removes = F.transform(
            F.coalesce(
                F.col(deleted_elements_col(c)), F.array().cast("array<string>")
            ),
            lambda k: F.struct(
                k.alias("k"), F.lit(None).cast("string").alias("v")
            ),
        )
        cells = (
            df.select(
                *pk, COL_TS, COL_TTL,
                F.explode(F.concat(writes, removes)).alias("_e"),
            )
            .groupBy(*pk, F.col("_e.k").alias("_k"))
            .agg(
                F.max(
                    F.struct(
                        F.col(COL_TS).alias("ts"),
                        F.col("_e.v").alias("v"),
                        F.col(COL_TTL).alias("ttl"),
                    )
                ).alias("_cell")
            )
            .groupBy(*pk)
            .agg(
                F.map_from_entries(
                    F.collect_list(
                        F.struct(
                            F.col("_k"),
                            F.struct(
                                F.col("_cell.v").alias("v"),
                                F.col("_cell.ts").alias("ts"),
                                F.col("_cell.ttl").alias("ttl"),
                            ),
                        )
                    )
                ).alias(c)
            )
        )
        overwrite = F.coalesce(F.col(deleted_col(c)), F.lit(False))
        if postimage:
            overwrite = overwrite | (F.col(COL_OP) == OP_POSTIMAGE)
        ct = df.groupBy(*pk).agg(
            F.max(F.when(overwrite, F.col(COL_TS) - 1)).alias(ctomb_col(c))
        )
        part = ct.join(cells, pk, "left")
        merged = part if merged is None else merged.join(part, pk, "full_outer")
    return merged


def fold_batch(
    log_df: DataFrame,
    table: TableConfig,
    pending_range_starts: list[dict] | None = None,
    mode: str = "delta",
    pending_range_ends: list[dict] | None = None,
) -> FoldResult:
    """Fold a normalized log slice (must already carry ``cdc$ts``).

    ``mode`` mirrors the replicator's three modes (Main.java:563-598):
    - delta: ops 1/2 are the writes; op 9 ignored (its content is already
      covered by the delta rows it accompanies);
    - postimage: op 9 (full-row image) replaces ops 1/2 entirely;
    - preimage: apply like delta; op 0 rows are consumed by the separate
      verification job (operators/preimage.py).

    Schema evolution: the active value-column set is derived from the
    BATCH schema (any non-cdc$, non-partition, non-pk column), mirroring
    the reference's per-row column enumeration (Main.java:141).
    """
    df = log_df
    # active value columns from the batch schema (schema evolution)
    meta_or_pk = set(table.primary_key) | {
        COL_STREAM_ID, COL_TIME, COL_TS, COL_OP, "cdc$ttl", "cdc$batch_seq_no",
        "generation", "stream_group", "time_bucket",
    }
    value_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in meta_or_pk
        and f.name not in table.collection_columns
        and not f.name.startswith("cdc$")
    ]
    coll_cols = [c for c in table.collection_columns if c in df.columns]
    for c in value_cols:  # tolerate logs without some deleted-marker cols
        if deleted_col(c) not in df.columns:
            df = df.withColumn(deleted_col(c), F.lit(None).cast("boolean"))
    if COL_TTL not in df.columns:  # tolerate TTL-less logs
        df = df.withColumn(COL_TTL, F.lit(None).cast("long"))

    pk = list(table.primary_key)
    part_key = list(table.partition_key)

    if mode == "postimage":
        write_ops = [OP_POSTIMAGE]
        marker_ops = [OP_POSTIMAGE]
    else:
        write_ops = [OP_ROW_UPDATE, OP_ROW_INSERT]
        marker_ops = [OP_ROW_INSERT]

    # --- per-key fold over write + row-delete ops (ops 4-8 carry bound
    # values in `path`, not a row key — they are folded separately) -------
    keyed = df.where(F.col(COL_OP).isin(write_ops + [OP_ROW_DELETE]))
    in_postimage_full_row = mode == "postimage"
    if in_postimage_full_row:
        # postimage rows write EVERY column (NULL means NULL): synthesize
        # deleted markers so the three-valued logic writes NULLs too.
        for c in value_cols:
            keyed = keyed.withColumn(
                deleted_col(c),
                F.when(F.col(COL_OP) == OP_POSTIMAGE, F.col(c).isNull()).otherwise(
                    F.col(deleted_col(c))
                ),
            )

    aggs = _cell_aggs(table, value_cols)
    aggs.append(
        F.max(
            F.when(
                F.col(COL_OP).isin(marker_ops),
                F.struct(F.col(COL_TS).alias("ts"),
                         F.col(COL_TTL).alias("ttl")),
            )
        ).alias("__marker")
    )
    aggs.append(
        F.max(F.when(F.col(COL_OP) == OP_ROW_DELETE, F.col(COL_TS))).alias(
            "_row_tomb"
        )
    )
    # leading xxhash64 group column: functionally dependent on pk,
    # so the group set (and every aggregate) is unchanged — but the
    # SortAggregate this plan lowers to (struct-typed max buffers
    # are not HashAggregateExec-compatible) now sorts on an int64
    # radix-sortable prefix instead of comparing common-prefix
    # string keys row by row (measured ~13% off the fold stage on
    # the 16M-event bench window)
    key_state = (
        keyed.withColumn("_gh", F.xxhash64(*[F.col(c) for c in pk]))
        .groupBy("_gh", *pk)
        .agg(*aggs)
        .drop("_gh")
    )
    # flatten cells into (value, _ts_<c>, _ttl_<c>) triples
    for c in value_cols:
        key_state = (
            key_state.withColumn(c, F.col(f"__cell_{c}.v"))
            .withColumn(f"_ts_{c}", F.col(f"__cell_{c}.ts"))
            .withColumn(f"_ttl_{c}", F.col(f"__cell_{c}.ttl"))
        )
    key_state = (
        key_state.withColumn(COL_MARKER_TS, F.col("__marker.ts"))
        .withColumn(COL_MARKER_TTL, F.col("__marker.ttl"))
        .drop("__marker", *[f"__cell_{c}" for c in value_cols])
    )

    if coll_cols:
        colls = _fold_collections(
            keyed, pk, coll_cols, postimage=in_postimage_full_row
        )
        # every key with collection activity also appears in `keyed`
        # (the activity rides ops 1/2/9), so a left join covers all
        key_state = key_state.join(colls, pk, "left")

    # --- partition tombstones (op 4): tiny per batch, broadcast later ----
    part_tombs = (
        df.where(F.col(COL_OP) == OP_PARTITION_DELETE)
        .groupBy(*part_key)
        .agg(F.max(COL_TS).alias("ts"))
    )

    # --- range tombstones (ops 5-8) --------------------------------------
    range_tombs, pending_range_df, pending_end_df = extract_range_tombstones(
        df, table, pending_range_starts or [], pending_range_ends or []
    )
    return FoldResult(
        key_state=key_state,
        part_tombs=part_tombs,
        range_tombs=range_tombs,
        pending_range_df=pending_range_df,
        pending_end_df=pending_end_df,
    )
