"""Tail/replay parity teeth for the round-5 lifecycle pass — every
claim in that pass gets a regression test:

- ``mode="preimage"`` verification runs in live tail too (the mode's
  guarantee must not silently vanish outside batch replay);
- the tail backoff counts sidecar tombstone rows as consumed work: a
  delete storm (ops 4-8 only) must poll at the BUSY tier, matching the
  reference's consumed-changes backoff (Worker.java:130) — previously
  such a window reported 0 rows (empty key-state delta) and dropped
  the poller to the idle tier mid-storm;
- a sharded engine polling a window whose events live only in FOREIGN
  stream groups advances its checkpoint with ZERO Spark jobs (the
  ownership-gated footer-stats glob), not an empty fold+merge.
"""

from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
from scylla_cdc_java_spark.images import with_images
from scylla_cdc_java_spark.model import (
    OP_PARTITION_DELETE,
    EngineConfig,
    TableConfig,
)
from scylla_cdc_java_spark.oracle import final_state, replay

TBL = TableConfig(
    name="docs_parity",
    partition_key=("repo",),
    clustering_key=("path",),
    value_columns=("content",),
)
GEN0 = 1_700_000_000_000
SID = b"P" * 16
LOG_DDL = (
    "`cdc$stream_id` binary, `cdc$time` struct<ms:long,seq:long>, "
    "`cdc$operation` tinyint, `cdc$ttl` long, "
    "repo string, path string, content string, "
    "`cdc$deleted_content` boolean, "
    "generation long, stream_group int, time_bucket long"
)


def _append_log(spark, log_dir, evs, stream_group=0):
    rows = [
        (SID, {"ms": e["ms"], "seq": e["seq"]}, e["op"], None,
         e["repo"], e.get("path"), e.get("content"), None,
         GEN0, stream_group, e["ms"] // 600_000)
        for e in evs
    ]
    (spark.createDataFrame(rows, schema=LOG_DDL)
     .write.mode("append")
     .partitionBy("generation", "stream_group", "time_bucket")
     .parquet(log_dir))


def _gens(spark, tmp_root, tag):
    gpath = f"{tmp_root}/{tag}_gens.parquet"
    spark.createDataFrame(
        [(GEN0, [SID])], schema="time long, streams array<binary>"
    ).coalesce(1).write.mode("overwrite").parquet(gpath)
    return gpath


# ---------------------------------------------------------------------
# 1. preimage verification in live tail
# ---------------------------------------------------------------------

def test_tail_preimage_detects_corruption(spark, tmp_root):
    """Corrupted op-0 assertions must be COUNTED by tail() exactly as
    replay() counts them (shared ``operators.preimage.verify_preimages``,
    called from ``streaming.engine.apply_slice``); before the parity
    fix tail silently skipped verification and reported 0."""
    spec = GenSpec(seed=61, n_events=700, n_repos=20, paths_per_repo=8,
                   n_generations=1, streams_per_generation=4,
                   gen_span_ms=60_000)
    world = with_images(generate_world(spec), preimage_fraction=0.6,
                        postimage=False)
    ev = world["events"]
    corrupted = 0
    for i in range(len(ev["op"])):
        if ev["op"][i] == 0 and corrupted < 5:
            ev["content"][i] = "WRONG-" + str(i)
            corrupted += 1
    assert corrupted == 5
    info = write_world(world, f"{tmp_root}/tp_world")
    eng = Engine(
        spark, info["log_dir"], info["generations_path"],
        f"{tmp_root}/tp_target", clock=lambda: GEN0 + 10_000_000,
        cfg=EngineConfig(mode="preimage", sleep_scale=0.0,
                         min_generation_age_ms=0),
    )
    stats = eng.tail(max_windows=3)
    assert stats.rows > 0
    assert stats.preimage_mismatches >= corrupted


def test_tail_preimage_clean_world_zero_mismatches(spark, tmp_root):
    """Control for the detector: a clean preimage world tails with zero
    mismatches and the applied deltas still land oracle-exact."""
    spec = GenSpec(seed=62, n_events=700, n_repos=20, paths_per_repo=8,
                   n_generations=1, streams_per_generation=4,
                   gen_span_ms=60_000)
    world = with_images(generate_world(spec), preimage_fraction=0.6,
                        postimage=False)
    info = write_world(world, f"{tmp_root}/tpc_world")
    eng = Engine(
        spark, info["log_dir"], info["generations_path"],
        f"{tmp_root}/tpc_target", clock=lambda: GEN0 + 10_000_000,
        cfg=EngineConfig(mode="preimage", sleep_scale=0.0,
                         min_generation_age_ms=0),
    )
    stats = eng.tail(max_windows=3)
    assert stats.rows > 0
    assert stats.preimage_mismatches == 0
    got = {
        (r["repo"], r["path"]): r["content"]
        for r in eng.sink.read().collect()
    }
    oracle = {
        (r["repo"], r["path"]): r["content"]
        for r in final_state(replay(world["events"]))
    }
    assert got == oracle


# ---------------------------------------------------------------------
# 2. tombstone-only window counts as consumed work
# ---------------------------------------------------------------------

def test_tail_tombstone_only_window_counts_as_busy(spark, tmp_root):
    """A window holding ONLY partition-delete ops writes an empty
    key-state delta but real sidecar rows; the tail step must report
    them as consumed rows so the backoff picks the busy tier, not
    idle (reference keys its tiers on consumed changes,
    Worker.java:130)."""
    log_dir = f"{tmp_root}/tb_log"
    gpath = _gens(spark, tmp_root, "tb")
    _append_log(spark, log_dir, [
        {"op": 2, "ms": GEN0 + 1000 + i, "seq": i, "repo": "o/r1",
         "path": f"p{i}", "content": f"v{i}"}
        for i in range(4)
    ])
    clk = {"ms": GEN0 + 30_000}
    eng = Engine(
        spark, log_dir, gpath, f"{tmp_root}/tb_target", table=TBL,
        clock=lambda: clk["ms"],
        cfg=EngineConfig(window_length_limit_ms=600_000, sleep_scale=0.0,
                         min_generation_age_ms=0, num_buckets=4,
                         # keep the sidecar a sidecar: no piggyback
                         # compaction folding it into the base mid-test
                         compact_threshold=10_000),
    )
    s1 = eng._tail_step()
    assert s1 and s1["rows"] == 4

    # the delete storm arrives in its own, later window
    _append_log(spark, log_dir, [
        {"op": OP_PARTITION_DELETE, "ms": GEN0 + 40_000, "seq": 0,
         "repo": "o/r1", "path": None},
    ])
    clk["ms"] = GEN0 + 70_000
    s2 = eng._tail_step()
    assert s2 is not None and not s2.get("skipped"), s2
    # the regression: delta_rows alone is 0 here — the sidecar rows
    # must make the window count as busy
    assert s2["rows"] > 0, "tombstone-only window reported as idle"
    assert eng.sink.read().count() == 0  # the delete actually applied


# ---------------------------------------------------------------------
# 3. sharded foreign-only window: metadata-only advance
# ---------------------------------------------------------------------

def test_sharded_foreign_window_advances_with_zero_jobs(spark, tmp_root):
    """An engine owning stream_groups=[1] polling a window whose events
    all live under stream_group=0 must checkpoint-advance without
    launching a single Spark job (ownership-gated footer glob) —
    before the fix it globbed ALL groups, saw data, and ran an empty
    fold+merge per window."""
    log_dir = f"{tmp_root}/fw_log"
    gpath = _gens(spark, tmp_root, "fw")
    _append_log(spark, log_dir, [
        {"op": 2, "ms": GEN0 + 1000 + i, "seq": i, "repo": "o/r1",
         "path": f"p{i}", "content": f"v{i}"}
        for i in range(3)
    ], stream_group=0)
    # group 1 exists on disk but holds nothing in the polled window
    _append_log(spark, log_dir, [
        {"op": 2, "ms": GEN0 + 5_000_000, "seq": 0, "repo": "o/r2",
         "path": "px", "content": "far-future"},
    ], stream_group=1)

    clk = {"ms": GEN0 + 30_000}
    eng = Engine(
        spark, log_dir, gpath, f"{tmp_root}/fw_target", table=TBL,
        clock=lambda: clk["ms"], stream_groups=[1], shard_id="s1",
        cfg=EngineConfig(window_length_limit_ms=20_000, sleep_scale=0.0,
                         min_generation_age_ms=0, num_buckets=4),
    )
    # first step consumes the epoch-0 backfill window — too wide for
    # the footer check (>64 bucket heuristic), so it folds empty; it
    # also warms the generations cache. The zero-jobs guarantee is for
    # steady-state NARROW windows, probed below.
    s1 = eng._tail_step()
    assert s1 is not None and s1["rows"] == 0, s1
    ck1 = eng.sink.checkpoint(shard="s1")
    assert ck1 is not None

    clk["ms"] = GEN0 + 55_000
    # re-warm the generations metadata cache (its 10 s quiet period
    # lapsed with the clock jump) — the zero-jobs guarantee is for
    # polls INSIDE the quiet period, mirroring the idle-probe test
    eng._generations_cached()
    sc = spark.sparkContext
    sc.setJobGroup("foreign_probe", "must stay empty")
    try:
        s2 = eng._tail_step()
    finally:
        sc.setJobGroup("", "")
    assert s2 is not None and s2.get("skipped") and s2["rows"] == 0
    ids = sc.statusTracker().getJobIdsForGroup("foreign_probe")
    assert list(ids) == [], ids
    ck2 = eng.sink.checkpoint(shard="s1")
    assert ck2["last_ts"] > ck1["last_ts"]  # progress without jobs


# ---------------------------------------------------------------------
# 4. tail-mode fleet sharding: the gates must skip ONLY foreign data
# ---------------------------------------------------------------------

def test_tail_fleet_salted_shards_union_matches_oracle(spark, tmp_root):
    """The replay-mode fleet tests have a tail() twin: two engines —
    each owning whole groups plus one salt slice of the hot group —
    live-tail the same log in many small windows. The ownership-gated
    footer checks must skip exactly the foreign windows and never an
    owned one: the union of the two targets equals the oracle state.
    This is the e2e tooth for the round-5 gating change (a gate that
    over-skips loses data silently; per-window unit tests can't see
    that)."""
    from scylla_cdc_java_spark import GenSpec, generate_world, write_world

    spec = GenSpec(seed=23, n_events=2400, n_repos=30, paths_per_repo=10,
                   zipf_a=1.4, n_generations=2, streams_per_generation=16,
                   gen_span_ms=60_000)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_tailfleet")
    end_ms = spec.gen0_start_ms + 2 * spec.gen_span_ms
    n_groups = 8
    hot = 0
    shards = [
        dict(stream_groups=[g for g in range(1, n_groups) if g % 2 == 1],
             group_salt={hot: (2, 0)}),
        dict(stream_groups=[g for g in range(1, n_groups) if g % 2 == 0],
             group_salt={hot: (2, 1)}),
    ]
    rows = []
    for e, sh in enumerate(shards):
        eng = Engine(
            spark, info["log_dir"], info["generations_path"],
            f"{tmp_root}/tailfleet_{e}",
            clock=lambda: end_ms + 60_000, **sh,
            cfg=EngineConfig(window_length_limit_ms=20_000,
                             sleep_scale=0.0),
        )
        stats = eng.tail(max_windows=30)
        assert stats.rows > 0
        rows += [
            {"repo": r["repo"], "path": r["path"], "commit": r["commit"],
             "lang": r["lang"], "content": r["content"]}
            for r in eng.sink.read().collect()
        ]
    assert len(rows) == len({(r["repo"], r["path"]) for r in rows}), \
        "tail shards overlap in keys"
    rows.sort(key=lambda r: (r["repo"], r["path"]))
    oracle = [
        {k: r[k] for k in ("repo", "path", "commit", "lang", "content")}
        for r in final_state(replay(world["events"]))
    ]
    assert rows == oracle
