"""End-to-end golden tests (SURVEY.md section 5.2-5.4): generated CDC
world -> engine replay -> final sink state must equal the pure-Python
oracle, including per-row content sha256 (BASELINE invariant)."""

import hashlib

import pytest

from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
from scylla_cdc_java_spark.model import EngineConfig
from scylla_cdc_java_spark.oracle import final_state, replay


def _engine_state(sink):
    rows = sink.read().collect()
    out = []
    for r in sorted(rows, key=lambda r: (r["repo"], r["path"])):
        d = {
            "repo": r["repo"],
            "path": r["path"],
            "commit": r["commit"],
            "lang": r["lang"],
            "content": r["content"],
        }
        d["content_sha256"] = (
            hashlib.sha256(d["content"].encode()).hexdigest()
            if d["content"] is not None
            else None
        )
        out.append(d)
    return out


def _run_world(spark, tmp_root, spec, tag, cfg=None):
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_{tag}")
    eng = Engine(
        spark,
        info["log_dir"],
        info["generations_path"],
        f"{tmp_root}/target_{tag}",
        cfg=cfg or EngineConfig(),
    )
    stats = eng.replay()
    return world, eng, stats


def _assert_matches_oracle(world, eng):
    oracle_rows = final_state(replay(world["events"]))
    engine_rows = _engine_state(eng.sink)
    okeys = [(r["repo"], r["path"]) for r in oracle_rows]
    ekeys = [(r["repo"], r["path"]) for r in engine_rows]
    assert ekeys == okeys, (
        f"key sets differ: engine-only={set(ekeys)-set(okeys)} "
        f"oracle-only={set(okeys)-set(ekeys)}"
    )
    for o, e in zip(oracle_rows, engine_rows):
        assert o == e, f"row mismatch for {(o['repo'], o['path'])}:\n o={o}\n e={e}"


@pytest.mark.parametrize("seed", [42, 7])
def test_replay_matches_oracle_small(spark, tmp_root, seed):
    # gen2 windows are crop-limited (only epoch-0 is exempt), so size the
    # cap to the generation span to replay it in one batch
    spec = GenSpec(seed=seed, n_events=2000, n_repos=40, paths_per_repo=12,
                   n_generations=2, streams_per_generation=8,
                   gen_span_ms=60_000)
    cfg = EngineConfig(window_length_limit_ms=60_000)
    world, eng, stats = _run_world(spark, tmp_root, spec, f"s{seed}", cfg)
    assert stats.rows > 0 and stats.generations == 2
    _assert_matches_oracle(world, eng)


def test_replay_hot_key_skew(spark, tmp_root):
    # extreme zipf: most events hit a handful of repos
    spec = GenSpec(seed=3, n_events=3000, n_repos=30, paths_per_repo=8,
                   zipf_a=1.05, n_generations=1, streams_per_generation=4)
    world, eng, _ = _run_world(spark, tmp_root, spec, "skew")
    _assert_matches_oracle(world, eng)


def test_replay_idempotent_rerun(spark, tmp_root):
    """Re-running replay after completion is a no-op (exactly-once /
    at-least-once redelivery, reference Worker.java:105-114)."""
    spec = GenSpec(seed=5, n_events=1000, n_repos=20, paths_per_repo=6,
                   n_generations=1, streams_per_generation=4)
    world, eng, _ = _run_world(spark, tmp_root, spec, "idem")
    state1 = _engine_state(eng.sink)
    stats2 = eng.replay()  # checkpoint says done
    assert stats2.windows == 0
    assert _engine_state(eng.sink) == state1


def test_resume_from_checkpoint_mid_log(spark, tmp_root):
    """Windowed multi-batch replay with small window cap == forced
    chaining through checkpoints; result must still match the oracle."""
    spec = GenSpec(seed=11, n_events=1500, n_repos=25, paths_per_repo=8,
                   n_generations=2, streams_per_generation=4,
                   gen_span_ms=120_000)
    cfg = EngineConfig(window_length_limit_ms=30_000)
    world, eng, stats = _run_world(spark, tmp_root, spec, "multi", cfg)
    assert stats.windows > 4  # really chained
    _assert_matches_oracle(world, eng)


def test_event_gap_windows_skipped_by_footer_stats(spark, tmp_root):
    """Footer-stats window pruning: a mid-generation idle gap must be
    consumed as checkpoint-only commits (per_window skipped=True, zero
    data versions) while the final state still matches the oracle."""
    from scylla_cdc_java_spark.model import TableConfig
    from scylla_cdc_java_spark.oracle import OracleState, apply_event, final_state

    TBL = TableConfig()
    GEN0 = 1_700_000_000_000
    GEN1 = GEN0 + 600_000
    SID = b"G" * 16
    seq = [0]

    def ev(op, ms, path, content=None):
        seq[0] += 1
        return {"op": op, "ms": ms, "seq": seq[0], "stream_id": SID,
                "repo": "r/gap", "path": path, "commit": None, "lang": None,
                "content": content, "del_commit": None, "del_lang": None,
                "del_content": None, "ttl": None}

    evs = [ev(2, GEN0 + 1000 * i, f"a{i}", f"x{i}") for i in range(5)]
    # generation 2: burst, THREE empty time buckets of silence, burst
    evs += [ev(2, GEN1 + 1000 * i, f"b{i}", f"y{i}") for i in range(5)]
    evs += [ev(1, GEN1 + 1_800_000 + 1000 * i, f"b{i}", f"z{i}") for i in range(5)]

    rows = [
        (e["stream_id"], {"ms": e["ms"], "seq": e["seq"]}, e["op"], e["ttl"],
         e["repo"], e["path"], e["commit"], e["lang"], e["content"],
         None, None, None,
         GEN0 if e["ms"] < GEN1 else GEN1, 0, e["ms"] // 600_000)
        for e in evs
    ]
    ddl = (
        "`cdc$stream_id` binary, `cdc$time` struct<ms:long,seq:long>, "
        "`cdc$operation` tinyint, `cdc$ttl` long, "
        "repo string, path string, commit string, lang string, content string, "
        "`cdc$deleted_commit` boolean, `cdc$deleted_lang` boolean, "
        "`cdc$deleted_content` boolean, "
        "generation long, stream_group int, time_bucket long"
    )
    df = spark.createDataFrame(rows, schema=ddl)
    log_dir = f"{tmp_root}/gap_log"
    (df.write.mode("overwrite")
       .partitionBy("generation", "stream_group", "time_bucket")
       .parquet(log_dir))
    gpath = f"{tmp_root}/gap_gens.parquet"
    spark.createDataFrame([(GEN0, [SID]), (GEN1, [SID])],
                          schema="time long, streams array<binary>"
                          ).coalesce(1).write.mode("overwrite").parquet(gpath)

    eng = Engine(spark, log_dir, gpath, f"{tmp_root}/gap_target",
                 cfg=EngineConfig(window_length_limit_ms=60_000))
    stats = eng.replay()

    skipped = [w for w in stats.per_window if w.get("skipped")]
    busy = [w for w in stats.per_window if not w.get("skipped")]
    assert len(skipped) >= 10, stats.per_window  # the empty buckets
    assert busy  # the bursts actually merged

    st = OracleState(table=TBL)
    for e in evs:
        apply_event(st, e)
    want = sorted((r["repo"], r["path"], r["content"])
                  for r in final_state(st))
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in eng.sink.read().collect())
    assert got == want


def test_generation_metadata_quiet_period(spark, tmp_root):
    """T6: live tail re-reads generation metadata at most once per
    quiet period (UpdateableGenerationMetadata.java:29) — an idle poll
    inside the window does no generations read."""
    world = generate_world(GenSpec(seed=11, n_events=200, n_repos=5,
                                   paths_per_repo=4, n_generations=1,
                                   streams_per_generation=2))
    info = write_world(world, f"{tmp_root}/qp_world")
    clk = {"t": 1_700_000_000_000 + 60_000}
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/qp_target", clock=lambda: clk["t"],
                 cfg=EngineConfig(sleep_scale=0.0))
    calls = {"n": 0}
    real = eng.generations

    def counting():
        calls["n"] += 1
        return real()

    eng.generations = counting
    eng._generations_cached()
    eng._generations_cached()  # same instant: cached
    clk["t"] += 5_000
    eng._generations_cached()  # inside quiet period: cached
    assert calls["n"] == 1
    clk["t"] += 10_000
    eng._generations_cached()  # quiet period expired: re-read
    assert calls["n"] == 2


def test_window_and_compaction_invariance(spark, tmp_root):
    """The final table must be IDENTICAL regardless of how the log is
    windowed and how often buckets compact — the exactly-once /
    LWW-monotonicity contract stated operationally. Same world, three
    engine configs (many small windows + aggressive compaction; medium;
    one giant window + no compaction), one oracle."""
    spec = GenSpec(seed=91, n_events=2500, n_repos=20, paths_per_repo=8,
                   n_generations=2, streams_per_generation=4,
                   gen_span_ms=120_000, p_range_delete=0.05)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/inv_world")
    configs = [
        ("small", EngineConfig(window_length_limit_ms=20_000,
                               compact_threshold=2)),
        ("mid", EngineConfig(window_length_limit_ms=60_000,
                             compact_threshold=4)),
        ("one", EngineConfig(window_length_limit_ms=600_000,
                             compact_threshold=10_000)),
    ]
    states = {}
    windows = {}
    for tag, cfg in configs:
        eng = Engine(spark, info["log_dir"], info["generations_path"],
                     f"{tmp_root}/inv_target_{tag}", cfg=cfg)
        stats = eng.replay()
        windows[tag] = stats.windows
        states[tag] = _engine_state(eng.sink)
        last_eng = eng
    assert windows["small"] > windows["mid"] > windows["one"]
    assert states["small"] == states["mid"] == states["one"]
    _assert_matches_oracle(world, last_eng)


def test_idle_tail_poll_runs_zero_spark_jobs(spark, tmp_root):
    """The zero-job idle claim, pinned with the Spark status tracker: a
    tail poll over a provably-empty window (footer-stats pruning + the
    generations quiet period) must schedule NO Spark job."""
    from scylla_cdc_java_spark.model import pack_time

    GEN0 = 1_700_000_000_000
    SID = b"Z" * 16
    rows = [
        (SID, {"ms": GEN0 + 1000 * i, "seq": i}, 2, None,
         "r/idle", f"p{i}", None, None, f"v{i}", None, None, None,
         GEN0, 0, (GEN0 + 1000 * i) // 600_000)
        for i in range(5)
    ]
    ddl = (
        "`cdc$stream_id` binary, `cdc$time` struct<ms:long,seq:long>, "
        "`cdc$operation` tinyint, `cdc$ttl` long, "
        "repo string, path string, commit string, lang string, content string, "
        "`cdc$deleted_commit` boolean, `cdc$deleted_lang` boolean, "
        "`cdc$deleted_content` boolean, "
        "generation long, stream_group int, time_bucket long"
    )
    log_dir = f"{tmp_root}/idle_log"
    (spark.createDataFrame(rows, schema=ddl)
     .write.mode("overwrite")
     .partitionBy("generation", "stream_group", "time_bucket")
     .parquet(log_dir))
    gpath = f"{tmp_root}/idle_gens.parquet"
    spark.createDataFrame([(GEN0, [SID])],
                          schema="time long, streams array<binary>"
                          ).coalesce(1).write.mode("overwrite").parquet(gpath)

    clk = {"t": GEN0 + 120_000}
    eng = Engine(spark, log_dir, gpath, f"{tmp_root}/idle_target",
                 clock=lambda: clk["t"],
                 cfg=EngineConfig(window_length_limit_ms=30_000,
                                  sleep_scale=0.0))
    # consume the real data first (this DOES run jobs)
    s1 = eng._tail_step()
    assert s1 and s1["rows"] > 0
    # warm the generations cache within the quiet period, then poll an
    # empty window under a job group: zero jobs allowed
    clk["t"] += 5_000
    eng._generations_cached()
    sc = spark.sparkContext
    sc.setJobGroup("idle_probe", "must stay empty")
    try:
        s2 = eng._tail_step()
    finally:
        sc.setJobGroup("", "")
    assert s2 is not None and s2.get("skipped") and s2["rows"] == 0
    ids = sc.statusTracker().getJobIdsForGroup("idle_probe")
    assert list(ids) == [], ids


@pytest.mark.parametrize("kw", [
    {"num_buckets": 1},
    {"compact_threshold": 1},        # copy-on-write degenerate mode
    {"num_buckets": 1, "compact_threshold": 1},
], ids=["single_bucket", "cow_threshold1", "all_min"])
def test_degenerate_config_matrix(spark, tmp_root, kw):
    """Degenerate sink/engine configs (one bucket, per-window
    compaction, everything minimal) must still replay to the
    exact oracle state — no divide-by-zero/empty-partition corners."""
    spec = GenSpec(seed=888, n_events=2000, n_repos=15, paths_per_repo=6,
                   n_generations=2, gen_span_ms=90_000, p_range_delete=0.06)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/cfg_world")
    tag = "_".join(f"{k}{v}" for k, v in kw.items())
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/cfg_target_{tag}",
                 cfg=EngineConfig(window_length_limit_ms=30_000, **kw))
    eng.replay()
    _assert_matches_oracle(world, eng)


def test_row_capped_window_split(spark, tmp_root):
    """Adaptive window split by estimated event count: the epoch-0
    backfill window is exempt from the reference's TIME cap by protocol
    (FetchingWindowFactory.java:45), so only the row cap bounds first
    catch-up on a large backlog. A 3000-event single-generation world
    with max_window_rows=400 must chain through many sub-windows —
    including splitting the cap-exempt backfill window — and the final
    state must still be oracle-exact. Control: the same world uncapped
    replays in a single window."""
    spec = GenSpec(seed=21, n_events=3000, n_repos=30, paths_per_repo=8,
                   n_generations=1, streams_per_generation=4,
                   gen_span_ms=120_000, p_range_delete=0.05)
    cfg = EngineConfig(window_length_limit_ms=600_000, max_window_rows=400)
    world, eng, stats = _run_world(spark, tmp_root, spec, "rowcap", cfg)
    assert stats.windows >= 5, stats.windows  # really split
    _assert_matches_oracle(world, eng)

    cfg0 = EngineConfig(window_length_limit_ms=600_000, max_window_rows=None)
    world0, eng0, stats0 = _run_world(spark, tmp_root, spec, "rowcap0", cfg0)
    assert stats0.windows == 1, stats0.windows  # epoch-0 exemption intact
    _assert_matches_oracle(world0, eng0)


def test_row_capped_split_crash_resume(spark, tmp_root):
    """Checkpoint chaining across row-capped sub-windows: abandon the
    replay after the first sub-window commit (fresh Engine, same
    target), resume, and the final state must match the oracle."""
    spec = GenSpec(seed=22, n_events=2000, n_repos=20, paths_per_repo=6,
                   n_generations=1, streams_per_generation=4,
                   gen_span_ms=90_000)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/rowcap_cr_world")
    cfg = EngineConfig(window_length_limit_ms=600_000, max_window_rows=500)
    target = f"{tmp_root}/rowcap_cr_target"

    class _Stop(Exception):
        pass

    eng1 = Engine(spark, info["log_dir"], info["generations_path"],
                  target, cfg=cfg)
    orig = eng1.sink.merge
    calls = [0]

    def bomb(fold, ckpt=None, **kw):
        st = orig(fold, ckpt, **kw)
        calls[0] += 1
        if calls[0] == 1:  # crash AFTER the first sub-window committed
            raise _Stop()
        return st

    eng1.sink.merge = bomb
    try:
        eng1.replay()
    except _Stop:
        pass
    assert not (eng1.sink.checkpoint() or {}).get("done")

    eng2 = Engine(spark, info["log_dir"], info["generations_path"],
                  target, cfg=cfg)
    stats2 = eng2.replay()
    assert stats2.windows >= 1
    _assert_matches_oracle(world, eng2)
