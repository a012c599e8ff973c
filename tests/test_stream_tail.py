"""Structured Streaming tail: availableNow backlog drain must produce
the same final state as the batch engine / pure-Python oracle."""

import glob
import hashlib
import os

from scylla_cdc_java_spark import GenSpec, StructuredTail, generate_world, write_world
from scylla_cdc_java_spark.model import (
    RANGE_END_OPS,
    RANGE_START_OPS,
    EngineConfig,
)
from scylla_cdc_java_spark.oracle import final_state, replay


def _state(sink):
    rows = sink.read().collect()
    return [
        {
            "repo": r["repo"], "path": r["path"], "commit": r["commit"],
            "lang": r["lang"], "content": r["content"],
            "content_sha256": hashlib.sha256(r["content"].encode()).hexdigest()
            if r["content"] is not None else None,
        }
        for r in sorted(rows, key=lambda r: (r["repo"], r["path"]))
    ]


def test_stream_tail_matches_oracle(spark, tmp_root):
    spec = GenSpec(seed=42, n_events=2000, n_repos=40, paths_per_repo=12,
                   n_generations=2, streams_per_generation=8,
                   gen_span_ms=60_000)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_stream")
    tail = StructuredTail(spark, info["log_dir"], f"{tmp_root}/target_stream")
    n_batches = tail.run_available_now()
    assert n_batches >= 1
    oracle_rows = final_state(replay(world["events"]))
    assert _state(tail.sink) == oracle_rows


def test_stream_tail_incremental_batches(spark, tmp_root):
    """maxFilesPerTrigger forces several microbatches; pending range
    state must carry across them through the sink manifest."""
    spec = GenSpec(seed=7, n_events=1500, n_repos=25, paths_per_repo=8,
                   n_generations=1, streams_per_generation=4)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_stream2")
    tail = StructuredTail(
        spark, info["log_dir"], f"{tmp_root}/target_stream2",
        max_files_per_trigger=2,
    )
    n_batches = tail.run_available_now()
    assert n_batches > 1, "expected multiple microbatches"
    oracle_rows = final_state(replay(world["events"]))
    assert _state(tail.sink) == oracle_rows


def test_stream_tail_end_before_start_out_of_order(spark, tmp_root):
    """Out-of-order batch delivery splits a range-delete pair so the END
    arrives one microbatch BEFORE its START. The orphan END must be
    carried in the manifest (``pending_ends`` — the mirror image of the
    reference's start-carryover, Main.java:491-531, which never needs
    this because its windows are chronological), observed non-empty
    mid-run, and re-united when the START shows up: final state exact.

    Mechanics: one pair's START row is moved to its own partition file
    (sentinel time_bucket) whose mtime is set far NEWER than every other
    log file; the file stream source processes oldest-first, so with
    maxFilesPerTrigger=1 the END's file lands in an earlier batch."""
    spec = GenSpec(seed=11, n_events=1200, n_repos=20, paths_per_repo=8,
                   n_generations=1, streams_per_generation=4)
    world = generate_world(spec)
    ev = world["events"]

    # locate one START whose END shares (stream, ms): move the START to
    # a sentinel bucket => its own file, delivered last
    moved = None
    for i, op in enumerate(ev["op"]):
        if op in RANGE_START_OPS:
            j = next(
                k for k, o in enumerate(ev["op"])
                if o in RANGE_END_OPS
                and ev["stream_id"][k] == ev["stream_id"][i]
                and ev["ms"][k] == ev["ms"][i]
            )
            ev["time_bucket"][i] = 10_000_000  # sentinel partition dir
            moved = (i, j)
            break
    assert moved, "world generated no range pairs"

    info = write_world(world, f"{tmp_root}/world_ooo")
    sentinel = glob.glob(
        f"{info['log_dir']}/generation=*/stream_group=*/"
        f"time_bucket=10000000/*.parquet"
    )
    assert len(sentinel) == 1
    now = max(
        os.path.getmtime(p)
        for p in glob.glob(f"{info['log_dir']}/generation=*/*/*/*.parquet")
    )
    os.utime(sentinel[0], (now + 3600, now + 3600))

    tail = StructuredTail(
        spark, info["log_dir"], f"{tmp_root}/target_ooo",
        max_files_per_trigger=1,
    )
    pending_end_trace = []
    orig = tail._apply_batch

    def spy(batch_df, batch_id):
        orig(batch_df, batch_id)
        ck = tail.sink.checkpoint() or {}
        pending_end_trace.append(list(ck.get("pending_ends", [])))

    tail._apply_batch = spy
    n_batches = tail.run_available_now()
    assert n_batches > 1

    # the orphan END was visibly carried across at least one batch
    # boundary and consumed by the final (START-bearing) batch
    assert any(pe for pe in pending_end_trace[:-1]), (
        "END never went through pending_ends — delivery was not "
        "out of order; test setup broken"
    )
    assert pending_end_trace[-1] == []
    ck = tail.sink.checkpoint()
    assert ck.get("pending_ranges", []) == []
    assert _state(tail.sink) == final_state(replay(world["events"]))


def test_stream_tail_resume_after_restart(spark, tmp_root):
    """New files after a drained run are picked up by a second
    availableNow pass from the stream checkpoint (T3 chaining)."""
    spec = GenSpec(seed=9, n_events=800, n_repos=15, paths_per_repo=6,
                   n_generations=1, streams_per_generation=4)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_stream3")
    target = f"{tmp_root}/target_stream3"
    tail = StructuredTail(spark, info["log_dir"], target)
    tail.run_available_now()
    state1 = _state(tail.sink)
    # second pass with nothing new: state unchanged (idempotent)
    tail2 = StructuredTail(spark, info["log_dir"], target,
                           stream_checkpoint_dir=tail.stream_checkpoint_dir)
    tail2.run_available_now()
    assert _state(tail2.sink) == state1


def test_stream_tail_aggressive_delete_mix_matches_oracle(spark, tmp_root):
    """The streaming surface equals the oracle on an aggressive delete
    mix with duplicate deliveries."""
    spec = GenSpec(seed=505, n_events=1200, n_repos=15, paths_per_repo=6,
                   n_generations=1, streams_per_generation=4,
                   p_update=0.40, p_insert=0.10, p_row_delete=0.25,
                   p_partition_delete=0.10, p_range_delete=0.10,
                   dup_fraction=0.10)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_stream_pf")
    tail = StructuredTail(
        spark, info["log_dir"], f"{tmp_root}/target_stream_pf",
    )
    assert tail.run_available_now() >= 1
    assert _state(tail.sink) == final_state(replay(world["events"]))


def test_stream_tail_sink_honors_engine_config(spark, tmp_root):
    """StructuredTail builds its sink from the same EngineConfig fields
    as Engine: a configured bloom column must reach the table root."""
    import json

    spec = GenSpec(seed=13, n_events=400, n_repos=10, paths_per_repo=4,
                   n_generations=1, streams_per_generation=2)
    info = write_world(generate_world(spec), f"{tmp_root}/world_stream_cfg")
    target = f"{tmp_root}/target_stream_cfg"
    tail = StructuredTail(
        spark, info["log_dir"], target,
        cfg=EngineConfig(bloom_columns=("lang",), minor_compact_ratio=0.25),
    )
    assert tail.run_available_now() >= 1
    with open(os.path.join(target, "MANIFEST.json")) as f:
        assert json.load(f)["bloom"]["columns"] == ["lang"]
    assert tail.sink.minor_compact_ratio == 0.25
