"""Hierarchical manifest layout (root pointer map + immutable
per-bucket manifest files — the Iceberg manifest-list shape) driven
end-to-end through the real engine at a high bucket count: replay stays
oracle-exact, crash-resume stays green, and the root manifest never
enumerates segment paths (its size is O(buckets), not O(segments)).

Driver-side *cost* scaling (1000+ buckets x 50+ windows, where a local
Spark world can't go) is measured by tools/meta_scaling.py against the
round-3 monolithic shape; this test pins the *correctness* of the same
code paths under real merges.
"""

import json
import os
import sys

import pytest

from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
from scylla_cdc_java_spark.model import EngineConfig
from scylla_cdc_java_spark.oracle import final_state, replay

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPEC = GenSpec(seed=77, n_events=1500, n_repos=40, paths_per_repo=6,
               n_generations=2, streams_per_generation=4,
               gen_span_ms=120_000)


def _rows(sink):
    return sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in sink.read().collect()
    )


def test_high_bucket_replay_crash_resume_oracle_exact(spark, tmp_root):
    world = generate_world(SPEC)
    info = write_world(world, f"{tmp_root}/hm_world")
    target = f"{tmp_root}/hm_target"
    cfg = EngineConfig(window_length_limit_ms=30_000, num_buckets=256,
                       compact_threshold=4)

    # crash after 3 committed windows
    eng = Engine(spark, info["log_dir"], info["generations_path"], target,
                 cfg=cfg)
    real_merge = eng.sink.merge
    calls = {"n": 0}

    def dying_merge(*a, **kw):
        calls["n"] += 1
        if calls["n"] > 3:
            raise RuntimeError("simulated crash before commit")
        return real_merge(*a, **kw)

    eng.sink.merge = dying_merge
    with pytest.raises(RuntimeError):
        eng.replay()

    # the committed root is a consistent prefix in the NEW format: a
    # SHARDED index descriptor (round 5) — the raw root carries only
    # base-shard/delta file paths, no per-bucket entries at all, so its
    # size is O(n_shards + n_deltas) regardless of num_buckets
    with open(os.path.join(target, "MANIFEST.json")) as f:
        root = json.load(f)
    assert "bucket_index" in root and "buckets" not in root
    desc = root["bucket_index"]
    assert desc.get("__sharded__") is True and desc["n_shards"] >= 1
    # the decoded view still yields pointer entries for every bucket
    decoded = eng.sink._load_root()["bucket_index"]
    assert len(decoded) > 0
    assert all("path" in e and "n_segs" in e for e in decoded.values())

    # resume -> oracle-exact
    eng2 = Engine(spark, info["log_dir"], info["generations_path"], target,
                  cfg=cfg)
    stats = eng2.replay()
    assert stats.windows > 0
    want = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in final_state(replay(world["events"]))
    )
    assert _rows(eng2.sink) == want

    # per-commit metadata cost was recorded and the root stays small:
    # it carries one pointer entry per touched bucket, no segment paths
    with open(os.path.join(target, "MANIFEST.json")) as f:
        raw = f.read()
    assert "data/v" not in raw  # segment paths live in meta/ files only
    assert os.path.isdir(os.path.join(target, "meta"))

    # compaction + vacuum on the hierarchical layout keep state intact
    eng2.sink.compact()
    eng2.sink.reader_lease_s = 0
    eng2.sink.vacuum()
    assert _rows(eng2.sink) == want


def test_meta_scaling_tool_runs_the_real_rebase():
    """``tools/meta_scaling.py`` times the sink's own per-bucket rebase
    (``_next_entry``) with no Spark: a tiny run completes and its final
    root counts every segment it appended (8 distinct buckets, one
    segment each)."""
    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    import meta_scaling

    out = meta_scaling.run(num_buckets=8, windows=4, touched=2)
    assert out["total_segments_final"] == 8
    assert out["root_manifest_bytes_final"] > 0
    assert all(v >= 0 for v in out["hier_commit_ms"].values())
