"""replay() and tail() drive one window step: the same world consumed in
either mode lands the same table, stamps the same per-group checkpoint
lineage and runs the same Spark jobs for a data window."""

import hashlib

from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
from scylla_cdc_java_spark.model import EngineConfig


def _digest(sink) -> str:
    h = hashlib.sha256()
    for r in sorted(sink.read().collect(),
                    key=lambda r: (r["repo"], r["path"])):
        h.update(repr(tuple(r[c] for c in (
            "repo", "path", "commit", "lang", "content"))).encode())
    return h.hexdigest()


def test_replay_and_tail_share_one_window_step(spark, tmp_root):
    spec = GenSpec(seed=77, n_events=900, n_repos=12, paths_per_repo=6,
                   n_generations=2, streams_per_generation=4,
                   gen_span_ms=60_000)
    info = write_world(generate_world(spec), f"{tmp_root}/ws_world")
    # one window per generation and no piggybacked compaction, so a
    # data window runs only the read and the merge jobs
    cfg = EngineConfig(window_length_limit_ms=600_000,
                       compact_threshold=10**6, sleep_scale=0.0)
    tracker = spark.sparkContext.statusTracker()

    def jobs() -> set:
        return set(tracker.getJobIdsForGroup(None) or [])

    # replay: the first window drains generation 0 (closed by the next
    # generation's start); record its jobs and table when it commits
    rep = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/ws_replay", cfg=cfg)
    first: dict = {}
    merge = rep.sink.merge

    def first_merge(*args, **kwargs):
        out = merge(*args, **kwargs)
        if not first:
            first["jobs"] = jobs()
            first["digest"] = _digest(rep.sink)
        return out

    rep.sink.merge = first_merge
    before = jobs()
    stats = rep.replay()
    assert stats.windows == 2
    assert not any(w.get("skipped") for w in stats.per_window)
    replay_jobs = len(first["jobs"] - before)

    # tail, under a clock past the end of the log: the first step is
    # the same generation-0 window
    end_ms = (spec.gen0_start_ms + spec.n_generations * spec.gen_span_ms
              + cfg.late_writes_window_ms + 1)
    tail = Engine(spark, info["log_dir"], info["generations_path"],
                  f"{tmp_root}/ws_tail", cfg=cfg, clock=lambda: end_ms)
    before = jobs()
    s = tail._tail_step()
    tail_jobs = len(jobs() - before)
    assert s is not None and s["rows"] > 0 and not s.get("skipped"), s
    assert _digest(tail.sink) == first["digest"]  # the closed generation
    assert tail_jobs == replay_jobs, (tail_jobs, replay_jobs)

    # tail then consumes the open generation up to the watermark, which
    # lies past its last event: the same table as the replay
    tail.tail(max_windows=2)
    assert _digest(tail.sink) == _digest(rep.sink)

    ck_r = rep.sink.checkpoint()
    ck_t = tail.sink.checkpoint()
    assert ck_r["gen_index"] == ck_t["gen_index"] == 1
    assert ck_r["groups"] and set(ck_r["groups"]) == set(ck_t["groups"])
    for g, ent in ck_r["groups"].items():
        assert set(ent) == set(ck_t["groups"][g]), (ent, ck_t["groups"][g])
