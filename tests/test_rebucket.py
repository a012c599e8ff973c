"""Online re-bucketing (partition evolution) — ``sink.rebucket(n)``.

At 100 TB the bucket count chosen at table creation stops fitting: a
table that grew 100x needs 100x the buckets or every bucket becomes a
multi-GB scan unit (lookup cost, compaction unit, and the changed-
bucket grain of every incremental consumer all degrade together).
Iceberg solves this with partition-spec evolution; this sink's analog
is ``rebucket(new_num_buckets)``: one maintenance commit that rewrites
every bucket under the new ``pmod(xxhash64(pk), n)`` routing (folding
tombstones — sidecars are routed by the OLD ids and cannot survive),
then swaps ``num_buckets`` + the whole bucket index atomically.

Safety protocol under concurrency (what these tests pin):
- rebucket commits ONLY if no data-changing commit landed since it
  planned (exact per-bucket segment-set match); otherwise it retries
  from the new root. Checkpoint-only commits are absorbed.
- a concurrent writer whose commit rebases onto a rebucketed root
  FENCES (its staged files are routed by the old count) — raises
  ``RoutingChangedError``; ``merge()`` retries once after the fence
  refreshed the sink's routing, so live writers survive with one
  re-staged window.
- ``compact()`` staged against the old routing is superseded by its
  existing read-set subset check (skipped, never committed).
- read paths follow the manifest: ``lookup`` resolves the target
  version's own num_buckets; time travel across the boundary reads
  the old layout exactly.
- consumers: the change feed diffs bucket ids across the boundary to
  "everything changed", so a pure-rebucket span nets to EMPTY and a
  straddling span nets to the true row diff; the mirror detects the
  routing change (its stored partitions are routed by the old count)
  and rebuilds from the target snapshot; bucket-synced indexes and
  rollups resync exactly because every fingerprint moved.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
from scylla_cdc_java_spark.model import (
    OP_PARTITION_DELETE,
    OP_ROW_INSERT,
    OP_ROW_UPDATE,
    EngineConfig,
    TableConfig,
)
from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log
from scylla_cdc_java_spark.oracle import final_state, replay
from scylla_cdc_java_spark.sinks.parquet_merge import (
    ParquetMergeSink,
    RoutingChangedError,
)

SID = b"\x11" * 16
COLS = ["repo", "path", "commit", "lang", "content"]


def _batch(spark, rows, cols=COLS):
    data = [
        (SID, {"ms": r["ms"], "seq": r["seq"]}, r["op"],
         *[r.get(c) for c in cols])
        for r in rows
    ]
    ddl = (
        "`cdc$stream_id` binary, `cdc$time` struct<ms:long,seq:long>, "
        "`cdc$operation` tinyint, "
        + ", ".join(f"`{c}` string" for c in cols)
    )
    return normalize_log(spark.createDataFrame(data, schema=ddl))


def _rows(sink, **kw):
    return sorted(
        (tuple(r[c] for c in COLS) for r in sink.read(**kw).collect()),
    )


def _seed_rows(n, ms=10):
    return [
        {"op": OP_ROW_INSERT, "ms": ms + i, "seq": i, "repo": f"o/r{i % 7}",
         "path": f"p{i}.py", "commit": f"c{i}", "lang": "py",
         "content": f"body-{i}"}
        for i in range(n)
    ]


def _hook_before_commit(sink, action):
    orig = sink._commit_under_lock
    fired = [False]

    def wrapper(build, snapshot=True, **kw):
        if not fired[0]:
            fired[0] = True
            action()
        sink._commit_under_lock = orig
        return orig(build, snapshot=snapshot, **kw)

    sink._commit_under_lock = wrapper


# ---------------------------------------------------------------------------
# core: state preservation, tombstone folding, grow and shrink
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("old_nb,new_nb", [(4, 16), (16, 4)])
def test_rebucket_preserves_state_and_folds_tombstones(
        spark, tmp_root, old_nb, new_nb):
    table = TableConfig()
    path = f"{tmp_root}/rbk_core_{old_nb}_{new_nb}"
    sink = ParquetMergeSink(spark, path, table, num_buckets=old_nb)
    sink.merge(fold_batch(_batch(spark, _seed_rows(40)), table), {"s": 1})
    # pending partition-delete sidecar: must fold into the new bases
    sink.merge(fold_batch(_batch(spark, [
        {"op": OP_PARTITION_DELETE, "ms": 100, "seq": 0, "repo": "o/r3"},
        {"op": OP_ROW_UPDATE, "ms": 101, "seq": 1, "repo": "o/r1",
         "path": "p1.py", "content": "v2"},
    ]), table), {"s": 2})
    before = _rows(sink)
    assert any("o/r1" == r[0] and r[4] == "v2" for r in before)
    assert not any(r[0] == "o/r3" for r in before)

    stats = sink.rebucket(new_nb)
    assert stats["num_buckets"] == new_nb
    assert sink.num_buckets == new_nb

    root = sink._load_root()
    assert root["num_buckets"] == new_nb
    for b, e in root["bucket_index"].items():
        st = sink._bucket_state(e)
        assert len(st["segs"]) == 1, (b, st)
        assert st["tomb_segs"] == [] and not st.get("tomb_rows")
        assert int(b) < new_nb

    assert _rows(sink) == before
    fresh = ParquetMergeSink.for_existing(spark, path)
    assert fresh.num_buckets == new_nb
    assert _rows(fresh) == before


def test_rebucket_lookup_follows_routing(spark, tmp_root):
    """lookup() must route by the TARGET version's num_buckets — the
    live instance after a rebucket, and the OLD count for a versioned
    (time-travel) lookup across the boundary."""
    table = TableConfig()
    sink = ParquetMergeSink(spark, f"{tmp_root}/rbk_lkp", table,
                            num_buckets=3)
    sink.merge(fold_batch(_batch(spark, _seed_rows(30)), table), {"s": 1})
    v_pre = sink.manifest()["version"]
    sink.rebucket(17)
    for i in (0, 5, 13):
        got = sink.lookup(f"o/r{i % 7}", f"p{i}.py").collect()
        assert [r["content"] for r in got] == [f"body-{i}"], i
        old = sink.lookup(f"o/r{i % 7}", f"p{i}.py",
                          version=v_pre).collect()
        assert [r["content"] for r in old] == [f"body-{i}"], i

    # a STALE instance (constructed before the rebucket elsewhere)
    # must also route lookups by the current root, not its ctor arg
    stale = ParquetMergeSink(spark, f"{tmp_root}/rbk_lkp", table,
                             num_buckets=3)
    got = stale.lookup("o/r5", "p5.py").collect()
    assert [r["content"] for r in got] == ["body-5"]


# ---------------------------------------------------------------------------
# concurrency: writer fence + retry, rebucket conflict retry, compact
# ---------------------------------------------------------------------------

def test_stale_writer_fences_then_merge_retry_recovers(spark, tmp_root):
    table = TableConfig()
    path = f"{tmp_root}/rbk_fence"
    a = ParquetMergeSink(spark, path, table, num_buckets=4)
    a.merge(fold_batch(_batch(spark, _seed_rows(12)), table), {"s": 1})
    maint = ParquetMergeSink.for_existing(spark, path)

    # a stale instance that merges AFTER the rebucket self-heals at
    # plan time (its root load refreshes the routing) — no fence
    maint.rebucket(32)
    assert a.num_buckets == 4  # not yet refreshed
    a.merge(fold_batch(_batch(spark, [
        {"op": OP_ROW_INSERT, "ms": 150, "seq": 0, "repo": "o/pre",
         "path": "q.py", "commit": "cq", "lang": "py", "content": "Q"},
    ]), table), {"s": 2})
    assert a.num_buckets == 32

    # the fence proper: rebucket lands INSIDE the stage->commit window,
    # so the raw attempt's staged files are routed by a dead count
    with pytest.raises(RoutingChangedError):
        _hook_before_commit(a, lambda: maint.rebucket(8))
        a._merge_attempt(fold_batch(_batch(spark, [
            {"op": OP_ROW_INSERT, "ms": 200, "seq": 0, "repo": "o/new",
             "path": "n.py", "commit": "cn", "lang": "py", "content": "N"},
        ]), table), {"s": 3})
    # the fenced commit's root load refreshed the routing
    assert a.num_buckets == 8

    # public merge() with the same in-window rebucket retries
    # transparently: one re-stage, the row lands under the new routing
    maint2 = ParquetMergeSink.for_existing(spark, path)
    _hook_before_commit(a, lambda: maint2.rebucket(16))
    a.merge(fold_batch(_batch(spark, [
        {"op": OP_ROW_INSERT, "ms": 300, "seq": 0, "repo": "o/new2",
         "path": "m.py", "commit": "cm", "lang": "py", "content": "M"},
    ]), table), {"s": 4})
    assert a.num_buckets == 16
    fresh = ParquetMergeSink.for_existing(spark, path)
    assert ("o/new2", "m.py", "cm", "py", "M") in _rows(fresh)
    # ...and its row is routed correctly under the new count
    assert [r["content"] for r in fresh.lookup("o/new2", "m.py").collect()
            ] == ["M"]


def test_rebucket_retries_past_concurrent_commit(spark, tmp_root):
    """A data commit landing inside rebucket's plan->commit window
    invalidates the planned rewrite (its rows are missing from it);
    rebucket must abort that attempt and retry from the new root."""
    table = TableConfig()
    path = f"{tmp_root}/rbk_race"
    sink = ParquetMergeSink(spark, path, table, num_buckets=4)
    sink.merge(fold_batch(_batch(spark, _seed_rows(10)), table), {"s": 1})
    other = ParquetMergeSink.for_existing(spark, path)

    def concurrent_write():
        other.merge(fold_batch(_batch(spark, [
            {"op": OP_ROW_INSERT, "ms": 500, "seq": 0, "repo": "o/race",
             "path": "r.py", "commit": "cr", "lang": "py", "content": "R"},
        ]), table), {"s": 2})

    _hook_before_commit(sink, concurrent_write)
    stats = sink.rebucket(16)
    assert stats["attempts"] == 2
    fresh = ParquetMergeSink.for_existing(spark, path)
    assert fresh.num_buckets == 16
    assert ("o/race", "r.py", "cr", "py", "R") in _rows(fresh)
    assert len(_rows(fresh)) == 11


def test_rebucket_exhausted_retries_raises(spark, tmp_root):
    table = TableConfig()
    path = f"{tmp_root}/rbk_exh"
    sink = ParquetMergeSink(spark, path, table, num_buckets=2)
    sink.merge(fold_batch(_batch(spark, _seed_rows(4)), table), {"s": 1})
    other = ParquetMergeSink.for_existing(spark, path)
    n = [0]

    orig = sink._commit_under_lock

    def always_race(build, snapshot=True, **kw):
        n[0] += 1
        other.merge(fold_batch(_batch(spark, [
            {"op": OP_ROW_INSERT, "ms": 600 + n[0], "seq": 0,
             "repo": f"o/x{n[0]}", "path": "x.py", "commit": "c",
             "lang": "py", "content": "X"},
        ]), table), {"s": 10 + n[0]})
        return orig(build, snapshot=snapshot, **kw)

    sink._commit_under_lock = always_race
    with pytest.raises(RuntimeError, match="rebucket"):
        sink.rebucket(8, max_retries=2)
    sink._commit_under_lock = orig
    # nothing committed: routing unchanged, all rows live
    fresh = ParquetMergeSink.for_existing(spark, path)
    assert fresh.num_buckets == 2
    assert len(_rows(fresh)) == 4 + n[0]


def test_compact_superseded_by_rebucket_is_skipped(spark, tmp_root):
    table = TableConfig()
    path = f"{tmp_root}/rbk_cmp"
    sink = ParquetMergeSink(spark, path, table, num_buckets=4)
    sink.merge(fold_batch(_batch(spark, _seed_rows(8)), table), {"s": 1})
    sink.merge(fold_batch(_batch(spark, [
        {"op": OP_ROW_UPDATE, "ms": 50, "seq": 0, "repo": "o/r1",
         "path": "p1.py", "content": "u"},
    ]), table), {"s": 2})
    other = ParquetMergeSink.for_existing(spark, path)
    before = _rows(sink)

    _hook_before_commit(sink, lambda: other.rebucket(16))
    out = sink.compact()
    assert out["compacted"] == []  # every bucket superseded
    fresh = ParquetMergeSink.for_existing(spark, path)
    assert fresh.num_buckets == 16
    assert _rows(fresh) == before


# ---------------------------------------------------------------------------
# time travel / vacuum across the boundary
# ---------------------------------------------------------------------------

def test_time_travel_and_vacuum_across_rebucket(spark, tmp_root):
    table = TableConfig()
    sink = ParquetMergeSink(spark, f"{tmp_root}/rbk_tt", table,
                            num_buckets=4)
    sink.merge(fold_batch(_batch(spark, _seed_rows(12)), table), {"s": 1})
    v_pre = sink.manifest()["version"]
    before = _rows(sink)
    sink.rebucket(16)
    assert _rows(sink, version=v_pre) == before  # old layout readable
    sink.vacuum(retain_snapshots=1, staging_grace_s=0.0)
    assert _rows(sink) == before  # new layout survives the reap
    with pytest.raises(FileNotFoundError):
        sink.read(version=v_pre)


# ---------------------------------------------------------------------------
# engine end-to-end: full replay world, rebucket mid-history
# ---------------------------------------------------------------------------

def test_engine_world_rebucket_midway_matches_oracle(spark, tmp_root):
    spec = GenSpec(seed=33, n_events=2500, n_repos=40, paths_per_repo=10,
                   n_generations=2, streams_per_generation=8,
                   gen_span_ms=60_000)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/rbk_world")
    cfg = EngineConfig(window_length_limit_ms=20_000, num_buckets=8)
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/rbk_target", cfg=cfg)

    # rebucket by an EXTERNAL maintainer while the engine replays: hook
    # fires inside the engine's 3rd merge stage->commit window, so that
    # merge fences and the engine-level retry re-stages it
    n_merges = [0]
    orig = eng.sink._commit_under_lock

    def wrapper(build, snapshot=True, **kw):
        n_merges[0] += 1
        if n_merges[0] == 3:
            ext = ParquetMergeSink.for_existing(spark,
                                                f"{tmp_root}/rbk_target")
            ext.rebucket(24)
        return orig(build, snapshot=snapshot, **kw)

    eng.sink._commit_under_lock = wrapper
    eng.replay()
    eng.sink._commit_under_lock = orig

    oracle_rows = final_state(replay(world["events"]))
    got = sorted(
        ({c: r[c] for c in COLS} for r in eng.sink.read().collect()),
        key=lambda d: (d["repo"], d["path"]),
    )
    want = [{c: r[c] for c in COLS} for r in oracle_rows]
    assert got == want
    assert eng.sink.manifest()["num_buckets"] == 24
    # content sha256 invariant on a sample
    for g in got[:20]:
        if g["content"] is not None:
            hashlib.sha256(g["content"].encode()).hexdigest()


# ---------------------------------------------------------------------------
# consumers across the boundary
# ---------------------------------------------------------------------------

def test_external_rebucketer_under_live_stack(spark, tmp_root):
    """Partition evolution as a fifth zero-coordination OS process in
    the live deployment: in-proc writer replaying a world + external
    compactor at maximum vacuum pressure (retain-snapshots 1) +
    external MinHash index maintainer + external mirror consumer +
    an external REBUCKETER (tools/rebucketer.py) that lands INSIDE one
    of the writer's stage->commit windows — run synchronously there so
    the cross-process fence is deterministic: the writer's in-flight
    commit must raise RoutingChangedError and converge on one re-stage.
    Afterwards every consumer must cross the boundary: post-rebucket
    windows update pre-rebucket keys, so a mirror that skipped its
    routing rebuild would keep stale copies in old-routing partitions
    and diverge from the table."""
    import subprocess

    spec = GenSpec(seed=37, n_events=2000, n_repos=20, paths_per_repo=8,
                   n_generations=2, streams_per_generation=4,
                   gen_span_ms=300_000, p_range_delete=0.05)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/rbk_live_world")
    target = f"{tmp_root}/rbk_live_target"
    index_dir = f"{tmp_root}/rbk_live_index"
    mirror_dir = f"{tmp_root}/rbk_live_mirror"
    rb_out = f"{tmp_root}/rbk_live_rb.jsonl"
    import os
    import sys as _sys
    REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    argv = {
        "compactor": [
            os.path.join(REPO_ROOT, "tools", "compactor.py"),
            target, "--interval", "1", "--max-rounds", "200",
            "--until-done", "--grace", "10", "--retain-snapshots", "1",
            "--reader-lease", "10", "--cores", "2",
            "--out", f"{tmp_root}/rbk_live_c.jsonl"],
        "maintainer": [
            os.path.join(REPO_ROOT, "tools", "index_maintainer.py"),
            target, index_dir, "--kind", "minhash", "--interval", "0.3",
            "--until-done", "--max-rounds", "400", "--cores", "2",
            "--out", f"{tmp_root}/rbk_live_m.jsonl"],
        "mirror": [
            os.path.join(REPO_ROOT, "tools", "mirror_consumer.py"),
            target, mirror_dir, "--interval", "0.3", "--until-done",
            "--max-rounds", "400", "--cores", "2",
            "--out", f"{tmp_root}/rbk_live_r.jsonl"],
    }
    errs = {n: open(f"{tmp_root}/rbk_live_{n}.err", "w") for n in argv}
    daemons = {
        n: subprocess.Popen([_sys.executable, *a],
                            stdout=subprocess.DEVNULL, stderr=errs[n])
        for n, a in argv.items()
    }
    fenced = []
    try:
        eng = Engine(
            spark, info["log_dir"], info["generations_path"], target,
            cfg=EngineConfig(window_length_limit_ms=20_000,
                             compact_threshold=10**6, num_buckets=8),
        )

        def run_rebucketer():
            res = subprocess.run(
                [_sys.executable,
                 os.path.join(REPO_ROOT, "tools", "rebucketer.py"),
                 target, "24", "--cores", "2", "--max-retries", "25",
                 "--out", rb_out],
                capture_output=True, timeout=600)
            assert res.returncode == 0, res.stderr[-2000:]

        n_attempts = [0]
        real_attempt = eng.sink._merge_attempt
        real_merge = eng.sink.merge

        def merge_observed(fold, checkpoint=None, shard=None):
            # merge() with the retry made observable: the test must
            # SEE the cross-process fence fire, not just converge
            try:
                return eng.sink._merge_attempt(fold, checkpoint,
                                               shard=shard)
            except RoutingChangedError:
                fenced.append(eng.sink.num_buckets)
                return eng.sink._merge_attempt(fold, checkpoint,
                                               shard=shard)

        def attempt_hooked(fold, checkpoint=None, shard=None):
            n_attempts[0] += 1
            if n_attempts[0] == 3:
                # external rebucket lands while THIS merge is between
                # staging and commit
                _hook_before_commit(eng.sink, run_rebucketer)
            return real_attempt(fold, checkpoint, shard=shard)

        eng.sink.merge = merge_observed
        eng.sink._merge_attempt = attempt_hooked
        stats = eng.replay()
        eng.sink.merge = real_merge
        eng.sink._merge_attempt = real_attempt
        assert stats.windows >= 8, stats.windows
        for p in daemons.values():
            p.wait(timeout=300)
    finally:
        for p in daemons.values():
            if p.poll() is None:
                p.kill()
                p.wait()
        for fh in errs.values():
            fh.close()
    for n, p in daemons.items():
        with open(f"{tmp_root}/rbk_live_{n}.err") as fh:
            tail = fh.read()[-3000:]
        assert p.returncode == 0, (n, p.returncode, tail)

    # the cross-process fence really fired and converged
    assert fenced == [24], fenced
    import json as _json
    with open(rb_out) as fh:
        rb = _json.loads(fh.readlines()[-1])
    assert rb["num_buckets"] == 24 and rb["previous_num_buckets"] == 8

    fresh = ParquetMergeSink.for_existing(spark, target)
    assert fresh.num_buckets == 24

    # table oracle-exact across the mid-campaign rebucket
    want = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in final_state(replay(world["events"]))
    )
    got = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in fresh.read().collect()
    )
    assert got == want and len(got) > 0

    # the external mirror crossed the routing boundary (stale-copy-free)
    from scylla_cdc_java_spark.sinks.changefeed import ParquetMirror

    mirror = ParquetMirror(spark, mirror_dir)
    got_m = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in mirror.read().collect()
    )
    assert got_m == want

    # the external index equals a full recompute over the final table
    from scylla_cdc_java_spark.datapipe.incremental import (
        IncrementalMinHashIndex,
    )
    from test_incremental import _collect_sigs, _full_recompute, _inc_view

    idx = IncrementalMinHashIndex(spark, index_dir, text_col="content")
    assert _collect_sigs(_inc_view(idx)) == _collect_sigs(
        _full_recompute(fresh))


def test_changefeed_across_rebucket(spark, tmp_root):
    from scylla_cdc_java_spark.sinks.changefeed import CHANGE_TYPE_COL

    table = TableConfig()
    sink = ParquetMergeSink(spark, f"{tmp_root}/rbk_cf", table,
                            num_buckets=4)
    sink.merge(fold_batch(_batch(spark, _seed_rows(10)), table), {"s": 1})
    v0 = sink.manifest()["version"]
    sink.rebucket(16)
    v1 = sink.manifest()["version"]
    # pure-rebucket span: value-neutral, must net to EMPTY
    assert sink.changes(v0, v1).count() == 0

    sink.merge(fold_batch(_batch(spark, [
        {"op": OP_ROW_UPDATE, "ms": 900, "seq": 0, "repo": "o/r2",
         "path": "p2.py", "content": "rewritten"},
    ]), table), {"s": 2})
    v2 = sink.manifest()["version"]
    feed = sink.changes(v0, v2).collect()
    kinds = sorted(r[CHANGE_TYPE_COL] for r in feed)
    assert kinds == ["update_postimage", "update_preimage"]
    post = [r for r in feed if r[CHANGE_TYPE_COL] == "update_postimage"][0]
    assert (post["repo"], post["path"], post["content"]) == (
        "o/r2", "p2.py", "rewritten")


def test_mirror_rebuilds_on_routing_change(spark, tmp_root):
    """The mirror's partitions are routed by the source's OLD count; a
    post-rebucket span must trigger a full snapshot rebuild or updated
    keys leave stale copies in old-routing partitions."""
    from scylla_cdc_java_spark.sinks.changefeed import ParquetMirror

    table = TableConfig()
    sink = ParquetMergeSink(spark, f"{tmp_root}/rbk_mir_t", table,
                            num_buckets=4)
    mirror = ParquetMirror(spark, f"{tmp_root}/rbk_mir_m")
    sink.merge(fold_batch(_batch(spark, _seed_rows(20)), table), {"s": 1})
    mirror.sync(sink)

    sink.rebucket(16)
    sink.merge(fold_batch(_batch(spark, [
        {"op": OP_ROW_UPDATE, "ms": 900, "seq": 0, "repo": "o/r2",
         "path": "p2.py", "content": "v2"},
        {"op": OP_PARTITION_DELETE, "ms": 901, "seq": 1, "repo": "o/r4"},
    ]), table), {"s": 2})
    mirror.sync(sink)

    table_rows = _rows(sink)
    mirror_rows = sorted(
        tuple(r[c] for c in COLS) for r in mirror.read().collect())
    assert mirror_rows == table_rows
    # and it keeps tracking incrementally afterwards
    sink.merge(fold_batch(_batch(spark, [
        {"op": OP_ROW_INSERT, "ms": 950, "seq": 0, "repo": "o/late",
         "path": "l.py", "commit": "cl", "lang": "py", "content": "L"},
    ]), table), {"s": 3})
    out = mirror.sync(sink)
    assert len(out["changed"]) < 16  # back to touched-bucket scale
    mirror_rows = sorted(
        tuple(r[c] for c in COLS) for r in mirror.read().collect())
    assert mirror_rows == _rows(sink)


def test_incremental_index_across_rebucket(spark, tmp_root):
    from scylla_cdc_java_spark.datapipe.incremental import (
        IncrementalMinHashIndex,
    )

    table = TableConfig()
    sink = ParquetMergeSink(spark, f"{tmp_root}/rbk_idx_t", table,
                            num_buckets=4)
    idx = IncrementalMinHashIndex(spark, f"{tmp_root}/rbk_idx_i",
                                  text_col="content")
    sink.merge(fold_batch(_batch(spark, _seed_rows(20)), table), {"s": 1})
    idx.sync(sink)
    sink.rebucket(16)
    sink.merge(fold_batch(_batch(spark, [
        {"op": OP_ROW_UPDATE, "ms": 900, "seq": 0, "repo": "o/r2",
         "path": "p2.py", "content": "changed text body"},
        {"op": OP_PARTITION_DELETE, "ms": 901, "seq": 1, "repo": "o/r4"},
    ]), table), {"s": 2})
    idx.sync(sink)

    fresh = IncrementalMinHashIndex(spark, f"{tmp_root}/rbk_idx_f",
                                    text_col="content")
    fresh.sync(sink)
    cols = ["repo", "path", "sig"]
    got = sorted(tuple(str(r[c]) for c in cols)
                 for r in idx.signatures().collect())
    want = sorted(tuple(str(r[c]) for c in cols)
                  for r in fresh.signatures().collect())
    assert got == want and len(got) > 0
    # no stale partition dirs beyond the new bucket id space remain
    import os
    dirs = {int(d.split("=")[1])
            for d in os.listdir(f"{tmp_root}/rbk_idx_i/sigs")
            if "=" in d}
    assert all(b < 16 for b in dirs), dirs


def test_bucket_aggregate_across_rebucket(spark, tmp_root):
    from scylla_cdc_java_spark.sinks.aggregate import BucketAggregate

    table = TableConfig()
    sink = ParquetMergeSink(spark, f"{tmp_root}/rbk_agg_t", table,
                            num_buckets=4)
    agg = BucketAggregate(
        spark, f"{tmp_root}/rbk_agg_s",
        group_by={"lang": "lang"},
        metrics={"n_bytes": ("sum", "length(content)"),
                 "min_bytes": ("min", "length(content)")},
    )
    sink.merge(fold_batch(_batch(spark, _seed_rows(20)), table), {"s": 1})
    agg.sync(sink)
    sink.rebucket(16)
    sink.merge(fold_batch(_batch(spark, [
        {"op": OP_PARTITION_DELETE, "ms": 901, "seq": 1, "repo": "o/r4"},
    ]), table), {"s": 2})
    agg.sync(sink)

    def _norm(v):
        return None if v is None else int(v)

    direct = {
        r["lang"]: tuple(_norm(r[c]) for c in ("rows", "n_bytes",
                                               "min_bytes"))
        for r in sink.read().groupBy("lang").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.expr("length(content)")).alias("n_bytes"),
            F.min(F.expr("length(content)")).alias("min_bytes"),
        ).collect()
    }
    got = {
        r["lang"]: tuple(_norm(r[c]) for c in ("rows", "n_bytes",
                                               "min_bytes"))
        for r in agg.read().collect()
    }
    assert got == direct
