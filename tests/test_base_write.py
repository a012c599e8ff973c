"""Base-segment writes of ``compact()`` and ``rebucket()``: each bucket
lands as ONE pk-sorted parquet file, and AQE splits a bucket larger than
its advisory partition size across several sorted files that still read
back exactly. Opening the manifest-listed segment dirs of a scan starts
no Spark listing job."""

import glob
import os

import pyarrow.parquet as pq

from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
from scylla_cdc_java_spark.model import (
    OP_PARTITION_DELETE,
    OP_ROW_INSERT,
    EngineConfig,
    TableConfig,
)
from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log
from scylla_cdc_java_spark.oracle import final_state, replay
from scylla_cdc_java_spark.sinks.parquet_merge import ParquetMergeSink

COLS = ("repo", "path", "commit", "lang", "content")
PK = ["repo", "path"]


def _replayed(spark, tmp_root, tag, **cfg):
    spec = GenSpec(seed=313, n_events=2500, n_repos=40, paths_per_repo=8,
                   n_generations=2, streams_per_generation=4,
                   gen_span_ms=120_000, p_range_delete=0.04)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/bw_world_{tag}")
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/bw_target_{tag}",
                 cfg=EngineConfig(window_length_limit_ms=30_000,
                                  num_buckets=8, **cfg))
    eng.replay()
    return world, eng


def _base_dirs(sink) -> dict[str, list[str]]:
    """{base bucket dir: its parquet files} for every base dir on disk."""
    return {
        d: sorted(glob.glob(os.path.join(glob.escape(d), "*.parquet")))
        for d in glob.glob(os.path.join(
            glob.escape(sink.path), "data", "*", "base", "__bucket=*"))
    }


def _keys(f) -> list[tuple]:
    t = pq.read_table(f, columns=PK)
    return list(zip(*(t.column(c).to_pylist() for c in PK)))


def _state(rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in COLS) for r in rows)


def test_compact_and_rebucket_write_one_file_per_bucket(spark, tmp_root):
    world, eng = _replayed(spark, tmp_root, "one", compact_threshold=3)
    sink = eng.sink
    want = _state(final_state(replay(world["events"])))
    for step in ("compact", "rebucket"):
        if step == "compact":
            assert len(sink.compact(list(range(8)))["compacted"]) == 8
        else:
            sink.rebucket(5)
        dirs = _base_dirs(sink)
        assert dirs, step
        for d, files in dirs.items():
            assert len(files) == 1, (step, d, files)
            keys = _keys(files[0])
            assert keys == sorted(keys), (step, d)
        assert _state(sink.read().collect()) == want, step
    assert len(sink.manifest()["buckets"]) == 5


def test_large_buckets_split_into_sorted_files(spark, tmp_root):
    world, eng = _replayed(spark, tmp_root, "split",
                           compact_threshold=10**6)
    sink = eng.sink
    # A 1 KB advisory size makes every bucket "large". AQE splits a
    # rebalance partition by map output, so the resolved input must
    # also stay in several partitions: below the 1 MB minimum AQE would
    # coalesce it into one map task, which cannot be split.
    tiny = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1"}
    saved = {k: spark.conf.get(k, None) for k in tiny}
    for k, v in tiny.items():
        spark.conf.set(k, v)
    try:
        assert sink.compact()["compacted"]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    dirs = _base_dirs(sink)
    split = {d: fs for d, fs in dirs.items() if len(fs) > 1}
    assert split, {d: len(fs) for d, fs in dirs.items()}
    for files in dirs.values():
        for f in files:
            keys = _keys(f)
            assert keys == sorted(keys), f

    oracle = final_state(replay(world["events"]))
    assert _state(sink.read().collect()) == _state(oracle)
    repo, path = next(k for fs in split.values() for f in fs
                      for k in _keys(f))
    want = [r for r in oracle if r["repo"] == repo]
    assert _state(sink.lookup((repo,)).collect()) == _state(want)
    got = sink.lookup((repo,), path).collect()
    assert _state(got) == _state(r for r in want if r["path"] == path)


def _batch(spark, rows):
    data = [((b"\x13" * 16), {"ms": r["ms"], "seq": r["seq"]}, r["op"],
             *[r.get(c) for c in COLS]) for r in rows]
    ddl = ("`cdc$stream_id` binary, `cdc$time` struct<ms:long,seq:long>, "
           "`cdc$operation` tinyint, "
           + ", ".join(f"`{c}` string" for c in COLS))
    return normalize_log(spark.createDataFrame(data, schema=ddl))


def test_scan_build_starts_no_listing_job(spark, tmp_root):
    """More segment dirs than Spark's default parallel-discovery
    threshold (32): the sink already knows every dir from its manifest,
    so building the scan's DataFrame must list them on the driver."""
    sink = ParquetMergeSink(spark, f"{tmp_root}/bw_listing", TableConfig(),
                            num_buckets=16, compact_threshold=10**6)
    for w in range(3):
        rows = [{"op": OP_ROW_INSERT, "ms": 10 + w, "seq": i,
                 "repo": f"org/r{i:03d}", "path": "a.py",
                 "commit": f"c{w}", "lang": ("py", "go")[i % 2],
                 "content": f"body-{w}-{i}"} for i in range(96)]
        rows.append({"op": OP_PARTITION_DELETE, "ms": 20 + w, "seq": 999,
                     "repo": f"org/r{w:03d}"})
        sink.merge(fold_batch(_batch(spark, rows), sink.table),
                   {"step": w})
    root = sink._load_root()
    n_dirs = sum(len(st.get("segs", [])) + len(st.get("tomb_segs", []))
                 for st in (sink._bucket_state(e)
                            for e in root["bucket_index"].values()))
    assert n_dirs > 32, n_dirs

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = sink.scan([("lang", "=", "py")])  # no action yet
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, f"scan() build ran {len(after - before)} jobs"
    assert df.count() == sum(1 for i in range(3, 96) if i % 2 == 0)
