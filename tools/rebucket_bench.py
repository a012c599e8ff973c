"""Online re-bucketing cost/benefit probe (round 5, ROUND5.md §11b).

tests/test_rebucket.py proves `sink.rebucket(n)` is EXACT under
concurrency; this probe measures what it costs and what it buys at the
bench scale — the decision an operator of a growing table actually
faces. Scenario:

1. backfill the cached 30M-event bench world at 256 buckets, compact
   (so the "before" side serves from pk-sorted bases like the "after"
   side — apples to apples), and snapshot a value digest;
2. measure the BEFORE serving/maintenance grain: bytes opened by a
   point lookup (the key's whole bucket) and a 4-repo tail window's
   incremental MinHash sync;
3. `rebucket(1024)` — one atomic full rewrite — and assert the value
   digest is unchanged;
4. re-measure the same grain AFTER: the lookup's bucket is ~4x
   smaller and tail syncs still touch <= 4 buckets (now 1/4 the
   bytes each) — the degradation a fixed creation-time count would
   lock in is undone for the cost of one compaction-shaped rewrite.

Usage: python tools/rebucket_bench.py [out.json] [--smoke]
Env: SPARK_GRAFT_BENCH_CACHE (world cache, default /tmp/spark_graft_bench),
     SPARK_GRAFT_CPUS (default 16).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = min(int(os.environ.get("SPARK_GRAFT_CPUS", "16")), 16)
CACHE = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/spark_graft_bench")
NB_BEFORE = 256
NB_AFTER = 1024
N_LOOKUPS = 5
TAIL_REPOS = 4


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _bucket_bytes(sink, bucket: int) -> int:
    """On-disk bytes a lookup of this bucket opens (all its segments +
    sidecars) — the deterministic serving-cost unit, independent of
    JVM warmth."""
    st = sink._bucket_state(sink._load_root()["bucket_index"][str(bucket)])
    total = 0
    for rel in list(st.get("segs", [])) + list(st.get("tomb_segs", [])):
        d = os.path.join(sink.path, rel)
        if os.path.isfile(d):
            total += os.path.getsize(d)
        else:
            for root, _, files in os.walk(d):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _lookup_probe(spark, sink, keys) -> dict:
    """Median lookup wall + median bytes-opened over the probe keys."""
    walls, sizes = [], []
    for repo, path in keys:
        nb = int(sink._load_root().get("num_buckets", sink.num_buckets))
        from pyspark.sql import functions as F

        b = spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(repo)), F.lit(nb)).cast("int")
            .alias("b")).collect()[0]["b"]
        sizes.append(_bucket_bytes(sink, b))
        t0 = time.time()
        n = sink.lookup(repo, path).count()
        walls.append(time.time() - t0)
        assert n >= 1, (repo, path)
    walls.sort(), sizes.sort()
    return {
        "lookup_wall_median_s": round(walls[len(walls) // 2], 3),
        "lookup_bucket_bytes_median": sizes[len(sizes) // 2],
    }


def _tail_probe(spark, eng, idx, seed: int) -> dict:
    """One 4-repo tail window through the real merge path + one
    incremental index sync; the maintenance-grain measurement."""
    from scylla_cdc_java_spark import GenSpec, generate_world, write_world
    from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log

    work = tempfile.mkdtemp(prefix="rbk_tail_")
    try:
        tw = generate_world(GenSpec(
            seed=seed, n_events=1500, n_repos=TAIL_REPOS, n_orgs=1,
            paths_per_repo=8, n_generations=1, streams_per_generation=4,
            gen_span_ms=60_000, content_min=64, content_max=256,
        ))
        tinfo = write_world(tw, os.path.join(work, "w"))
        log = normalize_log(spark.read.parquet(tinfo["log_dir"]))
        fold = fold_batch(log, eng.table)
        t0 = time.time()
        eng.sink.merge(fold, eng.sink.checkpoint())
        merge_s = time.time() - t0
        t0 = time.time()
        s = idx.sync(eng.sink)
        return {
            "merge_s": round(merge_s, 2),
            "sync_s": round(time.time() - t0, 2),
            "buckets_rescanned": len(s["changed"]),
            "bucket_bytes_rescanned": sum(
                _bucket_bytes(eng.sink, int(b)) for b in s["changed"]),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_path = args[0] if args else os.path.join(REPO, "REBUCKET_r5.json")

    from scylla_cdc_java_spark import Engine
    from scylla_cdc_java_spark.model import EngineConfig
    from scylla_cdc_java_spark.datapipe.incremental import (
        IncrementalMinHashIndex,
    )
    from scylla_cdc_java_spark.session import get_spark
    from bench import _spec, world_for

    n_events = 200_000 if "--smoke" in sys.argv else 30_000_000
    spec = _spec(n_events)
    info = world_for(spec, CACHE)
    spark = get_spark(app="rebucket-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="rbk_bench_")
    target = os.path.join(work, "target")
    report: dict = {
        "metric": "online rebucket cost + serving/maintenance grain "
                  "before vs after",
        "world_events": info["n_rows"],
        "num_buckets_before": NB_BEFORE,
        "num_buckets_after": NB_AFTER,
        "cores": CPUS,
    }
    s0 = _steal_s()
    try:
        eng = Engine(
            spark, info["log_dir"], info["generations_path"], target,
            cfg=EngineConfig(window_length_limit_ms=600_000,
                             num_buckets=NB_BEFORE),
        )
        t0 = time.time()
        eng.replay()
        report["backfill_replay_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        eng.sink.compact()
        report["pre_compact_s"] = round(time.time() - t0, 2)

        def digest():
            return eng.sink.read().select(
                F.md5(F.concat_ws(
                    "|", "repo", "path",
                    F.coalesce(F.col("commit"), F.lit("\0")),
                    F.coalesce(F.col("lang"), F.lit("\0")),
                    F.coalesce(F.col("content"), F.lit("\0")),
                )).alias("h")
            ).agg(
                F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))
                .alias("d"),
                F.count("*").alias("n"),
            ).collect()[0]

        keys = [
            (r["repo"], r["path"])
            for r in eng.sink.read().orderBy("repo", "path")
            .limit(N_LOOKUPS).collect()
        ]

        idx = IncrementalMinHashIndex(spark, os.path.join(work, "idx"),
                                      text_col="content")
        t0 = time.time()
        idx.sync(eng.sink)
        report["initial_index_sync_s"] = round(time.time() - t0, 2)

        report["before"] = _lookup_probe(spark, eng.sink, keys)
        report["before"]["tail"] = _tail_probe(spark, eng, idx, seed=2000)

        # digest AFTER the before-side tail merge (the last write):
        # everything from here to the post-rebucket digest is
        # maintenance-only, so equality isolates the rebucket itself
        d_before = digest()
        report["table_rows"] = d_before["n"]

        # ---- the rebucket itself -----------------------------------------
        t0 = time.time()
        st = eng.sink.rebucket(NB_AFTER)
        report["rebucket_s"] = round(time.time() - t0, 2)
        report["rebucket_attempts"] = st["attempts"]
        report["buckets_written"] = st["buckets_written"]
        d_after = digest()
        assert (d_before["d"], d_before["n"]) == (d_after["d"],
                                                  d_after["n"])
        report["state_digest_equal"] = True

        # index crosses the boundary: full resync (every fingerprint
        # moved), then back to touched-bucket tails
        t0 = time.time()
        s = idx.sync(eng.sink)
        report["boundary_index_resync_s"] = round(time.time() - t0, 2)
        report["boundary_buckets_rescanned"] = len(s["changed"])

        report["after"] = _lookup_probe(spark, eng.sink, keys)
        report["after"]["tail"] = _tail_probe(spark, eng, idx, seed=2001)

        b, a = report["before"], report["after"]
        report["lookup_bytes_shrink_x"] = round(
            b["lookup_bucket_bytes_median"]
            / max(a["lookup_bucket_bytes_median"], 1), 2)
        report["tail_bytes_shrink_x"] = round(
            b["tail"]["bucket_bytes_rescanned"]
            / max(a["tail"]["bucket_bytes_rescanned"], 1), 2)
        report["steal_s_total"] = round(_steal_s() - s0, 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
