"""Incremental-vs-full datapipe maintenance timing probe (round 5).

ROUND5.md §5 proved the incremental indexes EQUAL a full recompute
(digest-matched contract entries); this probe measures what the
incrementality BUYS. Scenario — the steady state the design targets:

1. backfill a large table (the cached 30M-event bench world, 256
   buckets), then bring the MinHash index up from empty = the FULL
   recompute cost over the whole table;
2. tail windows arrive, each updating a handful of repos (4 repos →
   ≤4 of 256 buckets, the partition-key bucket grain): fold + merge
   through the real write path, then `sync()` — the incremental cost;
3. rebuild a SECOND index from empty over the same final table — the
   full-recompute cost a non-incremental pipeline would pay per window.

Report: per-tail-sync seconds + buckets rescanned, full-recompute
seconds, and the speedup ratio. Equality of the two indexes is asserted
(count + per-bucket sig digest), so the ratio compares identical
artifacts.

Usage: python tools/incremental_bench.py [out.json]
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
NUM_BUCKETS = 256
TAIL_WINDOWS = 5
TAIL_REPOS = 4


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    argv = sys.argv[1:]
    args = []
    skip = False
    for i, a in enumerate(argv):
        if skip:
            skip = False
            continue
        if a == "--events":
            skip = True
        elif not a.startswith("--"):
            args.append(a)
    out_path = args[0] if args else os.path.join(REPO, "INCR_r5.json")

    from scylla_cdc_java_spark import (
        Engine, GenSpec, generate_world, write_world,
    )
    from scylla_cdc_java_spark.model import EngineConfig
    from scylla_cdc_java_spark.datapipe.incremental import (
        IncrementalMinHashIndex,
    )
    from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log
    from scylla_cdc_java_spark.session import get_spark

    # same spec as bench.py's headline world so the cache is shared
    # (--smoke: a tiny world to exercise the probe's code path quickly;
    #  --events N: explicit world size, for the scaling-trend table)
    from bench import _spec, world_for  # reuses either generator's cache

    n_events = 200_000 if "--smoke" in sys.argv else 30_000_000
    if "--events" in sys.argv:
        n_events = int(sys.argv[sys.argv.index("--events") + 1])
    spec = _spec(n_events)
    info = world_for(spec, CACHE)
    spark = get_spark(app="incr-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)

    work = tempfile.mkdtemp(prefix="incr_bench_")
    target = os.path.join(work, "target")
    report: dict = {
        "metric": "incremental index sync vs full recompute (seconds)",
        "world_events": info["n_rows"],
        "num_buckets": NUM_BUCKETS,
        "cores": CPUS,
    }
    try:
        # ---- 1. backfill ------------------------------------------------
        eng = Engine(
            spark, info["log_dir"], info["generations_path"], target,
            cfg=EngineConfig(window_length_limit_ms=600_000,
                             num_buckets=NUM_BUCKETS),
        )
        t0, s0 = time.time(), _steal_s()
        eng.replay()
        report["backfill_replay_s"] = round(time.time() - t0, 2)
        report["table_rows"] = eng.sink.read().count()

        idx = IncrementalMinHashIndex(spark, os.path.join(work, "idx"),
                                      text_col="content")
        t0 = time.time()
        first = idx.sync(eng.sink)
        report["initial_full_sync_s"] = round(time.time() - t0, 2)
        report["initial_buckets"] = len(first["changed"])

        # the non-invertible rollup (BucketAggregate) rides the same
        # maintenance core; measure it through the same protocol
        from scylla_cdc_java_spark.sinks.aggregate import BucketAggregate

        MM_SPEC = dict(
            group_by={"lang": "lang"},
            metrics={"min_bytes": ("min", "length(content)"),
                     "max_bytes": ("max", "length(content)"),
                     "sum_bytes": ("sum", "length(content)")},
        )
        agg = BucketAggregate(spark, os.path.join(work, "mm"), **MM_SPEC)
        t0 = time.time()
        agg.sync(eng.sink)
        mm_report = {"initial_full_sync_s": round(time.time() - t0, 2)}

        # ---- 2. tail windows: few-repo updates through the real path ----
        tails = []
        for w in range(TAIL_WINDOWS):
            tw = generate_world(GenSpec(
                seed=1000 + w, n_events=1500, n_repos=TAIL_REPOS,
                n_orgs=1, paths_per_repo=8, n_generations=1,
                streams_per_generation=4, gen_span_ms=60_000,
                content_min=64, content_max=256,
            ))
            tinfo = write_world(tw, os.path.join(work, f"tail{w}"))
            log = normalize_log(spark.read.parquet(tinfo["log_dir"]))
            fold = fold_batch(log, eng.table)
            t0 = time.time()
            # pass the existing lineage through: merge(checkpoint=None)
            # would overwrite the backfill's flat checkpoint with None
            eng.sink.merge(fold, eng.sink.checkpoint())
            merge_s = time.time() - t0
            t0 = time.time()
            s = idx.sync(eng.sink)
            sync_s = time.time() - t0
            t0 = time.time()
            agg.sync(eng.sink)
            tails.append({
                "merge_s": round(merge_s, 2),
                "sync_s": round(sync_s, 2),
                "buckets_rescanned": len(s["changed"]),
                "minmax_sync_s": round(time.time() - t0, 2),
            })
        report["tail_windows"] = tails
        report["tail_sync_best_s"] = min(t["sync_s"] for t in tails)
        report["tail_sync_median_s"] = sorted(
            t["sync_s"] for t in tails)[len(tails) // 2]

        # ---- 3. full recompute over the same final table -----------------
        idx2 = IncrementalMinHashIndex(spark, os.path.join(work, "idx2"),
                                       text_col="content")
        t0 = time.time()
        full = idx2.sync(eng.sink)
        report["full_recompute_s"] = round(time.time() - t0, 2)
        report["full_buckets"] = len(full["changed"])
        report["steal_s_total"] = round(_steal_s() - s0, 1)

        # equality: same rows, same per-bucket signature digest
        from pyspark.sql import functions as F

        def digest(ix):
            return (
                ix.signatures()
                .select(F.md5(F.concat_ws(
                    "|", "repo", "path",
                    F.concat_ws(",", F.col("sig").cast("array<string>")),
                )).alias("h"))
                .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10)
                           .cast("long")).alias("d"),
                     F.count("*").alias("n"))
                .collect()[0]
            )

        d1, d2 = digest(idx), digest(idx2)
        assert (d1["d"], d1["n"]) == (d2["d"], d2["n"]), (d1, d2)
        report["index_rows"] = d1["n"]
        report["incremental_equals_full"] = True
        report["speedup_full_over_tail_median"] = round(
            report["full_recompute_s"] / report["tail_sync_median_s"], 1)

        # minmax rollup: full recompute from empty + equality with a
        # direct GROUP BY over the final table (the O(table) control a
        # non-incremental pipeline would pay per window)
        agg2 = BucketAggregate(spark, os.path.join(work, "mm2"), **MM_SPEC)
        t0 = time.time()
        agg2.sync(eng.sink)
        mm_report["full_recompute_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        direct = {
            r["lang"]: (r["rows"], r["min_bytes"], r["max_bytes"],
                        r["sum_bytes"])
            for r in eng.sink.read()
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.min(F.expr("length(content)")).alias("min_bytes"),
                 F.max(F.expr("length(content)")).alias("max_bytes"),
                 F.sum(F.expr("length(content)")).alias("sum_bytes"))
            .collect()
        }
        mm_report["direct_groupby_s"] = round(time.time() - t0, 2)
        got = {r["lang"]: (r["rows"], r["min_bytes"], r["max_bytes"],
                           r["sum_bytes"])
               for r in agg.read().collect()}
        got2 = {r["lang"]: (r["rows"], r["min_bytes"], r["max_bytes"],
                            r["sum_bytes"])
                for r in agg2.read().collect()}
        assert got == got2 == direct, (got, got2, direct)
        mm_report["incremental_equals_full_equals_direct"] = True
        mm_syncs = sorted(t["minmax_sync_s"] for t in tails)
        mm_report["tail_sync_median_s"] = mm_syncs[len(mm_syncs) // 2]
        mm_report["speedup_full_over_tail_median"] = round(
            mm_report["full_recompute_s"] / mm_report["tail_sync_median_s"],
            1)
        report["minmax_rollup"] = mm_report
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
