"""Change-feed cost probe: pruned vs unpruned snapshot diff (round 5).

tests/test_changefeed.py and the `changefeed` contract entry prove the
feed's VALUES; this probe measures what the fingerprint bucket prune
BUYS at the steady state the design targets — a large backfilled table
receiving small tail windows:

1. backfill the cached 30M-event bench world (256 buckets) → v_base;
2. apply tail windows, each updating TAIL_REPOS repos (≤4 of 256
   buckets at the partition-key grain) through the real fold → merge
   path, snapshotting versions;
3. per tail: time ``changes(v_prev, v_next)`` (pruned — reads only the
   touched buckets on both sides) and count its rows;
4. control: the same diff with ``prune=False`` (full-outer join over
   every bucket of both snapshots — what a naive snapshot-diff engine
   pays per window), with row-for-row equality asserted against the
   pruned feed; plus the cross-range feed v_base → final.

Report: per-tail pruned feed seconds + changed buckets + rows, the
unpruned control seconds, and the ratio. The ratio grows with table
size while the pruned cost tracks only touched data — the same
divergence INCR_r5.json shows for index maintenance, now for CDC-out.

Usage: python tools/changefeed_bench.py [out.json] [--smoke]
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
TAIL_WINDOWS = 4
TAIL_REPOS = 4


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_path = args[0] if args else os.path.join(REPO, "CHANGEFEED_r5.json")

    from pyspark.sql import functions as F

    from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
    from scylla_cdc_java_spark.model import EngineConfig
    from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log
    from scylla_cdc_java_spark.session import get_spark
    from scylla_cdc_java_spark.sinks.changefeed import (
        CHANGE_TYPE_COL,
        changes_between,
    )

    from bench import _spec, world_for

    n_events = 200_000 if "--smoke" in sys.argv else 30_000_000
    spec = _spec(n_events)
    info = world_for(spec, CACHE)
    spark = get_spark(app="changefeed-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)

    work = tempfile.mkdtemp(prefix="cf_bench_")
    target = os.path.join(work, "target")
    report: dict = {
        "metric": "change feed seconds: fingerprint-pruned vs full diff",
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
        v_base = eng.sink.manifest()["version"]

        # ---- 2. tail windows + pruned feed per adjacent pair ------------
        tails = []
        v_prev = v_base
        for w in range(TAIL_WINDOWS):
            tw = generate_world(GenSpec(
                seed=2000 + w, n_events=1500, n_repos=TAIL_REPOS,
                n_orgs=1, paths_per_repo=8, n_generations=1,
                streams_per_generation=4, gen_span_ms=60_000,
                content_min=64, content_max=256,
            ))
            tinfo = write_world(tw, os.path.join(work, f"tail{w}"))
            log = normalize_log(spark.read.parquet(tinfo["log_dir"]))
            eng.sink.merge(fold_batch(log, eng.table), eng.sink.checkpoint())
            v_next = eng.sink.manifest()["version"]
            t0 = time.time()
            feed = changes_between(eng.sink, v_prev, v_next)
            n_rows = feed.count()
            feed_s = time.time() - t0
            from scylla_cdc_java_spark.sinks.changefeed import changed_buckets
            tails.append({
                "from_v": v_prev, "to_v": v_next,
                "feed_s": round(feed_s, 2),
                "feed_rows": n_rows,
                "changed_buckets": len(
                    changed_buckets(eng.sink, v_prev, v_next)),
            })
            v_prev = v_next
        report["tail_feeds"] = tails
        report["tail_feed_median_s"] = sorted(
            t["feed_s"] for t in tails)[len(tails) // 2]

        # ---- 3. unpruned control on the LAST adjacent pair --------------
        last = tails[-1]

        def canon(df):
            return {
                tuple(r) for r in df.select(
                    "repo", "path", CHANGE_TYPE_COL,
                    *[F.coalesce(F.col(c), F.lit("\x02"))
                      for c in ("commit", "lang", "content")],
                ).collect()
            }

        t0 = time.time()
        full_feed = changes_between(
            eng.sink, last["from_v"], last["to_v"], prune=False)
        full_rows = canon(full_feed)
        report["unpruned_feed_s"] = round(time.time() - t0, 2)
        report["unpruned_feed_rows"] = len(full_rows)
        pruned_rows = canon(
            changes_between(eng.sink, last["from_v"], last["to_v"]))
        assert pruned_rows == full_rows, (
            len(pruned_rows), len(full_rows))
        report["pruned_equals_unpruned"] = True
        report["speedup_unpruned_over_pruned_median"] = round(
            report["unpruned_feed_s"] / report["tail_feed_median_s"], 1)

        # ---- 4. cross-range feed base -> final --------------------------
        t0 = time.time()
        n_cross = changes_between(eng.sink, v_base).count()
        report["cross_range_feed_s"] = round(time.time() - t0, 2)
        report["cross_range_feed_rows"] = n_cross

        # ---- 5. downstream mirror: bootstrap + one tail span ------------
        from scylla_cdc_java_spark.sinks.changefeed import ParquetMirror

        mirror = ParquetMirror(spark, os.path.join(work, "mirror"))
        t0 = time.time()
        boot = mirror.sync(eng.sink)
        report["mirror_bootstrap_s"] = round(time.time() - t0, 2)
        report["mirror_bootstrap_rows"] = boot["applied_rows"]
        tw = generate_world(GenSpec(
            seed=2100, n_events=1500, n_repos=TAIL_REPOS, n_orgs=1,
            paths_per_repo=8, n_generations=1, streams_per_generation=4,
            gen_span_ms=60_000, content_min=64, content_max=256,
        ))
        tinfo = write_world(tw, os.path.join(work, "tail_mirror"))
        log = normalize_log(spark.read.parquet(tinfo["log_dir"]))
        eng.sink.merge(fold_batch(log, eng.table), eng.sink.checkpoint())
        t0 = time.time()
        tail_sync = mirror.sync(eng.sink)
        report["mirror_tail_sync_s"] = round(time.time() - t0, 2)
        report["mirror_tail_changed_buckets"] = len(tail_sync["changed"])
        # equality of the materialization with the source, in-run
        cnt_m = mirror.read().count()
        cnt_s = eng.sink.read().count()
        assert cnt_m == cnt_s, (cnt_m, cnt_s)
        report["mirror_rows"] = cnt_m
        report["mirror_equals_source_count"] = True

        # ---- 6. feed-driven aggregate: tail sync vs full GROUP BY ----
        # The honest control for "keep a rollup current" is recomputing
        # the GROUP BY over the WHOLE table each window — O(table) —
        # vs the aggregate's sync — O(touched buckets) + fixed per-job
        # overhead. At small table sizes the fixed overhead dominates
        # and the control can win; the two costs diverge with table
        # size (same two-point trend as INCR_r5's index syncs), which
        # is why both modes of this probe record both numbers.
        from scylla_cdc_java_spark.sinks.aggregate import FeedAggregate

        agg = FeedAggregate(spark, os.path.join(work, "rollup"),
                            group_by={"lang": "lang"},
                            metrics={"bytes": "length(content)"})
        t0 = time.time()
        agg.sync(eng.sink)  # bootstrap: one-off O(table)
        report["aggregate_bootstrap_s"] = round(time.time() - t0, 2)
        agg_tails = []
        for w in range(2):
            tw = generate_world(GenSpec(
                seed=2200 + w, n_events=1500, n_repos=TAIL_REPOS,
                n_orgs=1, paths_per_repo=8, n_generations=1,
                streams_per_generation=4, gen_span_ms=60_000,
                content_min=64, content_max=256,
            ))
            tinfo = write_world(tw, os.path.join(work, f"tail_agg{w}"))
            log = normalize_log(spark.read.parquet(tinfo["log_dir"]))
            eng.sink.merge(fold_batch(log, eng.table),
                           eng.sink.checkpoint())
            t0 = time.time()
            s = agg.sync(eng.sink)
            sync_s = time.time() - t0
            t0 = time.time()
            full = {
                r["lang"]: (r["rows"], r["bytes"])
                for r in eng.sink.read()
                .groupBy(F.col("lang"))
                .agg(F.count(F.lit(1)).alias("rows"),
                     F.sum(F.expr("length(content)")).alias("bytes"))
                .collect()
            }
            full_s = time.time() - t0
            got = {r["lang"]: (r["rows"], r["bytes"])
                   for r in agg.read().collect()}
            assert got == full, (len(got), len(full))
            agg_tails.append({
                "sync_s": round(sync_s, 2),
                "full_groupby_s": round(full_s, 2),
                "changed_buckets": len(s["changed"]),
            })
        report["aggregate_tails"] = agg_tails
        report["aggregate_equals_direct_groupby"] = True
        report["steal_s_total"] = round(_steal_s() - s0, 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
