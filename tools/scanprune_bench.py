"""Zone-map scan cost probe: pruned vs full filtered read (round 5).

tests/test_scan.py and the `scan_pruned` contract entry prove the
VALUES; this probe measures what bucket-level zone maps BUY — and,
just as deliberately, where they don't:

1. backfill the cached 30M-event bench world (256 buckets, fully
   compacted so every bucket carries base stats);
2. **sparse / late-added column** (the honest win): one tail window
   adds a `flag` column to a handful of repos. `scan(flag = ...)`
   prunes every bucket whose segments provably hold no non-null flag
   (pre-evolution bases record their file schema; the new column is
   absent) — O(touched buckets) IO vs the full-table control
   (`prune=False`), row-for-row equality asserted. This is the query
   shape zone maps exist for on a hash-bucketed table: predicates on
   sparse attributes, late schema additions, or pk-correlated values.
3. **dense decorrelated column** (the honest non-win, reported, not
   hidden): `scan(lang = 'py')` on a hash-bucketed table prunes ~0
   buckets — every bucket contains every lang — so the cost equals the
   full filtered read and the benefit is only the parquet-native
   pushdown. Hash bucketing decorrelates values from buckets BY
   DESIGN; row-level skipping for such predicates belongs to the
   row-group stats inside each file, not to bucket zone maps.
3b. **dense high-cardinality equality** (the bloom tier's own case):
   `scan(commit = <sha>)` — zone maps keep ~every bucket (uniform hex
   spans each [min,max]) and a sha doesn't own the persisted sort
   order; per-segment blooms (sinks/bloom.py) prune to the true
   bucket(s). Capture cost = bloom-building compaction vs stage 1's
   plain compaction.

The sparse ratio grows with table size (control is O(table), pruned
scan is O(matching buckets) + fixed job overhead) — the same
divergence CHANGEFEED_r5.json shows for the feed's fingerprint prune.

Usage: python tools/scanprune_bench.py [out.json] [--smoke]
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
TAIL_REPOS = 4


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_path = args[0] if args else os.path.join(REPO, "SCANPRUNE_r5.json")

    from pyspark.sql import functions as F

    from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
    from scylla_cdc_java_spark.model import EngineConfig
    from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log
    from scylla_cdc_java_spark.session import get_spark

    from bench import _spec, world_for

    n_events = 200_000 if "--smoke" in sys.argv else 30_000_000
    spec = _spec(n_events)
    info = world_for(spec, CACHE)
    spark = get_spark(app="scanprune-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)

    work = tempfile.mkdtemp(prefix="scan_bench_")
    target = os.path.join(work, "target")
    report: dict = {
        "metric": "filtered scan seconds: zone-map pruned vs full read",
        "world_events": info["n_rows"],
        "num_buckets": NUM_BUCKETS,
        "cores": CPUS,
    }
    try:
        # ---- 1. backfill + full compaction ------------------------------
        eng = Engine(
            spark, info["log_dir"], info["generations_path"], target,
            cfg=EngineConfig(window_length_limit_ms=600_000,
                             num_buckets=NUM_BUCKETS),
        )
        t0, s0 = time.time(), _steal_s()
        eng.replay()
        report["backfill_replay_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        eng.sink.compact(buckets=list(range(NUM_BUCKETS)))
        report["full_compact_s"] = round(time.time() - t0, 2)
        report["table_rows"] = eng.sink.read().count()

        # ---- 2. tail window adds a SPARSE column to a few repos ---------
        tw = generate_world(GenSpec(
            seed=3000, n_events=1500, n_repos=TAIL_REPOS, n_orgs=1,
            paths_per_repo=8, n_generations=1, streams_per_generation=4,
            gen_span_ms=60_000, content_min=64, content_max=256,
        ))
        tinfo = write_world(tw, os.path.join(work, "tail"))
        log = normalize_log(spark.read.parquet(tinfo["log_dir"]))
        # late schema evolution: every tail row carries flag='hot'
        log = log.withColumn("flag", F.lit("hot"))
        eng.sink.merge(fold_batch(log, eng.table), eng.sink.checkpoint())

        def timed_rows(df):
            t = time.time()
            n = df.count()
            return round(time.time() - t, 2), n

        def canon(df):
            return {
                tuple(r) for r in df.select(
                    "repo", "path",
                    *[F.coalesce(F.col(c), F.lit("\x02"))
                      for c in ("commit", "lang", "content", "flag")],
                ).collect()
            }

        sparse = [("flag", "=", "hot")]
        inf: dict = {}
        t0 = time.time()
        pruned_rows = canon(eng.sink.scan(sparse, info=inf))
        report["sparse_pruned_s"] = round(time.time() - t0, 2)
        report["sparse_pruning"] = inf
        t0 = time.time()
        full_rows = canon(eng.sink.scan(sparse, prune=False))
        report["sparse_full_s"] = round(time.time() - t0, 2)
        assert pruned_rows == full_rows, (len(pruned_rows), len(full_rows))
        report["sparse_rows"] = len(pruned_rows)
        report["sparse_equal"] = True
        report["sparse_speedup"] = round(
            report["sparse_full_s"] / max(report["sparse_pruned_s"], 1e-9), 1)

        # ---- 3. dense decorrelated control (honest non-win) -------------
        dense = [("lang", "=", "py")]
        inf2: dict = {}
        t0 = time.time()
        n_dense = eng.sink.scan(dense, info=inf2).count()
        report["dense_pruned_s"] = round(time.time() - t0, 2)
        report["dense_pruning"] = inf2
        t0 = time.time()
        n_dense_full = eng.sink.scan(dense, prune=False).count()
        report["dense_full_s"] = round(time.time() - t0, 2)
        assert n_dense == n_dense_full
        report["dense_rows"] = n_dense

        # ---- 3b. bloom tier: dense HIGH-CARDINALITY equality ------------
        # `commit = <sha>` is the case NEITHER prior tier touches: zone
        # maps keep ~every bucket (uniform hex spans each bucket's
        # [min,max]) and a random sha doesn't own the table's one
        # persisted sort order. Per-segment blooms (sinks/bloom.py)
        # prune to the true bucket(s) + ~2% FPR. Capture cost is the
        # delta between this compaction and the plain one in stage 1
        # (one extra bit_or aggregation over the rewritten bases).
        eng.sink.bloom_columns = ["commit"]
        t0 = time.time()
        eng.sink.compact(buckets=list(range(NUM_BUCKETS)))
        report["bloom_build_compact_s"] = round(time.time() - t0, 2)
        # two literals, two honest cases: a RARE sha (the point-lookup
        # shape: one true bucket + FPR noise) and a HOT sha (a commit
        # that touched many files, so its rows genuinely spread over
        # many buckets — pruning converges on the true spread, not 1)
        freq = (eng.sink.read().where(F.col("commit").isNotNull())
                .groupBy("commit").count()
                .select("commit", "count")
                .orderBy("count", "commit"))
        rare = freq.first()
        hot = freq.orderBy(F.desc("count"), "commit").first()
        for label, row in (("rare", rare), ("hot", hot)):
            bfilt = [("commit", "=", row["commit"])]
            inf3 = {}
            t0 = time.time()
            n_b = eng.sink.scan(bfilt, info=inf3).count()
            report[f"bloom_{label}_pruned_s"] = round(time.time() - t0, 2)
            report[f"bloom_{label}_pruning"] = inf3
            t0 = time.time()
            n_bf = eng.sink.scan(bfilt, prune=False).count()
            report[f"bloom_{label}_full_s"] = round(time.time() - t0, 2)
            assert n_b == n_bf, (label, n_b, n_bf)
            report[f"bloom_{label}_rows"] = n_b
            report[f"bloom_{label}_speedup"] = round(
                report[f"bloom_{label}_full_s"]
                / max(report[f"bloom_{label}_pruned_s"], 1e-9), 1)

        # ---- 4. sort-order evolution: row-group skipping INSIDE buckets
        # The dense column's fix is clustering, not bucket pruning:
        # rewrite the bases lang-led with small row groups, then count
        # (driver-side, from the same footers the reader's predicate
        # pushdown consults) how many row groups a lang='py' scan must
        # open under each layout. Physical, deterministic evidence —
        # timing at this table size is all fixed job overhead.
        import glob as _glob

        import pyarrow.parquet as _pq

        def _rg_hits(col, lo, hi):
            root = eng.sink._load_root()
            total = hit = 0
            for b, e in root["bucket_index"].items():
                st = eng.sink._bucket_state(e)
                for seg in st["segs"]:
                    for f in _glob.glob(os.path.join(_glob.escape(
                            os.path.join(eng.sink.path, seg)),
                            "*.parquet")):
                        md = _pq.ParquetFile(f).metadata
                        idx = next(
                            i for i in range(md.num_columns)
                            if md.schema.column(i).path == col)
                        for rg in range(md.num_row_groups):
                            cc = md.row_group(rg).column(idx)
                            s = cc.statistics
                            total += 1
                            if (s is not None and s.has_null_count
                                    and s.null_count == cc.num_values):
                                continue  # all-null group: the pushed
                                # equality implies IsNotNull, which the
                                # reader skips via null_count alone
                            if (s is None or not s.has_min_max
                                    or s.min is None):
                                hit += 1  # no stats: reader must open
                            elif s.max >= lo and s.min <= hi:
                                hit += 1
            return hit, total

        # scaled-down proxy: at 100 TB a bucket base is GBs — dozens of
        # 128 MB row groups per file; here we shrink the group to
        # 32 KB (compaction writes one file per bucket) so
        # groups-per-file stays realistic. The skip RATIO is the
        # scale-invariant quantity.
        eng.sink.parquet_block_bytes = 32 * 1024
        t0 = time.time()
        eng.sink.compact(buckets=list(range(NUM_BUCKETS)))  # pk default
        report["recompact_default_s"] = round(time.time() - t0, 2)
        hit_d, tot_d = _rg_hits("lang", "py", "py")
        t0 = time.time()
        eng.sink.compact(buckets=list(range(NUM_BUCKETS)),
                         sort_by=["lang"])
        report["recompact_sorted_s"] = round(time.time() - t0, 2)
        hit_s, tot_s = _rg_hits("lang", "py", "py")
        n_sorted = eng.sink.scan(dense).count()
        assert n_sorted == n_dense, (n_sorted, n_dense)
        report["rowgroups_matching_default"] = [hit_d, tot_d]
        report["rowgroups_matching_lang_sorted"] = [hit_s, tot_s]
        report["rowgroup_skip_ratio_sorted_over_default"] = round(
            (hit_d / tot_d) / max(hit_s / tot_s, 1e-9), 1)

        report["steal_s"] = round(_steal_s() - s0, 1)
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps(report))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
