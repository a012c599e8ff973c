"""10^8-event replay: throughput + correctness, one order of magnitude
above the bench world.

Correctness at this scale uses PARTITION-KEY INDEPENDENCE: repos never
interact (every operator — cell LWW, partition/range tombstones,
markers — is scoped to one partition key), so the final state
restricted to any repo subset equals the oracle replay of that subset's
events alone. We pick ~2% of repos by crc32, replay ONLY their events
through the row-at-a-time Python oracle, and compare against the
engine's final table restricted to the same repos. Range-delete
pairing survives the filter because start/end pairs share their repo
and remain adjacent per stream.

The subset extraction runs in Spark (distributed scan + filter on the
100M-event log); only the ~2M filtered events come to the driver for
the sequential oracle.

Usage: python tools/bigworld_check.py [out.json]
Env: BIGWORLD_EVENTS (default 100_000_000).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

CACHE = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/spark_graft_bench")
EVENTS = int(os.environ.get("BIGWORLD_EVENTS", "100000000"))
SUBSET_MOD = 50  # ~2% of repos


def main() -> None:
    from bench import _session, _spec, _steal_s
    from scylla_cdc_java_spark import Engine, generate_to_dir
    from scylla_cdc_java_spark.model import EngineConfig
    from scylla_cdc_java_spark.oracle import final_state, replay

    info = generate_to_dir(_spec(EVENTS, 1.1), CACHE)
    spark = _session(16)
    target = tempfile.mkdtemp(prefix="bigworld_")
    out: dict = {"events": info["n_rows"]}
    try:
        eng = Engine(
            spark, info["log_dir"], info["generations_path"], target,
            cfg=EngineConfig(window_length_limit_ms=600_000, num_buckets=32),
        )
        s0, t0 = _steal_s(), time.time()
        stats = eng.replay()
        wall = time.time() - t0
        out["replay"] = {
            "wall_s": round(wall, 2),
            "events_per_sec": round(info["n_rows"] / wall, 1),
            "windows": stats.windows,
            "steal_s": round(_steal_s() - s0, 1),
        }

        # ---- subset oracle -------------------------------------------
        pred = F.pmod(F.crc32(F.encode(F.col("repo"), "UTF-8")),
                      F.lit(SUBSET_MOD)) == 0
        log = spark.read.parquet(info["log_dir"]).where(pred)
        cols = {
            "op": F.col("cdc$operation"), "ms": F.col("cdc$time.ms"),
            "seq": F.col("cdc$time.seq"), "ttl": F.col("cdc$ttl"),
            "stream_id": F.col("cdc$stream_id"),
        }
        for c in ("repo", "path", "commit", "lang", "content"):
            cols[c] = F.col(c)
        for c in ("commit", "lang", "content"):
            cols["del_" + c] = F.col(f"cdc$deleted_{c}")
        pdf = (
            log.select([v.alias(k) for k, v in cols.items()])
            .toPandas()
            .sort_values(["ms", "seq"], kind="mergesort")
            .reset_index(drop=True)
        )
        out["subset_events"] = len(pdf)
        ev = {k: pdf[k].tolist() for k in pdf.columns}
        ev["stream_id"] = [bytes(s) for s in ev["stream_id"]]

        def _opt_int(v):
            try:
                return None if v is None or v != v else int(v)
            except TypeError:  # pd.NA
                return None

        def _opt_bool(v):
            try:
                return None if v is None or v != v else bool(v)
            except TypeError:  # pd.NA: truthiness raises — must be None
                return None

        ev["ttl"] = [_opt_int(v) for v in ev["ttl"]]
        for c in ("del_commit", "del_lang", "del_content"):
            ev[c] = [_opt_bool(v) for v in ev[c]]
        t1 = time.time()
        want = sorted(
            (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
            for r in final_state(replay(ev))
        )
        out["oracle_s"] = round(time.time() - t1, 1)

        got = sorted(
            (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
            for r in eng.sink.read().where(pred).collect()
        )
        out["subset_rows"] = len(got)
        out["state_match"] = bool(got == want)
        if not out["state_match"]:
            diff = set(got) ^ set(want)
            out["diff_sample"] = [list(x) for x in list(diff)[:5]]
    finally:
        shutil.rmtree(target, ignore_errors=True)
        spark.stop()
    print(json.dumps(out))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
