"""Resource-normalized single-executor throughput ("ballast-N").

Why: on ONE shared box, the N=1 level of an N-vs-4N scaling pair gets
the whole chip's memory bandwidth, last-level cache and turbo headroom
to itself — resources a real 1-executor cluster host would NOT have
*relative to* the 4N hosts (every real host has the same spec). Raw
single-box pairs therefore UNDERSTATE true cluster scaling whenever the
chip boosts a lone busy core (measured here: a solo 1-core replay runs
up to ~30% faster than the same replay with three busy neighbors).

Protocol: split the log into the SAME 4 LPT shards the 4x1 fleet uses;
3 "ballast" executors replay their shards in a loop (never counted)
while the measured executor — after everyone warms up and a GO barrier —
replays its shard once, timed. Every executor of BOTH levels of the
pair now sees an identically-loaded host (4 busy cores), which is
exactly the "N and 4N executors of identical spec" the rule asks about.

    normalized efficiency = fleet_4x1_events_per_sec / (4 * R_ballast)

Usage: python tools/ballast_n.py <log_dir> <generations> [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _child(argv: list[str]) -> None:
    (role, log_dir, gens, workdir, idx, ready_file, go_file, stop_file,
     out_file) = argv
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from scylla_cdc_java_spark import Engine, EngineConfig
    from scylla_cdc_java_spark.session import get_spark

    spark = get_spark(
        app=f"ballast-{role}{idx}", master="local[1]", shuffle_partitions=1,
        extra={"spark.driver.extraJavaOptions": "-XX:ActiveProcessorCount=1"},
    )
    groups: list[int] = []
    group_salt: dict[int, tuple[int, int]] = {}
    for tok in os.environ["FLEET_GROUPS"].split(","):
        if "/" in tok:
            g, k, i = (int(x) for x in tok.split("/"))
            group_salt[g] = (k, i)
        else:
            groups.append(int(tok))

    def one_replay(tag: str) -> float:
        target = os.path.join(workdir, f"target_{role}{idx}_{tag}")
        eng = Engine(
            spark, log_dir, gens, target,
            cfg=EngineConfig(window_length_limit_ms=600_000, num_buckets=32),
            stream_groups=groups, group_salt=group_salt,
        )
        t0 = time.time()
        eng.replay()
        wall = time.time() - t0
        shutil.rmtree(target, ignore_errors=True)
        return wall

    one_replay("warm")
    if role == "ballast":
        with open(ready_file, "w") as f:
            f.write("ready")
        while not os.path.exists(go_file):
            time.sleep(0.05)
        i = 0
        while not os.path.exists(stop_file):
            one_replay(f"b{i}")
            i += 1
        spark.stop()
        return

    # measured: count the shard's events (same predicate as the fleet)
    log = spark.read.parquet(log_dir)
    pred = F.col("stream_group").isin(groups) if groups else F.lit(False)
    for g, (k, i) in group_salt.items():
        writes = (~F.col("cdc$operation").between(4, 8)) & (
            F.pmod(F.xxhash64(F.col("path")), F.lit(k)) == F.lit(i)
        )
        tombs_once = F.col("cdc$operation").between(4, 8) & F.lit(i == 0)
        pred = pred | ((F.col("stream_group") == g) & (writes | tombs_once))
    n_events = log.where(pred).count()

    with open(ready_file, "w") as f:
        f.write("ready")
    while not os.path.exists(go_file):
        time.sleep(0.05)
    wall = one_replay("timed")
    with open(out_file, "w") as f:
        json.dump({"events": n_events, "wall_s": round(wall, 2),
                   "events_per_sec": round(n_events / wall, 1)}, f)
    spark.stop()


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_ballast_n(log_dir: str, gens: str, heap: str = "12g") -> dict:
    from fleet_replay import assign_groups

    assignment = assign_groups(log_dir, 4)
    workdir = tempfile.mkdtemp(prefix="ballastN_")
    go = os.path.join(workdir, "GO")
    stop = os.path.join(workdir, "STOP")
    procs, ready = [], []
    out_file = os.path.join(workdir, "out_measured.json")
    roles = [("measured", assignment[0])] + [
        ("ballast", assignment[i]) for i in (1, 2, 3)
    ]
    for idx, (role, shard) in enumerate(roles):
        rf = os.path.join(workdir, f"ready_{idx}")
        ready.append(rf)
        env = dict(os.environ, SPARK_DRIVER_MEM=heap,
                   FLEET_GROUPS=",".join(str(g) for g in shard))
        procs.append(subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "child", role,
             log_dir, gens, workdir, str(idx), rf, go, stop, out_file],
            env=env, stdout=subprocess.DEVNULL,
            stderr=open(os.path.join(workdir, f"stderr_{idx}.log"), "w"),
        ))
    while not all(os.path.exists(r) for r in ready):
        dead = [
            i for i, (p, rf) in enumerate(zip(procs, ready))
            if p.poll() is not None and not os.path.exists(rf)
        ]
        if dead:
            tails = {
                i: open(os.path.join(workdir, f"stderr_{i}.log")).read()[-800:]
                for i in dead
            }
            raise RuntimeError(f"ballast executor(s) died: {tails}")
        time.sleep(0.2)
    s0 = _steal_s()
    with open(go, "w") as f:
        f.write("go")
    while not os.path.exists(out_file):
        if procs[0].poll() not in (None, 0):
            raise RuntimeError("measured executor died")
        time.sleep(0.2)
    steal = _steal_s() - s0
    with open(stop, "w") as f:
        f.write("stop")
    for p in procs:
        p.wait()
    result = json.load(open(out_file))
    result["steal_s"] = round(steal, 1)
    shutil.rmtree(workdir, ignore_errors=True)
    return result


if __name__ == "__main__":
    if sys.argv[1] == "child":
        _child(sys.argv[2:])
    else:
        log_dir, gens = sys.argv[1:3]
        out = run_ballast_n(log_dir, gens)
        print(json.dumps(out))
        if len(sys.argv) > 3:
            with open(sys.argv[3], "w") as f:
                json.dump(out, f, indent=1)
