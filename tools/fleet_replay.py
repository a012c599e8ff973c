"""Multi-process 'executor fleet' replay — the sandbox stand-in for an
N-executor Spark cluster.

The reference fans a generation's Vnode tasks out to concurrent workers
(scylla-cdc-lib worker/Worker.java:135-139); our Engine accepts the same
assignment as ``stream_groups``. Because a partition key maps to exactly
one stream per generation (stream affinity, generator.py), disjoint
group subsets shard the key space: E independent Engine processes with
separate SparkSessions, heaps and targets replay the same log with no
cross-process traffic — process = executor. This measures cluster-style
scaling without single-JVM artifacts (shared GC, scheduler and allocator
contention), which on this VM inflate CPU ~1.3-3x beyond 8 threads.

Protocol (fair, steal-aware):
- each executor does one warm-up replay (JIT + page cache), signals
  READY, then blocks on a GO file;
- the parent releases GO only when every executor is ready, so the
  timed runs start simultaneously;
- fleet throughput = total events / max(per-executor timed wall).

Child usage (spawned by run_fleet):
    python tools/fleet_replay.py child <log_dir> <gens> <workdir>
        <exec_idx> <n_execs> <cores> <ready_file> <go_file> <out_file>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _child(argv: list[str]) -> None:
    (log_dir, gens, workdir, exec_idx, n_execs, cores,
     ready_file, go_file, out_file) = argv
    exec_idx, n_execs, cores = int(exec_idx), int(n_execs), int(cores)
    sys.path.insert(0, REPO)
    from scylla_cdc_java_spark import Engine, EngineConfig
    from scylla_cdc_java_spark.session import get_spark

    spark = get_spark(
        app=f"fleet-e{exec_idx}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra={
            # size JVM-internal pools (GC, JIT, common FJ pool) to the
            # executor's core share — otherwise every executor JVM sees
            # all 32 host CPUs and spawns ~23 GC threads, and a 16-exec
            # fleet runs ~370 GC threads that trample each other
            "spark.driver.extraJavaOptions":
                f"-XX:ActiveProcessorCount={cores}",
        },
    )
    groups: list[int] = []
    group_salt: dict[int, tuple[int, int]] = {}
    for tok in os.environ["FLEET_GROUPS"].split(","):
        if "/" in tok:
            g, k, i = (int(x) for x in tok.split("/"))
            group_salt[g] = (k, i)
        else:
            groups.append(int(tok))

    def one_replay(tag: str, shared_target: str | None = None
                   ) -> tuple[float, int]:
        # FLEET_SHARED_TARGET: every executor consumes into ONE table
        # (multi-writer mode — serializable commits via the sink's
        # cross-process lock, per-shard checkpoints). Default: separate
        # targets, union at read time (the round-3 deployment shape).
        target = shared_target or os.path.join(
            workdir, f"target_e{exec_idx}_{tag}")
        # multi-writer mode disables writer-piggybacked compaction:
        # with N shards appending to the same buckets the threshold
        # fires N^2/threshold faster and whichever consumer trips it
        # pays for the WHOLE fleet's segments (measured: one 4x1c shard
        # at 332s vs its siblings' 97s). Compaction belongs to the
        # external maintenance process (tools/compactor.py) there.
        eng = Engine(
            spark, log_dir, gens, target,
            cfg=EngineConfig(
                # overridable for out-sized worlds (10^9-event campaign
                # bounds per-window shuffle footprint via a smaller cap)
                window_length_limit_ms=int(
                    os.environ.get("FLEET_WINDOW_MS", "600000")),
                num_buckets=int(os.environ.get("FLEET_NUM_BUCKETS", "32")),
                compact_threshold=10**6 if shared_target else 8,
            ),
            stream_groups=groups,
            group_salt=group_salt,
            shard_id=f"e{exec_idx}" if shared_target else None,
        )
        t0 = time.time()
        stats = eng.replay()
        return time.time() - t0, stats.rows

    if not os.environ.get("FLEET_SKIP_WARM"):
        one_replay("warm")  # warm-up: JIT, codegen, page cache (private)

    # count the shard's events exactly once fleet-wide BEFORE the timed
    # barrier (a count running after an early-finishing executor would
    # contaminate its siblings' timed walls): write ops by the salt
    # predicate; replicated tombstone ops (4-8) only in residue 0
    from pyspark.sql import functions as F

    log = spark.read.parquet(log_dir)
    pred = F.col("stream_group").isin(groups) if groups else F.lit(False)
    for g, (k, i) in group_salt.items():
        writes = (~F.col("cdc$operation").between(4, 8)) & (
            F.pmod(F.xxhash64(F.col("path")), F.lit(k)) == F.lit(i)
        )
        tombs_once = F.col("cdc$operation").between(4, 8) & F.lit(i == 0)
        pred = pred | (
            (F.col("stream_group") == g) & (writes | tombs_once)
        )
    n_events = log.where(pred).count()

    with open(ready_file, "w") as f:
        f.write("ready")
    while not os.path.exists(go_file):
        time.sleep(0.05)
    wall, _rows = one_replay(
        "timed", os.environ.get("FLEET_SHARED_TARGET") or None)
    with open(out_file, "w") as f:
        json.dump({"exec": exec_idx, "wall_s": wall, "events": n_events,
                   "groups": len(groups) + len(group_salt)}, f)
    spark.stop()


# Per-file fixed-cost weight for the LPT cost model, in byte-equivalents.
# Measured on the 64.9M world: shards with equal bytes but more
# (generation, group, time_bucket) partition files run up to ~10% slower
# per event at 1 core (more scan tasks, more scheduler/commit overhead),
# so balancing on bytes alone leaves a wall gap the byte spread doesn't
# predict. One file ~ this many bytes of extra work.
FILE_COST_BYTES = int(os.environ.get("FLEET_FILE_COST_BYTES", "4000000"))

# Per-GROUP fixed cost, in byte-equivalents — the FALLBACK when the
# per-group key/event statistics below are unavailable. Originally
# fitted on the round-5 64.9M-event scaling campaign (two executors
# with byte+file loads identical within 3.5% but 6 vs 8 owned groups
# walled ~16.5 s apart ⇒ ~8.2 s/group at 1 core). A byte-matched
# few-hot-groups vs many-tail-groups A/B plus a whole-vs-salt-shard
# decomposition then identified the MECHANISM: the cost is per
# DISTINCT KEY, not per group — wall ≈ 14.3 s/GB scanned
# + 2.0 s/M-events + 18.1 s/M-distinct-keys at 1 core (the key term is
# the fold's output rows: shuffle + state-row parquet encode). It
# masquerades as a flat per-group constant because index-stable
# grouping spreads repos ~uniformly over groups (~222 k keys/group on
# the bench worlds) while zipf skews EVENTS per group — so at fixed
# bytes, more groups = proportionally more keys. The flat constant
# stays as the statless fallback; the primary model below measures
# keys directly and generalizes to key-clustered logs.
GROUP_COST_BYTES = int(os.environ.get("FLEET_GROUP_COST_BYTES", str(3 * 10**8)))

# Primary cost-model weights, in byte-equivalents (relative costs are
# all LPT needs; normalized to scan-bytes = 1). From the fit above:
# one event ≈ 2.0/14.3 s per M/GB ≈ 140 B-eq; one distinct key ≈
# 18.1/14.3 ≈ 1265 B-eq.
EVENT_COST_BYTES = float(os.environ.get("FLEET_EVENT_COST_BYTES", "140"))
KEY_COST_BYTES = float(os.environ.get("FLEET_KEY_COST_BYTES", "1265"))


def _group_sizes(log_dir: str) -> dict[int, tuple[int, int]]:
    """(bytes, n_files) per stream_group across generations — pure
    filesystem walk, the load statistics for task assignment."""
    sizes: dict[int, tuple[int, int]] = {}
    for gdir in os.listdir(log_dir):
        if not gdir.startswith("generation="):
            continue
        for sgdir in os.listdir(os.path.join(log_dir, gdir)):
            if not sgdir.startswith("stream_group="):
                continue
            g = int(sgdir.rsplit("=", 1)[1])
            total = nf = 0
            base = os.path.join(log_dir, gdir, sgdir)
            for root, _d, files in os.walk(base):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
                    nf += 1
            b, c = sizes.get(g, (0, 0))
            sizes[g] = (b + total, c + nf)
    return sizes


def _group_stats(log_dir: str) -> dict[int, tuple[int, int]] | None:
    """(events, distinct keys) per stream_group, one vectorized DuckDB
    scan over the log (projection-pruned to the partition column + the
    two key columns). ~2 s on an 8 GB log; runs once per campaign in
    the parent, never in the timed path. None when DuckDB is absent or
    the log lacks the expected columns (fallback: flat GROUP_COST)."""
    try:
        import duckdb
        rows = duckdb.connect().execute(
            "SELECT stream_group, count(*), "
            "       count(DISTINCT repo || '/' || path) "
            "FROM parquet_scan(?, hive_partitioning=1) GROUP BY 1",
            [os.path.join(log_dir, "*", "*", "*", "*.parquet")],
        ).fetchall()
        return {int(g): (int(ev), int(k)) for g, ev, k in rows}
    except Exception:
        return None


def assign_groups(log_dir: str, n_execs: int) -> list[list[str]]:
    """LPT (longest-processing-time) bin packing of stream groups onto
    executors by a measured cost model — balances zipf-skewed shards
    far better than the modulo split (the reference's token-ring split
    is ring-balanced, not load-balanced; we can do better because the
    log already exists).

    Cost model (fitted, see GROUP_COST_BYTES comment): scan bytes
    + per-file overhead + per-event processing + per-distinct-key
    output cost. The key term matters because the fold's output —
    shuffle rows, state-table writes — scales with keys, and zipf-tail
    groups carry ~4x the keys per byte of zipf-head groups.

    A group larger than the per-executor fair share (a hot partition
    key: with zipf 1.3 the hottest repo alone is ~25% of the log) is
    SPLIT into k clustering-key salt shards ``"g/k/i"`` — the Engine's
    group_salt mechanism keeps the shards key-disjoint. Tokens: ``"g"``
    whole group, ``"g/k/i"`` salt residue i of k. A salt shard scans
    the WHOLE group's bytes/files (the hash filter can't prune parquet)
    but processes only its 1/k share of events and keys — measured
    directly: whole hot group 37.5 s vs quarter-shard 21.3 s, i.e.
    scan ≈ 42% of a hot group's cost is replicated per shard.

    The greedy LPT seed is then improved by a pairwise swap/move
    refinement on the modeled max load: plain LPT reliably lands ~8%
    off the balance lower bound on the 32-group worlds (it front-loads
    big groups, then strands the last small groups on whichever bin is
    lightest regardless of its accumulated fixed costs)."""
    sizes = _group_sizes(log_dir)
    stats = _group_stats(log_dir)
    scan = {g: b + c * FILE_COST_BYTES for g, (b, c) in sizes.items()}
    if stats is not None and set(stats) >= set(scan):
        proc = {g: stats[g][0] * EVENT_COST_BYTES
                + stats[g][1] * KEY_COST_BYTES for g in scan}
    else:
        proc = {g: GROUP_COST_BYTES for g in scan}
    total = sum(scan.values()) + sum(proc.values())
    fair = total / n_execs
    items: list[tuple[str, float]] = []
    for g in scan:
        sz = scan[g] + proc[g]
        if sz > 1.05 * fair and n_execs > 1:
            # each salt shard re-scans the whole group (the residue
            # filter evaluates post-read) but processes 1/k of it
            k = min(n_execs, max(2, round(sz / (0.5 * fair))))
            items += [
                (f"{g}/{k}/{i}", scan[g] + proc[g] / k)
                for i in range(k)
            ]
        else:
            items.append((str(g), sz))

    # LPT seed
    loads = [0.0] * n_execs
    out: list[list[str]] = [[] for _ in range(n_execs)]
    for tok, sz in sorted(items, key=lambda kv: -kv[1]):
        e = loads.index(min(loads))
        out[e].append(tok)
        loads[e] += sz
    szof = dict(items)

    # swap/move refinement: greedily shrink the max load until no
    # single move or swap improves it (deterministic, O(moves * n^2),
    # n = 32-ish groups — microseconds against multi-minute replays)
    def _load(e: int) -> float:
        return sum(szof[t] for t in out[e])

    improved = True
    while improved:
        improved = False
        loads = [_load(e) for e in range(n_execs)]
        hi = loads.index(max(loads))
        best: tuple | None = None  # (new_max_contrib, kind, ...)
        cur_max = loads[hi]
        for lo in range(n_execs):
            if lo == hi:
                continue
            for ti in out[hi]:
                # move ti -> lo
                new_pair_max = max(loads[hi] - szof[ti],
                                   loads[lo] + szof[ti])
                if new_pair_max < cur_max - 1e-9 and (
                        best is None or new_pair_max < best[0]):
                    best = (new_pair_max, "move", lo, ti, None)
                for tj in out[lo]:
                    # swap ti <-> tj
                    d = szof[ti] - szof[tj]
                    new_pair_max = max(loads[hi] - d, loads[lo] + d)
                    if new_pair_max < cur_max - 1e-9 and (
                            best is None or new_pair_max < best[0]):
                        best = (new_pair_max, "swap", lo, ti, tj)
        if best is not None:
            _, kind, lo, ti, tj = best
            out[hi].remove(ti)
            out[lo].append(ti)
            if kind == "swap":
                out[lo].remove(tj)
                out[hi].append(tj)
            improved = True
    return out


def run_fleet(log_dir: str, gens: str, n_execs: int, cores_per_exec: int,
              heap: str = "12g", shared_target: bool = False,
              workdir: str | None = None, keep: bool = False) -> dict:
    """Spawn the fleet, barrier-start the timed runs, aggregate.
    ``shared_target=True``: all executors consume into ONE table
    (multi-writer commits through the cross-process lock).
    ``workdir``/``keep``: pin the working dir / keep it after the run
    (the bigworld campaign reads the shared table back for its oracle
    check and runs an external compactor against it)."""
    workdir = workdir or tempfile.mkdtemp(
        prefix=f"fleet_{n_execs}x{cores_per_exec}_")
    os.makedirs(workdir, exist_ok=True)
    go_file = os.path.join(workdir, "GO")
    shared = os.path.join(workdir, "shared_table") if shared_target else None
    procs, ready, outs = [], [], []
    assignment = assign_groups(log_dir, n_execs)
    for e in range(n_execs):
        rf = os.path.join(workdir, f"ready_{e}")
        of = os.path.join(workdir, f"out_{e}.json")
        ready.append(rf)
        outs.append(of)
        env = dict(
            os.environ,
            SPARK_DRIVER_MEM=heap,
            FLEET_GROUPS=",".join(str(g) for g in assignment[e]),
        )
        if shared:
            env["FLEET_SHARED_TARGET"] = shared
        procs.append(
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "child",
                 log_dir, gens, workdir, str(e), str(n_execs),
                 str(cores_per_exec), rf, go_file, of],
                env=env,
                stdout=subprocess.DEVNULL,
                stderr=open(os.path.join(workdir, f"stderr_{e}.log"), "w"),
            )
        )
    t_wait = time.time()
    while not all(os.path.exists(r) for r in ready):
        dead = [
            e for e, (p, rf) in enumerate(zip(procs, ready))
            if p.poll() is not None and not os.path.exists(rf)
        ]
        if dead or time.time() - t_wait > 3600:
            tails = {
                e: open(os.path.join(workdir, f"stderr_{e}.log")).read()[-800:]
                for e in (dead or range(n_execs))
                if os.path.exists(os.path.join(workdir, f"stderr_{e}.log"))
            }
            raise RuntimeError(
                f"fleet executor(s) {dead or 'timeout'} died/stalled during "
                f"warm-up; stderr tails: {tails}"
            )
        time.sleep(0.2)
    s0 = _steal_s()
    with open(go_file, "w") as f:
        f.write("go")
    for p in procs:
        p.wait()
    steal = _steal_s() - s0
    results = [json.load(open(o)) for o in outs]
    wall = max(r["wall_s"] for r in results)
    events = sum(r["events"] for r in results)
    if not keep:
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
    return {
        "n_execs": n_execs,
        "cores_per_exec": cores_per_exec,
        "shared_target": bool(shared),
        "shared_table": shared if keep else None,
        "events": events,
        "wall_s": round(wall, 2),
        "events_per_sec": round(events / wall, 1),
        "steal_s": round(steal, 1),
        "per_exec_wall_s": sorted(round(r["wall_s"], 2) for r in results),
        # per-executor detail: events/s of each executor under the
        # fleet's (equal) host load — the per-executor rate a same-spec
        # single-executor host would sustain; max-wall vs these rates
        # isolates shard-imbalance loss from resource loss
        "per_exec": sorted(
            (
                {
                    "events": r["events"],
                    "wall_s": round(r["wall_s"], 2),
                    "events_per_sec": round(r["events"] / r["wall_s"], 1),
                }
                for r in results
            ),
            key=lambda d: d["wall_s"],
        ),
    }


if __name__ == "__main__":
    if sys.argv[1] == "child":
        _child(sys.argv[2:])
    else:
        log_dir, gens, n_execs, cores = sys.argv[1:5]
        shared = "--shared" in sys.argv[5:]
        print(json.dumps(run_fleet(log_dir, gens, int(n_execs), int(cores),
                                   shared_target=shared)))
