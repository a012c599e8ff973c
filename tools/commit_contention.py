"""Commit-path contention probe: how does the sink's serializable
commit behave at 4/8/16 concurrent writers and at >=16k buckets?

The multi-writer design serializes every commit on one mutex
(``CommitBackend``) and rewrites the O(num_buckets) root manifest per
commit (sinks/parquet_merge.py:_commit_under_lock/_commit). Round 4
measured a 3% fleet penalty at 4 writers; this probe measures the axis
directly, at writer counts and bucket counts a local Spark fleet can't
reach: W real OS processes committing window metadata into ONE table as
fast as they can for a fixed duration — no Spark jobs, because the
object under test is the commit critical section itself (the real
fleet's commits are seconds apart; here they are back-to-back, so the
probe is a WORST-CASE upper bound on contention, not a simulation).

Each worker iteration reproduces what ``merge()`` does around the
lock: stage nothing (data files are outside the lock by design), then
under the lock rebase — read CURRENT root, append one synthetic segment
to ``touched`` buckets via ``_next_entry`` (the sink's per-bucket
rebase), merge this shard's checkpoint — and swap. Time
is split into lock WAIT (acquire) and CRITICAL SECTION (load root →
build → commit → release), the two quantities that bound fleet-wide
commit throughput: ``aggregate commits/s <= 1 / cs_s``.

Interpretation for the 100 TB deployment: a fleet writer commits once
per protocol window (seconds to minutes apart). The table-wide commit
budget is ``1/cs_mean`` commits/s; the probe reports that capacity and
the measured aggregate under max pressure. If capacity comfortably
exceeds ``writers / window_interval``, the single-root design holds at
that scale; the bucket-count sweep shows where it stops holding
(cs grows linearly with num_buckets -> root sharding territory).

Usage: python tools/commit_contention.py [out.json]
       (env: CC_DURATION_S, CC_WRITERS="1,4,8,16", CC_BUCKETS="1024,16384")
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TOUCHED = 64  # buckets touched per window commit (typical skewed window)


def _worker(argv: list[str]) -> None:
    (path, shard, duration_s, touched, ready_file, go_file, out_file) = argv
    duration_s, touched = float(duration_s), int(touched)
    sys.path.insert(0, REPO)
    from scylla_cdc_java_spark.sinks.parquet_merge import ParquetMergeSink
    from scylla_cdc_java_spark.sinks.bucket_index import copy_index

    sink = ParquetMergeSink(None, path, compact_threshold=10**9)
    # adopt the table's bucket count (created by the parent)
    sink.num_buckets = sink._load_root().get("num_buckets", sink.num_buckets)
    rng = int(shard[1:])  # deterministic per-shard bucket rotation

    def commit_once(i: int) -> tuple[float, float]:
        """One window commit; returns (wait_s, critical_section_s)."""
        t0 = time.time()
        token = sink.commit_backend.acquire()
        t1 = time.time()
        try:
            cur = sink._load_root()
            v = cur["version"] + 1
            new_index = copy_index(cur["bucket_index"])
            for j in range(touched):
                b = str((rng * 7919 + i * 17 + j * 13) % sink.num_buckets)
                new_index[b] = sink._next_entry(
                    b, new_index.get(b), v, seg=f"data/v{v}/rows/__bucket={b}")
            root = dict(cur)
            root["version"] = v
            root["bucket_index"] = new_index
            root["checkpoint"] = sink._merge_shard_checkpoint(
                cur, {"window": i, "done": False}, shard)
            sink._commit(root)
        finally:
            sink.commit_backend.release(token)
        t2 = time.time()
        return t1 - t0, t2 - t1

    commit_once(0)  # warm caches / JIT-free but page-cache warm
    with open(ready_file, "w") as f:
        f.write("ready")
    while not os.path.exists(go_file):
        time.sleep(0.01)
    waits, css = [], []
    t_end = time.time() + duration_s
    i = 1
    while time.time() < t_end:
        w, c = commit_once(i)
        waits.append(w)
        css.append(c)
        i += 1
    with open(out_file, "w") as f:
        json.dump({"shard": shard, "commits": len(css),
                   "wait_s": waits, "cs_s": css}, f)


def _pct(vals: list[float], p: float) -> float:
    s = sorted(vals)
    return s[min(len(s) - 1, int(p * len(s)))]


def run_level(num_buckets: int, writers: int, duration_s: float,
              snapshot_retention: int = 1) -> dict:
    sys.path.insert(0, REPO)
    from scylla_cdc_java_spark.sinks.parquet_merge import ParquetMergeSink

    path = tempfile.mkdtemp(prefix=f"cc_{num_buckets}b_{writers}w_")
    try:
        sink = ParquetMergeSink(None, path, num_buckets=num_buckets,
                                compact_threshold=10**9,
                                snapshot_retention=snapshot_retention)
        # seed: every bucket has history (root at full size from commit 1),
        # and the checkpoint is already sharded
        root = sink._load_root()
        idx = {}
        for b in range(num_buckets):
            idx[str(b)] = sink._next_entry(
                str(b), None, 1, seg=f"data/v1/rows/__bucket={b}")
        root.update(version=1, bucket_index=idx, num_buckets=num_buckets,
                    checkpoint={"shards": {}, "done": False})
        sink._commit(root)

        workdir = tempfile.mkdtemp(prefix="cc_ctl_")
        go = os.path.join(workdir, "GO")
        ready, outs, procs = [], [], []
        for w in range(writers):
            rf = os.path.join(workdir, f"r{w}")
            of = os.path.join(workdir, f"o{w}.json")
            ready.append(rf)
            outs.append(of)
            procs.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "worker",
                 path, f"w{w}", str(duration_s), str(TOUCHED), rf, go, of],
                stdout=subprocess.DEVNULL, stderr=subprocess.PIPE))
        while not all(os.path.exists(r) for r in ready):
            for p in procs:
                if p.poll() not in (None, 0):
                    raise RuntimeError(p.stderr.read().decode()[-2000:])
            time.sleep(0.02)
        with open(go, "w") as f:
            f.write("go")
        t0 = time.time()
        for p in procs:
            p.wait()
        wall = time.time() - t0
        res = [json.load(open(o)) for o in outs]
        waits = [v for r in res for v in r["wait_s"]]
        css = [v for r in res for v in r["cs_s"]]
        n = sum(r["commits"] for r in res)
        root_bytes = os.path.getsize(os.path.join(path, "MANIFEST.json"))
        return {
            "num_buckets": num_buckets,
            "writers": writers,
            "duration_s": duration_s,
            "commits_total": n,
            "commits_per_sec_aggregate": round(n / wall, 1),
            "root_manifest_bytes": root_bytes,
            "cs_ms": {  # critical section: the serialization quantum
                "mean": round(statistics.mean(css) * 1000, 2),
                "p50": round(_pct(css, 0.50) * 1000, 2),
                "p99": round(_pct(css, 0.99) * 1000, 2),
            },
            "wait_ms": {  # lock wait: what contention costs a writer
                "mean": round(statistics.mean(waits) * 1000, 2),
                "p50": round(_pct(waits, 0.50) * 1000, 2),
                "p99": round(_pct(waits, 0.99) * 1000, 2),
            },
            "capacity_commits_per_sec": round(
                1.0 / statistics.mean(css), 1),
            "per_writer_commits": sorted(r["commits"] for r in res),
        }
    finally:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def main() -> dict:
    duration = float(os.environ.get("CC_DURATION_S", "20"))
    writer_levels = [int(x) for x in
                     os.environ.get("CC_WRITERS", "1,4,8,16").split(",")]
    bucket_levels = [int(x) for x in
                     os.environ.get("CC_BUCKETS", "1024,16384").split(",")]
    out = {"touched_per_commit": TOUCHED, "levels": []}
    for nb in bucket_levels:
        for w in writer_levels:
            lvl = run_level(nb, w, duration)
            print(json.dumps(lvl), file=sys.stderr)
            out["levels"].append(lvl)
    return out


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        _worker(sys.argv[2:])
    else:
        res = main()
        print(json.dumps(res, indent=2))
        if len(sys.argv) > 1:
            with open(sys.argv[1], "w") as f:
                json.dump(res, f, indent=2)
