"""Bucket-entry invariants across every commit kind.

Every data commit builds its per-bucket manifest entries through one
rebase (``ParquetMergeSink._next_entry``): a merge appends, a compaction
replaces its read set, a rebucket starts each new bucket from nothing.
This drives one table through each kind in turn — merge with
tombstones, merge, minor compaction, a major compaction with a merge
landing between its read and its commit, rebucket, rollback — and after
every commit checks that

- each root entry's counts match its bucket manifest and the sidecar
  footers;
- segment stats cover exactly the live segments;
- ``read()`` equals the row-at-a-time oracle.
"""

import os

from scylla_cdc_java_spark.model import (
    OP_PARTITION_DELETE,
    OP_ROW_INSERT,
    TableConfig,
)
from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log
from scylla_cdc_java_spark.oracle import OracleState, apply_event, final_state
from scylla_cdc_java_spark.sinks.parquet_merge import (
    ParquetMergeSink,
    _parquet_rows,
    _seg_is_base,
)

SID = b"\x0c" * 16
COLS = ("repo", "path", "commit", "lang", "content")


def _batch(spark, rows):
    data = [
        (SID, {"ms": r["ms"], "seq": r["seq"]}, r["op"],
         *[r.get(c) for c in COLS])
        for r in rows
    ]
    ddl = (
        "`cdc$stream_id` binary, `cdc$time` struct<ms:long,seq:long>, "
        "`cdc$operation` tinyint, "
        + ", ".join(f"`{c}` string" for c in COLS)
    )
    return normalize_log(spark.createDataFrame(data, schema=ddl))


def _ins(ms, seq, repo, path):
    return {"op": OP_ROW_INSERT, "ms": ms, "seq": seq, "repo": repo,
            "path": path, "commit": f"c{ms}", "lang": "py",
            "content": f"{repo}/{path}@{ms}"}


def _pdel(ms, seq, repo):
    return {"op": OP_PARTITION_DELETE, "ms": ms, "seq": seq, "repo": repo}


def _state(rows):
    return sorted(tuple(r[c] for c in COLS) for r in rows)


def _segs(sink) -> dict[str, dict]:
    root = sink._load_root()
    return {b: sink._bucket_state(e)
            for b, e in root["bucket_index"].items()}


def _check(sink, want):
    root = sink._load_root()
    assert root["bucket_index"], "table has no buckets"
    for b, e in root["bucket_index"].items():
        st = sink._bucket_state(e)
        n_segs, n_tomb_segs, tomb_rows = sink._entry_counts(e)
        assert n_segs == len(st["segs"]), b
        assert n_tomb_segs == len(st["tomb_segs"]), b
        footer_rows = sum(_parquet_rows(os.path.join(sink.path, t))
                          for t in st["tomb_segs"])
        assert tomb_rows == st["tomb_rows"] == footer_rows, b
        assert st["segs"] or st["tomb_segs"], b
        # zone maps are captured for every staged segment, and kept
        # for live segments only
        assert set(st["stats"]) == set(st["segs"]), b
    assert _state(sink.read().collect()) == want


def test_entry_invariants_across_every_commit_kind(spark, tmp_root):
    table = TableConfig()
    path = f"{tmp_root}/ce_table"
    writer = ParquetMergeSink(spark, path, table, num_buckets=4,
                              compact_threshold=1000)
    oracle = OracleState(table=table)
    repos = [f"o/r{i}" for i in range(8)]

    def merge(rows, step):
        out = writer.merge(fold_batch(_batch(spark, rows), table),
                           {"step": step})
        for r in rows:
            apply_event(oracle, r)
        return out

    def check():
        _check(writer, _state(final_state(oracle)))

    # 1. merge with tombstones: the two deleted partitions' own earlier
    # inserts are shadowed, and each sidecar counts its footer rows
    first = [_ins(10, i, r, p) for i, r in enumerate(repos)
             for p in ("a.py", "b.py")]
    first += [_pdel(11, 0, repos[0]), _pdel(11, 1, repos[5])]
    out = merge(first, 1)
    assert out["tomb_rows"] == 2
    check()

    # 2. plain merge: overwrites and new keys append a second delta
    out = merge([_ins(20, i, r, "a.py") for i, r in enumerate(repos)]
                + [_ins(20, 100 + i, r, "c.py")
                   for i, r in enumerate(repos[:4])], 2)
    check()
    v_pre, want_pre = out["version"], _state(final_state(oracle))

    # 3. minor compaction folds the two deltas; sidecars stay verbatim
    before = _segs(writer)
    minor = writer.compact(buckets=list(range(4)), minor=True)
    assert minor["compacted"]
    after = _segs(writer)
    for b in minor["compacted"]:
        assert after[b]["tomb_segs"] == before[b]["tomb_segs"]
        assert after[b]["tomb_rows"] == before[b]["tomb_rows"]
        assert len(after[b]["segs"]) == 1
    check()

    # 4. major compaction with a merge (new delta + new sidecar)
    # landing between its read and its commit
    compactor = ParquetMergeSink.for_existing(spark, path)
    landed: dict[str, dict] = {}
    landed_tombs: dict[str, str] = {}

    def concurrent_merge():
        seen = {s for st in _segs(writer).values()
                for s in st["segs"] + st["tomb_segs"]}
        merge([_ins(30, 0, repos[1], "a.py"), _ins(30, 1, repos[1], "d.py"),
               _pdel(31, 0, repos[2])], 4)
        for b, st in _segs(writer).items():
            for s in st["segs"]:
                if s not in seen:
                    landed[b] = {"seg": s, "stats": st["stats"][s]}
            for t in st["tomb_segs"]:
                if t not in seen:
                    landed_tombs[b] = t

    orig = compactor._commit_under_lock

    def hooked(build, snapshot=True, **kw):
        compactor._commit_under_lock = orig
        concurrent_merge()
        return orig(build, snapshot=snapshot, **kw)

    compactor._commit_under_lock = hooked
    major = compactor.compact(buckets=list(range(4)))
    assert landed and landed_tombs, "the concurrent merge staged nothing"
    assert set(landed) | set(landed_tombs) <= set(major["compacted"])
    st = _segs(writer)
    for b, d in landed.items():
        # the post-read delta survives over the new base, last, with
        # the stats it was committed with
        assert len(st[b]["segs"]) == 2, st[b]["segs"]
        assert _seg_is_base(st[b]["segs"][0])
        assert st[b]["segs"][1] == d["seg"]
        assert st[b]["stats"][d["seg"]] == d["stats"]
    for b, t in landed_tombs.items():
        # the read set's sidecars fold away; the post-read one survives
        assert st[b]["tomb_segs"] == [t]
    check()

    # 5. rebucket rebuilds every entry from nothing: one base each
    writer.rebucket(3)
    st = _segs(writer)
    assert len(st) <= 3
    for b, s in st.items():
        assert len(s["segs"]) == 1 and _seg_is_base(s["segs"][0]), b
        assert s["tomb_segs"] == [] and s["tomb_rows"] == 0, b
    check()

    # 6. rollback to before any compaction restores those entries
    writer.rollback(v_pre)
    assert writer.num_buckets == 4
    _check(writer, want_pre)
