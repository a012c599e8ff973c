"""Minor (LSM L0-style) compaction: ``compact(minor=True)`` folds only
a bucket's DELTA segments into one merged delta, leaving the base
segment and the tombstone sidecars untouched.

Safety claim the suite pins: segment resolution is per-cell
max-timestamp LWW — associative and commutative (cdc$time unique per
cell) — so delta-subset folding followed by normal read resolution
equals resolving everything at once, with sidecar tombstones (which
minor never touches) applied identically either way. The piggyback
policy (``minor_compact_ratio``) picks minor vs major per bucket from
footer row counts: sidecar pressure or a missing base always majors.
"""

from pyspark.sql import functions as F

from scylla_cdc_java_spark.model import (
    OP_PARTITION_DELETE,
    OP_ROW_DELETE,
    OP_ROW_INSERT,
    OP_ROW_UPDATE,
    TableConfig,
)
from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log
from scylla_cdc_java_spark.sinks.parquet_merge import (
    ParquetMergeSink,
    _seg_is_base,
)

SID = b"\x0e" * 16
COLS = ["repo", "path", "commit", "lang", "content"]


def _batch(spark, rows, cols=None):
    cols = cols or COLS
    data = [
        (SID, {"ms": r["ms"], "seq": r["seq"]}, r["op"],
         *[r.get(c) for c in cols])
        for r in rows
    ]
    ddl = (
        "`cdc$stream_id` binary, `cdc$time` struct<ms:long,seq:long>, "
        "`cdc$operation` tinyint, "
        + ", ".join(f"`{c}` string" for c in cols)
    )
    return normalize_log(spark.createDataFrame(data, schema=ddl))


def _rows(df):
    return sorted(tuple(r[c] for c in df.columns) for r in df.collect())


def _seg_profile(sink):
    """{bucket: (n_base, n_delta, n_tomb)} from the live manifest."""
    root = sink._load_root()
    out = {}
    for b, e in root["bucket_index"].items():
        st = sink._bucket_state(e)
        segs = st.get("segs", [])
        nb = sum(1 for s in segs if _seg_is_base(s))
        out[b] = (nb, len(segs) - nb, len(st.get("tomb_segs", [])))
    return out


def _insert_world(spark, sink, n=40, start_ms=10):
    ins = [
        {"op": OP_ROW_INSERT, "ms": start_ms, "seq": i,
         "repo": f"org/r{i:03d}", "path": "main.x", "commit": f"c{i}",
         "lang": "py", "content": f"body-{i}"}
        for i in range(n)
    ]
    sink.merge(fold_batch(_batch(spark, ins), sink.table),
               {"step": start_ms})


def _world(spark, sink, n=60):
    """Three windows: inserts, then updates + a row delete, then more
    updates + a PARTITION delete (sidecar tombstone) — every segment
    kind a minor compaction must coexist with."""
    ins = [
        {"op": OP_ROW_INSERT, "ms": 10, "seq": i, "repo": f"org/r{i:03d}",
         "path": "main.x", "commit": f"c{i}", "lang": "py",
         "content": f"body-{i}"}
        for i in range(n)
    ]
    sink.merge(fold_batch(_batch(spark, ins), sink.table), {"step": 1})
    w2 = [
        {"op": OP_ROW_UPDATE, "ms": 20, "seq": i, "repo": f"org/r{i:03d}",
         "path": "main.x", "lang": "go"}
        for i in range(0, n, 7)
    ] + [{"op": OP_ROW_DELETE, "ms": 20, "seq": 900, "repo": "org/r001",
          "path": "main.x"}]
    sink.merge(fold_batch(_batch(spark, w2), sink.table), {"step": 2})
    w3 = [
        {"op": OP_ROW_UPDATE, "ms": 30, "seq": i, "repo": f"org/r{i:03d}",
         "path": "main.x", "commit": f"c{i}-v2"}
        for i in range(0, n, 5)
    ] + [{"op": OP_PARTITION_DELETE, "ms": 30, "seq": 901,
          "repo": "org/r002", "path": None}]
    sink.merge(fold_batch(_batch(spark, w3), sink.table), {"step": 3})


def test_minor_equals_unpacted_and_major(spark, tmp_root):
    sink = ParquetMergeSink(spark, f"{tmp_root}/mc_eq", TableConfig(),
                            num_buckets=8, compact_threshold=99)
    _world(spark, sink)
    before = _rows(sink.read())
    assert before  # sanity: live rows exist
    prof0 = _seg_profile(sink)
    assert any(nd >= 2 for _, nd, _ in prof0.values())

    st = sink.compact(minor=True)
    assert st["minor"] and st["compacted"]
    prof1 = _seg_profile(sink)
    # deltas folded to ONE per bucket; sidecars untouched; still no base
    for b, (nb, nd, nt) in prof1.items():
        assert nb == 0 and nd == 1
        assert nt == prof0[b][2]
    assert _rows(sink.read()) == before

    # minor on a minor-compacted table is a no-op (single delta)
    st2 = sink.compact(minor=True)
    assert st2["compacted"] == []

    # a major on top folds sidecars into bases; values still identical
    sink.compact(buckets=list(range(8)))
    prof2 = _seg_profile(sink)
    assert all(nb == 1 and nd == 0 and nt == 0
               for nb, nd, nt in prof2.values())
    assert _rows(sink.read()) == before

    # deltas over the base, then minor again: base survives, reads exact
    upd = [{"op": OP_ROW_UPDATE, "ms": 40, "seq": i,
            "repo": f"org/r{i:03d}", "path": "main.x", "lang": "rs"}
           for i in range(0, 60, 3)]
    sink.merge(fold_batch(_batch(spark, upd), sink.table), {"step": 4})
    upd2 = [{"op": OP_ROW_UPDATE, "ms": 50, "seq": i,
             "repo": f"org/r{i:03d}", "path": "main.x", "lang": "zig"}
            for i in range(0, 60, 6)]
    sink.merge(fold_batch(_batch(spark, upd2), sink.table), {"step": 5})
    want = _rows(sink.read())
    sink.compact(minor=True)
    prof3 = _seg_profile(sink)
    assert all(nb == 1 for nb, _, _ in prof3.values())  # bases untouched
    assert all(nd <= 1 for _, nd, _ in prof3.values())
    assert _rows(sink.read()) == want


def test_minor_validation(spark, tmp_root):
    sink = ParquetMergeSink(spark, f"{tmp_root}/mc_val", TableConfig(),
                            num_buckets=4, compact_threshold=99)
    for kwargs in ({"expire_before_ms": 10}, {"sort_by": ["lang"]}):
        try:
            sink.compact(minor=True, **kwargs)
            raise AssertionError(f"expected ValueError for {kwargs}")
        except ValueError:
            pass


def test_piggyback_policy_splits_minor_vs_major(spark, tmp_root):
    """compact_threshold=3: the FIRST threshold crossing majors (no
    base yet), later small-delta crossings minor once >=2 deltas
    accumulated, and a delete storm (sidecar pressure) majors again."""
    sink = ParquetMergeSink(spark, f"{tmp_root}/mc_pol", TableConfig(),
                            num_buckets=4, compact_threshold=3,
                            tomb_rows_compact_threshold=3,
                            minor_compact_ratio=0.5)
    ins = [
        {"op": OP_ROW_INSERT, "ms": 10, "seq": i, "repo": f"org/r{i:03d}",
         "path": "main.x", "commit": f"c{i}", "lang": "py",
         "content": f"body-{i}"}
        for i in range(80)
    ]
    sink.merge(fold_batch(_batch(spark, ins), sink.table), {"step": 1})

    def _upd_window(step, ms, lang, n=4):
        upd = [{"op": OP_ROW_UPDATE, "ms": ms, "seq": i,
                "repo": f"org/r{i:03d}", "path": "main.x", "lang": lang}
               for i in range(n)]
        return sink.merge(fold_batch(_batch(spark, upd), sink.table),
                          {"step": step})

    _upd_window(2, 20, "go")
    s3 = _upd_window(3, 30, "rs")
    # ns hit the threshold but no bucket has a base yet -> major
    assert s3.get("compacted_buckets") and not s3.get(
        "minor_compacted_buckets")

    _upd_window(4, 40, "ml")  # base + 1 delta: unfoldable, nothing planned
    s5 = _upd_window(5, 50, "hs")
    # base + 2 small deltas -> minor; base survives
    assert s5.get("minor_compacted_buckets")
    assert not s5.get("compacted_buckets")
    prof = _seg_profile(sink)
    assert all(prof[str(b)][0] == 1
               for b in s5["minor_compacted_buckets"])

    # delete storm: sidecar rows cross tomb_rows_compact_threshold ->
    # the policy must MAJOR those buckets (minor cannot fold sidecars)
    dels = [{"op": OP_PARTITION_DELETE, "ms": 60, "seq": i,
             "repo": f"org/r{i:03d}", "path": None}
            for i in range(12)]
    s6 = sink.merge(fold_batch(_batch(spark, dels), sink.table),
                    {"step": 6})
    # the storm's own window crosses the sidecar-row trigger and the
    # policy majors those buckets immediately (minor can't fold tombs)
    assert s6.get("compacted_buckets")
    assert not s6.get("minor_compacted_buckets")
    upd7 = [{"op": OP_ROW_UPDATE, "ms": 70, "seq": i,
             "repo": f"org/r{i:03d}", "path": "main.x", "lang": "ml"}
            for i in range(40, 44)]
    sink.merge(fold_batch(_batch(spark, upd7), sink.table), {"step": 7})
    # and the table still reads exactly: r000-r011 partitions deleted,
    # r040-r043 carry the new lang
    got = {r["repo"]: r["lang"] for r in sink.read().collect()}
    assert "org/r000" not in got and "org/r011" not in got
    assert got["org/r040"] == "ml" and got["org/r079"] == "py"

    # ratio 0 disables: the next crossing majors even with tiny deltas
    sink.minor_compact_ratio = 0.0
    majored = minored = False
    for step, ms in ((8, 80), (9, 90), (10, 100)):
        upd = [{"op": OP_ROW_UPDATE, "ms": ms, "seq": i,
                "repo": f"org/r{i:03d}", "path": "main.x", "lang": "hs"}
               for i in range(50, 54)]
        st = sink.merge(fold_batch(_batch(spark, upd), sink.table),
                        {"step": step})
        majored = majored or bool(st.get("compacted_buckets"))
        minored = minored or bool(st.get("minor_compacted_buckets"))
    assert majored and not minored


def test_minor_rebuilds_zone_and_bloom_stats(spark, tmp_root):
    """The merged delta carries fresh zone+bloom stats: a bloom scan
    still prunes and stays exact after minor compaction."""
    sink = ParquetMergeSink(spark, f"{tmp_root}/mc_bloom", TableConfig(),
                            num_buckets=8, compact_threshold=99,
                            bloom_columns=["commit"])
    _world(spark, sink)
    want = _rows(sink.scan([("commit", "=", "c7")], prune=False))
    sink.compact(minor=True)
    info = {}
    got = _rows(sink.scan([("commit", "=", "c7")], info=info))
    assert got == want and got
    assert info["kept_buckets"] < info["total_buckets"]


def test_minor_touches_only_folded_buckets_manifests(spark, tmp_root):
    """Review finding: compact(minor=True) must not rewrite the
    manifest entry (fingerprint) of a bucket it didn't fold — a
    phantom entry change makes every incremental consumer re-read the
    bucket for nothing."""
    sink = ParquetMergeSink(spark, f"{tmp_root}/mc_touch", TableConfig(),
                            num_buckets=8, compact_threshold=99)
    _insert_world(spark, sink, n=40, start_ms=10)
    # second window touching ONLY key r000's bucket
    upd = [{"op": OP_ROW_UPDATE, "ms": 20, "seq": 0, "repo": "org/r000",
            "path": "main.x", "lang": "go"}]
    sink.merge(fold_batch(_batch(spark, upd), sink.table), {"step": 2})

    def entry_paths():
        return {b: e.get("path")
                for b, e in sink._load_root()["bucket_index"].items()}

    before = entry_paths()
    st = sink.compact(minor=True)
    after = entry_paths()
    assert len(st["compacted"]) == 1  # only r000's bucket had 2 deltas
    folded = {str(b) for b in st["compacted"]}
    for b in before:
        if str(b) in folded:
            assert after[b] != before[b]
        else:
            assert after[b] == before[b], f"bucket {b} churned"


def test_policy_reports_actual_and_skips_unfoldable(spark, tmp_root):
    """Review finding: merge stats must report the buckets compaction
    actually COMMITTED, and a base+1-delta bucket at threshold 2 must
    not be re-planned into a no-op minor on every merge forever."""
    sink = ParquetMergeSink(spark, f"{tmp_root}/mc_noop", TableConfig(),
                            num_buckets=4, compact_threshold=2,
                            minor_compact_ratio=0.5)
    _insert_world(spark, sink, n=40, start_ms=10)
    upd = [{"op": OP_ROW_UPDATE, "ms": 20, "seq": i,
            "repo": f"org/r{i:03d}", "path": "main.x", "lang": "go"}
           for i in range(40)]
    s2 = sink.merge(fold_batch(_batch(spark, upd), sink.table),
                    {"step": 2})
    assert s2.get("compacted_buckets")  # first crossing majors

    upd3 = [{"op": OP_ROW_UPDATE, "ms": 30, "seq": i,
             "repo": f"org/r{i:03d}", "path": "main.x", "lang": "rs"}
            for i in range(2)]
    s3 = sink.merge(fold_batch(_batch(spark, upd3), sink.table),
                    {"step": 3})
    # ns=2 everywhere but base+1 delta is unfoldable: nothing planned,
    # nothing falsely reported
    assert not s3.get("minor_compacted_buckets")
    assert not s3.get("compacted_buckets")
    ops = [h["operation"] for h in sink.history()]
    assert ops.count("compact_minor") == 0


def test_maintain_external_lsm_round(spark, tmp_root):
    """sink.maintain() — the external daemon's LSM round — applies the
    same minor/major split as the piggyback: small deltas over a base
    fold minor, sidecar pressure majors, and a table in steady state
    (base + merged delta) is left alone instead of fully rewritten."""
    sink = ParquetMergeSink(spark, f"{tmp_root}/mc_maint", TableConfig(),
                            num_buckets=4, compact_threshold=10**6,
                            tomb_rows_compact_threshold=10**9,
                            minor_compact_ratio=0.5)
    _insert_world(spark, sink, n=60, start_ms=10)
    sink.compact(buckets=list(range(4)))  # establish bases
    for step, ms in ((2, 20), (3, 30)):
        upd = [{"op": OP_ROW_UPDATE, "ms": ms, "seq": i,
                "repo": f"org/r{i:03d}", "path": "main.x", "lang": "go"}
               for i in range(4)]
        sink.merge(fold_batch(_batch(spark, upd), sink.table),
                   {"step": step})
    want = _rows(sink.read())

    # maintenance thresholds are the MAINTAINER's, not the writer's
    m = ParquetMergeSink.for_existing(spark, f"{tmp_root}/mc_maint",
                                      compact_threshold=3,
                                      minor_compact_ratio=0.5)
    st = m.maintain()
    assert st["minor_compacted"] and not st["compacted"]
    assert _rows(m.read()) == want
    prof = _seg_profile(m)
    for b in st["minor_compacted"]:
        assert prof[str(b)] == (1, 1, 0)  # base survived, deltas folded

    # steady state: a second round finds nothing to do
    st2 = m.maintain()
    assert not st2["compacted"] and not st2["minor_compacted"]


def test_maintain_expiry_round_majors_everything(spark, tmp_root):
    """maintain(expire_before_ms=...) is a GC round: every planned
    bucket majors (routing only the size-ratio majors through the
    purge would starve TTL/tombstone GC forever on skewed tables)."""
    sink = ParquetMergeSink(spark, f"{tmp_root}/mc_gc", TableConfig(),
                            num_buckets=4, compact_threshold=10**6,
                            minor_compact_ratio=0.5)
    _insert_world(spark, sink, n=60, start_ms=10)
    sink.compact(buckets=list(range(4)))
    for step, ms in ((2, 20), (3, 30)):
        upd = [{"op": OP_ROW_UPDATE, "ms": ms, "seq": i,
                "repo": f"org/r{i:03d}", "path": "main.x", "lang": "go"}
               for i in range(4)]
        sink.merge(fold_batch(_batch(spark, upd), sink.table),
                   {"step": step})
    want = _rows(sink.read())
    m = ParquetMergeSink.for_existing(spark, f"{tmp_root}/mc_gc",
                                      compact_threshold=3,
                                      minor_compact_ratio=0.5)
    st = m.maintain(expire_before_ms=1)  # below every live ts: no purge
    assert st["compacted"] and not st["minor_compacted"]
    assert _rows(m.read()) == want


def test_bucket_without_base_plans_major(spark, tmp_root):
    """An over-threshold bucket whose segments are all deltas (never
    compacted) majors: a minor cannot establish its first base. Its
    deltas are as small as those that fold minor over a base in the
    same round, so only the missing base decides the plan."""
    path = f"{tmp_root}/mc_nobase"
    sink = ParquetMergeSink(spark, path, TableConfig(), num_buckets=4,
                            compact_threshold=10**6,
                            tomb_rows_compact_threshold=10**9)
    _insert_world(spark, sink, n=60, start_ms=10)
    sink.compact(buckets=[0, 1])  # bases for half the buckets only
    repo_of = {}
    for r in (spark.createDataFrame(
            [(f"org/r{i:03d}",) for i in range(60)], "repo string")
            .select("repo", sink._bucket_expr().alias("b")).collect()):
        repo_of.setdefault(r["b"], r["repo"])
    assert sorted(repo_of) == [0, 1, 2, 3]
    for step, ms in ((2, 20), (3, 30)):  # one updated row per bucket
        upd = [{"op": OP_ROW_UPDATE, "ms": ms, "seq": i, "repo": repo,
                "path": "main.x", "lang": "go"}
               for i, repo in enumerate(repo_of.values())]
        sink.merge(fold_batch(_batch(spark, upd), sink.table),
                   {"step": step})
    want = _rows(sink.read())

    m = ParquetMergeSink.for_existing(spark, path, compact_threshold=3,
                                      minor_compact_ratio=0.5)
    assert _seg_profile(m) == {"0": (1, 2, 0), "1": (1, 2, 0),
                               "2": (0, 3, 0), "3": (0, 3, 0)}
    index = m._load_root()["bucket_index"]
    over = m._over_threshold(index)
    assert over == [0, 1, 2, 3]
    assert m._plan_compactions(index, over) == ([0, 1], [2, 3])

    st = m.maintain()
    assert sorted(st["minor_compacted"]) == ["0", "1"]
    assert sorted(st["compacted"]) == ["2", "3"]
    assert _seg_profile(m) == {"0": (1, 1, 0), "1": (1, 1, 0),
                               "2": (1, 0, 0), "3": (1, 0, 0)}
    assert _rows(m.read()) == want
