"""TTL re-apply semantics (reference: replicator Main.java:131-138 binds
the logged ``cdc$ttl`` on every statement; Scylla expires the cell at
write-time + TTL). The engine carries the winning write's TTL per cell
(and per INSERT row marker) into the sink and applies expiry at READ
time via ``sink.read(as_of_ms=...)`` — the lake-storage equivalent of
Scylla's compaction/read-path expiry."""

import hashlib

from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
from scylla_cdc_java_spark.model import SEQ_MOD, EngineConfig
from scylla_cdc_java_spark.oracle import OracleState, apply_event, final_state, replay


def _rows(df_rows):
    out = []
    for r in sorted(df_rows, key=lambda r: (r["repo"], r["path"])):
        d = {c: r[c] for c in ("repo", "path", "commit", "lang", "content")}
        d["content_sha256"] = (
            hashlib.sha256(d["content"].encode()).hexdigest()
            if d["content"] is not None
            else None
        )
        out.append(d)
    return out


def test_replay_with_ttl_matches_oracle_at_read_time(spark, tmp_root):
    spec = GenSpec(seed=21, n_events=2000, n_repos=30, paths_per_repo=8,
                   n_generations=1, streams_per_generation=4,
                   ttl_fraction=0.5)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_ttl")
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/target_ttl", cfg=EngineConfig())
    eng.replay()
    st = replay(world["events"])

    # no observation instant -> TTLs ignored, plain final-state parity
    assert _rows(eng.sink.read().collect()) == final_state(st)

    # observe after ~30000s: TTLs in [60, 30000) s have expired
    max_ms = max(world["events"]["ms"])
    as_of = max_ms + 30_000_000
    got = _rows(eng.sink.read(as_of_ms=as_of).collect())
    want = final_state(st, as_of_ms=as_of)
    assert got == want
    # the check must have teeth: expiry actually removed/nulled something
    assert got != _rows(eng.sink.read().collect())

    # far future: every TTL'd cell is gone
    far = max_ms + 100_000_000
    assert _rows(eng.sink.read(as_of_ms=far).collect()) == final_state(
        st, as_of_ms=far
    )


def test_compaction_time_ttl_purge_shrinks_and_stays_exact(spark, tmp_root):
    """``compact(expire_before_ms=E)`` physically drops TTL-expired
    cells, dead remnants, and below-watermark tombstones (Scylla's
    compaction-time expiry + tombstone GC). The compacted table must
    shrink on disk, and every read at or after E must still match the
    oracle exactly (reads below E are undefined post-purge — that
    history is gone, as with Scylla after gc_grace)."""
    import os

    spec = GenSpec(seed=23, n_events=2000, n_repos=30, paths_per_repo=8,
                   n_generations=1, streams_per_generation=4,
                   ttl_fraction=0.5)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_ttl3")
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/target_ttl3", cfg=EngineConfig())
    eng.replay()
    st = replay(world["events"])

    def base_bytes(sink):
        total = 0
        for b, segs in sink.manifest()["buckets"].items():
            for p in segs:
                d = os.path.join(sink.path, p)
                total += sum(
                    os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d) if f.endswith(".parquet")
                )
        return total

    # compact ALL buckets once WITHOUT purge to get a fair size
    # baseline (identical file layout on both sides of the compare)
    all_buckets = list(range(eng.sink.num_buckets))
    eng.sink.compact(all_buckets)
    size_before = base_bytes(eng.sink)

    # purge point: past every event and past the 60..30000 s TTL band's
    # lower half -> a meaningful set of cells is expired at E
    max_ms = max(world["events"]["ms"])
    E = max_ms + 30_000_000
    eng.sink.compact(all_buckets, expire_before_ms=E)
    eng.sink.reader_lease_s = 0
    eng.sink.vacuum()
    size_after = base_bytes(eng.sink)
    assert size_after < size_before  # expiry physically reclaimed bytes

    # reads at/after the purge bound still match the oracle exactly
    assert _rows(eng.sink.read(as_of_ms=E).collect()) == final_state(
        st, as_of_ms=E
    )
    far = max_ms + 100_000_000
    assert _rows(eng.sink.read(as_of_ms=far).collect()) == final_state(
        st, as_of_ms=far
    )

    # idempotent: purging again at the same bound changes nothing
    n1 = eng.sink.read(as_of_ms=E).count()
    eng.sink.compact(all_buckets, expire_before_ms=E)
    assert eng.sink.read(as_of_ms=E).count() == n1


def test_ttl_insert_marker_expiry_unit():
    """A row created only by a TTL'd INSERT disappears once the marker
    and its cells expire; an unttl'd later UPDATE cell keeps it alive."""
    st = OracleState()
    ms0 = 1_700_000_000_000

    def ev(op, seq, **kw):
        return {"op": op, "ms": ms0, "seq": seq, "stream_id": b"s",
                "repo": "r/a", "path": kw.pop("path", "p"), **kw}

    apply_event(st, ev(2, 1, commit="c", lang="py", content="x", ttl=60))
    as_of_alive = ms0 + 59_000
    as_of_dead = ms0 + 61_000
    assert st.visible_row("r/a", "p", as_of_ms=as_of_alive) is not None
    assert st.visible_row("r/a", "p", as_of_ms=as_of_dead) is None

    # a later un-TTL'd update to one column resurrects visibility of
    # that column only
    apply_event(st, ev(1, 2, commit="c2"))
    row = st.visible_row("r/a", "p", as_of_ms=as_of_dead)
    assert row is not None and row["commit"] == "c2"
    assert row["content"] is None  # expired with the insert's TTL


def test_fold_cell_ttls_match_oracle(spark, tmp_root):
    """The fold carries each cell's winning write TTL (and the INSERT
    marker's) exactly as the row-at-a-time oracle does: every folded
    (value, ts, ttl) triple equals the oracle's, so expiry agrees at
    every read instant — including one that expires only some cells."""
    from scylla_cdc_java_spark.model import (
        COL_MARKER_TS, COL_MARKER_TTL, DEFAULT_TABLE,
    )
    from scylla_cdc_java_spark.operators.fold import fold_batch, normalize_log

    spec = GenSpec(seed=22, n_events=800, n_repos=10, paths_per_repo=6,
                   n_generations=1, streams_per_generation=4,
                   ttl_fraction=0.6)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/world_ttl2")
    log = normalize_log(spark.read.parquet(info["log_dir"]))
    cells, markers = {}, {}
    for r in fold_batch(log, DEFAULT_TABLE).key_state.collect():
        key = (r["repo"], (r["path"],))
        for c in DEFAULT_TABLE.value_columns:
            if r[f"_ts_{c}"] is not None:
                cells.setdefault(key, {})[c] = (
                    r[c], r[f"_ts_{c}"], r[f"_ttl_{c}"])
        if r[COL_MARKER_TS] is not None:
            markers[key] = (r[COL_MARKER_TS], r[COL_MARKER_TTL])
    st = replay(world["events"])
    assert cells == {k: v for k, v in st.cells.items() if v}
    assert markers == st.markers

    # the check has teeth: at this instant some winning cells have
    # expired and some have not
    as_of = max(world["events"]["ms"]) + 30_000_000
    alive = [ttl is None or ts // SEQ_MOD + ttl * 1000 > as_of
             for row in cells.values() for _v, ts, ttl in row.values()]
    assert any(alive) and not all(alive)
