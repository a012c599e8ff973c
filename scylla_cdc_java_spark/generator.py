"""Deterministic synthetic CDC world (M0 of SURVEY.md section 7).

Generates, from a seed, the inputs the engine consumes:

- a *generations* metadata table ``(time, streams)`` — mirror of
  ``system_distributed.cdc_streams_descriptions`` (reference:
  scylla-cdc-lib driver/Reader.java:94-103),
- a *cdc_log* parquet dataset partitioned by
  ``(generation, stream_group, time_bucket)`` whose rows follow the
  reference log shape (Reader.java:105-111, Change.java:11-43) over the
  BASELINE ``repo_content(repo, path, commit, lang, content)`` table.

Everything is numpy-vectorized so the same code scales from 1e3 (pytest)
to 1e8 (bench) events; content strings are drawn from a seeded token pool.

Key faithful behaviors:
- stream affinity: a partition key (``repo``) maps to one stream id per
  generation (Scylla routes a partition's changes to the vnode-affine
  stream; order per key holds only within a stream),
- ``cdc$time`` is tie-free: ``(ms, seq)`` with a globally increasing seq,
- op mix includes partial updates (random subset of columns), explicit
  NULL writes (``cdc$deleted_<col>`` markers), row/partition deletes and
  well-formed range-delete pairs (start op then end op, same stream,
  adjacent times — reference pairs them per stream via
  RangeTombstoneState, replicator Main.java:491-531),
- duplicate deliveries: a configurable fraction of events appears twice
  (at-least-once redelivery; reference warns about it, Worker.java:108-113).
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .model import (
    OP_PARTITION_DELETE,
    OP_RANGE_DELETE_END_EXCLUSIVE,
    OP_RANGE_DELETE_END_INCLUSIVE,
    OP_RANGE_DELETE_START_EXCLUSIVE,
    OP_RANGE_DELETE_START_INCLUSIVE,
    OP_ROW_DELETE,
    OP_ROW_INSERT,
    OP_ROW_UPDATE,
    SEQ_MOD,
)

LANGS = ["py", "java", "c", "cpp", "go", "rs", "js", "ts", "rb", "scala", "kt", "sh"]
EXT_BY_LANG = {l: l for l in LANGS}


@dataclass(frozen=True)
class GenSpec:
    """Parameters of one synthetic world. Hash of this spec keys the cache."""

    seed: int = 42
    n_events: int = 10_000
    n_repos: int = 200
    n_orgs: int = 20
    paths_per_repo: int = 50
    n_generations: int = 2
    streams_per_generation: int = 16
    gen0_start_ms: int = 1_700_000_000_000
    gen_span_ms: int = 3_600_000  # one hour per generation
    zipf_a: float = 1.3  # skew of repo popularity (hot keys)
    p_update: float = 0.70
    p_insert: float = 0.15
    p_row_delete: float = 0.08
    p_partition_delete: float = 0.02
    p_range_delete: float = 0.02  # probability an event slot becomes a 5/7 pair
    dup_fraction: float = 0.03  # redelivered events
    content_min: int = 64
    content_max: int = 512
    time_bucket_ms: int = 600_000  # 10-minute physical partitions
    # ---- fields added after /v2; default values leave cache keys (and
    # the generated world) bit-identical to /v2 ----
    ttl_fraction: float = 0.05  # fraction of writes carrying a cdc$ttl
    # non-frozen collection column `tags` map<string,string> with
    # element adds/removals and whole-map overwrites (reference:
    # UnpreparedUpdateOp, replicator Main.java:203-276); off by default
    # so /v2 worlds stay bit-identical
    with_collections: bool = False

    def cache_key(self) -> str:
        # /v2: index-stable stream grouping changed the physical layout.
        # The key is built from the ORIGINAL /v2 field list so worlds
        # cached before new spec fields existed stay valid; any
        # non-default new field extends the key.
        core = ", ".join(f"{f}={getattr(self, f)!r}" for f in _V2_FIELDS)
        s = f"GenSpec({core})/v2"
        extras = [
            (f, getattr(self, f))
            for f in type(self).__dataclass_fields__
            if f not in _V2_FIELDS
            and getattr(self, f) != type(self).__dataclass_fields__[f].default
        ]
        if extras:
            s += "/x" + repr(sorted(extras))
        return hashlib.sha256(s.encode()).hexdigest()[:16]


_V2_FIELDS = (
    "seed", "n_events", "n_repos", "n_orgs", "paths_per_repo",
    "n_generations", "streams_per_generation", "gen0_start_ms",
    "gen_span_ms", "zipf_a", "p_update", "p_insert", "p_row_delete",
    "p_partition_delete", "p_range_delete", "dup_fraction", "content_min",
    "content_max", "time_bucket_ms",
)


def _token_pool(rng: np.random.Generator, n: int = 4096, width: int = 8) -> np.ndarray:
    alpha = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz_0123456789 ", dtype="S1")
    idx = rng.integers(0, len(alpha), size=(n, width))
    return np.array([b"".join(alpha[r]).decode() for r in idx])


def _make_streams(rng: np.random.Generator, n: int) -> list[bytes]:
    """16-byte stream ids (reference assumes 16 bytes, StreamId.java:26-28)."""
    return [rng.bytes(16) for _ in range(n)]


def generate_world(spec: GenSpec) -> dict:
    """Pure in-memory generation. Returns dict with:
    ``generations``: list of (start_ms, [stream bytes]),
    ``events``: dict of numpy/object arrays (one entry per log column),
    sorted by (ms, seq).
    """
    rng = np.random.default_rng(spec.seed)
    tokens = _token_pool(rng)

    # --- key universe -----------------------------------------------------
    repo_ids = np.arange(spec.n_repos)
    repos = np.array(
        [f"org{int(i) % spec.n_orgs}/repo{int(i)}" for i in repo_ids], dtype=object
    )
    path_j = np.arange(spec.paths_per_repo)
    langs_by_path = np.array(
        [LANGS[int(j) % len(LANGS)] for j in path_j], dtype=object
    )
    paths = np.array(
        [
            f"src/dir{int(j) // 16}/file{int(j)}.{EXT_BY_LANG[langs_by_path[j]]}"
            for j in path_j
        ],
        dtype=object,
    )

    gens = [
        (
            spec.gen0_start_ms + g * spec.gen_span_ms,
            _make_streams(rng, spec.streams_per_generation),
        )
        for g in range(spec.n_generations)
    ]

    n = spec.n_events
    # --- event skeleton ---------------------------------------------------
    # zipf-weighted repo choice (hot keys) clipped to universe
    z = rng.zipf(spec.zipf_a, size=n)
    repo_idx = (z - 1) % spec.n_repos
    path_idx = rng.integers(0, spec.paths_per_repo, size=n)

    # op codes
    u = rng.random(n)
    ops = np.full(n, OP_ROW_UPDATE, dtype=np.int8)
    c = spec.p_update
    ops[u >= c] = OP_ROW_INSERT
    c += spec.p_insert
    ops[u >= c] = OP_ROW_DELETE
    c += spec.p_row_delete
    ops[u >= c] = OP_PARTITION_DELETE
    c += spec.p_partition_delete
    is_range = u >= c  # becomes a start/end pair (two rows)
    ops[is_range] = OP_RANGE_DELETE_START_INCLUSIVE

    # timestamps: sorted uniform over all generations' span
    total_span = spec.n_generations * spec.gen_span_ms
    offs = np.sort(rng.integers(0, total_span, size=n))
    ms = spec.gen0_start_ms + offs
    gen_idx = np.minimum(offs // spec.gen_span_ms, spec.n_generations - 1)

    # stream affinity: repo -> stream within its generation
    repo_hash = np.array(
        [
            int.from_bytes(hashlib.blake2b(r.encode(), digest_size=8).digest(), "big")
            for r in repos
        ],
        dtype=np.uint64,
    )
    stream_of_event = (repo_hash[repo_idx] % np.uint64(spec.streams_per_generation)).astype(
        np.int64
    )

    # --- column payloads --------------------------------------------------
    commit_pool = np.array(
        [
            hashlib.sha1(f"{spec.seed}:{i}".encode()).hexdigest()
            for i in range(4096)
        ],
        dtype=object,
    )
    commits = commit_pool[rng.integers(0, len(commit_pool), size=n)]
    lengths = rng.integers(spec.content_min, spec.content_max + 1, size=n)
    tok_idx = rng.integers(0, len(tokens), size=n)
    # content: deterministic pseudo-source = repeated token slice to length
    contents = np.empty(n, dtype=object)
    blob = " ".join(tokens.tolist())
    blob_len = len(blob)
    starts = rng.integers(0, blob_len - spec.content_max - 1, size=n)
    for i in range(n):
        contents[i] = blob[starts[i] : starts[i] + lengths[i]] + f"#{tok_idx[i]}"

    # which columns a partial update writes (update only)
    wr_commit = rng.random(n) < 0.8
    wr_lang = rng.random(n) < 0.5
    wr_content = rng.random(n) < 0.9
    # explicit NULL writes (deleted markers) on a small slice of updates
    del_commit = rng.random(n) < 0.02
    del_lang = rng.random(n) < 0.02
    del_content = rng.random(n) < 0.01
    # TTL on a fraction of writes (reference binds/unsets TTL per
    # statement, replicator Main.java:131-138)
    ttl = np.where(
        rng.random(n) < spec.ttl_fraction, rng.integers(60, 86_400, size=n), -1
    )

    # collection payload draws — gated so the /v2 RNG stream (and hence
    # every cached world) is untouched when collections are off
    if spec.with_collections:
        tag_mode = rng.random(n)
        tag_nkeys = rng.integers(1, 4, size=n)
        tag_keys = rng.integers(0, 8, size=(n, 3))
        tag_vals = rng.integers(0, len(tokens), size=(n, 3))
        rm_nkeys = rng.integers(1, 3, size=n)
        rm_keys = rng.integers(0, 8, size=(n, 2))

        def tags_of(i: int, op: int):
            """(tags dict|None, del_tags bool|None, del_elements|None).
            INSERTs bind the whole collection (CDC encodes that as an
            overwrite: deleted marker + elements); UPDATEs are mostly
            element adds, sometimes removals, sometimes overwrites."""
            m = tag_mode[i]
            if m < 0.30 or op == OP_ROW_INSERT:
                ent = {
                    f"k{int(tag_keys[i, j])}": str(tokens[int(tag_vals[i, j])])
                    for j in range(int(tag_nkeys[i]))
                }
                if op == OP_ROW_INSERT:
                    return ent, True, None
                return ent, None, None
            if m < 0.38:
                return None, None, sorted(
                    {f"k{int(rm_keys[i, j])}" for j in range(int(rm_nkeys[i]))}
                )
            if m < 0.41:
                ent = {
                    f"k{int(tag_keys[i, j])}": str(tokens[int(tag_vals[i, j])])
                    for j in range(max(1, int(tag_nkeys[i]) - 1))
                }
                return ent, True, None
            return None, None, None
    else:
        def tags_of(i: int, op: int):
            return None, None, None

    rows: dict[str, list] = {k: [] for k in (
        "stream_id", "ms", "seq", "op", "ttl", "batch_seq", "repo", "path",
        "commit", "lang", "content", "del_commit", "del_lang", "del_content",
        "tags", "del_tags", "del_elements_tags",
        "generation", "time_bucket",
    )}
    seq_counter = 0

    def emit(stream_id, ms_i, op, ttl_i, bseq, repo, path, commit, lang, content,
             dc, dl, dct, gstart, tags=None, del_tags=None, del_elements=None):
        nonlocal seq_counter
        rows["stream_id"].append(stream_id)
        rows["ms"].append(ms_i)
        rows["seq"].append(seq_counter % SEQ_MOD)
        seq_counter += 1
        rows["op"].append(op)
        rows["ttl"].append(ttl_i)
        rows["batch_seq"].append(bseq)
        rows["repo"].append(repo)
        rows["path"].append(path)
        rows["commit"].append(commit)
        rows["lang"].append(lang)
        rows["content"].append(content)
        rows["del_commit"].append(dc)
        rows["del_lang"].append(dl)
        rows["del_content"].append(dct)
        rows["tags"].append(tags)
        rows["del_tags"].append(del_tags)
        rows["del_elements_tags"].append(del_elements)
        rows["generation"].append(gstart)
        rows["time_bucket"].append(ms_i // spec.time_bucket_ms)

    range_excl = rng.random(n) < 0.5
    for i in range(n):
        g = int(gen_idx[i])
        gstart, streams = gens[g]
        sid = streams[int(stream_of_event[i])]
        repo = repos[repo_idx[i]]
        path = paths[path_idx[i]]
        lang = langs_by_path[path_idx[i]]
        op = int(ops[i])
        ttl_i = None if ttl[i] < 0 else int(ttl[i])
        if op == OP_ROW_UPDATE:
            tg, dtg, del_el = tags_of(i, op)
            emit(
                sid, int(ms[i]), op, ttl_i, 0, repo, path,
                None if del_commit[i] else (commits[i] if wr_commit[i] else None),
                None if del_lang[i] else (lang if wr_lang[i] else None),
                None if del_content[i] else (contents[i] if wr_content[i] else None),
                bool(del_commit[i]) or None, bool(del_lang[i]) or None,
                bool(del_content[i]) or None, gstart,
                tags=tg, del_tags=dtg, del_elements=del_el,
            )
        elif op == OP_ROW_INSERT:
            tg, dtg, del_el = tags_of(i, op)
            emit(sid, int(ms[i]), op, ttl_i, 0, repo, path,
                 commits[i], lang, contents[i], None, None, None, gstart,
                 tags=tg, del_tags=dtg, del_elements=del_el)
        elif op == OP_ROW_DELETE:
            emit(sid, int(ms[i]), op, None, 0, repo, path,
                 None, None, None, None, None, None, gstart)
        elif op == OP_PARTITION_DELETE:
            emit(sid, int(ms[i]), op, None, 0, repo, None,
                 None, None, None, None, None, None, gstart)
        else:  # range-delete pair: start row then end row, same stream
            lo_j = int(path_idx[i])
            hi_j = min(lo_j + int(rng.integers(1, 8)), spec.paths_per_repo - 1)
            lo, hi = sorted([str(paths[lo_j]), str(paths[hi_j])])
            if range_excl[i]:
                op_s, op_e = (
                    OP_RANGE_DELETE_START_EXCLUSIVE,
                    OP_RANGE_DELETE_END_EXCLUSIVE,
                )
            else:
                op_s, op_e = (
                    OP_RANGE_DELETE_START_INCLUSIVE,
                    OP_RANGE_DELETE_END_INCLUSIVE,
                )
            emit(sid, int(ms[i]), op_s, None, 0, repo, lo,
                 None, None, None, None, None, None, gstart)
            emit(sid, int(ms[i]), op_e, None, 1, repo, hi,
                 None, None, None, None, None, None, gstart)

    # --- duplicate deliveries (redelivery of an already-emitted row) ------
    n_rows = len(rows["ms"])
    n_dup = int(n_rows * spec.dup_fraction)
    if n_dup:
        # never duplicate a bare range start/end alone: duplicate pairs
        # together to keep per-stream alternation well-formed.
        ops_arr = np.array(rows["op"])
        safe = np.flatnonzero(
            (ops_arr != OP_RANGE_DELETE_START_INCLUSIVE)
            & (ops_arr != OP_RANGE_DELETE_START_EXCLUSIVE)
            & (ops_arr != OP_RANGE_DELETE_END_INCLUSIVE)
            & (ops_arr != OP_RANGE_DELETE_END_EXCLUSIVE)
        )
        dup_idx = rng.choice(safe, size=min(n_dup, len(safe)), replace=False)
        for i in dup_idx:
            for k in rows:
                rows[k].append(rows[k][i])

    # sort all rows by (ms, seq) — global replay order
    order = np.lexsort((np.array(rows["seq"]), np.array(rows["ms"])))
    events = {k: [v[i] for i in order] for k, v in rows.items()}
    return {"generations": gens, "events": events, "spec": spec}


# --------------------------------------------------------------------------
# Parquet writers
# --------------------------------------------------------------------------

def write_world(world: dict, out_dir: str, stream_group_of=None) -> dict:
    """Write generations + cdc_log parquet. ``stream_group_of`` maps
    (generation_start_ms, stream_id_bytes) -> int group; defaults to
    hash-mod grouping (plans.grouping supplies the faithful vnode split).

    Log layout: ``{out}/cdc_log/generation=<ms>/stream_group=<g>/
    time_bucket=<b>/part.parquet`` — hive partitioning so Spark prunes
    windowed scans (SURVEY.md O1).

    Files are stamped with modification times in (generation,
    time_bucket, stream_group) order, one millisecond apart: the arrival
    order of a producer that closes time buckets chronologically. The
    parallel dataset writer alone finishes files in arbitrary order
    (often within one millisecond), and the Structured Streaming file
    source delivers files by modification time.
    """
    os.makedirs(out_dir, exist_ok=True)
    gens = world["generations"]
    ev = world["events"]
    spec: GenSpec = world["spec"]

    if stream_group_of is None:
        # Group by the stream's INDEX within its generation, not by a
        # hash of the (per-generation) stream id. In the real system a
        # partition key's token is fixed, so the stream covering it sits
        # at the same ring position in every generation — index-stable
        # grouping reproduces that, which makes a key's stream group
        # stable across generation switchover. That stability is what
        # lets disjoint group subsets act as executor shards (see
        # Engine.stream_groups): a key's writes and deletes always land
        # on the same shard.
        sid_index = {(g[0], s): i for g in gens for i, s in enumerate(g[1])}

        def stream_group_of(gstart: int, sid: bytes) -> int:
            return sid_index[(gstart, sid)] % max(
                1, spec.streams_per_generation // 2
            )

    # generations table
    gen_tbl = pa.table(
        {
            "time": pa.array([g[0] for g in gens], pa.int64()),
            "streams": pa.array([[s for s in g[1]] for g in gens],
                                pa.list_(pa.binary())),
        }
    )
    pq.write_table(gen_tbl, os.path.join(out_dir, "generations.parquet"))

    n = len(ev["ms"])
    groups = np.array(
        [stream_group_of(ev["generation"][i], ev["stream_id"][i]) for i in range(n)],
        dtype=np.int32,
    )
    cols = {
        "cdc$stream_id": pa.array(ev["stream_id"], pa.binary()),
        "cdc$time": pa.StructArray.from_arrays(
            [pa.array(ev["ms"], pa.int64()), pa.array(ev["seq"], pa.int64())],
            names=["ms", "seq"],
        ),
        "cdc$operation": pa.array(ev["op"], pa.int8()),
        "cdc$ttl": pa.array(ev["ttl"], pa.int64()),
        "cdc$batch_seq_no": pa.array(ev["batch_seq"], pa.int32()),
        "repo": pa.array(ev["repo"], pa.string()),
        "path": pa.array(ev["path"], pa.string()),
        "commit": pa.array(ev["commit"], pa.string()),
        "lang": pa.array(ev["lang"], pa.string()),
        "content": pa.array(ev["content"], pa.string()),
        "cdc$deleted_commit": pa.array(ev["del_commit"], pa.bool_()),
        "cdc$deleted_lang": pa.array(ev["del_lang"], pa.bool_()),
        "cdc$deleted_content": pa.array(ev["del_content"], pa.bool_()),
        "generation": pa.array(ev["generation"], pa.int64()),
        "stream_group": pa.array(groups, pa.int32()),
        "time_bucket": pa.array(ev["time_bucket"], pa.int64()),
    }
    if spec.with_collections:
        cols["tags"] = pa.array(
            [None if t is None else list(t.items()) for t in ev["tags"]],
            pa.map_(pa.string(), pa.string()),
        )
        cols["cdc$deleted_tags"] = pa.array(ev["del_tags"], pa.bool_())
        cols["cdc$deleted_elements_tags"] = pa.array(
            ev["del_elements_tags"], pa.list_(pa.string())
        )
    tbl = pa.table(cols)
    log_dir = os.path.join(out_dir, "cdc_log")
    import pyarrow.dataset as pads

    written = []
    pads.write_dataset(
        tbl,
        log_dir,
        file_visitor=lambda f: written.append(f.path),
        format="parquet",
        partitioning=pads.partitioning(
            pa.schema(
                [
                    ("generation", pa.int64()),
                    ("stream_group", pa.int32()),
                    ("time_bucket", pa.int64()),
                ]
            ),
            flavor="hive",
        ),
        existing_data_behavior="delete_matching",
        max_rows_per_file=1 << 22,
        min_rows_per_group=1 << 16,
        max_rows_per_group=1 << 20,
    )
    _stamp_arrival_order(written)
    return {"log_dir": log_dir, "generations_path": os.path.join(out_dir, "generations.parquet"), "n_rows": n}


def _stamp_arrival_order(paths: list[str]) -> None:
    """Set the log files' mtimes in time-bucket order, 1 ms apart and
    ending at the current millisecond."""

    def key(path):
        parts = dict(seg.split("=", 1) for seg in path.split(os.sep)[-4:-1])
        return tuple(int(parts[c]) for c in
                     ("generation", "time_bucket", "stream_group"))

    end_ns = time.time_ns() // 1_000_000 * 1_000_000
    ordered = sorted(paths, key=key)
    for i, path in enumerate(ordered):
        t = end_ns - (len(ordered) - 1 - i) * 1_000_000
        os.utime(path, ns=(t, t))


def generate_to_dir(spec: GenSpec, base_dir: str, stream_group_of=None, force: bool = False) -> dict:
    """Cached generate+write keyed by the spec hash."""
    out_dir = os.path.join(base_dir, f"cdcworld_{spec.cache_key()}")
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker) and not force:
        import json

        with open(marker) as f:
            return json.load(f)
    world = generate_world(spec)
    info = write_world(world, out_dir, stream_group_of)
    info["out_dir"] = out_dir
    import json

    with open(marker, "w") as f:
        json.dump(info, f)
    return info


def small_spec(n_events: int = 3000, seed: int = 42, **kw) -> GenSpec:
    return replace(GenSpec(seed=seed, n_events=n_events), **kw)
