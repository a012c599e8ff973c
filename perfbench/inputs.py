"""Seeded benchmark inputs, generated once per spec and cached.

Everything the program under test receives is made here from the run's
seed: the CDC worlds (log + generations table), the datapipe corpus,
and the lookup keys. The pure-Python oracles' answers are computed
with the inputs and cached beside them, so a cached seed costs neither
generation nor oracle time. Caches live under ``.bench_cache/`` at the
checkout root.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")

# The backfill world: two generations, replayed as the epoch-0 window
# plus one generation-wide window.
BACKFILL_WORLD = dict(
    n_events=200_000, n_repos=600, n_orgs=50, paths_per_repo=64,
    n_generations=2, streams_per_generation=64, gen_span_ms=600_000,
    content_min=64, content_max=256,
)
# The tail world: generation 0 is the initial load; generation 1 spans
# TAIL_WINDOWS reference-length (30 s) windows, so one pass over it is
# TAIL_WINDOWS tail() calls.
TAIL_WINDOWS = 2
TAIL_WORLD = dict(
    n_events=24_000, n_repos=300, n_orgs=30, paths_per_repo=64,
    n_generations=2, streams_per_generation=32,
    gen_span_ms=TAIL_WINDOWS * 30_000, content_min=64, content_max=256,
)
# The datapipe corpus, sized like the sf0.1 documents/embeddings tables;
# the correctness check runs the same functions on the small corpus,
# where the pure-Python and DuckDB oracles are cheap.
CORPUS_DOCS, CORPUS_VECS = 5_000, 2_000
CHECK_DOCS, CHECK_VECS = 400, 300


def _atomic_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def world(kind: str, seed: int) -> dict:
    """Cached world ``kind`` ("backfill" or "tail") for ``seed``: the
    engine inputs (``log_dir``, ``generations_path``, ``n_rows``), the
    spec, the oracle's final-state digest and per-repo state lines, and
    ``ts`` — the packed ``cdc$ts`` of every log row, sorted — from which
    the traced run counts log rows per window."""
    from scylla_cdc_java_spark import GenSpec
    from scylla_cdc_java_spark.datapipe.golden import digest_lines, state_lines
    from scylla_cdc_java_spark.generator import generate_world, write_world
    from scylla_cdc_java_spark.model import SEQ_MOD
    from scylla_cdc_java_spark.oracle import final_state, replay

    shape = BACKFILL_WORLD if kind == "backfill" else TAIL_WORLD
    spec = GenSpec(seed=seed, **shape)
    out = os.path.join(CACHE, f"world_{spec.cache_key()}")
    marker = os.path.join(out, "world.json")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        w = generate_world(spec)
        info = write_world(w, out)
        ev = w["events"]
        ts = np.asarray(ev["ms"], dtype=np.int64) * SEQ_MOD + np.asarray(
            ev["seq"], dtype=np.int64)
        np.save(os.path.join(out, "ts.npy"), ts)
        rows = final_state(replay(ev))
        by_repo: dict[str, list[str]] = {}
        for r in rows:
            by_repo.setdefault(r["repo"], []).append(r)
        info["oracle"] = {
            "digest": [len(rows), *digest_lines(state_lines(rows))],
            "lines_by_repo": {k: state_lines(v) for k, v in by_repo.items()},
        }
        _atomic_json(marker, info)
    with open(marker) as f:
        info = json.load(f)
    info["ts"] = np.load(os.path.join(out, "ts.npy"))
    info["spec_obj"] = spec
    return info


def lookup_keys(seed: int, spec, n: int) -> list[str]:
    """``n`` partition keys for point reads: half from the Zipf head
    (the generator's hottest repos are the lowest ids), half uniform
    over 1.25x the key universe, so about a fifth of those were never
    written."""
    rng = random.Random(seed * 7919 + 17)
    keys = []
    for i in range(n):
        if i % 2 == 0:
            r = rng.randrange(0, 8)
        else:
            r = rng.randrange(0, spec.n_repos * 5 // 4)
        keys.append(f"org{r % spec.n_orgs}/repo{r}")
    return keys


# ---------------------------------------------------------------------------
# datapipe corpus
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row key "
    "query agg scan batch a the and of der und die le et la"
).split()


def _write_corpus(out: str, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng(seed)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if texts and u < 0.02:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and u < 0.06:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 12)):
                words[int(j)] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(12, 100))
            texts.append(" ".join(
                _VOCAB[int(k)] for k in rng.integers(0, len(_VOCAB), n_words)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    dim, n_labels = 64, 10
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


def corpus(seed: int, check: bool = False) -> str:
    """Cached datapipe corpus directory for ``seed``: ``documents`` and
    ``embeddings`` parquet tables in the sf-dir layout the
    ``__spark_entry__`` queries read."""
    n_docs, n_vecs = (CHECK_DOCS, CHECK_VECS) if check else (
        CORPUS_DOCS, CORPUS_VECS)
    out = os.path.join(CACHE, f"corpus_s{seed}_{n_docs}_{n_vecs}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        # the check corpus is a different draw, so it is not a prefix
        # of the timed one
        _write_corpus(out, seed * 2 + int(check), n_docs, n_vecs)
        open(marker, "w").close()
    return out
