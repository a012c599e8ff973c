"""Randomized/property tests (SURVEY.md section 5.3): seeded aggressive
op mixes, physical shuffling (order-insensitivity) and duplicated
deliveries — engine state must equal the oracle in every case."""

import numpy as np
import pytest

from scylla_cdc_java_spark import Engine, GenSpec, generate_world, write_world
from scylla_cdc_java_spark.oracle import final_state, replay


def _oracle(world):
    return [
        {k: r[k] for k in ("repo", "path", "commit", "lang", "content")}
        for r in final_state(replay(world["events"]))
    ]


def _engine(sink):
    rows = sink.read().collect()
    return [
        {"repo": r["repo"], "path": r["path"], "commit": r["commit"],
         "lang": r["lang"], "content": r["content"]}
        for r in sorted(rows, key=lambda r: (r["repo"], r["path"]))
    ]


AGGRESSIVE = dict(
    n_events=1200, n_repos=15, paths_per_repo=6, n_generations=1,
    streams_per_generation=4,
    p_update=0.40, p_insert=0.10, p_row_delete=0.25,
    p_partition_delete=0.10, p_range_delete=0.10, dup_fraction=0.10,
)


@pytest.mark.parametrize("seed", [101, 202, 303, 505])
def test_aggressive_delete_mix_matches_oracle(spark, tmp_root, seed):
    spec = GenSpec(seed=seed, **AGGRESSIVE)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/prop_{seed}")
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/prop_t_{seed}")
    eng.replay()
    assert _engine(eng.sink) == _oracle(world)


def test_physically_shuffled_log_same_result(spark, tmp_root):
    """The fold is timestamp-monotone: physical row order in the log
    must not matter (the reference likewise only relies on clustering
    order, not delivery order, via USING TIMESTAMP)."""
    spec = GenSpec(seed=404, **AGGRESSIVE)
    world = generate_world(spec)
    perm = np.random.default_rng(1).permutation(len(world["events"]["ms"]))
    shuffled = {
        "generations": world["generations"],
        "events": {k: [v[i] for i in perm] for k, v in world["events"].items()},
        "spec": world["spec"],
    }
    info = write_world(shuffled, f"{tmp_root}/shuf")
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/shuf_t")
    eng.replay()
    assert _engine(eng.sink) == _oracle(world)  # oracle on SORTED events


@pytest.mark.parametrize("seed", [707, 808])
def test_aggressive_mix_with_collections_and_ttl(spark, tmp_root, seed):
    """Property sweep over the full semantic surface at once: aggressive
    delete mix + duplicate deliveries + collection adds/removals/
    overwrites + TTL'd writes; engine == oracle both ignoring TTL and at
    an expiry-observing read instant."""
    from scylla_cdc_java_spark.model import TableConfig

    tbl = TableConfig(collection_columns=("tags",))
    spec = GenSpec(seed=seed, with_collections=True, ttl_fraction=0.4,
                   **AGGRESSIVE)
    world = generate_world(spec)
    info = write_world(world, f"{tmp_root}/propc_{seed}")
    eng = Engine(spark, info["log_dir"], info["generations_path"],
                 f"{tmp_root}/propc_t_{seed}", table=tbl)
    eng.replay()

    def engine_rows(as_of=None):
        return [
            {"repo": r["repo"], "path": r["path"], "commit": r["commit"],
             "lang": r["lang"], "content": r["content"],
             "tags": dict(r["tags"]) if r["tags"] is not None else None}
            for r in sorted(eng.sink.read(as_of_ms=as_of).collect(),
                            key=lambda r: (r["repo"], r["path"]))
        ]

    st = replay(world["events"], table=tbl)

    def oracle_rows(as_of=None):
        return [
            {k: v for k, v in r.items() if k != "content_sha256"}
            for r in final_state(st, as_of_ms=as_of)
        ]

    assert engine_rows() == oracle_rows()
    as_of = max(world["events"]["ms"]) + 40_000_000
    assert engine_rows(as_of) == oracle_rows(as_of)
