"""The workloads: ``backfill``, ``tail_serve`` and ``datapipe``.

Each is a closed loop with one client: this process drives one
``local[4]`` Spark session and issues the next operation only when the
previous one returned. ``Run.drive`` gives every workload the same run:

1. three set-ups, each a fresh Spark context (the first also starts the
   JVM) plus the workload's ``prepare`` (engine objects and one warm-up
   pass); ``setup_s`` is the median of their CPU seconds. Making the
   inputs (from cache or generated) comes before and is reported on its
   own as ``inputs_s``;
2. measurement: whole operations until ``--seconds`` have passed — a
   ``replay()`` (backfill), a pass over generation 1 (tail_serve), a
   pass over the query suite (datapipe); ``op_cpu_ms.p50`` is the median
   of their CPU time, ``op_ms.p50`` (details) of their wall time;
3. with ``--trace 1``, operations with the layer wrappers installed,
   alternating with untraced ones, for ``--seconds``; the per-layer
   metrics come from their spans and counters, and
   after the check the set-up's workload part in a ``local[1]``
   session as the single-core reference;
4. the workload's correctness gate against the repository's oracles.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np

import inputs
from tracing import (DATAPIPE_CALLS, NullTracer, SparkCounters, Tracer,
                     cpu_s, install_wrappers, peak_rss_mb, percentile_tail,
                     steal_s)

CORES = 4
# fixed, so the local[1] reference runs the same plans as local[4]
SHUFFLE_PARTITIONS = 4
SETUPS = 3
LOOKUPS_PER_WINDOW = 2
TAIL_CHECK_KEYS = 8
# Where a workload's shape needs a setting other than the EngineConfig
# default; everything else stays at the defaults. backfill: one window
# per generation. tail_serve: no poll sleeps, and a compaction threshold
# that puts one piggybacked compaction inside every pass.
BACKFILL_CFG = {"window_length_limit_ms": inputs.BACKFILL_WORLD["gen_span_ms"]}
TAIL_CFG = {"sleep_scale": 0.0, "compact_threshold": inputs.TAIL_WINDOWS + 1}
DATAPIPE_QUERIES = {  # __spark_entry__ query -> datapipe function it calls
    "dedup_exact": "exact_dedup_groups",
    "doc_quality": "quality_metrics",
    "lang_id": "lang_id_heuristic",
    "minhash_lsh": "minhash_lsh_candidates",
    "ann_cosine_topk": "cosine_topk_bruteforce",
}

# Gated on CPU time, not wall time: this VM's hypervisor steals CPU in
# bursts lasting minutes (15-25% of it), which stretches an operation's
# wall time ~1.7x but its CPU time ~1.3x. Wall times are in the details.
END_TO_END = {"setup_s": "s", "op_cpu_ms.p50": "ms", "peak_rss_mb": "MB"}
PER_LAYER = {
    "engine.window_self_ms": "ms",
    "plans.windows": "count",
    "plans.skipped_windows": "count",
    "operators.fold.build_ms": "ms",
    "operators.fold.reduction": "ratio",
    "sinks.parquet_merge.merge.stage_ms": "ms",
    "sinks.parquet_merge.merge.meta_ms": "ms",
    "sinks.parquet_merge.merge.delta_rows": "count",
    "sinks.parquet_merge.merge.tomb_rows": "count",
    "sinks.parquet_merge.merge.touched_buckets": "count",
    "sinks.parquet_merge.compact.major_ms": "ms",
    "sinks.parquet_merge.compact.minor_ms": "ms",
    "sinks.parquet_merge.compact.buckets": "count",
    "sinks.parquet_merge.segments_per_bucket": "count",
    "sinks.parquet_merge.lookup.plan_ms": "ms",
    "sinks.parquet_merge.lookup.exec_ms": "ms",
    "sinks.parquet_merge.scan.plan_ms": "ms",
    "sinks.parquet_merge.scan.exec_ms": "ms",
    "sinks.parquet_merge.scan.kept_ratio": "ratio",
    "spark.jobs_per_window": "count",
    "spark.tasks_per_window": "count",
    "spark.jobs_per_lookup": "count",
    "spark.delta_stage.run_ms": "ms",
    "spark.tomb_stage.run_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.parallel_speedup": "ratio",
    **{f"datapipe.{f}.{k}": "ms" for f in DATAPIPE_CALLS
       for k in ("build_ms", "exec_ms")},
    "bench.trace_overhead": "ratio",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _now() -> float:
    return time.perf_counter()


class Traced:
    """What a traced operation records into: the tracer, the Spark
    counters, and per-metric sample lists."""

    def __init__(self, tracer: Tracer, counters: SparkCounters):
        self.tracer = tracer
        self.counters = counters
        self.acc: dict[str, list] = defaultdict(list)


class Run:
    """One benchmark invocation: the session, the operation tally
    behind ``attempted``/``failed``, and the printed details."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.details: dict = {}
        self.spark = None
        # "setup", "measure", "traced" or "local1": operations keep
        # per-call samples for the untraced measurement only
        self.phase = "setup"
        self.work = os.path.join(inputs.CACHE, "run", workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    # -- bookkeeping ---------------------------------------------------
    def attempt(self, fn, *args, **kwargs):
        """Run one counted operation; an exception counts as failed
        and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # a failed operation is a measured outcome
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:300])
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}"[:300])

    # -- session -------------------------------------------------------
    def start_session(self, cores: int = CORES):
        from scylla_cdc_java_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        local = os.path.join(inputs.CACHE, "spark-local")
        self.spark = get_spark(
            app=f"perfbench-{self.workload}", master=f"local[{cores}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()

    # -- the run -------------------------------------------------------
    def drive(self, prepare, op, layers_of, check) -> tuple[dict, dict]:
        """The run every workload shares (see the module docstring).
        ``prepare(spark)`` is the set-up's workload part, ``op(traced)``
        one operation (``traced`` is None when untraced),
        ``layers_of(traced, layers)`` the workload's per-layer metrics
        and ``check()`` its correctness gate."""
        setup, setup_cpu, warm = [], [], []
        self.phase = "setup"
        jvm = -1  # no JVM yet; it survives the context restarts below
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            c0, t0 = cpu_s(jvm), _now()
            self.start_session()
            jvm = self.spark.sparkContext._gateway.proc.pid
            t1 = _now()
            prepare(self.spark)
            setup.append(_now() - t0)
            setup_cpu.append(cpu_s(jvm) - c0)
            warm.append(_now() - t1)
        # whole operations until ``seconds`` have passed; each returns
        # its own wall time, so untimed bookkeeping can sit around it
        self.phase = "measure"
        samples, cpu_ms, steal = [], [], []
        t_end = _now() + self.seconds
        while not samples or _now() < t_end:
            c0, s0, w0 = cpu_s(jvm), steal_s(), _now()
            samples.append(op(None))
            cpu_ms.append((cpu_s(jvm) - c0) * 1000)
            steal.append((steal_s() - s0) / ((_now() - w0) * os.cpu_count()))
        e2e = {"setup_s": _median(setup_cpu), "op_cpu_ms.p50": _median(cpu_ms),
               "peak_rss_mb": peak_rss_mb(self.spark)}
        self.details.update({
            "op_ms.p50": {"value": _median(samples), "unit": "ms"},
            "setup_wall_s.p50": {"value": _median(setup), "unit": "s"},
            "setup_wall_runs_s": setup, "setup_cpu_runs_s": setup_cpu,
            "prepare_wall_runs_s": warm, "op_ms": samples, "op_cpu_ms": cpu_ms,
            "op_steal_share": steal})

        layers: dict = {}
        if self.trace:
            # traced operations alternate with untraced ones, each side
            # going first in every other pair, so the overhead ratio
            # compares equally warm operations
            self.phase = "traced"
            tracer = Tracer(f"{self.workload}-s{self.seed}")
            counters = SparkCounters(self.spark.sparkContext)
            traced = Traced(tracer, counters)
            plain, traced_ms, stage_ids = [], [], set()

            def traced_op() -> None:
                jobs = counters.job_ids()
                install_wrappers(tracer)
                try:
                    traced_ms.append(op(traced))
                finally:
                    tracer.unwrap()
                stage_ids.update(counters.stage_ids(counters.job_ids() - jobs))

            t_end = _now() + self.seconds
            while not traced_ms or _now() < t_end:
                if len(traced_ms) % 2:
                    traced_op()
                    plain.append(op(None))
                else:
                    plain.append(op(None))
                    traced_op()
            layers_of(traced, layers)
            _spark_layers(layers, counters, stage_ids, len(traced_ms),
                          len(tracer.named("sinks.parquet_merge.merge")))
            # wall-time ratio of equally warm neighbours
            layers["bench.trace_overhead"] = _median(traced_ms) / _median(plain)
            self.details.update({"traced_op_ms": traced_ms,
                                 "interleaved_untraced_op_ms": plain})
            tracer.dump(os.path.join(inputs.CACHE, "traces",
                                     f"{tracer.run_id}.json"))
        check()
        if self.trace:
            # single-core reference: the set-up's workload part (for
            # backfill a replay, for tail_serve the generation-0 catch-up
            # and its warm-up reads) in a local[1] session, against the
            # same in a local[4] session started just before it; both
            # are timed right after their context started, equally warm
            self.phase = "local1"
            ref = {}
            for cores in (CORES, 1):
                self.start_session(cores=cores)
                t0 = _now()
                prepare(self.spark)
                ref[cores] = _now() - t0
            layers["spark.parallel_speedup"] = ref[1] / ref[CORES]
            self.details["prepare_local4_local1_s"] = [ref[CORES], ref[1]]
        return e2e, layers


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def _table_digest(df) -> tuple[int, int, int]:
    """The contract's ``_digest_agg`` over the canonical state lines
    (``datapipe.golden.state_lines``' shape)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from scylla_cdc_java_spark.datapipe.golden import FIELD_SEP, NULL_SENTINEL

    line = F.concat_ws(
        FIELD_SEP, F.col("repo"), F.col("path"),
        *[F.coalesce(F.col(c), F.lit(NULL_SENTINEL))
          for c in ("commit", "lang", "content")])
    r = entry._digest_agg(df, line).collect()[0]
    return int(r["n_rows"]), int(r["state_sum"] or 0), int(r["state_xor"] or 0)


def _check_digest(run: Run, sink, world: dict) -> None:
    got = run.attempt(lambda: _table_digest(sink.read()))
    want = tuple(world["oracle"]["digest"])
    if got is not None:
        run.check("final_digest", got == want, f"{got} != oracle {want}")
    run.details["final_rows"] = want[0]


def _log_rows(ts: np.ndarray, start: int, end: int) -> int:
    """Log rows with packed ``cdc$ts`` in the window ``(start, end]``."""
    return int(np.searchsorted(ts, end, "right")
               - np.searchsorted(ts, start, "right"))


def _segments_per_bucket(sink) -> float:
    buckets = sink.manifest()["buckets"]
    return sum(len(s) for s in buckets.values()) / max(1, len(buckets))


def _spark_layers(layers: dict, counters: SparkCounters, stage_ids: set,
                  n_ops: int, n_merges: int) -> None:
    """Executor run time of the two staging jobs per merge, and shuffle
    and spill bytes per operation, over the stages the traced
    operations ran."""
    tot = defaultdict(int)
    for s in counters.stages():
        if s["id"] in stage_ids:
            tot["shuffle"] += s["shuffle_write"]
            tot["spill"] += s["spill"]
            tot[s["desc"]] += s["run_ms"]
    layers["spark.delta_stage.run_ms"] = (
        tot["merge: delta stage"] / max(1, n_merges))
    layers["spark.tomb_stage.run_ms"] = (
        tot["merge: tombstone stage"] / max(1, n_merges))
    layers["spark.shuffle_write_bytes"] = tot["shuffle"] / max(1, n_ops)
    layers["spark.spill_bytes"] = tot["spill"] / max(1, n_ops)


def _engine_layers(traced: Traced, layers: dict) -> None:
    """Layer metrics the engine workloads share, from spans and the
    samples their operations recorded."""
    tr, acc = traced.tracer, traced.acc
    eng = [s for s in tr.spans
           if s["name"].startswith("streaming.engine.")
           and s["attrs"].get("windows")]
    layers["engine.window_self_ms"] = _median([tr.self_ms(s) for s in eng])
    layers["plans.windows"] = sum(s["attrs"]["windows"] for s in eng)
    layers["plans.skipped_windows"] = len(
        tr.named("sinks.parquet_merge.commit_checkpoint"))
    layers["operators.fold.build_ms"] = _median(
        [tr.dur_ms(s) for s in tr.named("operators.fold.fold_batch")])
    layers["operators.fold.reduction"] = _median(acc["reduction"])
    merges = [s["attrs"]["result"]
              for s in tr.named("sinks.parquet_merge.merge")]
    layers["sinks.parquet_merge.merge.stage_ms"] = _median([
        1000 * (m["merge_s"] - m["meta_s"] - m.get("compact_s", 0.0)
                - m.get("minor_compact_s", 0.0)) for m in merges])
    layers["sinks.parquet_merge.merge.meta_ms"] = _median(
        [1000 * m["meta_s"] for m in merges])
    for k in ("delta_rows", "tomb_rows"):
        layers[f"sinks.parquet_merge.merge.{k}"] = _median(
            [m[k] for m in merges])
    layers["sinks.parquet_merge.merge.touched_buckets"] = _median(
        [len(m["touched_buckets"]) for m in merges])
    comp = tr.named("sinks.parquet_merge.compact")
    layers["sinks.parquet_merge.compact.major_ms"] = _median(
        [tr.dur_ms(s) for s in comp if not s["attrs"]["minor"]])
    layers["sinks.parquet_merge.compact.minor_ms"] = _median(
        [tr.dur_ms(s) for s in comp if s["attrs"]["minor"]])
    layers["sinks.parquet_merge.compact.buckets"] = sum(
        s["attrs"]["result"]["compacted"] for s in comp)
    layers["sinks.parquet_merge.segments_per_bucket"] = _median(acc["segs"])
    layers["spark.jobs_per_window"] = _median(acc["jobs_per_window"])
    layers["spark.tasks_per_window"] = _median(acc["tasks_per_window"])


def _latency_details(name: str, samples: list[float]) -> dict:
    out = {f"{name}.p50": {"value": _median(samples), "unit": "ms"},
           f"{name}.samples": len(samples)}
    tail = percentile_tail(samples)
    if tail is not None:
        out[f"{name}.tail"] = {"value": tail[0], "unit": "ms",
                               "percentile": tail[1]}
    return out


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------

def backfill(run: Run) -> tuple[dict, dict]:
    """``Engine.replay()`` of the whole log into an empty target:
    the epoch-0 window, then one generation-wide window."""
    from scylla_cdc_java_spark import Engine, EngineConfig

    t0 = _now()
    world = inputs.world("backfill", run.seed)
    run.details["inputs_s"] = _now() - t0
    targets = itertools.count()
    last = [None]

    def replay(traced: Traced | None = None) -> float:
        """One replay into a fresh target; returns its ms."""
        if last[0] is not None:
            shutil.rmtree(last[0].sink.path, ignore_errors=True)
        eng = last[0] = Engine(
            run.spark, world["log_dir"], world["generations_path"],
            os.path.join(run.work, f"t{next(targets)}"),
            cfg=EngineConfig(**BACKFILL_CFG))
        j0 = traced.counters.job_ids() if traced else None
        t = _now()
        stats = run.attempt(eng.replay)
        ms = (_now() - t) * 1000
        if traced and stats is not None:
            acc, c = traced.acc, traced.counters
            jobs = c.job_ids() - j0
            acc["jobs_per_window"].append(len(jobs) / max(1, stats.windows))
            acc["tasks_per_window"].append(c.tasks(jobs) / max(1, stats.windows))
            acc["segs"].append(_segments_per_bucket(eng.sink))
            for w in stats.per_window:
                if not w.get("skipped"):
                    acc["reduction"].append(w["rows"] / max(
                        1, _log_rows(world["ts"], w["start"], w["end"])))
        return ms

    e2e, layers = run.drive(
        prepare=lambda spark: replay(),
        op=replay,
        layers_of=_engine_layers,
        check=lambda: _check_digest(run, last[0].sink, world))
    wall_ms = run.details["op_ms.p50"]["value"]
    run.details.update({
        "events_per_s": {"value": world["n_rows"] / (wall_ms / 1000),
                         "unit": "events/s"},
        "log_rows": world["n_rows"], "settings": BACKFILL_CFG,
    })
    return e2e, layers


# ---------------------------------------------------------------------------
# tail_serve
# ---------------------------------------------------------------------------

def tail_serve(run: Run) -> tuple[dict, dict]:
    """Set-up drains generation 0 as the initial load; an operation is
    one pass over generation 1: ``tail(max_windows=1)`` window by window,
    each window with data followed by point lookups and one filtered
    scan."""
    from scylla_cdc_java_spark import Engine, EngineConfig
    from scylla_cdc_java_spark.datapipe.golden import state_lines
    from scylla_cdc_java_spark.generator import LANGS

    t0 = _now()
    world = inputs.world("tail", run.seed)
    run.details["inputs_s"] = _now() - t0
    spec = world["spec_obj"]
    # an injected clock just past the last event: every window is due
    now_ms = (spec.gen0_start_ms + spec.n_generations * spec.gen_span_ms
              + EngineConfig().late_writes_window_ms + 1)
    keys = inputs.lookup_keys(run.seed, spec, 64)
    base = os.path.join(run.work, "base")
    targets = itertools.count()
    last = [None]
    sample = {"window": [], "lookup": [], "scan": []}

    def engine(target):
        return Engine(run.spark, world["log_dir"], world["generations_path"],
                      target, cfg=EngineConfig(**TAIL_CFG),
                      clock=lambda: now_ms)

    def reads(eng, i: int, traced: Traced | None) -> float:
        """The reads that follow window ``i``; returns their ms."""
        tracer = traced.tracer if traced else NullTracer()
        total = 0.0
        for k in range(LOOKUPS_PER_WINDOW):
            key = keys[(i * LOOKUPS_PER_WINDOW + k) % len(keys)]
            j0 = traced.counters.job_ids() if traced else None
            t = _now()
            df = run.attempt(eng.sink.lookup, key)
            with tracer.span("bench.lookup.exec"):
                if df is not None:
                    run.attempt(df.collect)
            ms = (_now() - t) * 1000
            if run.phase == "measure":
                sample["lookup"].append(ms)
            total += ms
            if traced:
                traced.acc["lookup_jobs"].append(
                    len(traced.counters.job_ids() - j0))
        info: dict = {}
        t = _now()
        df = run.attempt(eng.sink.scan, [("lang", "=", LANGS[i % len(LANGS)])],
                         info=info)
        with tracer.span("bench.scan.exec"):
            if df is not None:
                run.attempt(df.count)
        ms = (_now() - t) * 1000
        if run.phase == "measure":
            sample["scan"].append(ms)
        if traced and info.get("total_buckets"):
            traced.acc["kept"].append(
                info["kept_buckets"] / info["total_buckets"])
        return total + ms

    def initial_load(spark) -> None:
        shutil.rmtree(base, ignore_errors=True)
        eng = engine(base)
        run.attempt(eng.tail, max_windows=1)
        reads(eng, 0, None)  # warms the read paths

    def one_pass(traced: Traced | None = None) -> float:
        if last[0] is not None:
            shutil.rmtree(last[0].sink.path, ignore_errors=True)
        target = os.path.join(run.work, f"p{next(targets)}")
        shutil.copytree(base, target)
        eng = last[0] = engine(target)
        total = 0.0
        # K data windows, the empty one closing the generation, then the
        # poll that finds nothing due; needing more calls fails the check
        for i in range(inputs.TAIL_WINDOWS + 2):
            if traced:
                start = eng.sink.checkpoint()["last_ts"]
                j0 = traced.counters.job_ids()
            t = _now()
            st = run.attempt(eng.tail, max_windows=1)
            ms = (_now() - t) * 1000
            total += ms
            if st is None or st.windows == 0:
                break
            if run.phase == "measure":
                sample["window"].append(ms)
            if traced:
                acc, c = traced.acc, traced.counters
                jobs = c.job_ids() - j0
                acc["jobs_per_window"].append(len(jobs))
                acc["tasks_per_window"].append(c.tasks(jobs))
                acc["segs"].append(_segments_per_bucket(eng.sink))
                merge = [s for s in traced.tracer.named(
                    "sinks.parquet_merge.merge") if s["start"] >= t]
                rows = _log_rows(world["ts"], start,
                                 eng.sink.checkpoint()["last_ts"])
                if merge and rows:
                    acc["reduction"].append(
                        merge[-1]["attrs"]["result"]["delta_rows"] / rows)
            if st.rows:
                total += reads(eng, i, traced)
        return total

    def layers_of(traced: Traced, layers: dict) -> None:
        _engine_layers(traced, layers)
        tr = traced.tracer
        for call in ("lookup", "scan"):
            layers[f"sinks.parquet_merge.{call}.plan_ms"] = _median(
                [tr.dur_ms(s) for s in tr.named(f"sinks.parquet_merge.{call}")])
            layers[f"sinks.parquet_merge.{call}.exec_ms"] = _median(
                [tr.dur_ms(s) for s in tr.named(f"bench.{call}.exec")])
        layers["sinks.parquet_merge.scan.kept_ratio"] = _median(
            traced.acc["kept"])
        layers["spark.jobs_per_lookup"] = _median(traced.acc["lookup_jobs"])

    def check() -> None:
        # after the last window: the table and point reads vs the oracle
        eng = last[0]
        _check_digest(run, eng.sink, world)
        for key in inputs.lookup_keys(run.seed + 1, spec, TAIL_CHECK_KEYS):
            rows = run.attempt(lambda: eng.sink.lookup(key).collect())
            if rows is not None:
                got = state_lines([r.asDict() for r in rows])
                want = world["oracle"]["lines_by_repo"].get(key, [])
                run.check(f"lookup {key}", got == want,
                          f"{len(got)} rows vs oracle {len(want)}")

    e2e, layers = run.drive(initial_load, one_pass, layers_of, check)
    run.details.update({"settings": TAIL_CFG,
                        "lookups_per_window": LOOKUPS_PER_WINDOW})
    for name in ("window", "lookup", "scan"):
        run.details.update(_latency_details(f"{name}_ms", sample[name]))
    return e2e, layers


# ---------------------------------------------------------------------------
# datapipe
# ---------------------------------------------------------------------------

def _rows(values, cols) -> list[tuple]:
    def norm(v):
        return round(v, 6) if isinstance(v, float) else v
    return sorted((tuple(norm(r[c]) for c in cols) for r in values), key=repr)


def datapipe(run: Run) -> tuple[dict, dict]:
    """The query suite of datapipe functions over the seeded corpus,
    in one warm session; no engine code runs."""
    import __spark_entry__ as entry

    t0 = _now()
    data_dir = inputs.corpus(run.seed)
    check_dir = inputs.corpus(run.seed, check=True)
    run.details["inputs_s"] = _now() - t0
    per_fn: dict = defaultdict(lambda: {"build": [], "exec": []})

    def suite(traced: Traced | None = None) -> float:
        """One pass: every query built, then executed into a ``noop``
        sink; returns the summed build+execute ms."""
        tracer = traced.tracer if traced else NullTracer()
        qs = entry.queries()
        total = 0.0
        for q, fn in DATAPIPE_QUERIES.items():
            t = _now()
            df = run.attempt(qs[q], run.spark, data_dir)
            b = _now()
            with tracer.span(f"bench.datapipe.{fn}.exec"):
                if df is not None:
                    run.attempt(df.write.format("noop").mode("overwrite").save)
            e = _now()
            total += (e - t) * 1000
            if run.phase == "measure":
                per_fn[fn]["build"].append((b - t) * 1000)
                per_fn[fn]["exec"].append((e - b) * 1000)
        return total

    def layers_of(traced: Traced, layers: dict) -> None:
        tr = traced.tracer
        for fn in DATAPIPE_CALLS:
            layers[f"datapipe.{fn}.build_ms"] = _median(
                [tr.dur_ms(s) for s in tr.named(f"datapipe.{fn}")])
            layers[f"datapipe.{fn}.exec_ms"] = _median(
                [tr.dur_ms(s) for s in tr.named(f"bench.datapipe.{fn}.exec")])

    def check() -> None:
        """The suite over the small check corpus against DuckDB running
        the contract's oracle SQL, and MinHash-LSH against the
        pure-Python golden."""
        import duckdb
        from scylla_cdc_java_spark.datapipe import golden

        # oracle_sql() merges in the golden-VALUES oracles, which read
        # the fixed contract tables; a preset cache skips them, leaving
        # the plain SQL oracles this check runs over its own corpus
        entry._GOLDEN_CACHE = {}
        sql = entry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"create view {t} as select * from "
                        f"read_parquet('{check_dir}/{t}.parquet')")
        qs = entry.queries()
        for q in DATAPIPE_QUERIES:
            df = run.attempt(qs[q], run.spark, check_dir)
            got_rows = run.attempt(df.collect) if df is not None else None
            if got_rows is None:
                continue
            cols = sorted(df.columns)
            if q == "minhash_lsh":
                want = sorted(golden.golden_minhash_lsh(check_dir), key=repr)
            else:
                odf = con.execute(sql[q]).df()
                if sorted(odf.columns) != cols:
                    run.check(q, False, f"columns {cols} != {list(odf.columns)}")
                    continue
                want = _rows(odf.where(odf.notna(), None).to_dict("records"),
                             cols)
            got = _rows([r.asDict() for r in got_rows], cols)
            run.check(q, got == want, f"{len(got)} rows vs oracle {len(want)}")
            run.details.setdefault("check_rows", {})[q] = len(want)
        con.close()

    e2e, layers = run.drive(lambda spark: suite(), suite, layers_of, check)
    run.details.update({
        "suite_s": {"value": run.details["op_ms.p50"]["value"] / 1000,
                    "unit": "s"},
        "per_function_ms": {f: {k: _median(v) for k, v in d.items()}
                            for f, d in per_fn.items()},
    })
    return e2e, layers


WORKLOADS = {"backfill": backfill, "tail_serve": tail_serve,
             "datapipe": datapipe}
