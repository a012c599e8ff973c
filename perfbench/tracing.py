"""Outside-in tracing and counters for the benchmark.

``Tracer`` records spans (name, start, end, parent, run id, attributes)
in memory; ``install_wrappers`` replaces the public calls of each layer
with wrappers that open a span around the original, so no program file
changes. ``SparkCounters`` reads job, task and stage figures from the
Spark driver's status tracker and the JVM status store, which run no Spark
job. ``NullTracer`` is the untraced run's stand-in.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

# Public calls wrapped in the traced run, by layer.
ENGINE_CALLS = ("replay", "tail")
SINK_CALLS = ("merge", "compact", "commit_checkpoint", "lookup", "scan",
              "manifest")
DATAPIPE_CALLS = ("exact_dedup_groups", "quality_metrics", "lang_id_heuristic",
                  "minhash_lsh_candidates", "cosine_topk_bruteforce")


class NullTracer:
    @contextmanager
    def span(self, name, **attrs):
        yield attrs


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span's parent
    is the innermost span open on the same thread when it started."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, record=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper;
        ``record(attrs, args, kwargs, result)`` may add attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as attrs:
                result = orig(*args, **kwargs)
                if record is not None:
                    record(attrs, args, kwargs, result)
                return result

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- queries -------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dur_ms(self, s: dict) -> float:
        return (s["end"] - s["start"]) * 1000.0

    def self_ms(self, s: dict) -> float:
        """Span duration minus its direct children's (children of one
        span run on its thread one after another, so they never
        overlap)."""
        kids = sum(self.dur_ms(c) for c in self.spans if c["parent"] == s["id"])
        return self.dur_ms(s) - kids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f,
                      default=str)


def install_wrappers(tracer: Tracer) -> None:
    """Wrap each layer's public calls: ``Engine.replay``/``tail``,
    ``fold_batch`` where ``streaming.engine`` binds it, the sink's
    write/maintenance/read calls, and the datapipe functions as the
    package exports them (the ``__spark_entry__`` queries import them
    at call time, so they pick up the wrappers)."""
    import scylla_cdc_java_spark.datapipe as datapipe
    import scylla_cdc_java_spark.streaming.engine as engine
    from scylla_cdc_java_spark.sinks.parquet_merge import ParquetMergeSink

    def engine_result(attrs, args, kwargs, result):
        attrs["windows"] = result.windows
        attrs["per_window"] = list(result.per_window)

    def keep_result(attrs, args, kwargs, result):
        attrs["result"] = {k: v for k, v in result.items()
                           if k not in ("pending_ranges", "pending_ends")}

    def compact_args(attrs, args, kwargs, result):
        attrs["minor"] = bool(kwargs.get("minor", False))
        attrs["result"] = {"compacted": len(result.get("compacted", []))}

    for call in ENGINE_CALLS:
        tracer.wrap(engine.Engine, call, f"streaming.engine.{call}",
                    engine_result)
    tracer.wrap(engine, "fold_batch", "operators.fold.fold_batch")
    for call in SINK_CALLS:
        record = {"merge": keep_result, "compact": compact_args}.get(call)
        tracer.wrap(ParquetMergeSink, call, f"sinks.parquet_merge.{call}",
                    record)
    for call in DATAPIPE_CALLS:
        tracer.wrap(datapipe, call, f"datapipe.{call}")


class SparkCounters:
    """Job/task counts from ``StatusTracker`` and per-stage executor
    figures from the JVM app status store. Both are driver-side reads
    of listener state and start no Spark job (pinned by
    ``tests/test_tracing.py``)."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None) or [])

    def stage_ids(self, job_ids) -> set[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            out.update(info.stageIds if info else ())
        return out

    def tasks(self, job_ids) -> int:
        """Tasks the jobs completed (a skipped stage completes none)."""
        n = 0
        for s in self.stage_ids(job_ids):
            st = self.tracker.getStageInfo(s)
            n += st.numCompletedTasks if st else 0
        return n

    def stages(self) -> list[dict]:
        """Every retained stage: id, job description, executor run
        time, shuffle write bytes and spilled bytes."""
        gw = self.sc._gateway
        seq = self.store.stageList(None, False, False,
                                   gw.new_array(gw.jvm.double, 0), None)
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            d = s.description()
            out.append({
                "id": s.stageId(),
                "desc": d.get() if d.isDefined() else None,
                "run_ms": s.executorRunTime(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.diskBytesSpilled() + s.memoryBytesSpilled(),
            })
        return out


def peak_rss_mb(spark) -> float:
    """Peak resident set (``VmHWM``) of the JVM plus this Python
    process, in MB. The JVM is the gateway process pyspark launched
    (``spark-submit`` execs into it, so the pid is the JVM's)."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._gateway.proc.pid
    return (hwm_kb(jvm) + hwm_kb("self")) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm_pid: int) -> float:
    """User plus system CPU seconds used so far by this Python process,
    the JVM, and every process below the JVM (its Python workers),
    including children they have reaped. A process accrues CPU time
    only while it runs, so unlike wall time this does not grow with
    CPU stolen from the VM by its hypervisor."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        procs[int(pid)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    keep = {os.getpid(), jvm_pid}
    grew = True
    while grew:
        kids = {p for p, (ppid, _) in procs.items()
                if ppid in keep and p not in keep}
        keep |= kids
        grew = bool(kids)
    return sum(procs[p][1] for p in keep if p in procs) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def percentile_tail(samples: list[float]) -> tuple[float, int] | None:
    """The highest percentile with at least 10 samples above it, as
    ``(value, percentile)``; None when there are fewer than 11
    samples."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10  # the k-th smallest has exactly 10 samples beyond it
    return sorted(samples)[k - 1], int(100 * k / n)
