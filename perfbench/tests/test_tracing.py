"""Tests of the benchmark's tracing: reading the Spark counters starts
no Spark job, wrappers come off cleanly, and span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import pytest  # noqa: E402

import inputs  # noqa: E402
from tracing import (SparkCounters, Tracer, cpu_s,  # noqa: E402
                     install_wrappers, percentile_tail, steal_s)


@pytest.fixture(scope="module")
def spark():
    from scylla_cdc_java_spark.session import get_spark

    local = os.path.join(inputs.CACHE, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    s = get_spark(app="perfbench-test", master="local[2]",
                  shuffle_partitions=2,
                  extra={"spark.local.dir": local,
                         "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_reading_counters_starts_no_spark_job(spark):
    sc = spark.sparkContext
    sc.setJobDescription("merge: delta stage")
    spark.range(20_000).selectExpr("id % 7 as k").groupBy("k").count().collect()
    sc.setJobDescription(None)
    counters = SparkCounters(sc)
    before = counters.job_ids()
    tasks = counters.tasks(before)
    stage_ids = counters.stage_ids(before)
    stages = counters.stages()
    after = counters.job_ids()
    assert after == before, f"reading counters ran jobs {after - before}"
    assert tasks > 0
    assert stage_ids <= {s["id"] for s in stages}
    described = [s for s in stages if s["desc"] == "merge: delta stage"]
    assert described and sum(s["run_ms"] for s in described) >= 0
    assert sum(s["shuffle_write"] for s in described) > 0


def test_wrappers_record_spans_and_come_off():
    import scylla_cdc_java_spark.datapipe as datapipe
    import scylla_cdc_java_spark.streaming.engine as engine
    from scylla_cdc_java_spark.sinks.parquet_merge import ParquetMergeSink

    originals = (engine.Engine.replay, engine.fold_batch,
                 ParquetMergeSink.merge, datapipe.quality_metrics)
    tracer = Tracer("t")
    install_wrappers(tracer)
    try:
        assert engine.Engine.replay is not originals[0]
        assert engine.fold_batch is not originals[1]
    finally:
        tracer.unwrap()
    assert (engine.Engine.replay, engine.fold_batch,
            ParquetMergeSink.merge, datapipe.quality_metrics) == originals


def test_self_time_subtracts_direct_children():
    tracer = Tracer("t")
    with tracer.span("outer"):
        with tracer.span("inner"):
            time.sleep(0.02)
        time.sleep(0.01)
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert tracer.self_ms(outer) == pytest.approx(
        tracer.dur_ms(outer) - tracer.dur_ms(inner))
    assert tracer.self_ms(outer) >= 10.0


def test_tail_percentile_leaves_ten_samples_beyond():
    assert percentile_tail([1.0] * 10) is None
    assert percentile_tail([float(i) for i in range(1, 101)]) == (90.0, 90)
    assert percentile_tail([float(i) for i in range(1, 21)]) == (10.0, 50)


def test_benchmark_json_lists_the_metrics_runs_print():
    import json

    import workloads

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        workloads.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_cpu_time_counts_processes_that_have_ended():
    import subprocess

    before, steal = cpu_s(-1), steal_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert cpu_s(-1) - before >= 0.25
    assert steal_s() >= steal
