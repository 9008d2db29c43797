"""Tests of the benchmark itself: latency arithmetic on hand-built
records, the correctness checks on deliberately corrupted results, and
short smoke runs that must print every metric once with its unit.

    python -m pytest vspbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from vspbench import latency as L  # noqa: E402
from vspbench.spans import PER_LAYER, Tracer  # noqa: E402


def _progress(batch_id, start, trigger_ms, rows, add_batch=True):
    d = {"triggerExecution": trigger_ms, "latestOffset": 5}
    if add_batch:
        d["addBatch"] = trigger_ms - 10
    return {"batchId": batch_id, "timestamp": start, "durationMs": d, "numInputRows": rows}


# ---------------------------------------------------------------- latency


def test_commit_time_is_trigger_start_plus_trigger_execution():
    recs = [
        _progress(0, "2026-01-01T00:00:05.000Z", 2500, 6),
        _progress(0, "2026-01-01T00:00:15.000Z", 3, 0, add_batch=False),  # idle trigger
        _progress(1, "2026-01-01T00:00:10.000Z", 1000, 4),
    ]
    b = L.batches_from_progress(recs)
    t0 = L.parse_progress_time("2026-01-01T00:00:00.000Z")
    assert [x.batch_id for x in b] == [0, 1]
    assert b[0].commit_s - t0 == pytest.approx(7.5)
    assert b[1].commit_s - t0 == pytest.approx(11.0)


def test_creation_to_commit_latency_from_generator_log():
    t0 = L.parse_progress_time("2026-01-01T00:00:00.000Z")
    batches = L.batches_from_progress(
        [
            _progress(0, "2026-01-01T00:00:05.000Z", 2000, 3),
            _progress(1, "2026-01-01T00:00:10.000Z", 1000, 2),
        ]
    )
    # generator log: three files of 2, 1 and 2 rows, created at these times
    file_rows = [2, 1, 2]
    created = t0 + np.array([1.0, 2.0, 4.5, 6.0, 9.0])
    commit = L.commit_of_rows(batches, file_rows)
    assert (commit - created).tolist() == pytest.approx([6.0, 5.0, 2.5, 5.0, 2.0])
    assert L.batch_index_of_rows(batches).tolist() == [0, 0, 0, 1, 1]


def test_batch_boundary_inside_a_file_is_rejected():
    batches = L.batches_from_progress([_progress(0, "2026-01-01T00:00:05.000Z", 100, 3)])
    with pytest.raises(ValueError):
        L.commit_of_rows(batches, [2, 2])


@pytest.mark.parametrize(
    "n_batches, pct", [(5, None), (10, None), (11, 9), (20, 50), (100, 90), (1000, 99)]
)
def test_tail_percentile_leaves_ten_batches_beyond(n_batches, pct):
    assert L.tail_percentile(n_batches) == pct
    if pct is not None:
        assert n_batches * (100 - pct) / 100 >= 10


def test_tail_is_chosen_by_batch_count_not_event_count():
    # 1000 events but only 5 batches: no percentile has ten batches beyond
    lat = np.linspace(1, 2, 1000)
    s = L.latency_summary(lat, np.repeat(np.arange(5), 200))
    assert s["tail_pct"] is None and s["tail_s"] is None
    assert s["p50_s"] == pytest.approx(1.5)
    assert (s["samples"], s["batches"]) == (1000, 5)
    # 20 batches of one event each: tail is p50, ten batches beyond it
    s = L.latency_summary(np.arange(20.0), np.arange(20))
    assert s["tail_pct"] == 50 and s["tail_s"] == pytest.approx(9.5)


def test_lag_is_newest_generated_minus_newest_committed():
    batches = L.batches_from_progress(
        [
            _progress(0, "2026-01-01T00:00:05.000Z", 1000, 2),
            _progress(1, "2026-01-01T00:00:10.000Z", 1000, 2),
        ]
    )
    t0 = L.parse_progress_time("2026-01-01T00:00:00.000Z")
    row_ts = t0 + np.array([1.0, 4.0, 6.0, 9.0])
    assert L.lag_at(t0 + 8.0, batches, row_ts, t0 + 8.0) == pytest.approx(4.0)
    assert L.lag_at(t0 + 12.0, batches, row_ts, t0 + 12.0) == pytest.approx(3.0)


def test_self_time_subtracts_children():
    t = Tracer(True)
    q = t.add("query", 0.0, 10.0, "q")
    t.add("plans.construct", 0.0, 4.0, "q", q)
    a = t.add("operators.action", 4.0, 10.0, "q", q)
    t.add("plans.plan", 4.0, 5.0, "q", a)
    assert t.self_times() == pytest.approx(
        {"query": 0.0, "plans.construct": 4.0, "operators.action": 5.0, "plans.plan": 1.0}
    )
    assert Tracer(False).add("query", 0, 1, "q") == -1


# ------------------------------------------------------ correctness checks


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from video_stream_processing_spark.session import get_spark

    s = get_spark("vspbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_corrupted_query_result_fails_the_oracle_check(spark, tmp_path):
    from pyspark.sql import functions as F

    from video_stream_processing_spark.plans.registry import all_queries
    from vspbench import datagen, olap

    sf_dir = str(tmp_path / "tables")
    datagen.write_tables(sf_dir, 0.001, seed=3)
    spec = all_queries()["b01_pricing_summary"]
    assert olap.check_queries(spark, sf_dir, [spec]) == []

    def corrupt(s, d):
        return spec.fn(s, d).withColumn("sum_qty", F.col("sum_qty") + 1)

    bad = olap.check_queries(spark, sf_dir, [dataclasses.replace(spec, fn=corrupt)])
    assert len(bad) == 1 and "sum_qty" in bad[0]


def test_corrupted_sinks_fail_the_stream_check(spark, tmp_path):
    from pyspark.sql import functions as F

    from video_stream_processing_spark.config import EngineConfig
    from video_stream_processing_spark.engine import Engine
    from video_stream_processing_spark.operators.segments import segment_windows_exact
    from video_stream_processing_spark.streaming.pipeline import FRAME_SCHEMA
    from vspbench import stream

    in_dir, out_dir = tmp_path / "in", tmp_path / "out"
    in_dir.mkdir()
    gen = stream.FrameGenerator(str(in_dir), seed=5)
    gen.start_us = 1_700_000_000_000_000
    for i in range(1, 5):  # four ticks of 20 s: several closed segments
        gen.publish(gen.start_us + i * 20_000_000)
    engine = Engine(spark, sf_dir=str(in_dir), config=EngineConfig.load())
    frames = spark.read.schema(FRAME_SCHEMA).parquet(str(in_dir))
    fact = stream.expected_keyframes(frames, engine.config).select(
        "stream_id", F.col("ts").alias("detection_time"), F.lit("person").alias("object_class")
    )
    segs = segment_windows_exact(frames.select("stream_id", "ts"), duration_ms=stream.SEGMENT_MS)
    closed = segs.where(F.col("duration_ms") >= stream.SEGMENT_MS)
    fact_path, seg_path = str(out_dir / "detections"), str(out_dir / "segments")
    fact.write.parquet(fact_path)
    closed.write.parquet(seg_path)
    assert stream._check(spark, engine, str(in_dir), str(out_dir), gen)["mismatches"] == []

    # drop one keyframe's detections: the check must notice
    n = spark.read.parquet(fact_path).count()
    spark.read.parquet(fact_path).limit(n - 1).write.parquet(fact_path + "2")
    os.rename(fact_path, fact_path + "_orig")
    os.rename(fact_path + "2", fact_path)
    res = stream._check(spark, engine, str(in_dir), str(out_dir), gen)
    assert len(res["mismatches"]) == 1 and "fact sink" in res["mismatches"][0]


# ---------------------------------------------------------------- smoke


def _smoke(workload: str, trace: int, extra: str = "", seconds: int = 3) -> tuple[int, dict]:
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from vspbench import olap, run\n%s\n"
        "sys.exit(run.main(['--workload', %r, '--seed', '7', '--seconds', '%d', '--trace', '%d']))"
    ) % (ROOT, extra, workload, seconds, trace)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=900
    )
    last = proc.stdout.strip().splitlines()[-1]

    def no_dupes(pairs):
        keys = [k for k, _ in pairs]
        assert len(keys) == len(set(keys)), f"duplicate keys in {keys}"
        return dict(pairs)

    return proc.returncode, json.loads(last, object_pairs_hook=no_dupes)


@pytest.mark.parametrize("trace", [0, 1])
def test_olap_smoke_run_prints_every_metric_once(trace):
    from vspbench import run

    rc, out = _smoke("olap", trace, "olap.SF = 0.001")
    assert rc == 0
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("trace", [0, 1])
def test_stream_smoke_run_prints_every_metric_once(trace):
    from vspbench import run

    rc, out = _smoke("stream_live", trace, seconds=8)
    assert rc == 0
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if trace:
        assert m["streaming.batches"] >= 1 and m["sinks.fact_rows"] > 0
    else:
        assert set(m) == {"setup_s", "latency_p50_s", "peak_rss_mb"}
        assert all(v > 0 for v in m.values())
