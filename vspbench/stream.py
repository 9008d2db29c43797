"""The ``stream_live`` workload: an open loop at a fixed frame rate into
``Engine.start_pipeline`` (detection fact query + segment query).

A generator thread in the driver publishes one parquet file per tick
with every frame that fell due since the last tick; each frame's ``ts``
is the time it fell due. The schedule does not wait for the engine. The
pipeline reads the directory through ``file_frames``. After warm-up the
benchmark measures for ``--seconds``, stops the generator, waits until
both queries have committed every generated row, and only then stops the
queries, so no batch is interrupted.

Latencies come from generator stamps and the queries' public progress
records (see latency.py). The correctness check replays the generated
files through the batch operators and compares with what the sinks wrote.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from vspbench import latency as L
from vspbench.harness import Context, log, start_session, stop_session
from vspbench.spans import median_or_zero, read_event_log

CAMERAS = 30
FPS = 25  # the reference mock producer's per-camera rate
SEGMENT_MS = 30_000
TICK_S = 0.1
STAGGER_S = 10.0  # camera start offsets, so segments close at different times
CUT_P = 1 / 50  # per-frame chance of a scene cut in the scene signal
WARM_BATCHES = 2
WARM_TIMEOUT_S = 60.0
TRIGGER_S = 5.0  # the pipeline's default processing-time trigger
# A query has caught up once a batch reads at most this many trigger
# intervals of frames and finishes inside one interval. A batch that
# starts right after an overrun reads more than one interval.
CAUGHT_UP_INTERVALS = 1.25
DRAIN_TIMEOUT_S = 60.0
FRAME_US = 1_000_000 // FPS


class FrameGenerator(threading.Thread):
    """Publishes frames on a fixed schedule. Camera c's frame k falls due
    at ``start + offset[c] + k / FPS``; its scene signal is a seeded random
    walk with cuts that depends only on (seed, c, k). Stamps are whole
    milliseconds, like the reference producer's epoch-ms frame times (the
    streaming segment operator keeps its times in ms)."""

    def __init__(self, in_dir: str, seed: int):
        super().__init__(daemon=True)
        self.in_dir = in_dir
        rng = np.random.default_rng(seed)
        self.offset_us = rng.integers(0, int(STAGGER_S * 1e3), CAMERAS) * 1000
        self.signal = rng.uniform(0, 1, CAMERAS)
        self.rngs = [np.random.default_rng([seed, c]) for c in range(CAMERAS)]
        self.names = np.array([f"camera_{c:03d}" for c in range(CAMERAS)], dtype=object)
        self.next_k = np.zeros(CAMERAS, dtype=np.int64)
        self.file_rows: list[int] = []
        self.chunks: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        self.late_max_s = 0.0
        self._halt = threading.Event()
        self.start_us = 0

    def _signals(self, c: int, n: int) -> np.ndarray:
        rng = self.rngs[c]
        steps = rng.normal(0.0, 0.02, n)
        cuts = rng.random(n) < CUT_P
        jumps = rng.random(n)
        out = np.empty(n)
        s = self.signal[c]
        for i in range(n):
            s = jumps[i] if cuts[i] else min(1.0, max(0.0, s + steps[i]))
            out[i] = s
        self.signal[c] = s
        return out

    def publish(self, now_us: int) -> None:
        cams, ts, sig = [], [], []
        due = (now_us - self.start_us - self.offset_us) // FRAME_US + 1
        for c in range(CAMERAS):
            k = np.arange(self.next_k[c], max(self.next_k[c], due[c]))
            if len(k) == 0:
                continue
            self.next_k[c] = k[-1] + 1
            cams.append(np.full(len(k), c))
            ts.append(self.start_us + self.offset_us[c] + k * FRAME_US)
            sig.append(self._signals(c, len(k)))
        if not cams:
            return
        cam, t, s = (np.concatenate(a) for a in (cams, ts, sig))
        order = np.argsort(t, kind="stable")
        cam, t, s = cam[order], t[order], s[order]
        n = len(t)
        base = sum(self.file_rows)
        table = pa.table(
            {
                "stream_id": pa.array(self.names[cam], pa.string()),
                "frame_id": np.arange(base, base + n, dtype=np.int64),
                "ts": pa.array(t, pa.timestamp("us", tz="UTC")),
                "scene_signal": s,
                "frame_data": pa.array([b"\x00" * 16] * n, pa.binary()),
            }
        )
        name = f"frames-{len(self.file_rows):06d}.parquet"
        tmp = os.path.join(self.in_dir, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.in_dir, name))
        self.late_max_s = max(self.late_max_s, time.time() - t[0] / 1e6)
        self.file_rows.append(n)
        self.chunks.append((cam, t, s))

    def run(self) -> None:
        self.start_us = int(time.time() * 1e3) * 1000
        tick = time.time()
        while not self._halt.is_set():
            self.publish(int(time.time() * 1e6))
            tick += TICK_S
            self._halt.wait(max(0.0, tick - time.time()))
        self.stopped_at = time.time()

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def frames(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(camera, ts_us, signal) of every published row, in file order."""
        if not self.chunks:
            return (np.zeros(0, np.int64),) * 2 + (np.zeros(0),)
        return tuple(np.concatenate(a) for a in zip(*self.chunks))


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _committed_rows(q) -> int:
    return sum(b.rows for b in L.batches_from_progress(_progress(q)))


def _warm(q) -> bool:
    """Two batches with input done, and the latest one caught up: the
    start-up backlog is gone, so the next batch starts on its trigger."""
    b = [x for x in L.batches_from_progress(_progress(q)) if x.rows > 0]
    return (
        len(b) >= WARM_BATCHES
        and b[-1].rows <= CAUGHT_UP_INTERVALS * CAMERAS * FPS * TRIGGER_S
        and b[-1].commit_s - b[-1].start_s < TRIGGER_S
    )


def _wait(cond, timeout_s: float, queries) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
        if cond():
            return True
        time.sleep(0.2)
    return False


def run(ctx: Context) -> dict:
    from video_stream_processing_spark.engine import Engine
    from video_stream_processing_spark.streaming.pipeline import file_frames

    base = os.path.join(ctx.work, "stream")
    in_dir, out_dir, ck_dir = (os.path.join(base, d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    t0 = time.perf_counter()
    # the detection and segment queries run side by side on the same cores
    spark = start_session("vspbench-stream", ctx, concurrent_queries=2)
    session_s = time.perf_counter() - t0
    engine = Engine(spark, sf_dir=in_dir)
    gen = FrameGenerator(in_dir, ctx.seed)
    gen.start()
    det, seg = engine.start_pipeline(
        file_frames(spark, in_dir),
        output_dir=out_dir,
        checkpoint_dir=ck_dir,
        segment_duration_ms=SEGMENT_MS,
    )
    queries = (det, seg)
    try:
        warm = _wait(lambda: all(_warm(q) for q in queries), WARM_TIMEOUT_S, queries)
        if not warm:
            last = [
                [(b.rows, round(b.commit_s - b.start_s, 2)) for b in L.batches_from_progress(_progress(q))[-3:]]
                for q in queries
            ]
            raise RuntimeError(
                f"pipeline not caught up after {WARM_TIMEOUT_S:.0f} s; last (rows, seconds) per query: {last}"
            )
        m0 = time.time()
        setup_s = time.perf_counter() - t0
        _wait(lambda: time.time() >= m0 + ctx.seconds, ctx.seconds + 5, queries)
        gen.stop()
        ctx.rss.stop()
        m1 = gen.stopped_at
        total = sum(gen.file_rows)
        t_stop = time.perf_counter()
        drained = _wait(
            lambda: all(_committed_rows(q) == total for q in queries), DRAIN_TIMEOUT_S, queries
        )
        drain_s = time.perf_counter() - t_stop
    finally:
        gen.stop()
        for q in queries:
            q.stop()
    progress = {"det": _progress(det), "seg": _progress(seg)}
    run_ids = {"det": str(det.runId), "seg": str(seg.runId)}

    res = _measure(gen, progress, spark, out_dir, m0, m1)
    if res["fact"]["p50_s"] is None:
        raise RuntimeError("no keyframe was created inside the measured window")
    t_check = time.perf_counter()
    checks = _check(spark, engine, in_dir, out_dir, gen)
    check_s = time.perf_counter() - t_check
    failures = list(checks["mismatches"])
    if not drained:
        failures.append(f"backlog not drained within {DRAIN_TIMEOUT_S:.0f} s")
    # operations: every executed micro-batch, plus the correctness check
    attempted = sum(len(L.batches_from_progress(p)) for p in progress.values()) + 1
    failed = int(bool(checks["mismatches"])) + int(not drained)
    stop_session(spark)

    out = {
        "setup_s": setup_s,
        "latency_p50_s": res["fact"]["p50_s"],
        "attempted": attempted,
        "failed": failed,
        "correct": not failures,
        "report": {
            "rate_fps": CAMERAS * FPS,
            "cameras": CAMERAS,
            "segment_ms": SEGMENT_MS,
            "fact_p50_s": res["fact"]["p50_s"],
            "fact_tail_s": res["fact"]["tail_s"],
            "fact": res["fact"],
            "segment_p50_s": res["segment"]["p50_s"],
            "segment": res["segment"],
            "lag_s": res["lag_s"],
            "lag_slope": res["lag_slope"],
            "lag_series": res["lag_series"],
            "batches": res["batches"],
            "measured_s": m1 - m0,
            "drain_s": drain_s,
            "check_s": check_s,
            "generated_rows": sum(gen.file_rows),
            "generator_late_max_s": gen.late_max_s,
            "checks": checks,
            "failures": failures,
        },
    }
    if ctx.trace:
        out["per_layer"] = _layers(ctx, gen, progress, run_ids, session_s, out_dir, checks, m0, m1)
    for f in failures:
        log(f"FAIL {f}")
    return out


def _rows_of_keys(gen: FrameGenerator, keys) -> np.ndarray:
    """Generation-order row index of each (camera name, ts_us) key."""
    cam, ts, _ = gen.frames()
    index = {(int(c), int(t)): i for i, (c, t) in enumerate(zip(cam, ts))}
    return np.array([index[(int(name[-3:]), int(t))] for name, t in keys], dtype=np.int64)


def _sink_keys(spark, path: str, ts_col: str, where: str | None = None) -> list[tuple[str, int]]:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if where:
        df = df.where(where)
    rows = df.select("stream_id", F.unix_micros(ts_col).alias("us")).distinct().collect()
    return [(r.stream_id, r.us) for r in rows]


def _measure(gen: FrameGenerator, progress: dict, spark, out_dir: str, m0: float, m1: float) -> dict:
    det_b = L.batches_from_progress(progress["det"])
    seg_b = L.batches_from_progress(progress["seg"])
    _, ts_us, _ = gen.frames()
    ts_s = ts_us / 1e6
    out = {}
    for key, batches, path, col, where in (
        ("fact", det_b, "detections", "detection_time", None),
        ("segment", seg_b, "segments", "end_time", "closed_by = 'size'"),
    ):
        commit = L.commit_of_rows(batches, gen.file_rows)
        batch_of = L.batch_index_of_rows(batches)
        rows = _rows_of_keys(gen, _sink_keys(spark, os.path.join(out_dir, path), col, where))
        rows = rows[(ts_s[rows] >= m0) & (ts_s[rows] <= m1)]
        out[key] = L.latency_summary(commit[rows] - ts_s[rows], batch_of[rows])
    newest = float(ts_s[-1]) if len(ts_s) else m1
    out["lag_s"] = L.lag_at(m1, det_b, ts_s, newest)
    commits = [b.commit_s for b in det_b if m0 <= b.commit_s <= m1]
    lags = [L.lag_at(c, det_b, ts_s, float(ts_s[ts_s <= c].max())) for c in commits]
    out["lag_series"] = lags
    out["batches"] = {
        q: [(b.batch_id, b.rows, round(b.start_s - m0, 2), b.durations_ms["triggerExecution"] / 1e3)
            for b in bs if b.commit_s >= m0]
        for q, bs in (("det", det_b), ("seg", seg_b))
    }
    out["lag_slope"] = float(np.polyfit(commits, lags, 1)[0]) if len(commits) > 2 else None
    return out


def expected_keyframes(frames, cfg):
    """The batch form of the stream's gate: ``keyframe_gate_stateful``."""
    from video_stream_processing_spark.operators.keyframe import keyframe_gate_stateful

    return keyframe_gate_stateful(
        frames.select("stream_id", "ts", "scene_signal"),
        signal_col="scene_signal",
        min_interval_ms=cfg.keyframe_min_interval_ms,
        scene_threshold=cfg.scene_change_threshold,
    )


def _rows(df, cols: list[str]) -> list[tuple]:
    from pyspark.sql import functions as F

    sel = [F.unix_micros(c).alias(c) if c.endswith(("_time", "ts")) else F.col(c) for c in cols]
    return sorted(tuple(r) for r in df.select(*sel).collect())


def _check(spark, engine, in_dir: str, out_dir: str, gen: FrameGenerator) -> dict:
    """Replay the committed generator files through the batch operators and
    compare with the fact and segment sinks. The stub detector finds at
    least one object for every scene signal in [0, 1], the generator's
    range, so the distinct (stream_id, detection_time) keys of the fact
    sink must be exactly the keyframes."""
    from pyspark.sql import functions as F

    from video_stream_processing_spark.operators.segments import segment_windows_exact
    from video_stream_processing_spark.streaming.pipeline import FRAME_SCHEMA

    frames = spark.read.schema(FRAME_SCHEMA).parquet(in_dir)
    n_frames = frames.count()
    key_cols = ["stream_id", "detection_time"]
    gated = expected_keyframes(frames, engine.config)
    want_keys = _rows(gated.withColumnRenamed("ts", "detection_time"), key_cols)
    fact = spark.read.parquet(os.path.join(out_dir, "detections"))
    got_keys = _rows(fact.select(*key_cols).distinct(), key_cols)
    seg_cols = ["stream_id", "start_time", "end_time", "frame_count"]
    closed = segment_windows_exact(frames.select("stream_id", "ts"), duration_ms=SEGMENT_MS).where(
        F.col("duration_ms") >= SEGMENT_MS
    )
    want_seg = _rows(closed, seg_cols)
    got_seg = _rows(spark.read.parquet(os.path.join(out_dir, "segments")), seg_cols)
    mismatches = []
    if n_frames != sum(gen.file_rows):
        mismatches.append(f"frames on disk {n_frames} != generated {sum(gen.file_rows)}")
    if want_keys != got_keys:
        mismatches.append(f"fact sink: {len(got_keys)} keyframes, batch gate gives {len(want_keys)}")
    if want_seg != got_seg:
        mismatches.append(f"segment sink: {len(got_seg)} rows, batch operators give {len(want_seg)}")
    return {
        "frames": n_frames,
        "keyframes": len(want_keys),
        "fact_rows": fact.count(),
        "segment_rows": len(got_seg),
        "mismatches": mismatches,
    }


def _layers(ctx, gen, progress, run_ids, session_s, out_dir, checks, m0, m1) -> dict:
    """Per-layer numbers: streaming/stateful from progress records, task
    counters from the event log, per micro-batch in the measured window."""
    ev = read_event_log(ctx.event_log_dir)
    tracer = ctx.tracer
    in_window = []
    for q, recs in progress.items():
        by_id = {r["batchId"]: r for r in recs if "addBatch" in r.get("durationMs", {})}
        for b in L.batches_from_progress(recs):
            if not m0 <= b.start_s <= m1:
                continue
            tid = f"{q}:{b.batch_id}"
            top = tracer.add("streaming.batch", b.start_s, b.commit_s, tid)
            t = b.start_s
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
                d = b.durations_ms.get(phase, 0) / 1e3
                tracer.add(f"streaming.{phase}", t, t + d, tid, top)
                t += d
            jobs = ev.jobs_where(
                lambda g, desc, q=q, b=b: g == run_ids[q] and desc.rstrip().endswith(f"batch = {b.batch_id}")
            )
            in_window.append((b, by_id[b.batch_id], ev.task_stats(jobs)))
    if not in_window:
        raise RuntimeError("no micro-batch started inside the measured window")
    d = [b.durations_ms for b, _, _ in in_window]
    ops = [r.get("stateOperators", []) for _, r, _ in in_window]
    stats = [s for _, _, s in in_window]
    last_state = [
        [r for r in recs if "addBatch" in r.get("durationMs", {})][-1].get("stateOperators", [])
        for recs in progress.values()
    ]
    files = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(out_dir) for f in fs
    )
    out = {
        "session.start_s": session_s,
        "tables.bytes_read": median_or_zero(s["bytes_read"] for s in stats),
        "tables.rows_read": median_or_zero(s["rows_read"] for s in stats),
        "streaming.batches": len(in_window),
        "streaming.batch_p50_s": median_or_zero(x["triggerExecution"] / 1e3 for x in d),
        "streaming.busy_ratio": sum(x["triggerExecution"] / 1e3 for x in d) / (2 * (m1 - m0)),
        "streaming.latest_offset_s": median_or_zero(x.get("latestOffset", 0) / 1e3 for x in d),
        "streaming.query_planning_s": median_or_zero(x.get("queryPlanning", 0) / 1e3 for x in d),
        "streaming.add_batch_s": median_or_zero(x.get("addBatch", 0) / 1e3 for x in d),
        "streaming.commit_s": median_or_zero(
            (x.get("walCommit", 0) + x.get("commitOffsets", 0)) / 1e3 for x in d
        ),
        "streaming.tasks_per_batch": median_or_zero(s["tasks"] for s in stats),
        "streaming.rows_per_batch": median_or_zero(b.rows for b, _, _ in in_window),
        "stateful.state_rows": sum(o.get("numRowsTotal", 0) for s in last_state for o in s),
        "stateful.state_bytes": sum(o.get("memoryUsedBytes", 0) for s in last_state for o in s),
        "stateful.update_s": median_or_zero(sum(o.get("allUpdatesTimeMs", 0) for o in s) / 1e3 for s in ops),
        "stateful.commit_s": median_or_zero(sum(o.get("commitTimeMs", 0) for o in s) / 1e3 for s in ops),
        "stateful.late_dropped": sum(o.get("numRowsDroppedByWatermark", 0) for s in ops for o in s),
        "stateful.keyframe_ratio": checks["keyframes"] / max(checks["frames"], 1),
        "sinks.fact_rows": checks["fact_rows"],
        "sinks.segment_rows": checks["segment_rows"],
        "sinks.files_written": files,
        "generator.late_max_s": gen.late_max_s,
    }
    for k in ("tasks", "task_skew", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_bytes",
              "failed_tasks", "python_total_s", "python_boot_s", "python_bytes", "python_rows"):
        out[f"operators.{k}"] = median_or_zero(s[k] for s in stats)
    return out
