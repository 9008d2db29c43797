"""Latency arithmetic for the open-loop streaming workload.

Pure functions over two inputs the benchmark owns: the generator log
(which rows each input file held, and when each row was created) and the
public ``StreamingQuery.recentProgress`` records of a query. No Spark
import, so the arithmetic is testable on hand-built records.

A micro-batch commits at ``timestamp + durationMs.triggerExecution``: the
trigger starts at ``timestamp`` and ``triggerExecution`` spans the whole
batch, commit-log write included. The file source takes every new file at
the start of a batch, and the generator publishes files in creation order,
so the ``numInputRows`` of successive batches cut the generated row
sequence into consecutive runs: the cumulative row count maps each
generated row to the batch that read it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import datetime

import numpy as np

# The tail is the highest percentile with at least this many batches
# beyond it: events of one micro-batch share its commit, so they are not
# independent samples.
TAIL_MIN_BATCHES_BEYOND = 10


@dataclass(frozen=True)
class Batch:
    batch_id: int
    start_s: float
    commit_s: float
    rows: int
    durations_ms: dict


def parse_progress_time(stamp: str) -> float:
    """``2026-10-17T11:50:00.123Z`` -> epoch seconds."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def batches_from_progress(progress: list[dict]) -> list[Batch]:
    """Executed micro-batches, ordered by id. Idle-trigger records (no
    ``addBatch`` phase) are skipped; a repeated id keeps its last record."""
    by_id: dict[int, Batch] = {}
    for p in progress:
        d = p.get("durationMs", {})
        if "addBatch" not in d:
            continue
        start = parse_progress_time(p["timestamp"])
        by_id[int(p["batchId"])] = Batch(
            batch_id=int(p["batchId"]),
            start_s=start,
            commit_s=start + d["triggerExecution"] / 1000.0,
            rows=int(p["numInputRows"]),
            durations_ms=dict(d),
        )
    return [by_id[k] for k in sorted(by_id)]


def commit_of_rows(batches: list[Batch], file_rows: list[int]) -> np.ndarray:
    """Commit time of every generated row that some batch read, in
    generation order (a shorter array when the tail was never read).

    Raises ValueError when a batch boundary falls inside a file: that
    would mean the source did not read files whole and in order, and any
    latency computed from the mapping would be wrong."""
    boundaries = set(np.cumsum([0, *file_rows]).tolist())
    out = np.empty(sum(b.rows for b in batches), dtype=np.float64)
    pos = 0
    for b in batches:
        out[pos : pos + b.rows] = b.commit_s
        pos += b.rows
        if pos not in boundaries:
            raise ValueError(
                f"batch {b.batch_id} ends at row {pos}, inside a generator file"
            )
    return out


def batch_index_of_rows(batches: list[Batch]) -> np.ndarray:
    """Position (0-based, in ``batches``) of the batch that read each row."""
    return np.repeat(np.arange(len(batches)), [b.rows for b in batches])


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def tail_percentile(n_batches: int, min_beyond: int = TAIL_MIN_BATCHES_BEYOND) -> int | None:
    """Highest whole percentile with at least ``min_beyond`` of
    ``n_batches`` batches beyond it, or None when there are too few."""
    if n_batches <= min_beyond:
        return None
    return math.floor(100 * (n_batches - min_beyond) / n_batches)


def latency_summary(latency_s, batch_of_sample) -> dict:
    """Median and batch-count tail of per-event latencies.

    ``batch_of_sample`` names the batch of each latency; the tail
    percentile is chosen from the number of distinct batches, not events."""
    lat = np.asarray(latency_s, dtype=np.float64)
    n_batches = len(set(np.asarray(batch_of_sample).tolist()))
    q = tail_percentile(n_batches)
    return {
        "p50_s": percentile(lat, 50) if len(lat) else None,
        "tail_pct": q,
        "tail_s": percentile(lat, q) if q is not None and len(lat) else None,
        "samples": int(len(lat)),
        "batches": n_batches,
    }


def lag_at(t: float, batches: list[Batch], row_ts: np.ndarray, gen_newest_s: float) -> float:
    """Newest generated creation time minus the newest committed one, at
    wall time ``t``. ``row_ts`` is the creation time of every generated
    row in generation order; ``gen_newest_s`` the newest created by ``t``."""
    committed = sum(b.rows for b in batches if b.commit_s <= t)
    newest_committed = float(row_ts[committed - 1]) if committed else float("-inf")
    return gen_newest_s - newest_committed
