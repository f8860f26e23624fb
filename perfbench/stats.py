"""Pure helpers: medians, metric-name checks and the stream file →
micro-batch latency mapping. No Spark here, so the tests run fast."""

from __future__ import annotations

import re
import statistics

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")


def valid_metric_name(name: str) -> bool:
    return bool(METRIC_NAME_RE.match(name))


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def file_latencies(
    drops: dict[str, float],
    file_batches,
    commits: dict[int, float],
) -> dict[str, float]:
    """Per dropped file: commit time of the micro-batch that holds it minus
    the file's scheduled drop time.

    ``drops``: file name → scheduled drop time. ``file_batches``: (source
    path, batch id) pairs, as the ``_src_file`` lineage column and the
    sink's batch partition give them; a file seen in several batches
    counts at its last one. ``commits``: batch id → commit time. Raises
    KeyError for a dropped file no committed batch holds."""
    last: dict[str, int] = {}
    for path, batch in file_batches:
        name = path.rstrip("/").rsplit("/", 1)[-1]
        last[name] = max(batch, last.get(name, batch))
    return {name: commits[last[name]] - t for name, t in drops.items()}


def max_backlog(dropped: dict[str, float], done: dict[str, float]) -> int:
    """Most files dropped but not yet committed at any drop time.
    ``dropped`` and ``done``: file name → drop time, commit time."""
    return max(
        (sum(1 for f, d in dropped.items() if d <= t < done.get(f, float("inf")))
         for t in dropped.values()),
        default=0,
    )
