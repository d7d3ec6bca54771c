"""The benchmark's own arithmetic: percentiles, trigger lag, span self time,
failure share, run-to-run spread and process memory. No Spark in here, so
the unit tests in test_measure.py run without a JVM."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
from collections.abc import Callable, Iterable
from datetime import datetime


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least q % of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def spread(values: Iterable[float]) -> float:
    """Inter-quartile distance as a share of the median, the way
    statistics.quantiles(values, n=4) cuts the quartiles."""
    xs = list(values)
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med


def failed_share(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def epoch_s(iso: str) -> float:
    """Progress timestamps look like 2024-01-01T00:00:00.123Z (UTC)."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _log_offset(offset) -> int:
    """File-source offsets arrive as {"logOffset": n}, its JSON text, or None
    (the first batch has no start offset)."""
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def read_source_log(checkpoint: str) -> dict[int, list[str]]:
    """File-source log in the checkpoint: log batch id -> files it added.

    Every few batches the log is compacted into a ``.compact`` file that
    repeats all earlier entries; entries carry their own batch id, so reading
    every file and de-duplicating by path gives the full map either way.
    """
    seen: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    seen[entry["path"]] = int(entry["batchId"])
    out: dict[int, list[str]] = {}
    for path, batch in seen.items():
        out.setdefault(batch, []).append(path)
    return out


def trigger_rows(
    progress: list[dict],
    source_log: dict[int, list[str]],
    stamp_of: Callable[[str], float],
) -> list[dict]:
    """One row per trigger that read files: which files, when it committed and
    its lag, the commit wall time minus the creation stamp of the oldest
    signal in the trigger (the file with the earliest stamp)."""
    rows = []
    for p in progress:
        src = p["sources"][0]
        lo, hi = _log_offset(src.get("startOffset")), _log_offset(src.get("endOffset"))
        files = [f for b in range(lo + 1, hi + 1) for f in source_log.get(b, [])]
        if not files:
            continue
        start = epoch_s(p["timestamp"])
        commit = start + p["durationMs"]["triggerExecution"] / 1000.0
        oldest = min(stamp_of(f) for f in files)
        rows.append(
            {
                "batch_id": p["batchId"],
                "files": sorted(files),
                "rows": p["numInputRows"],
                "start": start,
                "commit": commit,
                "oldest_stamp": oldest,
                "lag_ms": (commit - oldest) * 1000.0,
            }
        )
    return rows


def file_lags_ms(triggers: list[dict], stamp_of: Callable[[str], float]) -> list[float]:
    """Lag of every file: the commit wall time of the trigger that read it
    minus the file's creation stamp. A trigger that read k files gives k
    samples, the oldest of which is the trigger's own lag."""
    return [(t["commit"] - stamp_of(f)) * 1000.0 for t in triggers for f in t["files"]]


def phase_rate(triggers: list[dict], stamp_of: Callable[[str], float]) -> float:
    """Rows per second over a whole phase: the triggers' input rows over the
    time from the earliest creation stamp of their files to the last commit.
    A backlog that grows during the phase stretches that time, so an open
    loop that falls behind reads lower than its offered rate."""
    lo = min(stamp_of(f) for t in triggers for f in t["files"])
    hi = max(t["commit"] for t in triggers)
    return sum(t["rows"] for t in triggers) / (hi - lo)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children count once; a child that
    sticks out of its parent counts only inside it)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        parts = sorted(
            (max(lo, c["start"]), min(hi, c["end"])) for c in children.get(s["id"], [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in parts:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process, from one scan of /proc."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(stat.split("/")[2])] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out.extend(found)
        todo.extend(found)
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """PySpark daemon and worker processes under the JVM."""
    out = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark" in fh.read():
                    out.append(pid)
        except OSError:
            continue
    return out


def rss_mb(pid: int) -> float:
    """Resident memory of one process from /proc; 0 once it has gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants."""
    return sum(rss_mb(p) for p in [root_pid, *descendants(root_pid)])
