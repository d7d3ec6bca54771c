"""Seeded signal inputs for the streaming workloads, written with pyarrow.

The inputs never pass through the program under test: they are numpy draws
from ``--seed`` written as parquet files that the pipeline reads with
``read_signal_stream_files``. Distributions follow the reference generator
(5 symbols, 3 timeframes, price = base * (1 +- 0.3 %), qty ~ U(0.01, 0.5)).

Run as a script this module is the open-loop live generator: one file per
period of wall time, each named with the time it was due, independent of how
fast the pipeline consumes them.

    python3 perfbench/feed.py --out DIR --seed N --rate 2000 --period-s 0.25 \\
        --files 40 --event-start-s 1704067200 --start-wall 1760000000.0 --log gen.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "XRPUSDT", "NAS100")
BASE_PRICES = np.array([65000.0, 3000.0, 160.0, 0.6, 20000.0])
TIMEFRAMES = ("1m", "5m", "15m")
WINDOW_S = 300
# Ids of file k start at k * ID_STRIDE, so every signal id is unique.
ID_STRIDE = 1_000_000
WARM_INDEX = 900_000  # file index of warm-up files, apart from live ones

SCHEMA = pa.schema(
    [
        ("signal_id", pa.int64()),
        ("symbol", pa.string()),
        ("side", pa.string()),
        ("qty", pa.float64()),
        ("price", pa.float64()),
        ("timeframe", pa.string()),
        ("ts_us", pa.int64()),
    ]
)


def signals(seed: int, k: int, n: int, t0_us: int, span_us: int) -> pa.Table:
    """File k: n signals with event times spread over [t0_us, t0_us + span_us)."""
    rng = np.random.default_rng([seed, k])
    sym = rng.integers(0, len(SYMBOLS), n)
    tf = rng.integers(0, len(TIMEFRAMES), n)
    buy = rng.random(n) < 0.5
    qty = rng.random(n) * 0.49 + 0.01
    price = BASE_PRICES[sym] * (1.0 + (rng.random(n) - 0.5) * 0.006)
    ts = t0_us + np.sort(rng.integers(0, span_us, n))
    return pa.table(
        [
            pa.array(k * ID_STRIDE + np.arange(n, dtype=np.int64)),
            pa.array(np.array(SYMBOLS, dtype=object)[sym]),
            pa.array(np.where(buy, "BUY", "SELL").astype(object)),
            pa.array(qty),
            pa.array(price),
            pa.array(np.array(TIMEFRAMES, dtype=object)[tf]),
            pa.array(ts.astype(np.int64)),
        ],
        schema=SCHEMA,
    )


def write_atomic(table: pa.Table, out_dir: str, name: str, mtime: float | None = None) -> str:
    """Write to a dot-file (the file source skips hidden names), then rename."""
    tmp = os.path.join(out_dir, "." + name + ".tmp")
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    final = os.path.join(out_dir, name)
    os.rename(tmp, final)
    return final


def file_name(k: int, stamp_s: float, kind: str = "sig") -> str:
    """The creation stamp (epoch ms) travels in the name: sig-<k>-<ms>.parquet."""
    return f"{kind}-{k:06d}-{int(round(stamp_s * 1000))}.parquet"


def index_of(path: str) -> int:
    return int(os.path.basename(path).split("-")[1])


def stamp_of(path: str) -> float:
    """Inverse of file_name: the creation stamp in epoch seconds."""
    base = os.path.basename(path)
    return int(base.rsplit("-", 1)[1].split(".")[0]) / 1000.0


def closed_windows(paths: list[str], closed_before_s: float) -> int:
    """Distinct (symbol, window) groups in the files whose window ends at or
    before closed_before_s: the decisions an append-mode window emits."""
    local = [p.removeprefix("file://") for p in paths]  # the file source logs URIs
    t = pq.read_table(local, columns=["symbol", "ts_us"])
    win = t.column("ts_us").to_numpy() // (WINDOW_S * 1_000_000)
    sym = pc.index_in(t.column("symbol"), pa.array(SYMBOLS)).to_numpy()
    keys = np.unique(win * len(SYMBOLS) + sym)
    return int(np.count_nonzero((keys // len(SYMBOLS) + 1) * WINDOW_S <= closed_before_s))


def write_backlog(
    out_dir: str,
    seed: int,
    files: int,
    per_file: int,
    event_start_s: int,
    span_s: int,
    first_index: int = 0,
) -> list[str]:
    """Backlog: file k holds event time [start + k * span_s, + span_s).

    mtimes ascend in event-time order, because the file source orders new
    files by modification time and a zero-grace watermark drops any row that
    arrives after a later window was seen.
    """
    os.makedirs(out_dir, exist_ok=True)
    base_mtime = time.time() - files
    paths = []
    for k in range(files):
        t0 = (event_start_s + k * span_s) * 1_000_000
        tbl = signals(seed, first_index + k, per_file, t0, span_s * 1_000_000)
        paths.append(write_atomic(tbl, out_dir, f"bk-{first_index + k:06d}.parquet", base_mtime + k))
    return paths


def run_live(args: argparse.Namespace) -> None:
    """Open loop: file k is due at start_wall + k * period and holds
    rate * period signals of event time [start + k * period, + period).
    How late each file was goes to the log."""
    os.makedirs(args.out, exist_ok=True)
    n = round(args.rate * args.period_s)
    span_us = round(args.period_s * 1_000_000)
    start_us = round(args.event_start_s * 1_000_000)
    with open(args.log, "w") as log:
        for k in range(args.files):
            due = args.start_wall + k * args.period_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            tbl = signals(args.seed, k, n, start_us + k * span_us, span_us)
            write_atomic(tbl, args.out, file_name(k, due))
            late_ms = (time.time() - due) * 1000.0
            log.write(json.dumps({"k": k, "due": due, "late_ms": late_ms}) + "\n")
            log.flush()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True, help="signals per second")
    ap.add_argument("--period-s", type=float, required=True, help="seconds between files")
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--event-start-s", type=float, required=True)
    ap.add_argument("--start-wall", type=float, required=True)
    ap.add_argument("--log", required=True)
    run_live(ap.parse_args())


if __name__ == "__main__":
    main()
