"""Seeded tick-tape generator for the pipeline benchmark.

One process, numpy + pyarrow only. A tape is an ``events.parquet`` in
the ``events`` table schema (``schemas.EVENTS``), so
``sources.ticks_from_events`` and the corpus's DuckDB oracles read it
unchanged: ``event_type`` is the symbol, ``value`` the price and
``event_id`` the tick id (time-ordered, so it breaks same-instant ties
the way an ingest id would). A recorded number of invalid ticks is
injected: a NULL, zero or negative ``value``, which
``tick_valid_predicate`` rejects.

Prices are a geometric random walk left unrounded. On a cent grid,
exact decimal ties are common: a candle body equal to the mean of the
previous ten, or a VWAP exactly halfway between two rounding steps.
Floating point decides such a tie by summation order, which differs
between the pattern kernel (prefix-sum differences), Spark and the
DuckDB oracles, so the outputs could not be compared exactly. Unrounded
prices make exact ties vanishingly rare.

Shapes (``SHAPES``):

- ``dense``: few symbols, one regular NY session hour, 450-630 ticks
  in every other second. Candle aggregation over many ticks per candle,
  enrichment over few candles.
- ``stream``: a sparse tape, 1-3 ticks in about 4.6% of the seconds of
  04:00-20:00 NY on four weekdays across the March 2024 DST change; its
  candles are cut into time-ordered files for a file-source replay.

The same (shape, seed) always gives byte-identical files.

    python3 perfbench/tape.py dense 7 out/   # writes out/events.parquet + out/tape.json
"""

from __future__ import annotations

import json
import os
import sys
import zlib
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000

#: NY wall clock is UTC-5 before 2024-03-10 02:00 and UTC-4 after.
_DST_2024_UTC_US = int(np.datetime64("2024-03-10T07:00:00", "us").astype(np.int64))


@dataclass(frozen=True)
class Shape:
    symbols: int
    #: NY dates (weekdays) the tape spans.
    days: tuple[str, ...]
    #: NY wall-clock session [start, end) in hours.
    session: tuple[float, float]
    #: ticks per second: (low, high) uniform per occupied second.
    ticks_per_s: tuple[int, int]
    #: share of session seconds that hold at least one tick, per symbol.
    occupancy: float
    invalid_share: float


SHAPES: dict[str, Shape] = {
    "dense": Shape(
        symbols=2,
        days=("2024-03-05",),
        session=(9.5, 10.5),
        ticks_per_s=(450, 630),
        occupancy=0.5,
        invalid_share=0.005,
    ),
    "stream": Shape(
        symbols=2,
        days=("2024-03-07", "2024-03-08", "2024-03-11", "2024-03-12"),
        session=(4.0, 20.0),
        ticks_per_s=(1, 3),
        occupancy=0.0456,
        invalid_share=0.005,
    ),
}


def _ny_to_utc_us(day: str, hour: float) -> int:
    """Epoch microseconds of NY wall-clock ``hour`` on ``day``."""
    local = int(np.datetime64(day, "us").astype(np.int64)) + int(round(hour * 3600 * US))
    utc = local + 5 * 3600 * US
    if utc >= _DST_2024_UTC_US:
        utc = local + 4 * 3600 * US
    return utc


def _symbol_seconds(rng: np.random.Generator, shape: Shape) -> np.ndarray:
    """Epoch seconds (UTC) in which one symbol trades, sorted."""
    out = []
    for day in shape.days:
        t0 = _ny_to_utc_us(day, shape.session[0]) // US
        t1 = _ny_to_utc_us(day, shape.session[1]) // US
        span = np.arange(t0, t1, dtype=np.int64)
        if shape.occupancy >= 1.0:
            out.append(span)
        else:
            k = int(round(len(span) * shape.occupancy))
            out.append(np.sort(rng.choice(span, size=k, replace=False)))
    return np.concatenate(out)


def generate(shape_name: str, seed: int) -> tuple[pa.Table, dict]:
    """Build one tape in memory: (events table, metadata)."""
    shape = SHAPES[shape_name]
    rng = np.random.default_rng([seed, zlib.crc32(shape_name.encode())])
    syms, ts, price = [], [], []
    for s in range(shape.symbols):
        secs = _symbol_seconds(rng, shape)
        lo, hi = shape.ticks_per_s
        counts = rng.integers(lo, hi + 1, size=len(secs))
        n = int(counts.sum())
        sec_of_tick = np.repeat(secs, counts)
        t = sec_of_tick * US + rng.integers(0, US, size=n)
        t.sort()
        # Geometric random walk, not rounded to cents (module docstring);
        # prices stay well above zero.
        start = rng.uniform(20.0, 400.0)
        steps = rng.normal(0.0, 0.0004, size=n)
        p = start * np.exp(np.cumsum(steps))
        syms.append(np.full(n, f"SYM{s:02d}"))
        ts.append(t)
        price.append(p)
    sym = np.concatenate(syms)
    t_us = np.concatenate(ts)
    value = np.concatenate(price)
    order = np.lexsort((sym, t_us))
    sym, t_us, value = sym[order], t_us[order], value[order]
    n = len(value)

    n_bad = int(round(n * shape.invalid_share))
    bad = rng.choice(n, size=n_bad, replace=False)
    kind = rng.integers(0, 3, size=n_bad)
    value[bad[kind == 1]] = 0.0
    value[bad[kind == 2]] = -value[bad[kind == 2]]
    null_value = np.zeros(n, dtype=bool)
    null_value[bad[kind == 0]] = True

    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(t_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1000, size=n, dtype=np.int64)),
            "event_type": pa.array(sym),
            "value": pa.array(value, mask=null_value),
            "props": pa.array(np.full(n, '{"src": "perfbench"}')),
        }
    )
    meta = {
        "shape": shape_name,
        "seed": seed,
        "ticks": n,
        "invalid_ticks": n_bad,
        "symbols": shape.symbols,
        "params": asdict(shape),
    }
    return table, meta


def write_tape(shape_name: str, seed: int, out_dir: str) -> dict:
    """Write ``events.parquet`` and ``tape.json`` into ``out_dir``."""
    table, meta = generate(shape_name, seed)
    os.makedirs(out_dir, exist_ok=True)
    # Several row groups, so the scan splits across cores like a real
    # multi-block file instead of running as one task.
    pq.write_table(table, f"{out_dir}/events.parquet", row_group_size=1 << 17)
    with open(f"{out_dir}/tape.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    print(json.dumps(write_tape(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
