"""Seeded ledger generator.

Every input the benchmark feeds the engine comes from here. A part file
is a function of ``(seed, part index)`` only, so one seed always gives
the same ledger and two seeds give different ones, and a part can be
made on demand (the ``increment`` workload appends one per op).

The rows are lineitem-shaped (the columns ``bench.py``'s ODF transform
keys reads), wrapped in the ODF system columns a ledger carries:
``offset`` dense from 0 across the parts in order, ``op`` = append,
``system_time`` fixed, ``event_time`` = ship date.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LEDGER_SYSTEM_TIME = datetime(2023, 1, 1, tzinfo=timezone.utc)
_FLAGS = pa.array(["A", "N", "R"])
_DAY_MS = 86_400_000
_SHIP_EPOCH_MS = int(datetime(1992, 1, 2, tzinfo=timezone.utc).timestamp() * 1000)
_SHIP_SPAN_DAYS = 2_526  # 1992-01-02 .. 1998-12-01, the TPC-H ship window

#: The transform every ODF workload sends: filter + map over the slice
#: (``bench.py::_bench_odf_transform``'s query).
TRANSFORM_SQL = (
    "SELECT event_time, l_orderkey, l_returnflag, "
    "l_extendedprice * (1 - l_discount) AS disc_price "
    "FROM input WHERE l_quantity < 40"
)
#: The same predicate, for the DuckDB check of each output's row count.
PREDICATE_SQL = "l_quantity < 40"


def ledger_part(seed: int, part: int, start_offset: int, rows: int) -> pa.Table:
    """Rows ``[start_offset, start_offset + rows)`` of a ledger, drawn from
    a generator keyed by ``(seed, part)``."""
    rng = np.random.default_rng([seed, part])
    offset = np.arange(start_offset, start_offset + rows, dtype=np.int64)
    ship_ms = _SHIP_EPOCH_MS + rng.integers(0, _SHIP_SPAN_DAYS, rows) * _DAY_MS
    return pa.table(
        {
            "offset": offset,
            "op": pa.array(np.zeros(rows, np.int32)),
            "system_time": pa.array(
                np.full(rows, int(LEDGER_SYSTEM_TIME.timestamp() * 1000)),
                pa.timestamp("ms", "UTC"),
            ),
            "event_time": pa.array(ship_ms, pa.timestamp("ms", "UTC")),
            # Four lines per order; keys shift with the offset, so every
            # copy of the base scale carries fresh keys.
            "l_orderkey": offset // 4 + 1,
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, rows), 2),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_returnflag": pc.take(_FLAGS, pa.array(rng.integers(0, 3, rows))),
        }
    )


def write_part(ledger_dir: str, seed: int, part: int, start_offset: int, rows: int) -> str:
    """Write one ledger part file, named so lexical order is offset order."""
    os.makedirs(ledger_dir, exist_ok=True)
    path = os.path.join(ledger_dir, f"part-{part:05d}.parquet")
    pq.write_table(ledger_part(seed, part, start_offset, rows), path, compression="snappy")
    return path


def write_ledger(ledger_dir: str, seed: int, parts: int, rows_per_part: int) -> list[str]:
    """A static ledger of ``parts`` equal part files."""
    return [
        write_part(ledger_dir, seed, p, p * rows_per_part, rows_per_part)
        for p in range(parts)
    ]
