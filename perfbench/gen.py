"""Seeded input generation for the benchmark.

Every column value is a hash of the row id and the run seed (splitmix64's
finaliser), computed with numpy on the driver.  Nothing depends on Spark's
task layout, so the same seed gives the same rows, and the same parquet
bytes, on any core count.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def mix64(ids: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """splitmix64 finaliser of ``ids`` offset by (seed, salt); uint64."""
    with np.errstate(over="ignore"):
        x = ids.astype(np.uint64) + np.uint64((seed * 1_000_003 + salt) & (2**64 - 1)) * _GOLDEN
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def hcol(ids: np.ndarray, seed: int, salt: int, modulus: int) -> np.ndarray:
    """A column of values in ``[0, modulus)`` derived from the row ids."""
    return (mix64(ids, seed, salt) % np.uint64(modulus)).astype(np.int64)


# -- plan_point ---------------------------------------------------------------

PLAN_DAYS = 8


def plan_block(block: int, rows: int, seed: int) -> dict[str, np.ndarray]:
    """Rows of plan_point block ``block`` (commit ``block // PLAN_DAYS``,
    day ``block % PLAN_DAYS``): ids ``[block*rows, (block+1)*rows)``, so
    every data file has tight, disjoint ``id`` bounds."""
    ids = np.arange(block * rows, (block + 1) * rows, dtype=np.int64)
    return {
        "id": ids,
        "day": np.full(rows, block % PLAN_DAYS, dtype=np.int32),
        "v": hcol(ids, seed, 1, 1000),
    }


def plan_expected(lo: int, hi: int, day: int, rows: int, seed: int) -> tuple[int, int]:
    """(count, sum(v)) of plan_point rows with ``lo <= id < hi`` and the
    given day, in closed form from the generator."""
    ids = np.arange(max(lo, 0), hi, dtype=np.int64)
    ids = ids[(ids // rows) % PLAN_DAYS == day]
    return int(ids.size), int(hcol(ids, seed, 1, 1000).sum())


# -- scan_agg -----------------------------------------------------------------

DIM_ROWS = 100_000
REGIONS = 50
CUSTOMERS = 200_000


def fact_table(start: int, stop: int, seed: int) -> pa.Table:
    ids = np.arange(start, stop, dtype=np.int64)
    return pa.table(
        {
            "id": ids,
            "month": (hcol(ids, seed, 11, 12) + 1).astype(np.int32),
            "cust": hcol(ids, seed, 12, CUSTOMERS),
            "dim_id": hcol(ids, seed, 13, DIM_ROWS),
            "qty": hcol(ids, seed, 14, 50) + 1,
            "amount": hcol(ids, seed, 15, 100_000),
        }
    )


def dim_table(seed: int) -> pa.Table:
    ids = np.arange(DIM_ROWS, dtype=np.int64)
    return pa.table(
        {
            "dim_id": ids,
            "region": hcol(ids, seed, 21, REGIONS).astype(np.int32),
        }
    )


# -- ingest_cycle -------------------------------------------------------------

VAL_MOD = 1_000_000


def ingest_vals(ids: np.ndarray, seed: int, version: int) -> np.ndarray:
    """``val`` of row ``ids`` as written by version ``version`` (0 for the
    append, the merge cycle number for an update)."""
    return hcol(ids, seed, 100 + version, VAL_MOD)


def ingest_table(ids: np.ndarray, day: int | np.ndarray, vals: np.ndarray) -> pa.Table:
    days = np.broadcast_to(np.asarray(day, dtype=np.int32), ids.shape)
    return pa.table(
        {"id": ids.astype(np.int64), "day": days.astype(np.int32), "val": vals}
    )
