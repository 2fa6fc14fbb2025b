"""The three benchmark workloads.

Each workload builds its tables from the seed (``build``), prepares the
expected answers outside any timed interval (``prepare``), and yields ops
(``ops``).  An op is ``(kind, fn, expected)``: the runner times ``fn()``,
then compares its result with ``expected``.  Package entry points are
called through their modules (``W.write_df``, ``IcebergTable(...)``) so
that the traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import random
import time
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

Op = tuple[str, Callable[[], Any], Any]


def dir_listing(path: str) -> dict[str, int]:
    """{file path: size} under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def latest_metadata_json_bytes(listing: dict[str, int]) -> int:
    """Size of the newest ``vN.metadata.json`` in a ``dir_listing``."""
    versions = {
        int(os.path.basename(p)[1:].split(".")[0]): s
        for p, s in listing.items()
        if os.path.basename(p).startswith("v") and p.endswith(".metadata.json")
    }
    return versions[max(versions)] if versions else 0


class Build:
    """What one table build measured."""

    def __init__(self) -> None:
        self.datagen_s = 0.0
        self.build_s = 0.0
        self.arrow_bytes = 0  # Arrow bytes of the rows submitted
        self.bytes_created = 0  # bytes of files created under the table dirs


class Workload:
    name = ""
    warmup_ops = 0  # fixed warm-up length, in ops (cycles if cyclic)
    cyclic = False  # ops come in cycles; the timed loop ends on a cycle end
    arrow_rows_bytes = 0

    def __init__(self, spark: Any, seed: int, params: dict[str, Any] | None = None):
        self.spark = spark
        self.seed = seed
        self.p = {**self.DEFAULTS, **(params or {})}

    def build(self, root: str) -> Build:
        raise NotImplementedError

    def prepare(self) -> None:
        """Expected answers; runs after the last build, untimed."""

    def ops(self) -> Iterator[Op]:
        raise NotImplementedError

    def table_dirs(self) -> list[str]:
        raise NotImplementedError

    def live_arrow_bytes(self) -> int:
        raise NotImplementedError


def _agg_count_sum(df: Any, col: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), F.sum(col)).collect()[0]
    return int(row[0]), int(row[1] or 0)


# -- plan_point ---------------------------------------------------------------


class PlanPoint(Workload):
    """Point queries against a many-commit table through a fresh handle."""

    name = "plan_point"
    DEFAULTS = {"commits": 150, "rows": 25}
    warmup_ops = 20

    SCHEMA = [
        {"id": 1, "name": "id", "type": "long", "required": False},
        {"id": 2, "name": "day", "type": "int", "required": False},
        {"id": 3, "name": "v", "type": "long", "required": False},
    ]
    SPEC = [{"name": "day", "transform": "identity", "source": "day"}]

    def build(self, root: str) -> Build:
        from daskberg_spark.iceberg import writer as W

        b = Build()
        self.path = os.path.join(root, "plan_point")
        rows = self.p["rows"]
        t0 = time.perf_counter()
        w = W.IcebergWriter(self.path, self.SCHEMA, self.SPEC)
        for c in range(self.p["commits"]):
            g0 = time.perf_counter()
            cols: dict[str, list] = {"id": [], "day": [], "v": []}
            for d in range(gen.PLAN_DAYS):
                blk = gen.plan_block(c * gen.PLAN_DAYS + d, rows, self.seed)
                for k in cols:
                    cols[k].append(blk[k])
            tbl = pa.table({k: np.concatenate(v) for k, v in cols.items()})
            batch = tbl.to_pylist()
            b.datagen_s += time.perf_counter() - g0
            w.append(batch)
            b.arrow_bytes += tbl.nbytes
        b.build_s = time.perf_counter() - t0 - b.datagen_s
        b.bytes_created = sum(dir_listing(self.path).values())
        return b

    def table_dirs(self) -> list[str]:
        return [self.path]

    def live_arrow_bytes(self) -> int:
        n = self.p["commits"] * gen.PLAN_DAYS * self.p["rows"]
        return n * (8 + 4 + 8)

    def ops(self) -> Iterator[Op]:
        from daskberg_spark.iceberg.metadata import IcebergTable

        rng = random.Random(self.seed)
        rows = self.p["rows"]
        path, spark = self.path, self.spark
        while True:
            block = rng.randrange(self.p["commits"] * gen.PLAN_DAYS)
            day = block % gen.PLAN_DAYS
            lo = block * rows + rng.randrange(-60, rows)
            filters = [("day", "==", day), ("id", ">=", lo), ("id", "<", lo + 100)]

            def fn(filters=filters):
                t = IcebergTable(path)
                return _agg_count_sum(t.to_df(spark, filters=filters), "v")

            yield "query", fn, gen.plan_expected(lo, lo + 100, day, rows, self.seed)


# -- scan_agg -----------------------------------------------------------------


class ScanAgg(Workload):
    """Scan-heavy analytic queries through one long-lived handle."""

    name = "scan_agg"
    DEFAULTS = {"rows": 1_000_000, "chunks": 2}
    warmup_ops = 15  # a multiple of the 3 shapes

    FACT_SCHEMA = [
        {"id": 1, "name": "id", "type": "long", "required": False},
        {"id": 2, "name": "month", "type": "int", "required": False},
        {"id": 3, "name": "cust", "type": "long", "required": False},
        {"id": 4, "name": "dim_id", "type": "long", "required": False},
        {"id": 5, "name": "qty", "type": "long", "required": False},
        {"id": 6, "name": "amount", "type": "long", "required": False},
    ]
    DIM_SCHEMA = [
        {"id": 1, "name": "dim_id", "type": "long", "required": False},
        {"id": 2, "name": "region", "type": "int", "required": False},
    ]
    # each shape draws its parameter from a set of 4; 3 shapes, equally
    # weighted, so neither p50 nor p90 sits on a boundary between shapes
    PARAMS = {
        "grouped": [1, 4, 7, 10],
        "join_topk": [12, 9, 6, 3],
        "distinct": [1, 3, 5, 7],
    }
    SQL = {
        "grouped": "SELECT month, count(*), sum(amount), sum(qty) FROM fact "
        "WHERE month >= {p} GROUP BY month ORDER BY month",
        "join_topk": "SELECT region, sum(amount) AS s FROM fact JOIN dim USING (dim_id) "
        "WHERE month <= {p} GROUP BY region ORDER BY s DESC, region LIMIT 10",
        "distinct": "SELECT count(DISTINCT cust) FROM fact WHERE month >= {p} AND month <= {p} + 5",
    }

    def build(self, root: str) -> Build:
        from daskberg_spark.iceberg import writer as W

        b = Build()
        self.gen_dir = os.path.join(root, "gen")
        os.makedirs(self.gen_dir, exist_ok=True)
        self.fact_path = os.path.join(root, "fact")
        self.dim_path = os.path.join(root, "dim")
        n, chunks = self.p["rows"], self.p["chunks"]
        t0 = time.perf_counter()
        paths = []
        for i in range(chunks):
            tbl = gen.fact_table(i * n // chunks, (i + 1) * n // chunks, self.seed)
            p = os.path.join(self.gen_dir, f"fact-{i}.parquet")
            pq.write_table(tbl, p)
            paths.append((p, tbl.nbytes))
        dim = gen.dim_table(self.seed)
        dim_file = os.path.join(self.gen_dir, "dim.parquet")
        pq.write_table(dim, dim_file)
        b.datagen_s = time.perf_counter() - t0
        fw = W.IcebergWriter(
            self.fact_path,
            self.FACT_SCHEMA,
            [{"name": "month", "transform": "identity", "source": "month"}],
        )
        for p, nbytes in paths:
            W.write_df(fw, self.spark.read.parquet(p))
            b.arrow_bytes += nbytes
        dw = W.IcebergWriter(self.dim_path, self.DIM_SCHEMA)
        W.write_df(dw, self.spark.read.parquet(dim_file))
        b.arrow_bytes += dim.nbytes
        self.live_bytes = b.arrow_bytes
        b.build_s = time.perf_counter() - t0 - b.datagen_s
        b.bytes_created = sum(sum(dir_listing(d).values()) for d in self.table_dirs())
        return b

    def table_dirs(self) -> list[str]:
        return [self.fact_path, self.dim_path]

    def live_arrow_bytes(self) -> int:
        return self.live_bytes

    def prepare(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for view, pattern in (("fact", "fact-*.parquet"), ("dim", "dim.parquet")):
                src = os.path.join(self.gen_dir, pattern).replace("'", "''")
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{src}')")
            self.expected = {
                (shape, p): [
                    tuple(int(v) for v in r)
                    for r in con.execute(self.SQL[shape].format(p=p)).fetchall()
                ]
                for shape, ps in self.PARAMS.items()
                for p in ps
            }
        finally:
            con.close()

    def query(self, shape: str, p: int) -> list[tuple]:
        from pyspark.sql import functions as F

        fact = self.fact
        if shape == "grouped":
            df = (
                fact.to_df(self.spark, filters=[("month", ">=", p)])
                .groupBy("month")
                .agg(F.count(F.lit(1)), F.sum("amount"), F.sum("qty"))
                .orderBy("month")
            )
        elif shape == "join_topk":
            df = (
                fact.to_df(self.spark, filters=[("month", "<=", p)])
                .join(self.dim.to_df(self.spark), "dim_id")
                .groupBy("region")
                .agg(F.sum("amount").alias("s"))
                .orderBy(F.desc("s"), "region")
                .limit(10)
            )
        else:
            df = fact.to_df(
                self.spark, filters=[("month", ">=", p), ("month", "<=", p + 5)]
            ).agg(F.countDistinct("cust"))
        return [tuple(int(v) for v in r) for r in df.collect()]

    def ops(self) -> Iterator[Op]:
        from daskberg_spark.iceberg.metadata import IcebergTable

        # long-lived handles: repeated filters are served by the scan cache
        self.fact = IcebergTable(self.fact_path)
        self.dim = IcebergTable(self.dim_path)
        shapes = list(self.PARAMS)
        i = 0
        while True:
            shape = shapes[i % len(shapes)]
            p = self.PARAMS[shape][(i // len(shapes)) % 4]
            i += 1
            yield "query", (lambda s=shape, p=p: self.query(s, p)), self.expected[(shape, p)]


# -- ingest_cycle -------------------------------------------------------------


class Model:
    """Live rows of the ingest table, per day: sorted ids, vals, live mask."""

    def __init__(self) -> None:
        self.days: dict[int, list[np.ndarray]] = {}

    def append(self, day: int, ids: np.ndarray, vals: np.ndarray) -> None:
        if day in self.days:
            i, v, l = self.days[day]
            self.days[day] = [
                np.concatenate([i, ids]),
                np.concatenate([v, vals]),
                np.concatenate([l, np.ones(ids.size, bool)]),
            ]
        else:
            self.days[day] = [ids.copy(), vals.copy(), np.ones(ids.size, bool)]

    def update(self, day: int, ids: np.ndarray, vals: np.ndarray) -> None:
        i, v, _l = self.days[day]
        pos = np.searchsorted(i, ids)
        v[pos] = vals

    def delete_where(self, day: int, val_below: int) -> None:
        _i, v, l = self.days[day]
        l &= ~(v < val_below)

    def drop(self, day: int) -> None:
        del self.days[day]

    def live(self, day: int) -> tuple[np.ndarray, np.ndarray]:
        i, v, l = self.days[day]
        return i[l], v[l]

    def count_sum(self, days: list[int]) -> tuple[int, int]:
        n = s = 0
        for d in days:
            _i, v = self.live(d)
            n += v.size
            s += int(v.sum())
        return n, s

    def rows(self) -> int:
        return sum(int(l.sum()) for _i, _v, l in self.days.values())


class IngestCycle(Workload):
    """Rolling-window ingest: appends, MOR merge, DV delete, partition drop
    and maintenance, with reads after each write."""

    name = "ingest_cycle"
    DEFAULTS = {
        "window": 4,
        "batches": 4,
        "batch_rows": 10_000,
        "merge_keys": 500,
        "merge_inserts": 125,
        "delete_below": 100_000,  # partial delete: val < this (~10% of a day)
    }
    warmup_ops = 1
    cyclic = True

    SCHEMA = [
        {"id": 1, "name": "id", "type": "long", "required": False},
        {"id": 2, "name": "day", "type": "int", "required": False},
        {"id": 3, "name": "val", "type": "long", "required": False},
    ]
    SPEC = [{"name": "day", "transform": "identity", "source": "day"}]
    INSERT_BASE = 1 << 40  # ids of rows a merge inserts

    def build(self, root: str) -> Build:
        from daskberg_spark.iceberg import writer as W
        from daskberg_spark.iceberg.quantiles import write_quantile_statistics

        b = Build()
        self.path = os.path.join(root, "ingest")
        self.model = Model()
        self.next_insert = self.INSERT_BASE
        self.arrow_rows_bytes = 0
        t0 = time.perf_counter()
        # the first window in one append: a day's worth of rows per day
        per_day = self.p["batches"] * self.p["batch_rows"]
        days = np.repeat(np.arange(self.p["window"], dtype=np.int32), per_day)
        ids = np.arange(days.size, dtype=np.int64)
        self.next_id = days.size
        vals = gen.ingest_vals(ids, self.seed, 0)
        tbl = gen.ingest_table(ids, days, vals)
        df = self.spark.createDataFrame(tbl)
        b.datagen_s = time.perf_counter() - t0
        self.w = W.IcebergWriter(self.path, self.SCHEMA, self.SPEC)
        W.write_df(self.w, df)
        for day in range(self.p["window"]):
            m = days == day
            self.model.append(day, ids[m], vals[m])
        b.arrow_bytes += tbl.nbytes
        # opt in to theta (NDV) and quantile statistics, so maintain()
        # runs their incremental refresh every cycle
        W.write_table_statistics(self.w, self.spark)
        write_quantile_statistics(self.w, self.spark, columns=["val"])
        b.build_s = time.perf_counter() - t0 - b.datagen_s
        b.bytes_created = sum(dir_listing(self.path).values())
        self.day = self.p["window"]
        self.trajectory: list[dict[str, Any]] = []
        return b

    def table_dirs(self) -> list[str]:
        return [self.path]

    def live_arrow_bytes(self) -> int:
        return self.model.rows() * (8 + 4 + 8)

    def _read(self, days: list[int]) -> Op:
        from daskberg_spark.iceberg.metadata import IcebergTable

        if len(days) == 1:
            filters = [("day", "==", days[0])]
        else:
            filters = [("day", ">=", min(days)), ("day", "<=", max(days))]

        def fn():
            t = IcebergTable(self.path)
            return _agg_count_sum(t.to_df(self.spark, filters=filters), "val")

        return "query", fn, self.model.count_sum(days)

    def cycle(self) -> Iterator[Op]:
        """One day of the rolling window.  Each op's expected value is
        computed from the model before the op runs; the model is advanced
        after it."""
        from daskberg_spark.iceberg import writer as W

        p, spark, w = self.p, self.spark, self.w
        day = self.day
        rng = np.random.default_rng([self.seed, day])
        for _ in range(p["batches"]):
            ids = np.arange(self.next_id, self.next_id + p["batch_rows"], dtype=np.int64)
            self.next_id += p["batch_rows"]
            vals = gen.ingest_vals(ids, self.seed, 0)
            tbl = gen.ingest_table(ids, day, vals)
            self.arrow_rows_bytes += tbl.nbytes
            df = spark.createDataFrame(tbl)
            yield "append", (lambda df=df: W.write_df(w, df)), None
            self.model.append(day, ids, vals)
            yield self._read([day])
        # MOR merge: update existing keys across the window, insert new ones
        n_upd = p["merge_keys"] - p["merge_inserts"]
        days = sorted(self.model.days)
        live = [(d, self.model.live(d)[0]) for d in days]
        all_ids = np.concatenate([ids for _d, ids in live])
        all_days = np.concatenate([np.full(ids.size, d, np.int32) for d, ids in live])
        pick = np.sort(rng.choice(all_ids.size, n_upd, replace=False))
        upd_ids, upd_days = all_ids[pick], all_days[pick]
        ins_ids = np.arange(self.next_insert, self.next_insert + p["merge_inserts"], dtype=np.int64)
        self.next_insert += p["merge_inserts"]
        ids = np.concatenate([upd_ids, ins_ids])
        dcol = np.concatenate([upd_days, np.full(ins_ids.size, day, np.int32)])
        vals = gen.ingest_vals(ids, self.seed, day)
        tbl = gen.ingest_table(ids, dcol, vals)
        self.arrow_rows_bytes += tbl.nbytes
        udf = spark.createDataFrame(tbl)
        yield "merge", (lambda: W.merge_rows_mor_spark(w, spark, udf, ["id"])), None
        for d in days:
            m = upd_days == d
            if m.any():
                self.model.update(d, upd_ids[m], vals[: upd_ids.size][m])
        self.model.append(day, ins_ids, vals[upd_ids.size:])
        yield self._read(days)
        # partial delete on yesterday's partition: deletion vectors
        prev = day - 1
        filt = [("day", "==", prev), ("val", "<", p["delete_below"])]
        yield "delete", (lambda: W.delete_where_fast(w, spark, filt)), None
        self.model.delete_where(prev, p["delete_below"])
        yield self._read([prev])
        # metadata-only drop of the oldest day
        oldest = day - p["window"]
        drop = [("day", "==", oldest)]
        yield "drop", (lambda: W.delete_where_fast(w, spark, drop)), None
        self.model.drop(oldest)
        # single writer, so the orphan sweep needs no age guard
        yield "maintain", (
            lambda: W.maintain(w, spark, keep_last=1, orphan_older_than_ms=None)
        ), None
        listing = dir_listing(self.path)
        self.trajectory.append(
            {
                "day": day,
                "files": len(listing),
                "bytes": sum(listing.values()),
                "live_rows": self.model.rows(),
                "live_arrow_bytes": self.live_arrow_bytes(),
            }
        )
        self.day += 1

    def ops(self) -> Iterator[Op]:
        while True:
            yield from self.cycle()
            yield "cycle_end", None, None


WORKLOADS = {w.name: w for w in (PlanPoint, ScanAgg, IngestCycle)}
