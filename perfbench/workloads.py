"""The workloads. Each one owns its set-up (input generation and
warm-up, timed as ``setup_s``), yields its operations one cycle at a
time for the closed loop in ``run.py``, and checks outputs afterwards.

Every call into the engine goes through its public modules: ``session``,
``sources``, ``pipelines``, ``operators`` and ``sinks``.
In a traced run the same calls are wrapped in spans, and lazy frames are
materialized prefix by prefix through the noop sink so each layer's self
time is the difference between consecutive prefixes.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle
from harness import Results, Tracer, median, noop

from etl_rj_spark.operators import anti_join_new_rows, dim_lookup, distinct_topk, money_sum
from etl_rj_spark.operators.windows import with_lag_delta
from etl_rj_spark.pipelines import clean_cartera, clean_pending_orders, clean_ventas
from etl_rj_spark.pipelines.ventas import VENTAS_DEDUP_KEYS, load_ventas, read_sales_export
from etl_rj_spark.sinks import append_incremental, append_snapshot
from etl_rj_spark.sinks.snapshot import read_latest_snapshot
from etl_rj_spark.sources import read_parquet_table
from etl_rj_spark.sources.trimmed_csv import read_csv_trimmed

#: Sizes per preset. ``tiny`` is for the harness smoke test only.
#: ``cycle_s`` is a cycle's nominal time on a quiet 4-vCPU host; a run
#: times ``round(--seconds / cycle_s)`` cycles, whatever they take.
SCALES = {
    "bench": {
        "etl": gen.Scale(sf=0.1),
        "warmup_days": 3,
        "warehouse_days": 3,
        "cycle_s": {"nightly_load": 2.4, "dashboard": 1.5},
    },
    "tiny": {
        "etl": gen.Scale(sf=0.001, ventas_orders_per_day=40, cartera_rows_per_day=60,
                         pending_rows_per_day=40),
        "warmup_days": 1,
        "warehouse_days": 2,
        "cycle_s": {"nightly_load": 1.0, "dashboard": 1.0},
    },
}


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's side files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


@dataclass
class Op:
    """One closed-loop request. ``run()`` and ``traced(tracer)`` do the
    same work, the second with spans; both raise on failure."""

    kind: str
    run: Callable[[], None]
    traced: Callable[[Tracer], None]
    input_rows: int


# ---------------------------------------------------------------------------
# nightly_load
# ---------------------------------------------------------------------------

class Warehouse:
    """The three loaders of one business day, writing one warehouse."""

    def __init__(self, spark, work: str, seed: int, scale: gen.Scale):
        self.spark = spark
        self.wh = os.path.join(work, "warehouse")
        os.makedirs(self.wh, exist_ok=True)
        tables = gen.base_tables(seed, scale)
        self.clientes = os.path.join(self.wh, "Clientes.parquet")
        pq.write_table(gen.clientes_table(tables["customer"]), self.clientes)
        self.exports = gen.ExportGenerator(seed, scale, tables, os.path.join(work, "exports"))
        self.ventas = os.path.join(self.wh, "Ventas_Totales")
        self.cartera = os.path.join(self.wh, "Cartera")
        self.pending = os.path.join(self.wh, "Pending_Orders")
        self.days: list[gen.DayExpect] = []
        self.inserted: dict[int, int] = {}
        self.snapshots: set[tuple[str, dt.date]] = set()  # (export, date) loaded
        self.layer: dict[str, list[float]] = {}

    def next_day(self) -> gen.DayExpect:
        exp = self.exports.day(len(self.days))
        self.days.append(exp)
        return exp

    def day_ops(self, exp: gen.DayExpect) -> list[Op]:
        d = len(self.days) - 1
        return [
            Op("load.ventas", lambda: self._ventas(d, exp), lambda t: self._ventas_traced(t, d, exp),
               input_rows=exp.ventas_rows),
            Op("load.cartera", lambda: self._cartera(exp), lambda t: self._snapshot_traced(t, exp, "cartera"),
               input_rows=exp.cartera_rows),
            Op("load.pending", lambda: self._pending(exp), lambda t: self._snapshot_traced(t, exp, "pending"),
               input_rows=exp.pending_rows),
        ]

    def _dim(self):
        return read_parquet_table(self.spark, self.clientes)

    # untraced: the reference's loaders, end to end
    def _ventas(self, d: int, exp: gen.DayExpect) -> None:
        inserted, _unmapped = load_ventas(
            self.spark, read_sales_export(self.spark, exp.paths["ventas"]), self._dim(), self.ventas
        )
        self.inserted[d] = inserted

    def _cartera(self, exp: gen.DayExpect) -> None:
        rows, _unmapped = clean_cartera(read_csv_trimmed(self.spark, exp.paths["cartera"]), self._dim())
        append_snapshot(rows, self.cartera, snapshot_date=exp.date)
        self.snapshots.add(("cartera", exp.date))

    def _pending(self, exp: gen.DayExpect) -> None:
        rows, _unmapped = clean_pending_orders(read_csv_trimmed(self.spark, exp.paths["pending"]), self._dim())
        append_snapshot(rows, self.pending, snapshot_date=exp.date)
        self.snapshots.add(("pending", exp.date))

    # traced: same calls, prefixes materialized for per-layer self time
    def _note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def _timed(self, tracer: Tracer, name: str, fn):
        """A layer call the untraced load makes too, timed directly."""
        with tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
        return out, time.perf_counter() - t0

    def _prefix(self, tracer: Tracer, name: str, df) -> float:
        """Materialize a lazy prefix through the noop sink; its jobs are
        the tracer's, not the operation's."""
        with tracer.aside():
            return self._timed(tracer, name, lambda: noop(df))[1]

    def _read_prefix(self, tracer, reader, rows, nbytes):
        raw, probe = self._timed(tracer, "sources.header_probe", reader)
        t_read = self._prefix(tracer, "sources.read", raw)
        self._note("sources.header_probe_s", probe)
        self._note("sources.read_s", t_read)
        self._note("sources.rows_read", rows)
        self._note("sources.bytes_read", nbytes)
        return raw, t_read

    def _clean_prefix(self, tracer, raw, cleaner, t_read, rows_read):
        (clean, _unmapped), _ = self._timed(tracer, "pipelines.clean.build", lambda: cleaner(raw, self._dim()))
        t_clean = self._prefix(tracer, "pipelines.clean", clean)
        with tracer.aside():
            valid = clean.count()
        self._note("pipelines.clean_s", t_clean - t_read)
        self._note("pipelines.rows_valid", valid)
        self._note("pipelines.rows_unmapped", rows_read - valid)
        return clean, t_clean, valid

    def _ventas_traced(self, tracer: Tracer, d: int, exp: gen.DayExpect) -> None:
        path = exp.paths["ventas"]
        raw, t_read = self._read_prefix(
            tracer, lambda: read_sales_export(self.spark, path), exp.ventas_rows, exp.ventas_bytes
        )
        facts, t_clean, valid = self._clean_prefix(tracer, raw, clean_ventas, t_read, exp.ventas_rows)
        existing = self.spark.read.parquet(self.ventas)
        with tracer.aside():
            self._note("operators.dedup.existing_keys", existing.count())
        new = anti_join_new_rows(facts, existing, VENTAS_DEDUP_KEYS, on_null_key="match")
        t_aj = self._prefix(tracer, "operators.dedup.anti_join", new)
        self._note("operators.dedup.anti_join_s", t_aj - t_clean)
        files0 = _dir_stats(self.ventas)
        inserted, t_app = self._timed(
            tracer, "sinks.incremental.append",
            lambda: append_incremental(self.spark, facts, self.ventas, VENTAS_DEDUP_KEYS, on_null_key="match"),
        )
        files1 = _dir_stats(self.ventas)
        self._note("sinks.incremental.append_s", t_app - t_aj)
        self._note("sinks.files_written", files1[0] - files0[0])
        self._note("sinks.bytes_written", files1[1] - files0[1])
        self._note("operators.dedup.inserted", inserted)
        self._note("operators.dedup.valid", valid)
        self.inserted[d] = inserted

    def _snapshot_traced(self, tracer: Tracer, exp: gen.DayExpect, which: str) -> None:
        path = exp.paths[which]
        rows = exp.cartera_rows if which == "cartera" else exp.pending_rows
        nbytes = exp.cartera_bytes if which == "cartera" else exp.pending_bytes
        cleaner = clean_cartera if which == "cartera" else clean_pending_orders
        sink = self.cartera if which == "cartera" else self.pending
        raw, t_read = self._read_prefix(tracer, lambda: read_csv_trimmed(self.spark, path), rows, nbytes)
        clean, t_clean, _valid = self._clean_prefix(tracer, raw, cleaner, t_read, rows)
        files0 = _dir_stats(sink)
        _, t_app = self._timed(
            tracer, "sinks.snapshot.append", lambda: append_snapshot(clean, sink, snapshot_date=exp.date)
        )
        files1 = _dir_stats(sink)
        self.snapshots.add((which, exp.date))
        self._note("sinks.snapshot.append_s", t_app - t_clean)
        self._note("sinks.files_written", files1[0] - files0[0])
        self._note("sinks.bytes_written", files1[1] - files0[1])

    # checks
    def check(self, res: Results, rerun_last: bool = True) -> None:
        for d, exp in enumerate(self.days):
            if d in self.inserted:
                res.check(self.inserted[d] == exp.ventas_new_mapped,
                          f"day {d}: inserted {self.inserted[d]} != {exp.ventas_new_mapped}")
        if rerun_last and self.inserted:
            d = max(self.inserted)
            again, _ = load_ventas(
                self.spark, read_sales_export(self.spark, self.days[d].paths["ventas"]), self._dim(), self.ventas
            )
            res.check(again == 0, f"re-running day {d}'s sales export inserted {again}")
        con = oracle.warehouse_connection(self.wh)
        for table, col, field in (("cartera", "open_balance", "cartera"), ("pending_orders", "amount_net", "pending")):
            parts = oracle.snapshot_partitions(con, table, col)
            for exp in self.days:
                if (field, exp.date) not in self.snapshots:
                    continue  # its load raised, already counted as a failure
                want = (getattr(exp, f"{field}_mapped"), getattr(exp, f"{field}_cents"))
                got = parts.get(exp.date, (0, 0))
                res.check(got == want, f"{table} {exp.date}: got {got}, want {want}")

    def load_layer_metrics(self) -> dict[str, float]:
        """Per-load medians of the traced loads' times, means of counts."""
        L = self.layer
        out = {k: median(v) for k, v in L.items() if k.endswith("_s")}
        for k in ("sources.rows_read", "sources.bytes_read", "pipelines.rows_valid",
                  "pipelines.rows_unmapped", "operators.dedup.existing_keys",
                  "sinks.files_written", "sinks.bytes_written"):
            if L.get(k):
                out[k] = sum(L[k]) / len(L[k])
        if L.get("operators.dedup.valid"):
            out["operators.dedup.useful_ratio"] = sum(L["operators.dedup.inserted"]) / max(
                sum(L["operators.dedup.valid"]), 1)
        return out

    def size_metrics(self) -> dict[str, float]:
        """Data files in the three fact tables, and their bytes per byte
        of every export loaded so far."""
        stats = [_dir_stats(p) for p in (self.ventas, self.cartera, self.pending)]
        in_bytes = sum(e.ventas_bytes + e.cartera_bytes + e.pending_bytes for e in self.days)
        return {
            "sinks.table_files": sum(f for f, _ in stats),
            "sinks.bytes_per_input_byte": sum(b for _, b in stats) / in_bytes,
        }


class NightlyLoad:
    """Writes only: one client runs the three daily loaders, day after
    day, against a warehouse that keeps growing."""

    name = "nightly_load"

    def __init__(self, spark, work: str, seed: int, preset: dict):
        self.spark = spark
        self.wh = Warehouse(spark, work, seed, preset["etl"])
        self.warmup_days = preset["warmup_days"]
        self.cycle_s = preset["cycle_s"][self.name]

    def warm_up(self) -> None:
        for _ in range(self.warmup_days):
            for op in self.wh.day_ops(self.wh.next_day()):
                op.run()

    def cycle(self) -> list[Op]:
        return self.wh.day_ops(self.wh.next_day())

    def tamper(self) -> None:
        self.wh.days[0].cartera_cents += 1

    def check(self, res: Results) -> None:
        self.wh.check(res)

    def layer_metrics(self) -> dict[str, float]:
        return {**self.wh.load_layer_metrics(), **self.wh.size_metrics()}

    def other_layers(self, tracer: Tracer) -> dict[str, float]:
        """The read-side layers, which this workload never calls: one
        traced round of the five reads over this warehouse, cold."""
        layer: dict[str, list[float]] = {}
        for name in READS:
            with tracer.op(f"read.{name}"):
                traced_read(self.spark, self.wh.wh, tracer, name, layer)
        return {k: median(v) for k, v in layer.items()}


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

def _read_latest_zone_totals(spark, wh, tracer=None):
    snap = _latest(spark, f"{wh}/Cartera", tracer)
    return snap.groupBy("id_zone").agg(
        F.count("*").alias("n"), money_sum("open_balance").alias("total"))


def _read_snapshot_trend(spark, wh, tracer=None):
    c = read_parquet_table(spark, f"{wh}/Cartera")
    return c.groupBy("fecha_carga").agg(
        F.count("*").alias("n"), money_sum("open_balance").alias("total")
    ).orderBy(F.desc("fecha_carga"))


def _read_lag_day_over_day(spark, wh, tracer=None):
    c = read_parquet_table(spark, f"{wh}/Cartera")
    top2 = distinct_topk(c, "fecha_carga", 2)
    per = c.join(F.broadcast(top2), "fecha_carga").groupBy("id_cliente", "fecha_carga").agg(
        money_sum("open_balance").alias("balance"))
    return with_lag_delta(per, ["id_cliente"], ["fecha_carga"], "balance",
                          prev_name="prev_balance", delta_name="delta")


def _read_client_zone_rollup(spark, wh, tracer=None):
    v = read_parquet_table(spark, f"{wh}/Ventas_Totales")
    c = read_parquet_table(spark, f"{wh}/Clientes.parquet")
    j = dim_lookup(v, c, "id_cliente", how="inner")
    return j.groupBy("nombre_cliente", "id_zone").agg(
        F.count("*").alias("n"), money_sum("amount").alias("total")
    ).orderBy(F.desc("total"), "nombre_cliente")


def _read_monthly_stats(spark, wh, tracer=None):
    p = _latest(spark, f"{wh}/Pending_Orders", tracer)
    return p.groupBy("anio", "mes", "nombre_mes").agg(
        F.count("*").alias("n"), F.sum("cantidad").alias("cantidad"),
        money_sum("amount_net").alias("total"),
    ).orderBy("anio", "mes")


def _latest(spark, path, tracer):
    if tracer is None:
        return read_latest_snapshot(spark, path)
    with tracer.span("sinks.snapshot.latest_probe"):
        return read_latest_snapshot(spark, path)


READS = {
    "latest_zone_totals": _read_latest_zone_totals,
    "snapshot_trend": _read_snapshot_trend,
    "lag_day_over_day": _read_lag_day_over_day,
    "client_zone_rollup": _read_client_zone_rollup,
    "monthly_stats": _read_monthly_stats,
}


def traced_read(spark, wh: str, tracer: Tracer, name: str, layer: dict[str, list[float]]):
    """One read with spans: build and physical plan, then collect.
    Returns (columns, rows)."""
    t0 = time.perf_counter()
    with tracer.span("analytics.plan"):
        df = READS[name](spark, wh, tracer)
        df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    with tracer.span("analytics.exec"):
        rows = df.collect()
    t2 = time.perf_counter()
    layer.setdefault("analytics.plan_s", []).append(t1 - t0)
    layer.setdefault("analytics.exec_s", []).append(t2 - t1)
    layer.setdefault(f"dashboard.{name}_s", []).append(t2 - t0)
    layer.setdefault("sinks.snapshot.latest_probe_s", []).extend(
        tracer.in_current_op("sinks.snapshot.latest_probe"))
    return df.columns, rows


class Dashboard:
    """Reads only: one analyst issues the five analysis reads, in a
    seeded order, over the warehouse the loaders built during set-up,
    collecting each result into this process."""

    name = "dashboard"

    def __init__(self, spark, work: str, seed: int, preset: dict):
        self.spark = spark
        self.rng = random.Random(seed)
        self.wh = Warehouse(spark, work, seed, preset["etl"])
        self.days = preset["warehouse_days"]
        self.cycle_s = preset["cycle_s"][self.name]
        self.results: list[tuple[str, list[str], list]] = []  # checked after the run
        self.layer: dict[str, list[float]] = {}
        self.input_rows: dict[str, int] = {}

    def warm_up(self) -> None:
        for _ in range(self.days):
            for op in self.wh.day_ops(self.wh.next_day()):
                op.run()
        self._count_inputs()
        for _ in range(2):
            for name in READS:
                READS[name](self.spark, self.wh.wh).collect()

    def _count_inputs(self) -> None:
        def rows(path):
            if os.path.isfile(path):
                return pq.ParquetFile(path).metadata.num_rows
            return sum(pq.ParquetFile(os.path.join(r, n)).metadata.num_rows
                       for r, _d, ns in os.walk(path) for n in ns
                       if n.endswith(".parquet") and "_schema" not in r)

        parts = sorted(os.listdir(self.wh.cartera))
        parts = [p for p in parts if p.startswith("fecha_carga=")]
        last = [rows(os.path.join(self.wh.cartera, p)) for p in parts[-2:]]
        pend = sorted(p for p in os.listdir(self.wh.pending) if p.startswith("fecha_carga="))
        self.input_rows = {
            "latest_zone_totals": last[-1],
            "snapshot_trend": rows(self.wh.cartera),
            "lag_day_over_day": sum(last),
            "client_zone_rollup": rows(self.wh.ventas) + rows(self.wh.clientes),
            "monthly_stats": rows(os.path.join(self.wh.pending, pend[-1])),
        }

    def cycle(self) -> list[Op]:
        names = list(READS)
        self.rng.shuffle(names)
        return [
            Op(f"read.{n}", (lambda n=n: self._run(n)), (lambda t, n=n: self._traced(t, n)),
               input_rows=self.input_rows[n])
            for n in names
        ]

    def _run(self, name: str) -> None:
        df = READS[name](self.spark, self.wh.wh)
        self.results.append((name, df.columns, df.collect()))

    def _traced(self, tracer: Tracer, name: str) -> None:
        self.results.append((name, *traced_read(self.spark, self.wh.wh, tracer, name, self.layer)))

    def other_layers(self, tracer: Tracer) -> dict[str, float]:
        """The load-side layers, which this workload only calls in
        set-up: one more business day loaded traced, after the checks."""
        for op in self.wh.day_ops(self.wh.next_day()):
            with tracer.op(op.kind):
                op.traced(tracer)
        return self.wh.load_layer_metrics()

    def tamper(self) -> None:
        """Alter one value of one collected result, so the DuckDB replay
        check itself must catch it."""
        i = next(i for i, (_n, _c, rows) in enumerate(self.results) if rows)
        name, columns, rows = self.results[i]
        first = list(rows[0])
        first[-1] = "tampered"
        self.results[i] = (name, columns, [tuple(first), *rows[1:]])

    def check(self, res: Results) -> None:
        self.wh.check(res, rerun_last=False)
        con = oracle.warehouse_connection(self.wh.wh)
        want = {n: oracle.sql_digest(con, sql) for n, sql in oracle.DASHBOARD_SQL.items()}
        for name, columns, rows in self.results:
            got = oracle.digest(columns, rows)
            res.check(got == want[name], f"{name}: {got} != DuckDB {want[name]}")

    def layer_metrics(self) -> dict[str, float]:
        out = {k: median(v) for k, v in self.layer.items()}
        out.update(self.wh.size_metrics())
        return out


WORKLOADS = {w.name: w for w in (NightlyLoad, Dashboard)}
