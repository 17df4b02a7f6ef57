"""Seeded input generator for the benchmark.

Everything the program reads is made here from ``--seed``: TPC-H-ish
``customer``/``orders``/``lineitem`` tables (same columns as the
engine's parquet test data), the ``Clientes`` dimension derived from
``customer``, and one day of raw exports per simulated business day — a
sales export for ``load_ventas`` sampled from ``lineitem`` ⋈ ``orders``,
and the two junk-framed snapshot exports for ``clean_cartera`` /
``clean_pending_orders``.

The generator also records, per day, what a correct load must produce
(rows inserted, snapshot row counts and exact-cent totals), so the
checks never consult the program under test. The same seed always gives
byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

EPOCH = dt.date(1995, 1, 1)
FIRST_BUSINESS_DAY = dt.date(2024, 1, 1)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Sales-export headers (the source system's names; ventas_totales.py).
VENTAS_HEADER = [
    "Company Name", "Date", "Document Number", "Type", "Item", "Description",
    "Class", "Quantity", "UOM", "Amount", "Created From", "Status",
]
# Snapshot-export headers carry trailing spaces, as the real exports do.
CARTERA_HEADER = [
    "Zones for Financial Reporting ", "Customer:Project ", "Transaction Type ",
    "Date ", "Document Number ", "Due Date ", "Open Balance ", "P.O. No. ", "Age ",
]
PENDING_HEADER = [
    "Customer ", "Amount (Net) ", "Document Number ", "Date ", "Class Item ",
    "Quantity ",
]
PENDING_STATUS = ["Validated Status ", "Status "]  # alternates by day

#: cartera's e-commerce rewrite: zone (with client "Ecommerce") -> client
ECOMMERCE = {"Walmart": "Walmart Ecommerce", "Amazon": "Amazon"}

#: share of a sales export's lines redelivered from earlier days
REDELIVERED_SHARE = 0.15
#: share of export rows naming a client the ``Clientes`` dimension lacks
UNMAPPED_SHARE = 0.02


@dataclass
class Scale:
    """Sizes. ``sf`` is TPC-H's scale factor for the base tables; the
    rest are per simulated business day."""

    sf: float = 0.01
    ventas_orders_per_day: int = 1200
    cartera_rows_per_day: int = 3000
    pending_rows_per_day: int = 2000


@dataclass
class DayExpect:
    """What a correct load of one day's exports produces."""

    date: dt.date
    ventas_rows: int = 0
    ventas_bytes: int = 0
    ventas_new_mapped: int = 0
    cartera_rows: int = 0
    cartera_bytes: int = 0
    cartera_mapped: int = 0
    cartera_cents: int = 0
    pending_rows: int = 0
    pending_bytes: int = 0
    pending_mapped: int = 0
    pending_cents: int = 0
    paths: dict = field(default_factory=dict)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per purpose."""
    return np.random.default_rng([seed, sum(ord(c) * 31**i for i, c in enumerate(stream)) % 2**32])


def _money(cents: np.ndarray) -> np.ndarray:
    return np.round(cents / 100.0, 2)


def base_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """The TPC-H-ish ``customer``, ``orders`` and ``lineitem`` tables the
    exports are sampled from (same columns as the engine's test data)."""
    rng = _rng(seed, "base")
    n_cust = max(int(150_000 * scale.sf), 30)
    n_part = max(int(200_000 * scale.sf), 50)
    n_supp = max(int(10_000 * scale.sf), 10)
    n_ord = max(int(1_500_000 * scale.sf), 300)

    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.integers(-99_999, 999_999, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.integers(100_000, 50_000_000, n_ord)),
        "o_orderdate": pa.array((np.datetime64(EPOCH) + odays.astype("timedelta64[D]")).astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    n_lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(ok, n_lines)
    starts = np.cumsum(n_lines) - n_lines
    l_line = (np.arange(len(l_order)) - np.repeat(starts, n_lines) + 1).astype(np.int32)
    l_part = (np.repeat(rng.integers(0, n_part, n_ord), n_lines) + l_line) % n_part  # distinct within an order
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    retail = 900.0 + (l_part % 1000) / 10.0
    ship = np.repeat(odays, n_lines) + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((np.datetime64(EPOCH) + ship.astype("timedelta64[D]")).astype("datetime64[us]")),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


# ---------------------------------------------------------------------------
# ETL exports
# ---------------------------------------------------------------------------

def clientes_table(customer: pa.Table) -> pa.Table:
    """The ``Clientes`` dimension: one row per customer plus the two
    e-commerce accounts the cartera rewrite maps to. Every 37th client
    has no zone, which exercises the pending-orders default zone."""
    keys = customer.column("c_custkey").to_numpy()
    nation = customer.column("c_nationkey").to_numpy()
    n = len(keys)
    zone = [None if k % 37 == 0 else int(z % 6 + 1) for k, z in zip(keys, nation)]
    return pa.table({
        "id_cliente": pa.array(list(keys + 1) + [n + 1, n + 2], pa.int32()),
        "nombre_cliente": customer.column("c_name").to_pylist() + list(ECOMMERCE.values()),
        "id_zone": pa.array(zone + [7, 7], pa.int32()),
    })


def _variant_ventas(rng, name: str) -> str:
    """Case / outer-whitespace variants (the sales loader lower-trims)."""
    r = rng.integers(0, 4)
    return [name, name.upper(), name.lower(), f"  {name} "][r]


def _variant_snapshot(rng, name: str) -> str:
    """Variants that ``clean_customer_name`` folds back together."""
    r = rng.integers(0, 5)
    return [name, name.upper(), f"{name}. ", name.replace("#", "-#"), f" {name.lower()},"][r]


def _csv_text(rows: list[list[str]]) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerows(rows)
    return buf.getvalue()


def _accounting(cents: int) -> str:
    """'$1,234.56' / '($1,234.56)' as the A/R report prints money."""
    s = f"${abs(cents) / 100:,.2f}"
    return f"({s})" if cents < 0 else s


class ExportGenerator:
    """Writes one day of exports at a time and records expectations."""

    def __init__(self, seed: int, scale: Scale, tables: dict[str, pa.Table], out_dir: str):
        self.seed = seed
        self.scale = scale
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.names = tables["customer"].column("c_name").to_pylist()
        orders = tables["orders"]
        li = tables["lineitem"]
        self.o_cust = orders.column("o_custkey").to_numpy()
        self.l_order = li.column("l_orderkey").to_numpy()
        self.l_part = li.column("l_partkey").to_numpy()
        self.l_qty = li.column("l_quantity").to_numpy()
        self.l_price = li.column("l_extendedprice").to_numpy()
        self.line_start = np.searchsorted(self.l_order, np.arange(len(self.o_cust) + 1))
        self.delivered: list[tuple[list[str], bool]] = []  # (row, mapped)

    def day(self, d: int) -> DayExpect:
        date = FIRST_BUSINESS_DAY + dt.timedelta(days=d)
        exp = DayExpect(date=date)
        self._ventas(d, exp)
        self._cartera(d, exp)
        self._pending(d, exp)
        return exp

    def _write(self, name: str, text: str) -> tuple[str, int]:
        path = os.path.join(self.out_dir, name)
        with open(path, "w", newline="") as f:
            f.write(text)
        return path, len(text.encode())

    def _ventas(self, d: int, exp: DayExpect) -> None:
        sc = self.scale
        rng = _rng(self.seed, f"ventas{d}")
        per = sc.ventas_orders_per_day
        o_lo = (d * per) % max(len(self.o_cust) - per, 1)
        fresh: list[tuple[list[str], bool]] = []
        date_s = f"{exp.date.month}/{exp.date.day}/{exp.date.year}"
        for o in range(o_lo, o_lo + per):
            mapped = rng.random() >= UNMAPPED_SHARE
            name = (
                _variant_ventas(rng, self.names[self.o_cust[o]])
                if mapped else f"Cliente Nuevo {int(rng.integers(0, 10**6))}"
            )
            for i in range(self.line_start[o], self.line_start[o + 1]):
                cents = int(round(self.l_price[i] * 100))
                r = rng.random()
                if r < 0.01:
                    amount = "N/A"
                elif r < 0.3:
                    amount = f"{cents / 100:,.2f}"
                else:
                    amount = f"{cents / 100:.2f}"
                fresh.append(([
                    name, date_s, f" SO{o:08d} ", "Invoice", str(int(self.l_part[i])),
                    f"Producto {int(self.l_part[i]) % 97}", f"Clase {int(self.l_part[i]) % 7}",
                    str(int(self.l_qty[i])), "EA", amount,
                    "" if r < 0.5 else f"PO{o:06d}", "Billed",
                ], mapped))
        n_redeliver = min(int(len(fresh) * REDELIVERED_SHARE), len(self.delivered))
        idx = rng.choice(len(self.delivered), n_redeliver, replace=False) if n_redeliver else []
        rows = fresh + [self.delivered[i] for i in idx]
        order = rng.permutation(len(rows))
        body = [rows[i][0] for i in order]
        exp.ventas_rows = len(body)
        exp.ventas_new_mapped = sum(m for _, m in fresh)
        exp.paths["ventas"], exp.ventas_bytes = self._write(
            f"ventas_{d:03d}.csv", _csv_text([VENTAS_HEADER] + body)
        )
        self.delivered.extend(fresh)

    def _snapshot_name(self, rng) -> tuple[str, bool]:
        r = rng.random()
        if r < UNMAPPED_SHARE:
            return f"Prospecto {int(rng.integers(0, 10**6))}", False
        if r < UNMAPPED_SHARE + 0.005:
            return "- no customer/project -", False
        return _variant_snapshot(rng, self.names[int(rng.integers(0, len(self.names)))]), True

    def _cartera(self, d: int, exp: DayExpect) -> None:
        rng = _rng(self.seed, f"cartera{d}")
        n = self.scale.cartera_rows_per_day
        body, mapped, cents_sum = [], 0, 0
        for i in range(n):
            if rng.random() < 0.02:
                zona = list(ECOMMERCE)[int(rng.integers(0, 2))]
                name, ok = "Ecommerce", True
            else:
                zona = f"Zone {int(rng.integers(1, 7))}"
                name, ok = self._snapshot_name(rng)
            cents = int(rng.integers(-500_000, 5_000_000))
            r = rng.random()
            if r < 0.01:
                money, cents = "-", 0  # junk cell parses to the 0 default
            elif r < 0.5:
                money = _accounting(cents)
            else:
                money = f"{cents / 100:.2f}"
            inv = FIRST_BUSINESS_DAY - dt.timedelta(days=int(rng.integers(0, 120)))
            due = inv + dt.timedelta(days=30)
            body.append([
                zona, name, "Invoice", f"{inv.month}/{inv.day}/{inv.year}",
                f"INV{d:03d}{i:06d}", due.isoformat() if rng.random() < 0.97 else "TBD",
                money, f"PO{i}", str(int(rng.integers(0, 120))),
            ])
            if ok:
                mapped += 1
                cents_sum += cents
        total = f"Total,,,,,,{_accounting(cents_sum)},,"
        preamble = [
            "Ricky Joy S.A.", "A/R Aging Detail", f"As of {exp.date.isoformat()}",
            "All Customers", "Accrual Basis", "",
        ]
        text = "\n".join(preamble) + "\n" + _csv_text([CARTERA_HEADER] + body) + total + "\n"
        exp.cartera_rows, exp.cartera_mapped, exp.cartera_cents = n, mapped, cents_sum
        exp.paths["cartera"], exp.cartera_bytes = self._write(f"cartera_{d:03d}.csv", text)

    def _pending(self, d: int, exp: DayExpect) -> None:
        rng = _rng(self.seed, f"pending{d}")
        n = self.scale.pending_rows_per_day
        body, mapped, cents_sum = [], 0, 0
        for i in range(n):
            name, ok = self._snapshot_name(rng)
            cents = int(rng.integers(100, 2_000_000))
            money = f"${cents / 100:,.2f}" if rng.random() < 0.5 else f"{cents / 100:.2f}"
            date = FIRST_BUSINESS_DAY - dt.timedelta(days=int(rng.integers(0, 60)))
            qty = int(rng.integers(1, 5000))
            body.append([
                name, money, f"SO-{d:03d}-{i:06d}" + ("-BACKORDER-SPLIT" if i % 50 == 0 else ""),
                f"{date.month}/{date.day}/{date.year}" if rng.random() < 0.98 else "pending",
                "" if rng.random() < 0.05 else f"Clase {i % 7}",
                f"{qty:,}", "Pending Fulfillment",
            ])
            if ok:
                mapped += 1
                cents_sum += cents
        header = PENDING_HEADER + [PENDING_STATUS[d % 2]]
        preamble = [
            "Ricky Joy S.A.", "Sales Orders Pending Fulfillment", f"As of {exp.date.isoformat()}",
            "All Orders", "", "",
        ]
        text = "\n".join(preamble) + "\n" + _csv_text([header] + body) + "Total,,,,,,\n"
        exp.pending_rows, exp.pending_mapped, exp.pending_cents = n, mapped, cents_sum
        exp.paths["pending"], exp.pending_bytes = self._write(f"pending_{d:03d}.csv", text)
