"""Independent answers for the output checks: DuckDB over the same
parquet files the program reads or wrote, compared order-insensitively."""

from __future__ import annotations

import datetime
import hashlib
import math

import duckdb


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if v is None:
        return "NULL"
    return str(v)


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) with columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for line in norm:
        h.update(line.encode())
    return len(norm), h.hexdigest()


def sql_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    return digest(list(rel.columns), rel.fetchall())


def warehouse_connection(wh: str) -> duckdb.DuckDBPyConnection:
    """Views over the warehouse tables the ETL loaders wrote."""
    con = duckdb.connect()
    for name in ("Cartera", "Pending_Orders"):
        con.execute(
            f"CREATE VIEW {name.lower()} AS SELECT * FROM read_parquet("
            f"'{wh}/{name}/fecha_carga=*/*.parquet', hive_partitioning=true)"
        )
    con.execute(f"CREATE VIEW ventas AS SELECT * FROM read_parquet('{wh}/Ventas_Totales/*.parquet')")
    con.execute(f"CREATE VIEW clientes AS SELECT * FROM read_parquet('{wh}/Clientes.parquet')")
    return con


def _cents(col: str) -> str:
    return f"SUM(CAST(ROUND({col}*100) AS BIGINT))"


#: DuckDB replays of the five dashboard reads (see workloads.READS).
DASHBOARD_SQL = {
    "latest_zone_totals": f"""
        SELECT id_zone, COUNT(*) AS n, {_cents('open_balance')}/100.0 AS total
        FROM cartera WHERE fecha_carga = (SELECT MAX(fecha_carga) FROM cartera)
        GROUP BY 1""",
    "snapshot_trend": f"""
        SELECT fecha_carga, COUNT(*) AS n, {_cents('open_balance')}/100.0 AS total
        FROM cartera GROUP BY 1""",
    "lag_day_over_day": f"""
        WITH top2 AS (SELECT DISTINCT fecha_carga FROM cartera ORDER BY 1 DESC LIMIT 2),
        per AS (
          SELECT id_cliente, fecha_carga, {_cents('open_balance')}/100.0 AS balance
          FROM cartera WHERE fecha_carga IN (SELECT fecha_carga FROM top2) GROUP BY 1, 2)
        SELECT id_cliente, fecha_carga, balance,
               LAG(balance) OVER w AS prev_balance,
               balance - LAG(balance) OVER w AS delta
        FROM per WINDOW w AS (PARTITION BY id_cliente ORDER BY fecha_carga)""",
    "client_zone_rollup": f"""
        SELECT c.nombre_cliente, c.id_zone, COUNT(*) AS n, {_cents('v.amount')}/100.0 AS total
        FROM ventas v JOIN clientes c ON v.id_cliente = c.id_cliente
        GROUP BY 1, 2""",
    "monthly_stats": f"""
        SELECT anio, mes, nombre_mes, COUNT(*) AS n, SUM(cantidad) AS cantidad,
               {_cents('amount_net')}/100.0 AS total
        FROM pending_orders
        WHERE fecha_carga = (SELECT MAX(fecha_carga) FROM pending_orders)
        GROUP BY 1, 2, 3""",
}


def snapshot_partitions(con, table: str, col: str) -> dict[datetime.date, tuple[int, int]]:
    """{snapshot date: (rows, exact cents of ``col``)}."""
    rows = con.sql(
        f"SELECT fecha_carga, COUNT(*), {_cents(col)} FROM {table} GROUP BY 1"
    ).fetchall()
    return {d: (n, int(c or 0)) for d, n, c in rows}
