"""Output checks, run after the timed passes.

Lanes are checked against their registry DuckDB oracle with the graded
comparison (row count, sorted column names, order-insensitive value
hash from ``tools/check_correctness.py``). ETL batches are checked
against DuckDB's star join computed from the raw drop.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_correctness import TABLES, value_hash  # noqa: E402


def _duck(work: str, cpus: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {cpus}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    return con


def _lane(spark, builder, sf: str, con, sql: str) -> dict:
    df = builder(spark, sf)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    rec = {"rows": len(rows)}
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    rec["oracle_rows"] = len(orows)
    rec["ok"] = (len(rows) == len(orows) and sorted(cols) == sorted(ocols)
                 and value_hash(cols, rows) == value_hash(ocols, orows))
    return rec


def check_lanes(spark, builders, spec: dict, work: str) -> dict:
    from etl_orders_spark.plans.registry import oracle_map

    oracles = oracle_map()
    sf = os.path.join(work, "sf")
    con = _duck(work, spark.sparkContext.defaultParallelism)
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out: dict = {}
    for name in spec["lanes"]:
        t = time.perf_counter()
        try:
            rec = _lane(spark, builders[name], sf, con, oracles[name])
        except Exception as e:  # noqa: BLE001 — a raising check is a failed unit
            rec = {"ok": False, "error": f"{type(e).__name__}: {e}"}
        rec["check_s"] = time.perf_counter() - t
        out[name] = rec
    con.close()
    return out


# Column lists in name order, cast to text so Spark's and DuckDB's
# integer widths cannot differ in the hash.
_ORDERS_COLS = ("CATEGORY", "ORDER_DATE", "PRICE", "PRODUCT_ID", "PRODUCT_NAME", "USER_ID")
_USERS_COLS = ("BirthDay", "Document", "Email", "Gender", "Id", "Name", "Phone")


def _fingerprint(con, relation: str, cols: tuple) -> tuple:
    cast = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    return con.execute(f"SELECT count(*), CAST(sum(hash({cast})) AS VARCHAR) FROM {relation}").fetchone()


def check_batch(con, day: str, out: str) -> dict:
    """One ETL batch: the loaded ORDERS and USERS against DuckDB's star
    join over the same drop."""
    csv = lambda name, cols: (  # noqa: E731
        f"read_csv('{os.path.join(day, name)}/*.csv', header=true, columns={cols})")
    orders = csv("orders_csv", "{'Fecha': 'VARCHAR', 'Product_ID': 'BIGINT', 'User_ID': 'BIGINT'}")
    products = csv("products_csv",
                   "{'Id': 'BIGINT', 'Name': 'VARCHAR', 'Category': 'VARCHAR', 'Price': 'BIGINT'}")
    users = csv("users_csv", "{'Id': 'BIGINT', 'Document': 'BIGINT'}")
    info = (f"(SELECT unnest(data, recursive := true) FROM read_json('{os.path.join(day, 'user_info.json')}',"
            " format='auto', maximum_object_size=268435456))")
    expected_orders = f"""(
      SELECT o.Fecha AS ORDER_DATE, o.User_ID AS USER_ID, o.Product_ID AS PRODUCT_ID,
             p.Name AS PRODUCT_NAME, p.Category AS CATEGORY, p.Price AS PRICE
      FROM {orders} o JOIN {products} p ON o.Product_ID = p.Id JOIN {users} u ON o.User_ID = u.Id)"""
    expected_users = f"""(
      SELECT u.Document, u.Id, i.name AS Name, split_part(i.birthday, 'T', 1) AS BirthDay,
             CASE i.gender WHEN 'Male' THEN 'M' WHEN 'f' THEN 'F' ELSE i.gender END AS Gender,
             i.email AS Email, i.phone AS Phone
      FROM {users} u JOIN {info} i ON u.Document = i.document)"""
    rec = {}
    for table, expected, cols in (("ORDERS", expected_orders, _ORDERS_COLS),
                                  ("USERS", expected_users, _USERS_COLS)):
        got = _fingerprint(con, f"read_parquet('{os.path.join(out, table)}/*.parquet')", cols)
        want = _fingerprint(con, expected, cols)
        rec[table] = {"rows": got[0], "oracle_rows": want[0], "ok": got == want and got[0] > 0}
    rec["ok"] = all(r["ok"] for r in rec.values())
    return rec


def check_workload(spark, builders, spec: dict, work: str, units) -> dict:
    if spec["kind"] == "lanes":
        return check_lanes(spark, builders, spec, work)
    con = _duck(work, spark.sparkContext.defaultParallelism)
    out = {}
    for b in range(units.batch):
        if b in units.raised:
            continue
        try:
            out[f"batch_{b:03d}"] = check_batch(
                con, os.path.join(work, "drops", f"day_{b:03d}"), os.path.join(work, "out", f"batch_{b:03d}"))
        except Exception as e:  # noqa: BLE001 — a raising check is a failed unit
            out[f"batch_{b:03d}"] = {"ok": False, "error": f"{type(e).__name__}: {e}"}
    con.close()
    return out


def etl_bytes(work: str, batches: int) -> dict:
    """Parquet files and MiB written per batch, and bytes written per
    CSV/JSON byte read, over every batch of the run."""
    files = written = read = 0
    for b in range(batches):
        for root, _, names in os.walk(os.path.join(work, "out", f"batch_{b:03d}")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    written += os.path.getsize(os.path.join(root, n))
        for root, _, names in os.walk(os.path.join(work, "drops", f"day_{b:03d}")):
            read += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return {"files_written": files / batches, "output_mb": written / 2**20 / batches,
            "stored_bytes_per_input_byte": written / read}
