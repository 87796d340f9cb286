"""DuckDB answers for the ``dashboard_sql`` rotation, computed from the
same generated CSV files the Spark pipeline loaded.

DuckDB reads the raw exports itself and applies the quarantine rule in
SQL (a row is good when it has five fields and every cast succeeds), so
the comparison covers the whole path from file to answer. Results are
compared after :func:`canonical`, which fixes value types and, for
queries without a total order, row order.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb

_RAW = """
SELECT email,
       TRY_CAST(item_id AS INTEGER) AS item_id,
       TRY_CAST(quantity AS INTEGER) AS quantity,
       TRY_CAST(price AS INTEGER) AS price,
       TRY_STRPTIME(purchase_date, '%Y-%m-%dT%H:%M:%S') AS purchase_date
FROM read_csv({glob}, header = false, auto_detect = false, delim = ',',
              all_varchar = true, null_padding = true,
              columns = {{'email': 'VARCHAR', 'item_id': 'VARCHAR',
                         'quantity': 'VARCHAR', 'price': 'VARCHAR',
                         'purchase_date': 'VARCHAR'}})
"""


def _sha1(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


class Oracle:
    def __init__(self, purchases_glob: str, prices_csv: str):
        self.con = duckdb.connect()
        self.con.create_function("sha1_hex", _sha1, ["VARCHAR"], "VARCHAR")
        self.con.execute(
            "CREATE TABLE purchases AS SELECT sha1_hex(email) AS buyer, item_id, "
            "quantity, price, purchase_date FROM ("
            + _RAW.format(glob=_quote(purchases_glob))
            + ") WHERE email IS NOT NULL AND item_id IS NOT NULL AND quantity "
            "IS NOT NULL AND price IS NOT NULL AND purchase_date IS NOT NULL"
        )
        self.con.execute(
            "CREATE TABLE prices AS SELECT * FROM read_csv("
            f"{_quote(prices_csv)}, header = false, auto_detect = false, "
            "columns = {'price_ts': 'TIMESTAMP', 'item_id': 'INTEGER', "
            "'list_price': 'INTEGER'}, timestampformat = '%Y-%m-%dT%H:%M:%S')"
        )

    def close(self) -> None:
        self.con.close()

    def n_good(self) -> int:
        return self.con.execute("SELECT count(*) FROM purchases").fetchone()[0]

    def answer(self, template: str, day: str, item: int) -> list[tuple]:
        lo = f"TIMESTAMP '{day} 00:00:00'"
        hi = f"TIMESTAMP '{day} 00:00:00' + INTERVAL 1 DAY"
        in_day = f"purchase_date >= {lo} AND purchase_date < {hi}"
        cols = "buyer, item_id, quantity, price, purchase_date"
        sql = {
            "interval": f"SELECT {cols} FROM purchases WHERE {in_day} "
                        "ORDER BY purchase_date",
            "sample_by_fill": f"""
                WITH agg AS (
                    SELECT time_bucket(INTERVAL 1 HOUR, purchase_date) AS b,
                           count(*) AS n, sum(quantity) AS qty
                    FROM purchases WHERE {in_day} AND item_id = {item}
                    GROUP BY b),
                grid AS (
                    SELECT unnest(generate_series(min(b), max(b),
                                                  INTERVAL 1 HOUR)) AS b
                    FROM agg)
                SELECT grid.b, coalesce(n, 0), coalesce(qty, 0)
                FROM grid LEFT JOIN agg USING (b)""",
            "latest_on": f"SELECT {cols} FROM purchases WHERE {in_day} "
                         "QUALIFY row_number() OVER (PARTITION BY buyer "
                         "ORDER BY purchase_date DESC) = 1",
            "asof_join": f"""
                SELECT p.purchase_date, p.buyer, p.item_id, p.quantity,
                       q.list_price
                FROM (SELECT * FROM purchases WHERE {in_day}) p
                ASOF LEFT JOIN prices q
                  ON p.item_id = q.item_id AND p.purchase_date >= q.price_ts""",
            "topk": f"SELECT {cols} FROM purchases WHERE {in_day} "
                    "ORDER BY price DESC, purchase_date LIMIT 25",
        }[template]
        return self.con.execute(sql).fetchall()


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _value(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S")
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool) or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 6)
    return str(v)


def canonical(rows, ordered: bool) -> list[tuple]:
    out = [tuple(_value(v) for v in row) for row in rows]
    return out if ordered else sorted(out, key=repr)


def digest(rows: list[tuple]) -> str:
    return hashlib.sha1(repr(rows).encode()).hexdigest()


def pandas_rows(pdf) -> list[tuple]:
    return list(pdf.astype(object).itertuples(index=False, name=None))
