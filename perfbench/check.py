"""Correctness checks, run outside the timed operations.

- Registered queries with an oracle: the Spark result is compared with the
  oracle SQL run by DuckDB on the same parquet files, after the same
  canonicalisation the external driver applies (sorted columns, floats to
  9 significant digits, rows sorted).
- Queries without an oracle: invariants on the result (row count derived
  from the inputs) plus a checksum with floats rounded, which must repeat
  between the first and the last pass of a run.
- The price-paid cycle: the live tables are read back with DuckDB and
  compared with a DuckDB model of the same semantics built from the
  generated CSV files and fixtures.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import math
import os
import re

import duckdb
import pandas as pd

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def duckdb_conn(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return tuple(_canon_cell(x) for x in seq) if isinstance(seq, (list, tuple)) else _canon_cell(seq)
    if isinstance(v, (int, bool, str, bytes)):
        return v
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def compare_oracle(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None on match, else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"row counts differ: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    s, o = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    if s != o:
        diff = [r for r in s if r not in set(o)][:2]
        return f"values differ, e.g. spark-only {diff}"
    return None


def checksum(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest with floats rounded to 6 decimals."""
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{round(v, 6) + 0.0:.6f}"
        if hasattr(v, "tolist"):
            return str([cell(x) for x in v.tolist()])
        return str(v)

    cols = sorted(pdf.columns)
    lines = sorted("|".join(cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# Invariants for the registered queries that have no oracle, in terms of
# the inputs: expected row count (DuckDB SQL) and a check on the result.
NO_ORACLE_ROWS = {
    "graph_pagerank_purchases": "SELECT (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)",
    "timeseries_lttb": "SELECT sum(least(n, 50)) FROM (SELECT count(*) AS n FROM events GROUP BY user_id)",
}


def check_no_oracle(name: str, pdf: pd.DataFrame, con) -> str | None:
    if name == "dedup_semantic_embedding":
        n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        if int(pdf["n_vecs"].sum()) != n or (pdf["n_kept"] > pdf["n_vecs"]).any():
            return f"cluster summary does not cover the {n} vectors"
        return None
    sql = NO_ORACLE_ROWS.get(name)
    if sql is not None:
        want = con.execute(sql).fetchone()[0]
        if len(pdf) != want:
            return f"rows {len(pdf)} != expected {want}"
    if name == "graph_pagerank_purchases" and abs(float(pdf["rank"].sum()) - 1.0) > 1e-3:
        return f"ranks sum to {pdf['rank'].sum()}"
    return None


# -- price-paid model -------------------------------------------------------------

KEY = "transaction_unique_identifier"
COLS = [
    "transaction_unique_identifier", "price", "date_of_transfer", "postcode",
    "property_type", "old_new", "duration", "paon", "saon", "street", "locality",
    "town_city", "district", "county", "ppd_category_type", "record_status",
]
PAGE_RE = re.compile(r"/properties/(\d+)")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _sorted(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=lambda r: tuple((x is None, str(x)) for x in r))


class PricePaidModel:
    """Expected state after one pass of the cycle, computed by DuckDB from
    the generated CSV files (clean, then the ``OX`` filter, then first-wins
    per key in delivery order) and in Python for the two small tables
    (outcode enrichment and the sales scrape follow the jobs' documented
    selection and merge rules)."""

    def __init__(self, inputs: dict, today: int, yesterday: int, batch: int = 50, batch_areas: int = 5):
        self.con = duckdb.connect()
        files = inputs["csv"]
        cols = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(16))
        parts = []
        for idx, path in enumerate(files):
            parts.append(
                f"SELECT {idx} AS file_idx, * FROM read_csv('{path}', header=false, "
                f"quote='\"', escape='\"', columns={{{cols}}}, auto_detect=false)"
            )
        raw = " UNION ALL ".join(parts)
        self.con.execute(
            f"""
            CREATE TABLE clean AS
            SELECT file_idx,
                   regexp_replace(c0, '[{{}}]', '', 'g') AS {KEY},
                   TRY_CAST(c1 AS DOUBLE) AS price,
                   CAST(strftime(try_strptime(c2, '%Y-%m-%d %H:%M'), '%Y%m%d') AS BIGINT) AS date_of_transfer,
                   c3 AS postcode, c4 AS property_type, c5 AS old_new, c6 AS duration,
                   c7 AS paon, c8 AS saon, c9 AS street, c10 AS locality, c11 AS town_city,
                   c12 AS district, c13 AS county, c14 AS ppd_category_type, c15 AS record_status
            FROM ({raw})
            """
        )
        self.con.execute(
            f"""
            CREATE TABLE expected AS
            SELECT * EXCLUDE (rn), 'OX' AS postcode_area FROM (
              SELECT *, row_number() OVER (PARTITION BY {KEY} ORDER BY file_idx) AS rn
              FROM clean
              WHERE {KEY} IS NOT NULL AND price IS NOT NULL AND date_of_transfer IS NOT NULL
                AND postcode IS NOT NULL AND starts_with(postcode, 'OX'))
            WHERE rn = 1
            """
        )
        self.counts = [
            self.con.execute(f"SELECT count(*) FROM expected WHERE file_idx <= {i}").fetchone()[0]
            for i in range(len(files))
        ]
        # a key inserted by each delta, for the point lookup after it
        self.probes = [None] + [
            self.con.execute(
                f"SELECT min({KEY}) FROM expected WHERE file_idx = {i}"
            ).fetchone()[0]
            for i in range(1, len(files))
        ]
        kept = self.con.execute(f"SELECT file_idx, {KEY} FROM expected").fetchall()
        self.csv_bytes_live = sum(inputs["line_bytes"][f][k] for f, k in kept)
        self._small_tables(inputs, today, yesterday, batch, batch_areas)

    def _small_tables(self, inputs, today, yesterday, batch, batch_areas) -> None:
        areas = {r[0]: list(r) for r in duckdb.sql(f"SELECT * FROM '{inputs['areas']}'").fetchall()}
        fixtures = json.load(open(inputs["fixtures"]))
        unresolved = sorted((k for k, r in areas.items() if r[1] in (None, 0)), key=_md5)[:batch]
        for code in unresolved:
            body = fixtures["typeahead"].get(code, {"matches": []})
            match = next((m for m in (body or {}).get("matches") or [] if m.get("type") == "OUTCODE"), None)
            area_id = None
            if match is not None:
                try:
                    area_id = int(match["id"])
                except (TypeError, ValueError):
                    area_id = None
            areas[code][1] = area_id if area_id is not None else -1
            areas[code][2] = match["displayName"] if area_id is not None else None
        eligible = [
            r for r in areas.values()
            if r[1] is not None and r[1] > 0 and (r[3] is None or r[3] <= yesterday)
        ]
        selected = sorted(eligible, key=lambda r: _md5(str(r[1])))[:batch_areas]
        props: list[str] = []
        for r in selected:
            offset = 0
            for _ in range(200):
                html = fixtures["pages"].get(f"{r[1]}:{offset}")
                if html is None:
                    break
                props.extend(PAGE_RE.findall(html))
                m = re.search(r"window\.jsonModel = (\{.*?\});</script>", html)
                nxt = json.loads(m.group(1))["pagination"]["next"] if m else None
                if nxt is None or int(nxt) <= offset:
                    break
                offset += 24
            r[3] = today
        sales = {
            r[0]: list(r) for r in duckdb.sql(f"SELECT * FROM '{inputs['sales']}'").fetchall()
        }
        for p in set(props):
            if p in sales:
                sales[p][3] = today
            else:
                sales[p] = [p, False, today, today]
        self.areas = _sorted(areas.values())
        self.sales = _sorted(sales.values())

    def check_tables(self, table: str, areas: str, sales: str) -> str | None:
        got = f"read_parquet('{table}/**/*.parquet', hive_partitioning = true)"
        cols = ", ".join(COLS + ["postcode_area"])
        n_got = self.con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
        if n_got != self.counts[-1]:
            return f"price_paid has {n_got} rows, model {self.counts[-1]}"
        diff = self.con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM expected EXCEPT SELECT {cols} FROM {got})"
        ).fetchone()[0]
        if diff:
            return f"price_paid differs from the model in {diff} rows"
        for name, path, want in (("areas", areas, self.areas), ("sales", sales, self.sales)):
            rows = _sorted(self.con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchall())
            if rows != want:
                return f"{name} differs from the model ({len(rows)} vs {len(want)} rows)"
        return None


def dir_files(path: str) -> dict[str, int]:
    """Data files under a table path, with their sizes."""
    out = {}
    for f in glob.glob(os.path.join(path, "**", "*"), recursive=True):
        base = os.path.basename(f)
        if os.path.isfile(f) and not base.startswith(("_", ".")):
            out[f] = os.path.getsize(f)
    return out
