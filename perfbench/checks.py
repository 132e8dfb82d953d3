"""Output checks, computed independently of the program with DuckDB.

- `expected_lake`: the lake aggregates an ETL run must produce, recomputed
  from the generated snapshot with the ETL's semantics written out in SQL
  (ordered way assembly, region routing, relation roll-up, ring closure and
  shoelace area, layer routing of the default style).
- `oracle_mismatch`: a query result against its DuckDB oracle, normalised
  the way the repo's correctness gate does (columns sorted by name,
  decimals as floats, relative tolerance 1e-9 on floats).
"""
import decimal
import math

import duckdb
import numpy as np
import pandas as pd

LAKE_TABLES = ["ways", "relations", "areas", "layers"]

EXPECTED_SQL = """
WITH nodes AS (
  SELECT p_partkey AS node_id, CAST(p_size AS BIGINT) * 100 AS lon_c,
         CAST(round(p_retailprice * 100) AS BIGINT) AS lat_c, p_size
  FROM part),
pts AS (
  SELECT l.l_orderkey AS way_id, n.lon_c, n.lat_c,
         row_number() OVER w AS rn, count(*) OVER (PARTITION BY l.l_orderkey) AS cnt
  FROM lineitem l JOIN nodes n ON l.l_partkey = n.node_id
  WINDOW w AS (PARTITION BY l.l_orderkey
               ORDER BY l.l_linenumber, l.l_partkey, n.lon_c, n.lat_c)),
seg AS (
  SELECT a.way_id, sum(a.lon_c * b.lat_c - b.lon_c * a.lat_c) AS s
  FROM pts a JOIN pts b ON a.way_id = b.way_id AND b.rn = a.rn + 1
  GROUP BY a.way_id),
ends AS (
  SELECT f.way_id, f.cnt,
         (f.lon_c = l.lon_c AND f.lat_c = l.lat_c) AS closed,
         l.lon_c * f.lat_c - f.lon_c * l.lat_c AS closing
  FROM pts f JOIN pts l ON f.way_id = l.way_id AND f.rn = 1 AND l.rn = l.cnt),
ways AS (
  SELECT way_id, count(*) AS n_points, min(lon_c) AS minx, min(lat_c) AS miny,
         max(lon_c) AS maxx, max(lat_c) AS maxy
  FROM pts GROUP BY way_id),
areas AS (
  SELECT e.way_id,
         abs(coalesce(s.s, 0) + CASE WHEN e.closed THEN 0 ELSE e.closing END) AS shoe,
         e.cnt + CASE WHEN e.closed THEN 0 ELSE 1 END AS ring_len
  FROM ends e LEFT JOIN seg s ON e.way_id = s.way_id),
routed AS (
  SELECT w.*, r.r_name AS region
  FROM ways w JOIN orders o ON o.o_orderkey = w.way_id
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey),
rels AS (
  SELECT o.o_custkey AS relation_id, count(*) AS n_member_ways,
         sum(w.n_points) AS n_points, min(w.minx) AS minx, max(w.maxy) AS maxy
  FROM orders o JOIN ways w ON o.o_orderkey = w.way_id
  GROUP BY o.o_custkey)
SELECT 'ways' AS t, [count(*), sum(n_points), sum(minx), sum(maxy),
       sum(9 + 16 * n_points), count(DISTINCT region)] AS v FROM routed
UNION ALL SELECT 'relations', [count(*), sum(n_member_ways), sum(n_points), sum(minx), sum(maxy)]
  FROM rels
UNION ALL SELECT 'areas', [count(*), sum(shoe), sum(13 + 16 * ring_len)] FROM areas
UNION ALL SELECT 'layers', [count(*), count(*), count(*)] FROM nodes WHERE p_size >= 25
"""

# the read-back columns, in the order EXPECTED_SQL lists them
READBACK_COLUMNS = {
    "ways": ["n", "n_points", "minx", "maxy", "wkb_bytes", "regions"],
    "relations": ["n", "members", "n_points", "minx", "maxy"],
    "areas": ["n", "shoe", "wkb_bytes"],
    "layers": ["n", "heavy", "nodes"],
}


def _connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected_lake(snap_dir):
    """{table: {column: value}} for the read-back queries over a lake built
    from `snap_dir`."""
    con = _connect(snap_dir, ["part", "lineitem", "orders", "customer", "nation", "region"])
    rows = con.execute(EXPECTED_SQL).fetchall()
    con.close()
    return {t: dict(zip(READBACK_COLUMNS[t], (int(x) for x in v))) for t, v in rows}


def readback_mismatch(readback, expected):
    """First difference between the program's read-back and the expectation, or None."""
    for t in LAKE_TABLES:
        for c, want in expected[t].items():
            got = readback.get(t, {}).get(c)
            if got is None or int(got) != want:
                return f"{t}.{c}: lake {got} != expected {want}"
    return None


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None):
            df[c] = df[c].dt.tz_localize(None)
        if df[c].dtype == object and df[c].map(lambda v: isinstance(v, decimal.Decimal)).any():
            df[c] = df[c].astype(float)
    return df


def _cell_equal(a, b):
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        try:
            a, b = list(a), list(b)
        except TypeError:
            return False
        return len(a) == len(b) and all(_cell_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) or isinstance(b, dict):
        return isinstance(a, dict) and isinstance(b, dict) and a.keys() == b.keys() and \
            all(_cell_equal(a[k], b[k]) for k in a)
    if a is None or b is None:
        return (a is None or _isna(a)) and (b is None or _isna(b))
    if _isna(a) and _isna(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            x, y = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return x == y or (math.isnan(x) and math.isnan(y)) or \
            abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
    return a == b or str(a) == str(b)


def _isna(v):
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


class Oracle:
    """DuckDB over one generated corpus directory."""

    TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

    def __init__(self, data_dir):
        self.con = _connect(data_dir, self.TABLES)

    def mismatch(self, sql, result_dir):
        """First difference between a program result (a parquet dir) and the
        oracle SQL's result, or None when they agree."""
        try:
            got = _canon(pd.read_parquet(result_dir))
        except Exception as e:  # noqa: BLE001 - any unreadable result is a failure
            return f"no result: {e}"
        try:
            want = _canon(self.con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001
            return f"oracle error: {str(e)[:200]}"
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        for c in got.columns:
            for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
                if not _cell_equal(x, y):
                    return f"col {c} row {i}: {x!r} != {y!r}"
        return None

    def close(self):
        self.con.close()
