"""Correctness gate: each checked result against the DuckDB oracle.

Follows tools/check_oracle.py: columns are compared by name, then row count,
dtype kind per column, and every cell exactly, in order. Registry calls use
the program's own oracle SQL (`SparkEntry.oracleSql`); seeded search and
count requests use the same SQL shape with the request's parameters.
"""
import hashlib
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(df):
    """Order-sensitive digest of a result frame that ignores column order:
    columns sorted by name, each with its dtype kind and every value."""
    h = hashlib.sha256()
    for c in sorted(df.columns):
        h.update(f"{c}:{df[c].dtype.kind}\n".encode())
        for v in df[c].tolist():
            h.update(_cell(v).encode())
            h.update(b"\x1f")
    return h.hexdigest()


def _cell(v):
    if v is None:
        return "\x00null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist"):               # arrays inside a cell
        return repr(v.tolist())
    return repr(v)


def _quote(s):
    return "'" + s.replace("'", "''") + "'"


def grid_sql(p):
    """Oracle SQL of one `Marketplace.adsSearch` / `adsCount` request."""
    where = []
    if p.get("search"):
        where.append(f"strpos(lower(p_name), {_quote(p['search'].lower())}) > 0")
    if p.get("category"):
        where.append(f"p_type = {_quote(p['category'])}")
    where.append(f"p_retailprice >= {p['min_price']!r}")
    where.append(f"p_retailprice <= {p['max_price']!r}")
    cond = " AND ".join(where)
    if p["kind"] == "ads_count":
        return f"SELECT count(*) AS total FROM part WHERE {cond}"
    order = {
        "price_low": "f.p_retailprice ASC, f.p_partkey ASC",
        "price_high": "f.p_retailprice DESC, f.p_partkey ASC",
    }.get(p["sort"], "f.p_partkey DESC")
    offset = max(0, p["page"] - 1) * p["limit"]
    return f"""WITH filtered AS (
  SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
  FROM part WHERE {cond}
), fav AS (
  SELECT l_partkey, count(*) AS fav_count FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM filtered) GROUP BY l_partkey
)
SELECT f.p_partkey, f.p_name, f.p_brand, f.p_type, f.p_size,
       f.p_retailprice, COALESCE(v.fav_count, 0) AS fav_count
FROM filtered f LEFT JOIN fav v ON f.p_partkey = v.l_partkey
ORDER BY {order}
LIMIT {p['limit']} OFFSET {offset}"""


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def compare(got, exp):
    """'' when the frames match as check_oracle.py requires, else why not."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        if got[c].dtype.kind != exp[c].dtype.kind:
            return f"dtype kind of {c}: {got[c].dtype} != {exp[c].dtype}"
    if digest(got) == digest(exp):
        return ""
    bad = sum(1 for c in got.columns
              for a, b in zip(got[c].tolist(), exp[c].tolist()) if _cell(a) != _cell(b))
    return f"{bad} mismatched cells ({len(got)} rows)"


def check(manifest):
    """Checks every manifest entry; returns {key: reason} for failures."""
    cons = {}
    failed = {}
    try:
        for e in manifest:
            if e.get("error"):
                failed[e["key"]] = e["error"]
                continue
            sql = e.get("sql") or (grid_sql(e) if e["kind"] != "registry" else None)
            if not sql:
                failed[e["key"]] = "no oracle SQL"
                continue
            if e["data"] not in cons:
                cons[e["data"]] = _connect(e["data"])
            con = cons[e["data"]]
            try:
                got = con.execute(
                    f"SELECT * FROM read_parquet('{e['result']}/*.parquet')").df()
                exp = con.execute(sql).df()
                why = compare(got, exp)
            except Exception as ex:           # a query the oracle cannot run
                why = f"{type(ex).__name__}: {ex}"
            if why:
                failed[e["key"]] = why
    finally:
        for con in cons.values():
            con.close()
    return failed
