"""Output checks, run after the JVM has exited.

- Declared queries: the parquet output of the query (its first run on the
  dashboard, its write on batch) against the query's
  DuckDB oracle over the same generated tables, compared the way
  `tools/parity.py` compares them (its `canon`, then exact values).
- AnalyticsService calls: stated checks in DuckDB over the landed
  warehouse parquet.
- Batch: stated checks over the warehouse the cycles left behind.

Each check returns a list of failure messages; empty means it passed.
`check(...)` maps op labels to failures ("*" fails every op).
"""
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from parity import TABLES, canon  # noqa: E402

K = 4  # ClusteringJob.K
PAGE_SIZE = 20  # AnalyticsService.productSearch default
RECENT = "2000-01-01"  # MLOps.Cutoff: a product is clustered when it sold since


def _source(con, data):
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")


def _warehouse(con, wh):
    con.sql(f"CREATE OR REPLACE VIEW pc AS SELECT * FROM read_parquet('{wh}/product_clustering/*.parquet')")
    con.sql(f"CREATE OR REPLACE VIEW dim_product AS SELECT * FROM read_parquet('{wh}/DimProduct/*.parquet')")
    con.sql(f"CREATE OR REPLACE VIEW dim_date AS SELECT * FROM read_parquet('{wh}/DimDate/*.parquet')")
    con.sql(f"CREATE OR REPLACE VIEW fact AS SELECT * FROM read_parquet('{wh}/FactSales/*/*.parquet', "
            "hive_partitioning = true)")
    con.sql(f"CREATE OR REPLACE VIEW ledger AS SELECT * FROM read_parquet('{wh}/PipelineLog/*.parquet')")


def _same_frames(got, exp, keys, rtol=1e-9, atol=0.0):
    """Row-for-row equality after sorting by `keys`; floats within tolerance."""
    if sorted(got.columns) != sorted(exp.columns):
        return [f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{len(got)} rows vs {len(exp)} expected"]
    g = got[sorted(got.columns)].sort_values(keys, na_position="first").reset_index(drop=True)
    e = exp[sorted(exp.columns)].sort_values(keys, na_position="first").reset_index(drop=True)
    for c in g.columns:
        for a, b in zip(g[c], e[c]):
            na, nb = a is None or (isinstance(a, float) and math.isnan(a)), \
                b is None or (isinstance(b, float) and math.isnan(b))
            if na or nb:
                if na != nb:
                    return [f"{c}: {a!r} vs {b!r}"]
            elif isinstance(a, float) or isinstance(b, float):
                if not math.isclose(float(a), float(b), rel_tol=rtol, abs_tol=atol):
                    return [f"{c}: {a!r} vs {b!r}"]
            elif str(a) != str(b):
                return [f"{c}: {a!r} vs {b!r}"]
    return []


def declared(con, out, name, sql):
    files = sorted(glob.glob(f"{out}/q/{name}/*.parquet"))
    if not files:
        return ["no output"]
    got = canon(pd.concat([pd.read_parquet(f) for f in files]))
    exp = canon(con.sql(sql).df())
    if got.shape != exp.shape:
        return [f"shape {got.shape} vs oracle {exp.shape}"]
    if list(got.columns) != list(exp.columns):
        return [f"columns {list(got.columns)} vs oracle {list(exp.columns)}"]
    for c in got.columns:
        a, b = got[c], exp[c]
        same = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            same = (a.isna() & b.isna()) | (a == b)
        if not same.all():
            return [f"{c}: {int((~same).sum())} values differ from the oracle"]
    return []


def _search_sql(text, cluster, sort_col, asc, page):
    where = ["TRUE"]
    if text:
        where.append(f"(lower(product_name) LIKE '%{text.lower()}%' "
                     f"OR CAST(part_id AS VARCHAR) LIKE '%{text}%')")
    if cluster:
        where.append(f"cluster = {int(cluster)}")
    order = f"{sort_col} ASC NULLS FIRST" if asc == "1" else f"{sort_col} DESC NULLS LAST"
    return (f"SELECT part_id FROM pc LEFT JOIN dim_product ON pc.part_id = dim_product.product_id "
            f"WHERE {' AND '.join(where)} ORDER BY {order}, part_id "
            f"LIMIT {PAGE_SIZE} OFFSET {int(page) * PAGE_SIZE}")


PAGE_SQL = {
    "clusterSummary": ("""
        SELECT c.part_id, c.cluster, c.profit,
               count(DISTINCT f.order_id) AS order_frequency,
               coalesce(sum(f.quantity), 0.0) AS total_quantity
        FROM pc c LEFT JOIN fact f ON c.part_id = f.product_id
        GROUP BY c.part_id, c.cluster, c.profit""", ["part_id"], 0.0),
    "clusterStats": ("""
        SELECT cluster, count(*) AS n_products, round(avg(profit), 2) AS avg_profit,
               round(median(profit), 2) AS median_profit, round(sum(profit), 2) AS total_profit,
               round(avg(profit_margin), 4) AS avg_margin
        FROM pc GROUP BY cluster""", ["cluster"], 0.011),
    "brandRollup": ("""
        SELECT d.brand_id, c.cluster, count(*) AS n, round(sum(c.profit), 2) AS profit
        FROM pc c JOIN dim_product d ON c.part_id = d.product_id
        GROUP BY ROLLUP (d.brand_id, c.cluster)""", ["brand_id", "cluster"], 0.011),
    "clusterPivot": ("SELECT d.brand_id, " + ", ".join(
        f'count(*) FILTER (WHERE c.cluster = {k}) AS "{k}"' for k in range(K)) + """
        FROM pc c JOIN dim_product d ON c.part_id = d.product_id
        GROUP BY d.brand_id""", ["brand_id"], 0.0),
}


def service_op(con, label, rows):
    w = label.split(" ")
    if w[0] == "search":
        text, cluster, sort_col, asc, page = (label.split(" ", 1)[1].split(" ") + [""] * 5)[:5]
        exp = [r[0] for r in con.sql(_search_sql(text, cluster, sort_col, asc, page)).fetchall()]
        got = [r["part_id"] for r in rows]
        return [] if got == exp else [f"page {got[:5]}... vs expected {exp[:5]}..."]
    if w[1] == "lastUpdate":
        names = sorted(r["pipeline_name"] for r in rows)
        ok = names == ["ClusteringJob", "EtlJob"] and all(r["last_update"] for r in rows)
        return [] if ok else [f"ledger tops {names}"]
    sql, keys, atol = PAGE_SQL[w[1]]
    exp = con.sql(sql).df()
    got = pd.DataFrame(rows, columns=list(exp.columns)) if rows else exp.iloc[0:0]
    return _same_frames(got, exp, keys, atol=atol)


def _labels_of(run_dir):
    """op index -> label, from the ops file the JVM ran."""
    with open(f"{run_dir}/ops.tsv") as f:
        rows = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    return {i: " ".join(r[1:]) for i, r in enumerate(rows)}


def warehouse(con, wh, cycles):
    _warehouse(con, wh)
    one = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
    fails = []
    ledger = dict(con.sql("SELECT pipeline_name, count(*) FROM ledger GROUP BY 1").fetchall())
    # +1 row per pipeline per cycle
    if ledger != {"EtlJob": cycles, "ClusteringJob": cycles}:
        fails.append(f"ledger {ledger} after {cycles} cycles")
    if one("SELECT count(*) - count(DISTINCT part_id) FROM pc") != 0:
        fails.append("product_clustering has repeated products")
    if one(f"SELECT count(*) FROM pc WHERE cluster IS NULL OR cluster < 0 OR cluster >= {K}"):
        fails.append(f"cluster ids outside [0, {K})")
    active = one(f"""SELECT count(DISTINCT l_partkey) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    WHERE o_orderdate >= TIMESTAMP '{RECENT}'""")
    if one("SELECT count(*) FROM pc") != active:
        fails.append(f"product_clustering has {one('SELECT count(*) FROM pc')} rows, {active} products sold")
    if one("SELECT count(*) FROM fact") != one(
            "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey"):
        fails.append("FactSales rows differ from lineitem joined to orders")
    if one("SELECT count(*) FROM dim_product") != one(
            "SELECT count(DISTINCT p_partkey) FROM part JOIN lineitem ON p_partkey = l_partkey"):
        fails.append("DimProduct rows differ from the parts that sold")
    if one("SELECT count(*) FROM dim_date") != one(
            "SELECT count(DISTINCT date_trunc('month', o_orderdate)) FROM orders"):
        fails.append("DimDate rows differ from the order months")
    return fails


def check(workload, run_dir, data, wh, cycles):
    """Failures by op label; the key "*" applies to every op."""
    con = duckdb.connect()
    out = f"{run_dir}/out"
    _source(con, data)
    fails = {}
    if workload == "batch":
        f = warehouse(con, wh, cycles)
        if f:
            fails["*"] = f
    with open(f"{out}/oracle_sql.json") as f:
        for name, sql in json.load(f).items():
            f_ = declared(con, out, name, sql)
            if f_:
                fails[f"q {name}"] = f_
    if workload == "dashboard":
        _warehouse(con, wh)
        labels = _labels_of(run_dir)
        unchecked = {lb for lb in labels.values() if lb.split(" ")[0] in ("svc", "search")}
        for path in glob.glob(f"{out}/ops/*.jsonl"):
            label = labels[int(os.path.basename(path).split(".")[0])]
            unchecked.discard(label)
            with open(path) as f:
                rows = [json.loads(line) for line in f if line.strip()]
            f_ = service_op(con, label, rows)
            if f_:
                fails[label] = f_
        for label in unchecked:
            fails[label] = ["no output"]
    return fails
