"""Expected answers, computed with DuckDB over the generated inputs.

For every operation key a workload checks, writes `key \\t rows \\t digest`
to `expected.tsv`; for checks and read-backs that the benchmark runs on
Spark itself, writes the Spark SQL to `spark_sql.tsv`. Graft's own
`SparkEntry.oracleSql` supplies the SQL of registry queries; the widget,
ingest, gold and read-back SQL is the benchmark's own. No expected value
is a saved copy of graft's output.
"""
import os
import zipfile

import duckdb
import pyarrow.parquet as pq

import canon

STAR = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
CORPUS = ["documents", "embeddings"]
MONEY = "CAST(SUM(CAST({} AS DECIMAL(18,6))) AS DOUBLE)"

WIDGETS = {
    "kpis": "SELECT " + MONEY.format("COALESCE(o_totalprice, 0.0)") + " AS total_revenue, "
            "COUNT(*) AS total_orders, COUNT(DISTINCT o_custkey) AS unique_customers, "
            + MONEY.format("o_totalprice") + " / COUNT(o_totalprice) AS avg_order_value FROM f",
    "monthly_trend": "SELECT strftime(o_orderdate, '%Y-%m') AS order_month, "
                     + MONEY.format("o_totalprice") + " AS total_revenue FROM f GROUP BY 1",
    "histogram": "SELECT CASE WHEN mx = mn THEN 0 ELSE LEAST(FLOOR((o_totalprice - mn) / "
                 "((mx - mn) / CAST(30 AS DOUBLE))), 29) END AS bin, COUNT(*) AS n FROM f, "
                 "(SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS mn, MAX(CAST(o_totalprice AS DOUBLE)) AS mx "
                 "FROM f) GROUP BY 1",
    "channel_rollup": "SELECT o_orderpriority AS sales_channel, " + MONEY.format("o_totalprice")
                      + " AS total_revenue, COUNT(*) AS order_count FROM f GROUP BY 1",
}

FILTERED = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
            "o_orderpriority, r_name AS region FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey")

# (Spark SQL over the files the round wrote, DuckDB SQL over the feed)
ETL_READBACKS = {
    "readback:region_year": (
        "SELECT dc.region, dd.order_year, COUNT(*) AS n, " + MONEY.format("f.o_totalprice")
        + " AS revenue FROM fact_sales f JOIN dim_date dd ON f.date_id = dd.date_id "
        "JOIN dim_country dc ON f.country_id = dc.country_id GROUP BY dc.region, dd.order_year",
        "SELECT r_name AS region, year(o_orderdate) AS order_year, COUNT(*) AS n, "
        + MONEY.format("o_totalprice") + " AS revenue FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2"),
    "readback:shipping_mix": (
        "SELECT shipping_speed_category, line_size_category, COUNT(*) AS n, "
        "SUM(shipping_days) AS days FROM elt_processed GROUP BY 1, 2",
        "SELECT shipping_speed_category, line_size_category, COUNT(*) AS n, "
        "SUM(shipping_days) AS days FROM ({elt}) GROUP BY 1, 2"),
}

GOLD = {"dim_date": "star_dim_date", "dim_country": "star_dim_country",
        "dim_item": "star_dim_item", "dim_channel": "star_dim_channel",
        "fact_sales": "star_fact_sales"}

CURATION_READBACKS = {
    "readback:docs_by_lang": "SELECT lang, COUNT(*) AS n, SUM(n_chars) AS chars "
                             "FROM {t} GROUP BY lang",
}


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _write_tsv(path, pairs):
    with open(path, "w", encoding="utf-8") as f:
        for k, v in pairs:
            assert "\t" not in k and "\n" not in v
            f.write(f"{k}\t{v}\n")


def _filter_sql(flt):
    date_from, date_to, regions, prios, statuses = flt
    preds = []
    if date_from:
        preds.append(f"o_orderdate >= TIMESTAMP '{date_from} 00:00:00'")
    if date_to:
        preds.append(f"o_orderdate <= TIMESTAMP '{date_to} 00:00:00'")
    for col, vals in (("region", regions), ("o_orderpriority", prios), ("o_orderstatus", statuses)):
        if vals:
            preds.append(f"{col} IN (" + ", ".join(f"'{v}'" for v in vals) + ")")
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    return f"SELECT * FROM ({FILTERED}){where}"


def exact_avg(sql):
    """Graft's q8 oracles average integer day counts with DuckDB's AVG,
    whose result is not always the correctly rounded mean (seed 1 at
    sf0.01: 61.15150232754972 for 144501 / 2363, which rounds to
    ...73). Spark's avg is the correctly rounded mean; so is this."""
    return sql.replace("AVG(", "exact_avg(")


def dashboard(data_dir, out_dir, oracle_sql, reports, filters):
    con = connect(data_dir, STAR)
    con.execute("CREATE MACRO exact_avg(x) AS CAST(SUM(x) AS DOUBLE) / COUNT(x)")
    exp = []
    for n in reports:
        exp.append((n, canon.query_digest(con, exact_avg(oracle_sql[n]))))
    for i, flt in enumerate(filters):
        fsql = _filter_sql(flt)
        for w, sql in WIDGETS.items():
            exp.append((f"widget:{w}:{i}", canon.query_digest(con, f"WITH f AS ({fsql}) {sql}")))
    _write_tsv(os.path.join(out_dir, "expected.tsv"), [(k, f"{n}\t{d}") for k, (n, d) in exp])
    _write_tsv(os.path.join(out_dir, "filters.tsv"),
               [(flt[0], "\t".join([flt[1], ",".join(flt[2]), ",".join(flt[3]), ",".join(flt[4])]))
                for flt in filters])
    _write_tsv(os.path.join(out_dir, "spark_sql.tsv"), [])


def _kind(type_name):
    t = type_name.lower()
    if t.startswith(("int", "bigint", "smallint", "tinyint", "hugeint")):
        return "int"
    if t.startswith(("double", "float", "decimal")):
        return "double"
    if t in ("string", "varchar"):
        return "string"
    if t.startswith(("timestamp", "date")):
        return "time"
    raise ValueError(f"no fingerprint for type {type_name}")


def _fingerprint_sql(columns, table, p=""):
    """One row of column fingerprints that Spark SQL and DuckDB compute
    alike, over (name, type) `columns`: row count, integer sums, cent
    sums of doubles, string lengths and ranges, time ranges and day sums.
    Every alias starts with `p`. No COUNT(DISTINCT): Spark expands the
    rows once per distinct aggregate, so a check would cost more than the
    step it checks."""
    parts = [f"COUNT(*) AS {p}n"]
    for i, (c, t) in enumerate(columns):
        k = _kind(t)
        if k == "int":
            parts.append(f"SUM(CAST({c} AS BIGINT)) AS {p}c{i}")
        elif k == "double":
            parts.append(f"SUM(CAST(ROUND({c} * 100) AS BIGINT)) AS {p}c{i}")
        elif k == "string":
            parts += [f"SUM(LENGTH({c})) AS {p}c{i}", f"MIN({c}) AS {p}lo{i}", f"MAX({c}) AS {p}hi{i}"]
        else:
            parts += [f"MIN({c}) AS {p}lo{i}", f"MAX({c}) AS {p}hi{i}",
                      f"SUM(year({c}) * 10000 + month({c}) * 100 + day({c})) AS {p}c{i}"]
    return "SELECT " + ", ".join(parts) + f" FROM {table}"


def _fingerprint_of(con, sql, table):
    """Materialize `sql` as DuckDB table `table`; return the fingerprint
    SQL over it and DuckDB's digest of that fingerprint."""
    con.execute(f"CREATE TEMP TABLE {table} AS {sql}")
    cols = [(r[0], r[1]) for r in con.execute(f"DESCRIBE {table}").fetchall()]
    fsql = _fingerprint_sql(cols, table)
    return fsql, canon.query_digest(con, fsql)


def write_feed(con, out_dir):
    """The CSV zip feed: one `<table>.csv` with a header per star table."""
    with zipfile.ZipFile(os.path.join(out_dir, "feed.zip"), "w", zipfile.ZIP_DEFLATED,
                         compresslevel=1) as z:
        for t in STAR:
            path = os.path.join(out_dir, f"{t}.csv")
            con.execute(f"COPY (SELECT * FROM {t}) TO '{path}' (HEADER, DELIMITER ',')")
            z.write(path, f"{t}.csv")
            os.remove(path)


def etl(data_dir, out_dir, oracle_sql):
    con = connect(data_dir, STAR)
    exp, spark_sql = [], []
    # one query, one row: every ingested table's fingerprint side by side
    parts = []
    for t in STAR:
        schema = pq.read_schema(os.path.join(data_dir, f"{t}.parquet"))
        parts.append(f"({_fingerprint_sql([(f.name, str(f.type)) for f in schema], t, t + '_')})")
    sql = "SELECT * FROM " + " CROSS JOIN ".join(f"{q} AS {t}" for q, t in zip(parts, STAR))
    exp.append(("ingest", canon.query_digest(con, sql)))
    spark_sql.append(("ingest", sql))
    silver = oracle_sql["etl_transform_sales"]
    elt = oracle_sql["elt_processed_pipeline"]
    # the corpus-sized outputs are checked by fingerprint, the dims whole
    for key, table, sql in (("silver", "sales_processed", silver), ("elt", "elt_processed", elt),
                            ("gold:fact_sales", "fact_sales", oracle_sql[GOLD["fact_sales"]])):
        fsql, d = _fingerprint_of(con, sql, table)
        exp.append((key, d))
        spark_sql.append((key, fsql))
    for t, q in GOLD.items():
        if t == "fact_sales":
            continue
        exp.append((f"gold:{t}", canon.query_digest(con, oracle_sql[q])))
        spark_sql.append((f"gold:{t}", "SELECT date_id, date_format(order_date, 'yyyy-MM-dd') AS "
                          "order_date, order_year, order_month FROM dim_date" if t == "dim_date"
                          else f"SELECT * FROM {t}"))
    for k, (spark, duck) in ETL_READBACKS.items():
        exp.append((k, canon.query_digest(con, duck.format(elt=elt, silver=silver))))
        spark_sql.append((k, spark))
    _write_tsv(os.path.join(out_dir, "expected.tsv"), [(k, f"{n}\t{d}") for k, (n, d) in exp])
    _write_tsv(os.path.join(out_dir, "spark_sql.tsv"), spark_sql)
    write_feed(con, out_dir)


def curation(data_dir, out_dir, oracle_sql, entries):
    con = connect(data_dir, CORPUS)
    exp = [(e, canon.query_digest(con, oracle_sql[e])) for e in entries]
    spark_sql = []
    for k, sql in CURATION_READBACKS.items():
        exp.append((k, canon.query_digest(con, sql.format(t="documents"))))
        spark_sql.append((k, sql.format(t="documents_bucketed")))
    _write_tsv(os.path.join(out_dir, "expected.tsv"), [(k, f"{n}\t{d}") for k, (n, d) in exp])
    _write_tsv(os.path.join(out_dir, "spark_sql.tsv"), spark_sql)
