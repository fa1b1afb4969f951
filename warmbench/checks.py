"""Output checks against independent DuckDB SQL.

Every check reads the engine's output files with DuckDB and compares them
with a restatement of the same semantics in SQL over the generated inputs;
no Spark code runs here. A check returns a list of problems (empty when the
output is correct), so a caller can count a failed operation and say why.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import json
import math
import os

import duckdb
import pyarrow as pa

# Column kinds drive the canonical projection used in every comparison.
STR, INT, DBL, TS, DATE, BOOL = "str", "int", "dbl", "ts", "date", "bool"

_CAST = {
    STR: "CAST({c} AS VARCHAR)",
    INT: "CAST({c} AS BIGINT)",
    DBL: "round(CAST({c} AS DOUBLE), 4)",
    TS: "CAST({c} AS TIMESTAMP)",
    DATE: "CAST({c} AS DATE)",
    BOOL: "CAST({c} AS BOOLEAN)",
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _proj(cols: dict[str, str]) -> str:
    return ", ".join(f"{_CAST[k].format(c=c)} AS {c}" for c, k in cols.items())


def diff_count(con, actual: str, expected: str, cols: dict[str, str]) -> int:
    """Rows in the symmetric multiset difference of two relations (SQL
    FROM-clause text), compared on the canonical projection of ``cols``."""
    p = _proj(cols)
    return con.execute(
        f"""
        SELECT count(*) FROM (
          (SELECT {p} FROM {actual} EXCEPT ALL SELECT {p} FROM {expected})
          UNION ALL
          (SELECT {p} FROM {expected} EXCEPT ALL SELECT {p} FROM {actual})
        )"""
    ).fetchone()[0]


def parquet_rel(path: str) -> str:
    """FROM-clause text for a (possibly hive-partitioned) parquet output."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


# ---------------------------------------------------------------------------
# Medallion: bronze / silver / gold
# ---------------------------------------------------------------------------

BRONZE_COLS = {
    "invoice_no": STR, "stock_code": STR, "description": STR, "quantity": INT,
    "invoice_timestamp": TS, "unit_price": DBL, "customer_id": STR,
    "country": STR, "flag_valid_quantity": BOOL, "flag_valid_price": BOOL,
    "flag_valid_invoice": BOOL, "bronze_quality_score": DBL,
}
SILVER_COLS = {
    "invoice_no": STR, "stock_code": STR, "description": STR, "quantity": INT,
    "invoice_timestamp": TS, "unit_price": DBL, "customer_id": STR,
    "country": STR, "total_amount": DBL, "invoice_date": DATE,
    "invoice_year": INT, "invoice_month": INT, "invoice_quarter": INT,
    "invoice_hour": INT, "completeness_score": DBL,
}
GOLD_COLS = {
    "sales_summary": {
        "country": STR, "invoice_year": INT, "invoice_month": INT,
        "transaction_count": INT, "total_revenue": DBL, "total_quantity": INT,
        "unique_customers": INT, "unique_invoices": INT,
    },
    "product_analysis": {
        "stock_code": STR, "description": STR, "country": STR,
        "total_revenue": DBL, "total_quantity": INT,
    },
    "customer_metrics": {
        "customer_id": STR, "country": STR, "total_spent": DBL,
        "total_orders": INT, "first_purchase": DATE, "last_purchase": DATE,
        "tenure_days": INT,
    },
    "time_series_daily": {
        "invoice_date": DATE, "country": STR, "daily_revenue": DBL,
        "daily_quantity": INT, "daily_invoices": INT, "revenue_ma7": DBL,
    },
    "cohort_analysis": {
        "cohort_month": DATE, "period_number": INT, "active_customers": INT,
        "cohort_revenue": DBL,
    },
}
# revenue_rank breaks ties on (revenue, stock_code) only, so two rows of one
# stock code with different descriptions may take either rank: compare the
# rank as a multiset per (country, stock_code, revenue) instead
PRODUCT_RANK_COLS = {
    "country": STR, "stock_code": STR, "total_revenue": DBL, "revenue_rank": INT,
}

_NULL_TOKENS = "('', 'nan', 'none', 'null', 'n/a')"
_DEC = "CAST(total_amount AS DECIMAL(18,2))"


def _norm(c: str) -> str:
    return f"CASE WHEN lower(trim({c})) IN {_NULL_TOKENS} THEN NULL ELSE trim({c}) END AS {c}"


def build_medallion_oracle(con, csv_path: str, ingest_date: str) -> None:
    """Bronze, silver and the five gold tables restated in SQL over the CSV,
    as tables ``o_bronze``, ``o_silver`` and ``o_<gold name>``."""
    con.execute(
        f"""CREATE OR REPLACE TABLE o_raw AS SELECT * FROM read_csv('{csv_path}',
            header = true, all_varchar = true, delim = ',', quote = '"', escape = '"')"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE o_bronze AS
        SELECT *,
          CAST(fq AS BOOLEAN) AS flag_valid_quantity,
          CAST(fp AS BOOLEAN) AS flag_valid_price,
          CAST(fi AS BOOLEAN) AS flag_valid_invoice,
          (fq + fp + fi) / 3.0 AS bronze_quality_score,
          DATE '{ingest_date}' AS ingestion_date
        FROM (
          SELECT *,
            CAST(quantity IS NOT NULL AND quantity > 0 AS INT) AS fq,
            CAST(unit_price IS NOT NULL AND unit_price >= 0 AS INT) AS fp,
            CAST(invoice_no IS NOT NULL AND trim(invoice_no) <> '' AS INT) AS fi
          FROM (
            SELECT InvoiceNo AS invoice_no, StockCode AS stock_code,
              Description AS description, CAST(Quantity AS INTEGER) AS quantity,
              strptime(InvoiceDate, '%m/%d/%Y %H:%M') AS invoice_timestamp,
              CAST(UnitPrice AS DOUBLE) AS unit_price, CustomerID AS customer_id,
              Country AS country
            FROM o_raw))"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE o_silver_pre AS
        SELECT *, CAST(invoice_timestamp AS DATE) AS invoice_date,
          year(invoice_timestamp) AS invoice_year,
          month(invoice_timestamp) AS invoice_month,
          quarter(invoice_timestamp) AS invoice_quarter,
          hour(invoice_timestamp) AS invoice_hour,
          ((invoice_no IS NOT NULL)::INT + (stock_code IS NOT NULL)::INT
           + (description IS NOT NULL)::INT + (quantity IS NOT NULL)::INT
           + (unit_price IS NOT NULL)::INT + (customer_id IS NOT NULL)::INT
           + (country IS NOT NULL)::INT) / 7.0 AS completeness_score
        FROM (
          SELECT *, quantity * unit_price AS total_amount FROM (
            SELECT {_norm('invoice_no')}, {_norm('stock_code')},
              {_norm('description')}, {_norm('customer_id')}, {_norm('country')},
              quantity, unit_price, invoice_timestamp
            FROM o_bronze)
          WHERE quantity > 0 AND unit_price >= 0 AND invoice_no IS NOT NULL
            AND trim(invoice_no) <> '')
        QUALIFY row_number() OVER (PARTITION BY invoice_no, stock_code, customer_id) = 1"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE o_silver AS
        WITH st AS (
          SELECT CAST(sum({_DEC}) AS DOUBLE) AS s,
                 CAST(sum({_DEC} * {_DEC}) AS DOUBLE) AS s2,
                 count(total_amount) AS n
          FROM o_silver_pre),
        th AS (SELECT s / n AS mean, sqrt((s2 - s * s / n) / (n - 1)) AS std FROM st)
        SELECT p.*, abs(total_amount - mean) > 3 * std AS is_outlier,
               abs(abs(total_amount - mean) - 3 * std) AS outlier_margin, std
        FROM o_silver_pre p, th"""
    )
    rev = f"CAST(sum({_DEC}) AS DOUBLE)"
    con.execute(
        f"""CREATE OR REPLACE TABLE o_sales_summary AS
        SELECT country, invoice_year, invoice_month, count(*) AS transaction_count,
          {rev} AS total_revenue, sum(quantity) AS total_quantity,
          count(DISTINCT customer_id) AS unique_customers,
          count(DISTINCT invoice_no) AS unique_invoices
        FROM o_silver GROUP BY ALL"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE o_product_analysis AS
        SELECT *, row_number() OVER (PARTITION BY country
                    ORDER BY total_revenue DESC, stock_code) AS revenue_rank
        FROM (SELECT stock_code, description, country, {rev} AS total_revenue,
                sum(quantity) AS total_quantity
              FROM o_silver GROUP BY ALL)"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE o_customer_metrics AS
        SELECT customer_id, country, {rev} AS total_spent,
          count(DISTINCT invoice_no) AS total_orders,
          min(invoice_date) AS first_purchase, max(invoice_date) AS last_purchase,
          datediff('day', min(invoice_date), max(invoice_date)) AS tenure_days
        FROM o_silver WHERE customer_id IS NOT NULL GROUP BY ALL"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE o_time_series_daily AS
        SELECT invoice_date, country, CAST(rev_dec AS DOUBLE) AS daily_revenue,
          daily_quantity, daily_invoices,
          CAST(sum(rev_dec) OVER w AS DOUBLE) / count(*) OVER w AS revenue_ma7
        FROM (SELECT invoice_date, country, sum({_DEC}) AS rev_dec,
                sum(quantity) AS daily_quantity,
                count(DISTINCT invoice_no) AS daily_invoices
              FROM o_silver GROUP BY ALL)
        WINDOW w AS (PARTITION BY country ORDER BY invoice_date
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE o_cohort_analysis AS
        WITH firsts AS (
          SELECT customer_id,
                 CAST(date_trunc('month', min(invoice_timestamp)) AS DATE) AS cohort_month
          FROM o_silver WHERE customer_id IS NOT NULL GROUP BY 1),
        j AS (
          SELECT s.*, f.cohort_month,
                 CAST(date_trunc('month', s.invoice_timestamp) AS DATE) AS om
          FROM o_silver s JOIN firsts f USING (customer_id))
        SELECT cohort_month,
          (year(om) - year(cohort_month)) * 12 + (month(om) - month(cohort_month)) AS period_number,
          count(DISTINCT customer_id) AS active_customers, {rev} AS cohort_revenue
        FROM j GROUP BY 1, 2"""
    )


def check_medallion(con, out_dir: str, csv_lines: int) -> list[str]:
    """Compare one pass's bronze/silver/gold output with the oracle tables
    made by ``build_medallion_oracle``."""
    problems = []
    bronze = parquet_rel(f"{out_dir}/bronze")
    n, bad_meta = con.execute(
        f"""SELECT count(*), count(*) FILTER (WHERE row_id IS NULL
              OR source_file NOT LIKE '%retail.csv'
              OR CAST(ingestion_date AS DATE) <> (SELECT any_value(ingestion_date) FROM o_bronze))
            FROM {bronze}"""
    ).fetchone()
    if n != csv_lines:
        problems.append(f"bronze: {n} rows for {csv_lines} CSV lines")
    if bad_meta:
        problems.append(f"bronze: {bad_meta} rows with bad lineage metadata")
    d = diff_count(con, bronze, "o_bronze", BRONZE_COLS)
    if d:
        problems.append(f"bronze: {d} rows differ from the oracle")

    silver = parquet_rel(f"{out_dir}/silver")
    d = diff_count(con, silver, "o_silver", SILVER_COLS)
    if d:
        problems.append(f"silver: {d} rows differ from the oracle")
    # the 3-sigma flag is compared where the row is not within rounding
    # distance of the threshold
    flag_diff = con.execute(
        f"""SELECT count(*) FROM {silver} a JOIN o_silver o
              ON a.invoice_no = o.invoice_no AND a.stock_code = o.stock_code
             AND a.customer_id IS NOT DISTINCT FROM o.customer_id
            WHERE a.is_outlier <> o.is_outlier AND o.outlier_margin > 1e-9 * o.std"""
    ).fetchone()[0]
    if flag_diff:
        problems.append(f"silver: {flag_diff} rows with a wrong is_outlier flag")

    for name, cols in GOLD_COLS.items():
        rel = parquet_rel(f"{out_dir}/gold/{name}")
        d = diff_count(con, rel, f"o_{name}", cols)
        if d:
            problems.append(f"gold.{name}: {d} rows differ from the oracle")
    rel = parquet_rel(f"{out_dir}/gold/product_analysis")
    d = diff_count(con, rel, "o_product_analysis", PRODUCT_RANK_COLS)
    if d:
        problems.append(f"gold.product_analysis: {d} revenue ranks differ")
    return problems


# ---------------------------------------------------------------------------
# Dashboard queries against their registered DuckDB oracle
# ---------------------------------------------------------------------------


def register_star(con, star_dir: str) -> None:
    for path in sorted(glob.glob(os.path.join(star_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return f"{f + 0.0:.6f}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def rowset(cols: list[str], rows: list[tuple]) -> list[str]:
    """Order-insensitive canonical form: columns sorted by name, floats at
    six decimals, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in idx) for r in rows)


def check_query(con, oracle_sql: str, cols: list[str], rows: list[tuple]) -> list[str]:
    res = con.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(ocols) != sorted(cols):
        return [f"columns {sorted(cols)} != oracle {sorted(ocols)}"]
    if len(rows) != len(orows):
        return [f"{len(rows)} rows != oracle {len(orows)}"]
    a, b = rowset(cols, rows), rowset(ocols, orows)
    if a != b:
        first = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return [f"values differ, first: {a[first]!r} != oracle {b[first]!r}"]
    return []


# ---------------------------------------------------------------------------
# CDC -> SCD2: final dimension against a window computation over the log
# ---------------------------------------------------------------------------

SCD2_COLS = {
    "customer_id": INT, "segment": STR, "nation_key": INT, "acctbal": DBL,
    "valid_from_ms": INT, "valid_to_ms": INT, "is_current": BOOL,
}


def load_change_log(con, src_dir: str) -> int:
    """Table ``o_chg``: every change event with its batch (file) number."""
    cols = {k: [] for k in ("batch", "op", "ts_ms", "customer_id", "segment", "nation_key", "acctbal")}
    for path in sorted(glob.glob(os.path.join(src_dir, "batch_*.json"))):
        batch = int(os.path.basename(path)[6:11])
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                row = e["before"] if e["op"] == "d" else e["after"]
                cols["batch"].append(batch)
                cols["op"].append(e["op"])
                cols["ts_ms"].append(e["ts_ms"])
                for c in ("customer_id", "segment", "nation_key", "acctbal"):
                    cols[c].append(row[c])
    table = pa.table({
        "batch": pa.array(cols["batch"], pa.int32()),
        "op": pa.array(cols["op"], pa.string()),
        "ts_ms": pa.array(cols["ts_ms"], pa.int64()),
        "customer_id": pa.array(cols["customer_id"], pa.int64()),
        "segment": pa.array(cols["segment"], pa.string()),
        "nation_key": pa.array(cols["nation_key"], pa.int32()),
        "acctbal": pa.array(cols["acctbal"], pa.float64()),
    })
    con.register("o_chg_arrow", table)
    con.execute("CREATE OR REPLACE TABLE o_chg AS SELECT * FROM o_chg_arrow")
    con.unregister("o_chg_arrow")
    return table.num_rows


def build_scd2_oracle(con) -> None:
    """Table ``o_scd2``: the dimension the change log implies when each file
    is one micro-batch. Within a batch the newest event per key wins; an
    event older than what the key already saw is late and ignored; an
    upsert equal to the key's state and a delete of a key with no open
    version change nothing; each remaining upsert opens a version that the
    key's next remaining event closes."""
    con.execute(
        """CREATE OR REPLACE TABLE o_scd2 AS
        WITH lww AS (
          SELECT * FROM o_chg
          QUALIFY row_number() OVER (PARTITION BY batch, customer_id ORDER BY ts_ms DESC) = 1),
        fresh AS (
          SELECT * FROM lww
          QUALIFY ts_ms >= coalesce(max(ts_ms) OVER (PARTITION BY customer_id ORDER BY batch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), ts_ms)),
        seq AS (
          SELECT *, lag(op) OVER w AS p_op, lag(segment) OVER w AS p_segment,
                 lag(nation_key) OVER w AS p_nation_key, lag(acctbal) OVER w AS p_acctbal
          FROM fresh WINDOW w AS (PARTITION BY customer_id ORDER BY ts_ms)),
        eff AS (
          SELECT * FROM seq
          WHERE (op <> 'd' AND (p_op IS NULL OR p_op = 'd'
                   OR p_segment IS DISTINCT FROM segment
                   OR p_nation_key IS DISTINCT FROM nation_key
                   OR p_acctbal IS DISTINCT FROM acctbal))
             OR (op = 'd' AND p_op IS NOT NULL AND p_op <> 'd')),
        ver AS (
          SELECT *, lead(ts_ms) OVER (PARTITION BY customer_id ORDER BY ts_ms) AS next_ts
          FROM eff)
        SELECT customer_id, segment, nation_key, acctbal, ts_ms AS valid_from_ms,
               next_ts AS valid_to_ms, next_ts IS NULL AS is_current
        FROM ver WHERE op <> 'd'"""
    )


def versioned_paths(table_dir: str) -> list[str]:
    """Data directories of the latest commit of a versioned table, read
    from its manifest (a split commit: its base plus every append segment)."""
    with open(os.path.join(table_dir, "_manifest.json")) as fh:
        entry = json.load(fh)[-1]
    v = entry["version"]
    if "appends" not in entry:
        return [os.path.join(table_dir, f"v={v}")]
    return [os.path.join(table_dir, f"v={v}", "base")] + [
        os.path.join(table_dir, f"v={a}", "append") for a in entry["appends"]
    ]


def check_scd2(con, table_dir: str) -> list[str]:
    files = [f for p in versioned_paths(table_dir) for f in glob.glob(f"{p}/*.parquet")]
    if not files:
        return ["scd2: the latest commit has no data files"]
    listing = ", ".join(f"'{f}'" for f in files)
    rel = f"""(SELECT customer_id, segment, nation_key, acctbal,
                 epoch_ms(CAST(valid_from AS TIMESTAMP)) AS valid_from_ms,
                 epoch_ms(CAST(valid_to AS TIMESTAMP)) AS valid_to_ms, is_current
               FROM read_parquet([{listing}], union_by_name = true))"""
    problems = []
    d = diff_count(con, rel, "o_scd2", SCD2_COLS)
    if d:
        problems.append(f"scd2: {d} rows differ from the window oracle")
    dup = con.execute(
        f"SELECT count(*) - count(DISTINCT customer_id) FROM {rel} WHERE is_current"
    ).fetchone()[0]
    if dup:
        problems.append(f"scd2: {dup} keys with more than one current version")
    return problems
