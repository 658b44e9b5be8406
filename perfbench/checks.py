"""Correctness checks for benchmark outputs, run with DuckDB outside every
timed section.

- reports: each dashboard report's rows against DuckDB SQL over the same
  gold parquet;
- medallion: gold row counts and money totals, and silver row counts,
  against DuckDB SQL over the same input CSVs;
- catalog: each query's dumped output against its `Catalog.oracleSql`,
  canonicalised as the repository's own oracle check does (columns sorted by
  name, values stringified, rows sorted).

Each function returns a list of failure strings; an empty list means pass.
"""
import math
import os

import duckdb

ROUNDED = {"YoY_Pct", "Pct_Of_Total", "Avg_Approval_Days", "Avg_Delivery_Days"}


def _gold(con, gold):
    for t in sorted(os.listdir(gold)):
        p = os.path.join(gold, t)
        if os.path.isdir(p):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{p}/**/*.parquet', hive_partitioning = true)")


def _share(dim, key, group):
    return f"""
        SELECT d.{group} AS {group}, sum(f.Sales_Amount) AS Group_Sales,
               round(sum(f.Sales_Amount) * 100.0 / sum(sum(f.Sales_Amount)) OVER (), 2)
                 AS Pct_Of_Total
        FROM fact_sales f JOIN {dim} d ON f.{key} = d.{key}
        GROUP BY d.{group} ORDER BY Group_Sales DESC"""


REPORT_SQL = {
    "monthlySalesYoY": """
        WITH m AS (
          SELECT CAST(Order_Date_SK // 10000 AS INTEGER) AS Year,
                 CAST((Order_Date_SK % 10000) // 100 AS INTEGER) AS Month,
                 sum(Sales_Amount) AS Sales
          FROM fact_sales GROUP BY 1, 2),
        l AS (
          SELECT *, CASE WHEN lag(Year) OVER w = Year - 1 THEN lag(Sales) OVER w END
                      AS PrevYearSales
          FROM m WINDOW w AS (PARTITION BY Month ORDER BY Year))
        SELECT Year, Month, Sales, PrevYearSales, Sales - PrevYearSales AS YoY_Diff,
               round((Sales - PrevYearSales) * 100.0 / PrevYearSales, 2) AS YoY_Pct
        FROM l ORDER BY Year, Month""",
    "topProducts": """
        SELECT Product_ID, sum(Sales_Amount) AS Product_Sales, count(*) AS Items_Sold,
               row_number() OVER (ORDER BY sum(Sales_Amount) DESC, Product_ID) AS Rank
        FROM fact_sales GROUP BY Product_ID
        ORDER BY Product_Sales DESC, Product_ID LIMIT 10""",
    "avgDaily": """
        SELECT avg(day_sales) AS Avg_Daily_Sales, avg(day_orders) AS Avg_Daily_Orders,
               count(*) AS Days_Observed
        FROM (SELECT Order_Date_SK, sum(Total_Payment_Value) AS day_sales,
                     count(*) AS day_orders
              FROM fact_orders GROUP BY Order_Date_SK)""",
    "deliveryKpis": """
        SELECT round(avg(Approval_Days), 2) AS Avg_Approval_Days,
               round(avg(Total_Delivery_Days), 2) AS Avg_Delivery_Days,
               sum(CASE WHEN Customer_Delivery_Date > Estimated_Delivery_Date
                        THEN 1 ELSE 0 END) AS Late_Deliveries,
               count(*) AS Total_Orders
        FROM fact_orders""",
    "shareOfSales_customer_state": _share("dim_customers", "Customer_ID", "Customer_State"),
    "shareOfSales_seller_region": _share("dim_sellers", "Seller_ID", "Seller_Region"),
    "shareOfSales_product_category": _share("dim_products", "Product_ID", "Product_Category"),
}


def _same(col, got, exp):
    if got is None or exp is None:
        return got is None and exp is None
    if isinstance(exp, float) or isinstance(got, float):
        g, e = float(got), float(exp)
        if math.isnan(g) or math.isnan(e):
            return math.isnan(g) and math.isnan(e)
        tol = 0.0100001 if col in ROUNDED else max(1e-6, 1e-9 * abs(e))
        return abs(g - e) <= tol
    return got == exp


def check_reports(gold, reports):
    """reports: {name: [row dict, ...]} as collected by the harness."""
    con = duckdb.connect()
    _gold(con, gold)
    failures = []
    for name, rows in sorted(reports.items()):
        cur = con.execute(REPORT_SQL[name])
        cols = [d[0] for d in cur.description]
        exp = [dict(zip(cols, r)) for r in cur.fetchall()]
        if len(rows) != len(exp):
            failures.append(f"{name}: {len(rows)} rows, DuckDB {len(exp)}")
            continue
        bad = [(i, c, g.get(c), e[c]) for i, (g, e) in enumerate(zip(rows, exp))
               for c in cols if not _same(c, g.get(c), e[c])]
        if rows and set(rows[0]) != set(cols):
            failures.append(f"{name}: columns {sorted(rows[0])} vs DuckDB {sorted(cols)}")
        elif bad:
            i, c, g, e = bad[0]
            failures.append(f"{name}: {len(bad)} values differ; row {i} {c}: {g!r} vs {e!r}")
    con.close()
    return failures


def _csv_views(con, csv_dir):
    files = {
        "customers": "olist_customers_dataset.csv", "orders": "olist_orders_dataset.csv",
        "items": "olist_order_items_dataset.csv", "pay": "olist_order_payments_dataset.csv",
        "rev": "olist_order_reviews_dataset.csv", "products": "olist_products_dataset.csv",
        "sellers": "olist_sellers_dataset.csv", "geo": "olist_geolocation_dataset.csv",
    }
    for v, f in files.items():
        con.execute(f"CREATE OR REPLACE VIEW {v} AS SELECT * FROM read_csv("
                    f"'{os.path.join(csv_dir, f)}', header = true, all_varchar = true)")
    con.execute("""
        CREATE OR REPLACE VIEW s_items AS SELECT * FROM items QUALIFY row_number() OVER (
          PARTITION BY order_id ORDER BY CAST(order_item_id AS INTEGER), product_id) = 1;
        CREATE OR REPLACE VIEW s_pay AS SELECT * FROM (SELECT * FROM pay QUALIFY row_number()
          OVER (PARTITION BY order_id ORDER BY CAST(payment_sequential AS INTEGER), payment_type) = 1)
          WHERE payment_type <> 'not_defined';
        CREATE OR REPLACE VIEW s_rev AS SELECT * FROM (SELECT * FROM rev QUALIFY row_number()
          OVER (PARTITION BY order_id ORDER BY review_id) = 1)
          WHERE length(review_id) = 32
            AND CAST(review_score AS INTEGER) BETWEEN 1 AND 5
            AND NOT regexp_matches(review_comment_message, '[^a-zA-Z0-9\\s.,!?]')
            AND NOT regexp_matches(review_comment_title, '[^a-zA-Z0-9\\s.,!?]')
            AND regexp_matches(review_creation_date, '^\\d{4}-\\d{2}-\\d{2}');
        CREATE OR REPLACE VIEW pay_agg AS SELECT order_id,
          sum(CAST(payment_value AS DOUBLE)) AS v FROM s_pay GROUP BY order_id;
    """)


def expected_medallion(csv_dir):
    """Gold row counts, money totals and silver row counts from the CSVs."""
    con = duckdb.connect()
    _csv_views(con, csv_dir)
    q = lambda sql: con.execute(sql).fetchone()[0]
    exp = {
        "gold_rows": {
            "dim_date": q("""SELECT date_diff('day', min(CAST(order_purchase_timestamp AS TIMESTAMP))::DATE,
                              max(CAST(order_purchase_timestamp AS TIMESTAMP))::DATE) + 1 FROM orders"""),
            "dim_time": 24,
            "dim_customers": q("SELECT count(*) FROM customers"),
            "dim_products": q("SELECT count(*) FROM products"),
            "dim_sellers": q("SELECT count(*) FROM sellers"),
            "dim_geography": q("SELECT count(DISTINCT geolocation_zip_code_prefix) FROM geo"),
            "dim_order_status": q("SELECT count(DISTINCT order_status) FROM orders"),
            "dim_payment_types": q("SELECT count(DISTINCT payment_type) FROM s_pay"),
            "dim_review_scores": q("SELECT count(DISTINCT review_score) FROM s_rev"),
            "fact_sales": q("""SELECT count(*) FROM s_items i JOIN orders o USING (order_id)
                               JOIN pay_agg p USING (order_id)"""),
            "fact_orders": q("""SELECT count(*) FROM orders o JOIN pay_agg p USING (order_id)
                                JOIN (SELECT DISTINCT order_id FROM s_items) i USING (order_id)"""),
            "fact_reviews": q("SELECT count(*) FROM s_rev r JOIN orders o USING (order_id)"),
        },
        "money": {
            "fact_sales.Sales_Amount": q("""SELECT sum(CAST(price AS DOUBLE)) FROM s_items i
                JOIN orders o USING (order_id) JOIN pay_agg p USING (order_id)"""),
            "fact_orders.Total_Payment_Value": q("""SELECT sum(p.v) FROM orders o
                JOIN pay_agg p USING (order_id)
                JOIN (SELECT DISTINCT order_id FROM s_items) i USING (order_id)"""),
        },
        "silver_rows": {
            "customers": q("SELECT count(*) FROM customers"),
            "orders": q("SELECT count(*) FROM orders"),
            "geolocation": q("SELECT count(*) FROM geo"),
            "order_items": q("SELECT count(*) FROM s_items"),
            "order_payments": q("SELECT count(*) FROM s_pay"),
            "order_reviews": q("SELECT count(*) FROM s_rev"),
            "products": q("SELECT count(*) FROM products"),
            "sellers": q("SELECT count(*) FROM sellers"),
        },
    }
    con.close()
    return exp


def check_medallion(gold, run_report, expected):
    """Gold read back from parquet, and the pipeline's own RunReport."""
    failures = []
    con = duckdb.connect()
    _gold(con, gold)
    for t, n in sorted(expected["gold_rows"].items()):
        got = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        if got != n:
            failures.append(f"gold {t}: {got} rows, expected {n}")
    for k, v in sorted(expected["money"].items()):
        t, c = k.split(".")
        got = con.execute(f"SELECT sum({c}) FROM {t}").fetchone()[0]
        if got is None or abs(got - v) > max(1e-6, 1e-9 * abs(v)):
            failures.append(f"gold {k}: {got}, expected {v}")
    con.close()
    for t, n in sorted(expected["silver_rows"].items()):
        got = run_report["silver_rows"].get(t)
        if got != n:
            failures.append(f"silver {t}: {got} rows, expected {n}")
    for c in run_report["quality_checks"]:
        if c["violations"] != 0:
            failures.append(f"quality check '{c['name']}': {c['violations']} violations")
    if sorted(run_report["gold_tables"]) != sorted(expected["gold_rows"]):
        failures.append(f"gold tables {run_report['gold_tables']}")
    return failures


CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df[sorted(df.columns)]
    s = df.astype(str)
    return s.loc[s.sort_values(by=list(s.columns)).index].reset_index(drop=True)


def check_catalog(fixture, dump_dir, names, oracle_sql):
    """Returns {query name: failure} for every query that does not match."""
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet/*.parquet')")
    bad = {}
    for name in names:
        path = os.path.join(dump_dir, name)
        try:
            got = pq.read_table(path).to_pandas()
        except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
            bad[name] = f"output unreadable: {e}"
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            continue  # no oracle: rows-only check, as in the repository's gate
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            bad[name] = f"oracle SQL error: {e}"
            continue
        g, x = _canon(got), _canon(exp)
        if list(g.columns) != list(x.columns):
            bad[name] = f"columns {list(g.columns)} vs {list(x.columns)}"
        elif len(g) != len(x):
            bad[name] = f"{len(g)} rows vs {len(x)}"
        elif not g.equals(x):
            bad[name] = f"{int((g != x).any(axis=1).sum())}/{len(g)} rows differ"
    con.close()
    return bad
