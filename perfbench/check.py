"""Output checks, run after the timed region has ended.

Every distinct op output the run wrote is compared with DuckDB, following
the rules of the repository's oracle checker: declared column types must
match (Spark types mapped to the types DuckDB reads back from Spark's
parquet), columns are compared sorted by name, and rows are compared
exactly in emitted order.

- registry ops: ``SparkEntry.oracleSql`` over the run's base tables;
- dashboard functions and text-to-SQL statements: the same question in
  DuckDB over the gold parquet the run wrote;
- incremental cycles: the tech-log status sequence against the arrival
  schedule, and the final bronze layer against the landed inputs.
"""
import decimal
import datetime as dt
import hashlib
import json
import math
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_SIMPLE = {"bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
           "tinyint": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
           "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
           "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
           "binary": "BLOB"}


def _split_top(s):
    """Split ``s`` on commas that are not nested in <> or ()."""
    parts, depth, cur = [], 0, ""
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    return parts + [cur]


def duck_type(spark_type):
    """The DuckDB type of a Spark ``simpleString`` type once written to parquet."""
    t = spark_type.strip()
    if t in _SIMPLE:
        return _SIMPLE[t]
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", t)
    if m:
        return f"DECIMAL({m.group(1)},{m.group(2)})"
    if t.startswith("array<"):
        return duck_type(t[6:-1]) + "[]"
    if t.startswith("struct<"):
        fields = [f.split(":", 1) for f in _split_top(t[7:-1])]
        return "STRUCT(" + ", ".join(f"{n} {duck_type(x)}" for n, x in fields) + ")"
    if t.startswith("map<"):
        k, v = _split_top(t[4:-1])
        return f"MAP({duck_type(k)}, {duck_type(v)})"
    return t.upper()


def _norm(v):
    """A DuckDB value in the form the run wrote Spark values in."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        delta = v - dt.datetime(1970, 1, 1)
        return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return [_norm(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    return a == b


def answer(con, sql):
    """DuckDB's answer to ``sql``: column types by name, and the rows with
    columns sorted by name and values normalized."""
    described = con.execute(f"DESCRIBE ({sql})").fetchall()
    names = [r[0] for r in described]
    order = sorted(names)
    rows = con.execute(sql).fetchall()
    return {"types": {r[0]: r[1] for r in described},
            "rows": [[_norm(r[names.index(c)]) for c in order] for r in rows]}


def cached_answer(con, sql, cache, data_dir):
    """``answer`` for a query over the fixed base tables in ``data_dir``,
    kept under ``cache`` keyed by the SQL text and the tables' directory
    name, which carries the generator's version stamp."""
    key = hashlib.sha256(f"{os.path.basename(os.path.normpath(data_dir))}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    got = answer(con, sql)
    os.makedirs(cache, exist_ok=True)
    with open(f"{path}.tmp", "w") as f:
        json.dump(got, f)
    os.replace(f"{path}.tmp", path)
    return got


def compare(result, expected):
    """None when ``result`` (the run's JSON) equals DuckDB's ``expected``
    answer, else a one-line reason."""
    o_types = expected["types"]
    s_types = {n: duck_type(t) for n, t in result["schema"]}
    drift = {c: (s_types.get(c), o_types.get(c)) for c in sorted(set(o_types) | set(s_types))
             if s_types.get(c) != o_types.get(c)}
    if drift:
        return f"type drift {drift}"
    s_names = [n for n, _ in result["schema"]]
    o = expected["rows"]
    s = [[row[s_names.index(c)] for c in sorted(s_names)] for row in result["rows"]]
    if len(o) != len(s):
        return f"row count spark={len(s)} duckdb={len(o)}"
    for i, (a, b) in enumerate(zip(s, o)):
        if not _same(a, b):
            return f"row {i}: spark={a!r} duckdb={b!r}"
    return None


def tables_con(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def gold_con(gold):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    cols = ("order_id, line_id, customer_id, product_id, {price}, {freight}, "
            "order_purchase_timestamp, delivery_time_days")
    fact = f"read_parquet('{gold}/fact_sales/*/*.parquet', hive_partitioning = true)"
    con.execute(f"CREATE VIEW fact_sales_dec AS SELECT "
                f"{cols.format(price='price', freight='freight_value')} FROM {fact}")
    con.execute(f"CREATE VIEW fact_sales AS SELECT "
                f"{cols.format(price='CAST(price AS DOUBLE) AS price', freight='CAST(freight_value AS DOUBLE) AS freight_value')} "
                f"FROM {fact}")
    for v in ["dim_customers", "dim_products", "dim_time"]:
        con.execute(f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{gold}/{v}/*.parquet')")
    return con


def analytics_sql(name, states):
    """DuckDB form of the engine's dashboard function ``name``."""
    where = ("WHERE c.customer_state IN (" + ", ".join(f"'{s}'" for s in states) + ")"
             if states else "")
    joined = (f"joined AS (SELECT f.*, c.customer_state FROM fact_sales f "
              f"JOIN dim_customers c ON f.customer_id = c.c_custkey {where})")
    money = "CAST(ROUND(SUM(CAST(price AS DECIMAL(18,6))), 2) AS DOUBLE)"
    if name == "kpis":
        return (f"WITH {joined}, per_order AS (SELECT order_id, "
                "SUM(CAST(price AS DECIMAL(18,6))) AS order_revenue, "
                "MAX(delivery_time_days) AS delivery_time_days, "
                "SUM(CAST(freight_value AS DECIMAL(18,6))) AS freight_value "
                "FROM joined GROUP BY order_id) "
                "SELECT CAST(ROUND(SUM(order_revenue), 2) AS DOUBLE) AS total_sales, "
                "ROUND(AVG(delivery_time_days), 2) AS avg_delivery, COUNT(*) AS total_orders, "
                "ROUND(CAST(SUM(freight_value) AS DOUBLE) / COUNT(freight_value), 2) AS avg_freight, "
                "ROUND(CAST(SUM(order_revenue) AS DOUBLE) / COUNT(order_revenue), 2) AS avg_order_value "
                "FROM per_order")
    if name == "topCategories":
        return (f"WITH {joined} SELECT p.category, {money} AS revenue FROM joined j "
                "JOIN dim_products p ON j.product_id = p.p_partkey GROUP BY p.category "
                "ORDER BY revenue DESC, category LIMIT 10")
    if name == "ordersByState":
        return (f"WITH {joined} SELECT customer_state, COUNT(DISTINCT order_id) AS n_orders "
                "FROM joined GROUP BY customer_state ORDER BY n_orders DESC, customer_state")
    if name == "shippingTimeByState":
        return (f"WITH {joined}, per_order AS (SELECT order_id, customer_state, "
                "MAX(delivery_time_days) AS d FROM joined GROUP BY order_id, customer_state) "
                "SELECT customer_state, ROUND(AVG(d), 2) AS avg_delivery_days FROM per_order "
                "GROUP BY customer_state ORDER BY avg_delivery_days DESC, customer_state")
    if name == "avgFreightByState":
        return (f"WITH {joined}, per_order AS (SELECT order_id, customer_state, "
                "SUM(CAST(freight_value AS DECIMAL(18,6))) AS fv FROM joined "
                "GROUP BY order_id, customer_state) SELECT customer_state, "
                "ROUND(CAST(SUM(fv) AS DOUBLE) / COUNT(fv), 2) AS avg_freight FROM per_order "
                "GROUP BY customer_state ORDER BY avg_freight DESC, customer_state")
    if name == "monthlyTrend":
        return (f"WITH {joined} SELECT strftime(order_purchase_timestamp, '%Y-%m') AS period, "
                f"{money} AS revenue FROM joined GROUP BY 1 ORDER BY period")
    if name == "weekdaySeasonality":
        return (f"WITH {joined} SELECT strftime(order_purchase_timestamp, '%A') AS day_of_week, "
                f"{money} AS revenue FROM joined GROUP BY 1 ORDER BY CASE day_of_week "
                "WHEN 'Monday' THEN 1 WHEN 'Tuesday' THEN 2 WHEN 'Wednesday' THEN 3 "
                "WHEN 'Thursday' THEN 4 WHEN 'Friday' THEN 5 WHEN 'Saturday' THEN 6 ELSE 7 END")
    raise ValueError(f"unknown dashboard function {name}")


def expected_log(con, cycle, window, first):
    """The tech-log entries one incremental cycle must return."""
    def month_counts(m):
        return con.execute(
            "SELECT count(*), (SELECT count(*) FROM lineitem WHERE l_orderkey IN "
            "(SELECT o_orderkey FROM orders WHERE strftime(o_orderdate, '%Y-%m') = ?)) "
            "FROM orders WHERE strftime(o_orderdate, '%Y-%m') = ?", [m, m]).fetchone()
    dims = {"customer_full": con.execute("SELECT count(*) FROM customer").fetchone()[0],
            "part_full": con.execute("SELECT count(*) FROM part").fetchone()[0]}
    entries = {}
    if cycle["label"] == "arrival":
        landed = window[:window.index(cycle["new_months"][-1]) + 1]
        for m in landed:
            if m in cycle["new_months"]:
                n_o, n_i = month_counts(m)
                entries[f"orders_{m}"] = ("OK", n_o, n_i)
            else:
                entries[f"orders_{m}"] = ("SKIP", 0, 0)
        for d, n in dims.items():
            entries[d] = ("OK", n, 0) if first else ("SKIP", 0, 0)
    else:
        for m in window:
            ok = cycle["label"] == "changed" and m == cycle["changed_month"]
            entries[f"orders_{m}"] = ("OK", 0, 0) if ok else ("SKIP", 0, 0)
        for d in dims:
            entries[d] = ("SKIP", 0, 0)
    return entries


def check_cycle(result, cycle, window, first):
    con = tables_con(cycle["snapshot"])
    want = expected_log(con, cycle, window, first)
    names = [n for n, _ in result["schema"]]
    got = {r[names.index("file_name")]: (r[names.index("status")], r[names.index("rows_orders")],
                                          r[names.index("rows_items")]) for r in result["rows"]}
    if got != want:
        diff = {k: (got.get(k), want.get(k)) for k in sorted(set(got) | set(want))
                if got.get(k) != want.get(k)}
        return f"tech log differs from schedule: {diff}"
    return None


def check_bronze(expect, b):
    """Final bronze ``b`` holds every landed order and item exactly once,
    with the payload first ingested (insert-only), and the dimensions as
    landed."""
    last = [c for c in expect["cycles"] if c["label"] == "rerun"][0]["snapshot"]
    con = tables_con(last)
    con.execute(f"CREATE VIEW b_orders AS SELECT * FROM read_parquet('{b}/orders/*.parquet')")
    con.execute(f"CREATE VIEW b_items AS SELECT * EXCLUDE (period) FROM "
                f"read_parquet('{b}/lineitem/*/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE VIEW b_customer AS SELECT * FROM read_parquet('{b}/customer/*.parquet')")
    for got, want in [("b_orders", "orders"), ("b_items", "lineitem"), ("b_customer", "customer")]:
        extra = con.execute(f"SELECT count(*) FROM (SELECT * FROM {got} EXCEPT ALL "
                            f"SELECT * FROM {want})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM (SELECT * FROM {want} EXCEPT ALL "
                              f"SELECT * FROM {got})").fetchone()[0]
        if extra or missing:
            return f"bronze {want}: {extra} extra rows, {missing} missing rows"
    return None


def check_run(run, script, out_dir, oracle_cache):
    """Map each op id to None (correct) or the reason it is counted failed."""
    verdicts = {}
    cache = {}
    cons = {}

    def con_for(kind, data_dir):
        key = (kind, data_dir)
        if key not in cons:
            cons[key] = gold_con(data_dir) if kind == "gold" else tables_con(data_dir)
        return cons[key]

    ops_by_key = {}
    for p in script["passes"]:
        for op in p:
            ops_by_key[op["key"]] = op
    for op in run["ops"]:
        if op["kind"] == "setup":
            continue
        if not op["ok"]:
            verdicts[op["id"]] = f"threw: {op.get('error')}"
            continue
        spec = ops_by_key[op["key"]]
        ck = (op["key"], op["result"])
        if ck not in cache:
            with open(os.path.join(out_dir, "results", op["result"])) as f:
                result = json.load(f)
            try:
                if op["kind"] == "registry":
                    sql = run["oracle_sql"].get(op["name"])
                    if sql is None:
                        reason = "no oracle"
                    else:
                        d = script["data_dir"]
                        reason = compare(result, cached_answer(con_for("tables", d), sql, oracle_cache, d))
                elif op["kind"] == "analytics":
                    reason = compare(result, answer(con_for("gold", run["gold_dir"]),
                                                    analytics_sql(op["name"], spec["states"])))
                elif op["kind"] == "sql":
                    reason = compare(result, answer(con_for("gold", run["gold_dir"]), spec["sql"]))
                else:
                    i = int(op["key"].split(":")[1])
                    expect = script["expect"]
                    reason = check_cycle(result, expect["cycles"][i], expect["window"], i == 0)
            except Exception as e:  # a check that cannot run is a failed check
                reason = f"check error: {e}"
            cache[ck] = reason
        verdicts[op["id"]] = cache[ck]
    cycles = [o for o in run["ops"] if o["kind"] == "cycle"]
    if cycles and all(o["ok"] for o in cycles):
        reason = check_bronze(script["expect"], script["bronze"])
        if reason and verdicts.get(cycles[-1]["id"]) is None:
            verdicts[cycles[-1]["id"]] = reason
    return verdicts
