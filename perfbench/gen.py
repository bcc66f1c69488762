"""Seeded input generator for the benchmark.

Everything the engine sees is written here from ``--seed``: the ten base
tables (the TPC-H-like star schema plus events, documents and embeddings,
with the same schemas and value domains as the engine's test data), and
each workload's op script. The engine never sees the seed itself.
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORKLOADS = {
    "dashboard": "many short analyst requests over the materialized gold layer: "
                 "per-request planning, scheduling and footer costs dominate; "
                 "setup is Gold.ensure",
    "batch": "a nightly batch: month-grain arrivals through Landing.explode and "
             "Incremental.run, an unchanged rerun and a changed month, then the "
             "LLM-curation queries and a stateful streaming query; per-file, "
             "kernel, shuffle and barrier costs dominate and gold is never read",
}

# Base-table size, as a TPC-H-like scale factor. The base tables come from a
# fixed data seed; ``--seed`` drives everything derived from them (requests,
# orders, arrival windows), so seeds vary the work while the data, and so
# each oracle answer, stays put.
SF = 0.01
DATA_SEED = 20260101
# Passes in a dashboard script; the region runs them until --seconds have
# passed. A batch script has one pass: a pass owns its landing and bronze
# roots and its streaming source (the engine materializes each once per JVM
# and input path), and one pass already runs longer than a run measures.
DASHBOARD_PASSES = 4
# Timed repetitions of each workload's preparation; setup_s reports the
# median. The first Gold.ensure of a JVM is cold and each takes seconds,
# so dashboard repeats it fewer times than batch its near-instant setup.
SETUP_REPS = {"dashboard": 3, "batch": 5}

DASHBOARD_FUNCTIONS = ["kpis", "topCategories", "ordersByState", "shippingTimeByState",
                       "avgFreightByState", "monthlyTrend", "weekdaySeasonality"]
TPCH = ["t01_pricing_summary", "t02_revenue_delta", "t03_shipping_priority",
        "t04_order_priority", "t05_local_supplier_volume", "t06_returned_items",
        "t07_promo_effect", "t08_nation_volume", "t09_disjunctive_filter",
        "t10_large_volume", "t11_dormant_customers", "t12_cheapest_order",
        "t13_priority_line_split", "t14_small_quantity_revenue",
        "t15_sole_returning_supplier", "t16_order_count_distribution",
        "t17_top_supplier", "t18_market_share", "t19_profit_rollup",
        "t20_value_concentration", "t21_supplier_part_types", "t22_qualified_suppliers"]
# The curation order is drawn over registry entries chosen for the layers
# the workload is meant to expose: MinHash-LSH dedup and its barriers, the
# interpreted token path (TextOps.tokens) under TF-IDF, the SQ8 vector
# quantizer, and the graph iteration.
CURATION = ["o22_minhash_lsh_jaccard", "o41_tfidf", "x07_sq8_ann", "o70_pagerank"]
# Months landed by each arrival cycle: an initial load of two months.
ARRIVALS = [2]
# The stateful streaming entry: a stream-stream join (four state stores).
STREAMING = ["s04_stream_stream_join"]

STATES = [f"NATION_{i}" for i in range(25)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark line "
         "sort window order data column join small big customer query stream group "
         "filter vector").split()
EPOCH = dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng, sf):
    """The ten base tables at scale factor ``sf`` as pyarrow tables."""
    n_orders, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_items, n_events = 4 * n_orders, int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day0 = _micros(dt.datetime(1995, 1, 1))
    day_us = 86_400_000_000
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": STATES,
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjectives = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    nouns = ["bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    order_days = rng.integers(0, 2404, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(day0 + order_days * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_items).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_items).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_items).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_items),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_items),
        "l_linestatus": rng.choice(["F", "O"], n_items),
        "l_shipdate": _ts(day0 + (1 + rng.integers(0, 2499, n_items)) * day_us)})
    ev0 = _micros(dt.datetime(2024, 1, 1))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ev0 + np.sort(rng.integers(0, 30 * day_us, n_events))),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_events).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    docs = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.08:  # near-duplicate of an earlier document
            words = docs[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100))]
        docs.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": docs,
        "lang": rng.choice(["en", "en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write_tables(tables, d):
    os.makedirs(d, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(d, f"{name}.parquet"))


def _month(ts_col):
    return np.array(ts_col.cast(pa.int64()).to_numpy() // 1_000_000 // 86400,
                    dtype="datetime64[D]").astype("datetime64[M]").astype(str)


def dashboard_pass(rng):
    """One pass: every dashboard function with a seeded state IN-list, two
    seeded text-to-SQL statements and two seeded TPC-H-shape entries, in a
    seeded order. The mix is fixed so that seeds vary the requests, not the
    amount of work."""
    states = lambda: sorted(rng.choice(STATES, rng.integers(0, 7), replace=False).tolist())
    ops = [{"kind": "analytics", "name": f, "states": states()} for f in DASHBOARD_FUNCTIONS]
    for f in ops:
        f["key"] = f"analytics:{f['name']}:{','.join(f['states'])}"
    for tpl in rng.choice(len(SQL_TEMPLATES), 2, replace=False):
        name, text = SQL_TEMPLATES[tpl]
        y1 = int(rng.integers(1995, 2002))
        sql = text.format(
            d=int(rng.integers(-1500, 1500)), k=int(rng.integers(3, 12)),
            ts=f"{y1}-{int(rng.integers(1, 13)):02d}-01 00:00:00",
            y1=y1, y2=y1 + int(rng.integers(0, 3)), m=int(rng.integers(2, 9)),
            r=0, region=str(rng.choice(REGIONS)))
        ops.append({"kind": "sql", "name": name, "sql": sql, "key": f"sql:{sql}"})
    for q in rng.choice(TPCH, 2, replace=False):
        ops.append({"kind": "registry", "name": str(q), "key": f"registry:{q}"})
    return [ops[i] for i in rng.permutation(len(ops))]


# Text-to-SQL statements over the gold views; each runs unchanged in Spark
# (through Sql.runSelect) and in DuckDB (over the gold parquet the run wrote).
SQL_TEMPLATES = [
    ("items_by_state",
     "SELECT c.customer_state, COUNT(*) AS n_items FROM fact_sales f JOIN dim_customers c "
     "ON f.customer_id = c.c_custkey WHERE f.delivery_time_days > {d} "
     "GROUP BY c.customer_state ORDER BY n_items DESC, c.customer_state"),
    ("top_categories_since",
     "SELECT p.category, CAST(ROUND(SUM(f.price), 2) AS DOUBLE) AS revenue FROM fact_sales_dec f "
     "JOIN dim_products p ON f.product_id = p.p_partkey "
     "WHERE f.order_purchase_timestamp >= TIMESTAMP '{ts}' "
     "GROUP BY p.category ORDER BY revenue DESC, p.category LIMIT {k}"),
    ("days_per_quarter",
     "SELECT t.year, t.quarter, COUNT(*) AS n_days FROM dim_time t "
     "WHERE t.year BETWEEN {y1} AND {y2} GROUP BY t.year, t.quarter ORDER BY t.year, t.quarter"),
    ("top_customers_freight",
     "SELECT f.customer_id, COUNT(DISTINCT f.order_id) AS n_orders, "
     "CAST(ROUND(SUM(f.freight_value), 2) AS DOUBLE) AS freight FROM fact_sales_dec f "
     "WHERE f.customer_id % {m} = {r} GROUP BY f.customer_id "
     "ORDER BY n_orders DESC, f.customer_id LIMIT 20"),
    ("region_weekdays",
     "SELECT c.customer_region, t.day_of_week, COUNT(*) AS n FROM fact_sales f "
     "JOIN dim_customers c ON f.customer_id = c.c_custkey "
     "JOIN dim_time t ON CAST(f.order_purchase_timestamp AS DATE) = t.order_date "
     "WHERE c.customer_region = '{region}' "
     "GROUP BY c.customer_region, t.day_of_week ORDER BY n DESC, t.day_of_week"),
]


def incremental_inputs(rng, tables, root, arrivals):
    """Cumulative arrival snapshots over a seeded window of months (arrival
    ``i`` lands ``arrivals[i]`` new months), the unchanged rerun, and the
    variant in which one landed month's payload changed. Returns the cycles
    with what the checker expects of each, and the window."""
    orders, items = tables["orders"], tables["lineitem"]
    month = _month(orders["o_orderdate"])
    all_months = sorted(set(month.tolist()))
    n = sum(arrivals)
    first = int(rng.integers(0, len(all_months) - n + 1))
    window = all_months[first:first + n]
    order_keys = orders["o_orderkey"].to_numpy()
    item_keys = items["l_orderkey"].to_numpy()

    def snapshot(name, keep, orders_table):
        d = os.path.join(root, name)
        write_tables({"orders": orders_table,
                      "lineitem": items.filter(pa.array(np.isin(item_keys, order_keys[keep]))),
                      "customer": tables["customer"], "part": tables["part"]}, d)
        return d

    cycles, landed = [], 0
    for i, k in enumerate(arrivals):
        keep = np.isin(month, window[:landed + k])
        cycles.append({"label": "arrival", "new_months": window[landed:landed + k],
                       "snapshot": snapshot(f"snapshot_{i + 1}", keep, orders.filter(pa.array(keep)))})
        landed += k
    cycles.append({"label": "rerun", "snapshot": cycles[-1]["snapshot"]})
    changed = str(rng.choice(window))
    keep = np.isin(month, window)
    base = orders.filter(pa.array(keep))
    hit = pa.array(_month(base["o_orderdate"]) == changed)
    prio = pc.if_else(hit, pa.scalar("1-URGENT"), base["o_orderpriority"])
    changed_orders = base.set_column(base.schema.get_field_index("o_orderpriority"),
                                     "o_orderpriority", prio)
    cycles.append({"label": "changed", "changed_month": changed,
                   "snapshot": snapshot("snapshot_changed", keep, changed_orders)})
    return cycles, window


def base_dir(cache):
    """The base tables, generated once per generator version from a fixed
    data seed and cached under ``cache``; returns the directory."""
    with open(os.path.abspath(__file__), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(cache, f"base-{SF}-{stamp}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_tables(base_tables(np.random.default_rng(DATA_SEED), SF), tmp)
        os.replace(tmp, d)
    return d


def make_inputs(workload, seed, root, cache):
    """Write every seeded input of one run under ``root``; returns the
    script and its path."""
    rng = np.random.default_rng(seed)
    base = base_dir(cache)
    script = {"workload": workload, "seed": seed, "why": WORKLOADS[workload],
              "data_dir": base, "passes": []}
    if workload == "dashboard":
        # Gold.ensure materializes once per JVM and input path, so each
        # timed repetition of the setup gets its own copy of the tables
        script["setup"] = [{"data_dir": base}]
        for r in range(1, SETUP_REPS[workload]):
            shutil.copytree(base, os.path.join(root, f"base_r{r}"))
            script["setup"].append({"data_dir": os.path.join(root, f"base_r{r}")})
        script["passes"] = [dashboard_pass(rng) for _ in range(DASHBOARD_PASSES)]
    else:
        tables = {t: pq.read_table(os.path.join(base, f"{t}.parquet"))
                  for t in ["orders", "lineitem", "customer", "part"]}
        landing, bronze = os.path.join(root, "landing"), os.path.join(root, "bronze")
        script["setup"] = [{"bronze": bronze, "data_dir": base} for _ in range(SETUP_REPS[workload])]
        cycles, window = incremental_inputs(rng, tables, root, arrivals=ARRIVALS)
        ops = [{"kind": "cycle", "name": c["label"], "key": f"cycle:{i}:{c['label']}",
                "snapshot": c["snapshot"], "landing": landing, "bronze": bronze}
               for i, c in enumerate(cycles)]
        ops += [{"kind": "registry", "name": CURATION[i], "key": f"registry:{CURATION[i]}"}
                for i in rng.permutation(len(CURATION))]
        ops += [{"kind": "registry", "name": s, "key": f"registry:{s}"} for s in STREAMING]
        script["passes"] = [ops]
        script["landing"], script["bronze"] = landing, bronze
        script["expect"] = {"window": window, "cycles": cycles}
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "script.json")
    with open(path, "w") as f:
        json.dump(script, f)
    return script, path
