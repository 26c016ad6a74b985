"""Generates one run's inputs from the workload seed.

The seed permutes statement and row order and draws literals from
fixed-work classes: every literal a seed can draw costs the program about
the same work.  Expected answers come from DuckDB over the same files, so
the harness can check what the program returns.
"""
import random

import duckdb

POLL_MS = 5            # status and NOT_READY retry interval, well under one request
SETUP_REPS = 5         # set-ups per run; setup_s is their median
SCAN_ROWS = 10_000     # the paged datagen scan: 100 pages of 100 rows
STREAM_RATE = 50       # rows per second of the unbounded datagen table
TUMBLE_S = 2           # tumble window of the streaming aggregate
DRAIN_MS = 500         # how long a streaming statement is drained after its first row
TRIGGER = "250ms"      # micro-batch trigger of the streaming session
VARIANTS = 2           # script variants per notebook client: 0 warms, the rest are measured
BATTERY_ORDERS = 4     # seeded row orders of the battery passes
BATTERY_DUMPS = 4      # battery rows per run whose full result is hash-checked
STREAM_KINDS = ["tumble", "append", "topn"]

BATTERY_HEAVY = ["sim_pq_recall", "emb_kmeans"]   # large driver gaps
BATTERY_LIGHT = [  # coordination-bound; each also runs once, untimed, before the timed pass
    "q1_agg", "q3_join", "q7_window_rank", "q13_in_subquery", "w_tumble",
    "txt_tokens", "txt_langid", "evt_pattern", "samp_stratified", "dd_exact",
]
BATTERY_ROWS = BATTERY_HEAVY + BATTERY_LIGHT


def lineitem_answer(lineitem, q):
    sql = (f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
           f"SUM(l_quantity) AS qty, MAX(l_extendedprice) AS max_price "
           f"FROM read_parquet('{lineitem}') WHERE l_quantity <> {q} "
           f"GROUP BY l_returnflag, l_linestatus")
    return [list(r) for r in duckdb.connect().execute(sql).fetchall()]


def script(rng, seed, client, variant, stream_kind, lineitem, sink):
    """One notebook client's script: control statements, the batch queries,
    then one streaming statement of `stream_kind` over an unbounded datagen
    table."""
    groups = rng.randint(16, 20)
    q = rng.randint(1, 50)
    pages = rng.randint(15, 25)
    ok = {"type": "ok"}
    controls = [
        {"kind": "set", "sql": "SET 'execution.runtime-mode' = 'batch'", "check": ok},
        {"kind": "set", "sql": f"SET 'pipeline.name' = 'nb-{seed}-{client}-{variant}'", "check": ok},
        {"kind": "set", "sql": f"SET 'execution.checkpointing.interval' = '{TRIGGER}'",
         "check": ok},
        {"kind": "create_datagen", "check": ok, "sql": (
            "CREATE TABLE orders_gen (order_id INT, customer_id INT, product_id INT, "
            "quantity INT, price DOUBLE) WITH ('connector' = 'datagen', "
            f"'number-of-rows' = '{SCAN_ROWS}', 'fields.order_id.kind' = 'sequence', "
            f"'fields.order_id.start' = '1', 'fields.order_id.end' = '{SCAN_ROWS}', "
            f"'fields.customer_id.min' = '1', 'fields.customer_id.max' = '{rng.randint(40, 60)}', "
            f"'fields.product_id.min' = '1', 'fields.product_id.max' = '{groups}', "
            f"'fields.quantity.min' = '1', 'fields.quantity.max' = '{rng.randint(8, 12)}', "
            "'fields.price.min' = '10', 'fields.price.max' = '500')")},
        {"kind": "create_lineitem", "check": ok, "sql": (
            "CREATE TABLE lineitem_fs (l_returnflag STRING, l_linestatus STRING, "
            "l_quantity DOUBLE, l_extendedprice DOUBLE) WITH ('connector' = 'filesystem', "
            f"'path' = '{lineitem}', 'format' = 'parquet')")},
        {"kind": "create_sink", "check": ok, "sql": (
            f"CREATE TABLE sink_{client} (product_id INT, n BIGINT) WITH ("
            f"'connector' = 'filesystem', 'path' = '{sink}', 'format' = 'parquet')")},
        {"kind": "create_stream", "check": ok, "sql": (
            "CREATE TABLE clicks (user_id INT, page_id INT, action STRING, ts TIMESTAMP(3), "
            "WATERMARK FOR ts AS ts - INTERVAL '1' SECOND) WITH ('connector' = 'datagen', "
            f"'rows-per-second' = '{STREAM_RATE}', 'fields.user_id.min' = '1', "
            f"'fields.user_id.max' = '100', 'fields.page_id.min' = '1', "
            f"'fields.page_id.max' = '{pages}', 'fields.action.length' = '8')")},
    ]
    queries = [
        [{"kind": "select_one", "sql": "SELECT 1 AS one", "check": {"type": "one"}}],
        [{"kind": "datagen_agg", "check": {"type": "groups", "groups": groups, "total": SCAN_ROWS},
          "sql": "SELECT product_id, COUNT(*) AS n, SUM(quantity) AS qty FROM orders_gen "
                 "GROUP BY product_id"}],
        [{"kind": "scan", "sql": "SELECT * FROM orders_gen",
          "check": {"type": "scan", "rows": SCAN_ROWS}}],
        [{"kind": "lineitem_agg", "check": {"type": "rows", "rows": lineitem_answer(lineitem, q)},
          "sql": "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
                 "MAX(l_extendedprice) AS max_price FROM lineitem_fs "
                 f"WHERE l_quantity <> {q} GROUP BY l_returnflag, l_linestatus"}],
        # the write path, then the read that checks it: kept together
        [{"kind": "insert", "check": ok,
          "sql": f"INSERT OVERWRITE sink_{client} SELECT product_id, COUNT(*) AS n "
                 "FROM orders_gen GROUP BY product_id"},
         {"kind": "sink_count", "sql": f"SELECT COUNT(*) AS n FROM sink_{client}",
          "check": {"type": "count", "value": groups}}],
    ]
    rng.shuffle(controls)
    rng.shuffle(queries)
    streaming = {s["kind"]: s for s in [
        {"kind": "tumble", "stream": True, "max_count": STREAM_RATE * TUMBLE_S,
         "count_field": 1, "sql": (
            f"SELECT TUMBLE_START(ts, INTERVAL '{TUMBLE_S}' SECOND) AS w_start, COUNT(*) AS n "
            f"FROM clicks GROUP BY TUMBLE(ts, INTERVAL '{TUMBLE_S}' SECOND)")},
        {"kind": "append", "stream": True, "sql": (
            f"SELECT user_id, page_id, action FROM clicks WHERE user_id > {rng.randint(5, 20)}")},
        {"kind": "topn", "stream": True, "sql": (
            "SELECT page_id, user_id, rn FROM (SELECT page_id, user_id, ROW_NUMBER() OVER "
            "(PARTITION BY page_id ORDER BY user_id DESC) AS rn FROM clicks) "
            f"WHERE rn <= {rng.randint(2, 3)}")},
    ]}[stream_kind]
    return (controls + [s for group in queries for s in group]
            + [{"kind": "set", "sql": "SET 'execution.runtime-mode' = 'streaming'", "check": ok},
               streaming])


def make(workload, seed, clients, data, work, per_layer):
    """The plan of one run. `per_layer` names the per-layer metrics the
    harness reports."""
    rng = random.Random(seed)
    plan = {"seed": seed, "poll_ms": POLL_MS, "setup_reps": SETUP_REPS,
            "battery_rows": BATTERY_ROWS, "per_layer": per_layer}
    if workload == "notebook":
        # Streaming kinds by client: the kinds in turn, in an order the seed
        # draws. Client c's variant v runs kinds[(c + v) % clients], so the
        # warm pass and every measured pass each run every kind.
        kinds = [STREAM_KINDS[i % len(STREAM_KINDS)] for i in range(clients)]
        rng.shuffle(kinds)
        sinks = [f"{work}/sink/c{c}" for c in range(clients)]
        plan["notebook"] = {"drain_ms": DRAIN_MS, "scripts": [
            [script(rng, seed, c, v, kinds[(c + v) % clients], data["lineitem"], sink)
             for v in range(VARIANTS)]
            for c, sink in enumerate(sinks)]}
        plan["sink_dirs"] = sinks
    else:
        orders = []
        for _ in range(BATTERY_ORDERS):
            rows = list(BATTERY_ROWS)
            rng.shuffle(rows)
            orders.append(rows)
        # a run checks every row's count and, rotating with the seed, the
        # full result of BATTERY_DUMPS rows
        rows = BATTERY_ROWS
        first = (seed * BATTERY_DUMPS) % len(rows)
        dump = [rows[(first + i) % len(rows)] for i in range(BATTERY_DUMPS)]
        plan["battery"] = {"data_dir": data["battery"], "orders": orders, "dump": dump,
                           "warm": BATTERY_LIGHT}
    return plan
