"""Seeded generator for the ten analytics tables the catalog queries read.

Writes `<dir>/<table>.parquet` with the schema of the testdata in TESTDATA.md
(TPC-H-ish star schema plus `events`, `documents` and `embeddings`), so
`graft.SparkEntry.queries(name)(spark, dir)` and the DuckDB twins in
`SparkEntry.oracleSql` run unchanged. The same seed gives byte-identical
rows. Sizes follow the sf0.001 testdata; `scale` multiplies the row
counts of the fact tables.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 2
# share of documents that are a near-duplicate of an earlier one (the
# testdata plants copies with one appended token)
DUP_SHARE = 0.05
TYPES = {"INTEGER": pa.int32(), "BIGINT": pa.int64(), "DOUBLE": pa.float64(),
         "VARCHAR": pa.string(), "TIMESTAMP": pa.timestamp("us"),
         "FLOAT[]": pa.list_(pa.float32())}


def _write(out, name, cols, rows):
    """Write `rows` (tuples) as `<out>/<name>.parquet`, typed by `cols`
    ("name TYPE, ..." in the SQL spelling of the testdata schema)."""
    fields = [c.strip().split(" ", 1) for c in cols.split(",")]
    schema = pa.schema([(f, TYPES[t]) for f, t in fields])
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=schema.field(i).type)
         for i in range(len(fields))], schema=schema)
    pq.write_table(table, os.path.join(out, name + ".parquet"))


def generate(out, seed, scale=1.0):
    os.makedirs(out, exist_ok=True)
    rnd = random.Random(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_orders, n_events, n_docs, n_vecs = (int(1500 * scale), int(1000 * scale),
                                          int(500 * scale), int(500 * scale))
    n_users = max(2, int(15 * scale))

    _write(out, "region", "r_regionkey INTEGER, r_name VARCHAR",
           [(i, n) for i, n in enumerate(
               ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])])
    _write(out, "nation",
           "n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
           [(i, f"NATION_{i}", i % 5) for i in range(25)])
    _write(out, "customer",
           "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, "
           "c_acctbal DOUBLE, c_mktsegment VARCHAR",
           [(i, f"Customer#{i:09d}", rnd.randrange(25),
             round(rnd.uniform(-999.99, 9999.99), 2), rnd.choice(SEGMENTS))
            for i in range(n_cust)])
    _write(out, "supplier",
           "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, s_acctbal DOUBLE",
           [(i, f"Supplier#{i:09d}", rnd.randrange(25),
             round(rnd.uniform(-999.99, 9999.99), 2)) for i in range(n_supp)])
    _write(out, "part",
           "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, p_type VARCHAR, "
           "p_size INTEGER, p_retailprice DOUBLE",
           [(i, f"{rnd.choice(ADJ)} {rnd.choice(NOUN)}", f"Brand#{rnd.randrange(1, 26)}",
             rnd.choice(PART_TYPES), rnd.randrange(1, 51), round(900 + i * 0.1, 2))
            for i in range(n_part)])

    day0 = datetime.datetime(1995, 1, 1)
    orders, lines = [], []
    for o in range(n_orders):
        odate = day0 + datetime.timedelta(days=rnd.randrange(2404))
        total = 0.0
        for ln in range(1, rnd.randrange(1, 8) + 1):
            qty = float(rnd.randrange(1, 51))
            price = round(qty * rnd.uniform(900, 2100), 2)
            total += price
            ship = odate + datetime.timedelta(days=rnd.randrange(1, 122))
            lines.append((o, rnd.randrange(n_part), rnd.randrange(n_supp), ln, qty,
                          price, rnd.randrange(11) / 100, rnd.randrange(9) / 100,
                          rnd.choice("ANR"), "F" if ship.year < 1998 else "O", ship))
        orders.append((o, rnd.randrange(n_cust), rnd.choice("FOP"), round(total, 2),
                       odate, rnd.choice(PRIORITIES)))
    _write(out, "orders",
           "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
           "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
           orders)
    _write(out, "lineitem",
           "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
           "l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE, "
           "l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, "
           "l_linestatus VARCHAR, l_shipdate TIMESTAMP", lines)

    # events: a 30-day stream, microsecond timestamps in event_id order
    t, ev = datetime.datetime(2024, 1, 1), []
    gap = 30 * 86400 / n_events
    for i in range(n_events):
        t += datetime.timedelta(microseconds=rnd.randrange(1, int(2 * gap * 1e6)))
        ev.append((i, t, rnd.randrange(n_users), rnd.choice(EVENT_TYPES),
                   rnd.randrange(1, 50000) / 100, '{"k": %d}' % rnd.randrange(100)))
    _write(out, "events",
           "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, "
           "value DOUBLE, props VARCHAR", ev)

    docs = []
    for i in range(n_docs):
        if docs and rnd.random() < DUP_SHARE:
            text = rnd.choice(docs)[1] + " dup"
        else:
            text = " ".join(rnd.choice(VOCAB) for _ in range(rnd.randrange(10, 101)))
        docs.append((i, text, rnd.choice(LANGS), f"src{rnd.randrange(20)}", len(text)))
    _write(out, "documents",
           "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
           docs)

    vecs = [(i, [round(rnd.gauss(0, 0.12), 6) for _ in range(64)], rnd.randrange(10))
            for i in range(n_vecs)]
    _write(out, "embeddings", "vec_id BIGINT, embedding FLOAT[], label INTEGER",
           vecs)
