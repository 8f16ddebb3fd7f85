"""Seeded input tables for the benchmark, in the schemas the catalog reads.

The same seed gives the same tables. Only the tables the benchmark's
queries read are made: `events`, `lineitem` and `documents`.
"""
import datetime
import random

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark window sort line customer query join small order data column "
         "big stream filter group").split()
LANGS = ["en", "en", "en", "de", "es"]
EPOCH = datetime.datetime(2024, 1, 1)
SHIP0 = datetime.datetime(1995, 1, 2)


def events(rnd, n, users):
    gaps = [rnd.randint(1, 2 * 30 * 86400 * 10**6 // n) for _ in range(n)]
    ts, t = [], EPOCH
    for g in gaps:
        t += datetime.timedelta(microseconds=g)
        ts.append(t)
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rnd.randrange(users) for _ in range(n)], pa.int64()),
        "event_type": [rnd.choice(EVENT_TYPES) for _ in range(n)],
        "value": [round(rnd.uniform(0.01, 490.0), 2) for _ in range(n)],
        "props": ['{"k": %d}' % rnd.randrange(100) for _ in range(n)],
    })


def lineitem(rnd, n):
    orders = max(1, n // 4)
    cols = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                            "l_returnflag", "l_linestatus", "l_shipdate"]}
    for _ in range(n):
        qty = float(rnd.randint(1, 50))
        cols["l_orderkey"].append(rnd.randrange(orders))
        cols["l_partkey"].append(rnd.randrange(2000))
        cols["l_suppkey"].append(rnd.randrange(100))
        cols["l_linenumber"].append(rnd.randint(1, 7))
        cols["l_quantity"].append(qty)
        cols["l_extendedprice"].append(round(qty * rnd.uniform(900.0, 3000.0), 2))
        cols["l_discount"].append(rnd.randint(0, 10) / 100)
        cols["l_tax"].append(rnd.randint(0, 8) / 100)
        cols["l_returnflag"].append(rnd.choice("ANR"))
        cols["l_linestatus"].append(rnd.choice("FO"))
        cols["l_shipdate"].append(SHIP0 + datetime.timedelta(days=rnd.randrange(2498)))
    types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
             "l_linenumber": pa.int32(), "l_shipdate": pa.timestamp("us")}
    return pa.table({k: pa.array(v, types.get(k)) for k, v in cols.items()})


def documents(rnd, n):
    """Documents whose shape does not depend on the seed, only their words:
    document i has 12 + (37 i mod 79) words, and each near-duplicate copies
    an earlier original with one word changed. Every near-duplicate cluster
    is then a star around its smallest id, so label propagation in
    `dedup_components` converges in 2 rounds for every seed."""
    texts, originals = [], []
    for i in range(n):
        if i >= 10 and i % 10 == 5:  # every tenth document from the tenth on
            words = texts[rnd.choice(originals)].split()
            words[rnd.randrange(len(words))] = rnd.choice(WORDS)
        else:
            words = [rnd.choice(WORDS) for _ in range(12 + (37 * i) % 79)]
            originals.append(i)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(LANGS) for _ in range(n)],
        "source": ["src%d" % rnd.randrange(20) for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(out_dir, seed, sizes):
    """Write the tables named in `sizes` ({table: rows}) under `out_dir`."""
    makers = {
        "events": lambda rnd, n: events(rnd, n, users=max(3, n // 67)),
        "lineitem": lineitem,
        "documents": documents,
    }
    for name in sorted(sizes):
        rnd = random.Random(f"{seed}/{name}")
        pq.write_table(makers[name](rnd, sizes[name]), f"{out_dir}/{name}.parquet")
