"""Seeded input generators.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The pipeline program sees only the files written here (or the
broker topics the feeder fills from them); the expected outputs are
computed here too, in plain Python, independently of the program.
"""
import bisect
import json
import os
import random

# Event shape: JSON objects of about 150-600 bytes.
KINDS = ["click", "view", "purchase", "signup", "heartbeat"]
# 20% of events are heartbeats, which every workload's mapping deletes.
KIND_WEIGHTS = [30, 25, 15, 10, 20]
WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "merge window order column join vector").split()
N_USERS = 5000
ZIPF_S = 1.1


def _zipf_cdf(n, s):
    acc, cdf = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        cdf.append(acc)
    return [c / acc for c in cdf]


_USER_CDF = _zipf_cdf(N_USERS, ZIPF_S)
_KIND_CDF = [sum(KIND_WEIGHTS[:i + 1]) / sum(KIND_WEIGHTS)
             for i in range(len(KINDS))]


def events(seed, n):
    """n events with Zipf-skewed user keys and 1-4x repeated text."""
    rnd = random.Random(seed)
    phrases = [" ".join(rnd.choice(WORDS) for _ in range(rnd.randint(14, 20)))
               for _ in range(4096)]
    out = []
    for i in range(n):
        user = "u%05d" % bisect.bisect_left(_USER_CDF, rnd.random())
        kind = KINDS[bisect.bisect_left(_KIND_CDF, rnd.random())]
        phrase = phrases[rnd.getrandbits(12)]
        text = " ".join([phrase] * rnd.randint(1, 4))
        out.append({"id": i, "user": user, "kind": kind,
                    "amount": rnd.randint(1, 9999), "text": text,
                    "ts": 1700000000000 + 7 * i})
    return out


def dumps(doc):
    return json.dumps(doc, separators=(",", ":"))


def write_jsonl(docs, path):
    with open(path, "w") as f:
        for d in docs:
            f.write(dumps(d))
            f.write("\n")


def write_split(docs, dir_, n_files):
    """Round-robin the docs over n_files JSON-lines files in dir_."""
    os.makedirs(dir_, exist_ok=True)
    for k in range(n_files):
        write_jsonl(docs[k::n_files], os.path.join(dir_, "part-%02d.jsonl" % k))


# -- expected outputs (plain Python; mirrors the Bloblang in configs/*.yaml) --

def expect_light(doc):
    """bridge/stream mapping: drop heartbeats, add user_tag."""
    if doc["kind"] == "heartbeat":
        return None
    out = dict(doc)
    out["user_tag"] = doc["user"].upper()
    return out


def expect_enrich(doc):
    """enrich chain: filter, string methods, arithmetic, switch, project."""
    if doc["kind"] == "heartbeat":
        return None
    text = doc["text"]
    words = len(text.split(" "))
    return {
        "id": doc["id"],
        "user": doc["user"],
        "kind": doc["kind"].upper(),
        "words": words,
        "title": text[0:12].upper(),
        "has_spark": "spark" in text,
        "score": doc["amount"] * 3 + words,
        "tier": "gold" if doc["amount"] >= 5000 else "std",
        "text_len": len(text),
    }


# -- gate tables: a TPC-H-like star schema plus events/documents/embeddings --

def gate_tables(seed, out_dir):
    """Write the ten tables the gates read, as one parquet file each
    (about 60 000 lineitem rows). Column names, types and value domains
    follow the tables the gate oracles are written against."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(seed * 7919 + 17)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_ev, n_doc = 15000, 10000, 300
    us = pa.timestamp("us")

    def write(name, cols, schema):
        pq.write_table(pa.table(cols, schema=pa.schema(schema)),
                       os.path.join(out_dir, name + ".parquet"))

    def money(lo, hi):
        return round(rnd.uniform(lo, hi), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": list(range(5)), "r_name": regions},
          [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    write("nation", {"n_nationkey": list(range(25)),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": [i % 5 for i in range(25)]},
          [("n_nationkey", pa.int32()), ("n_name", pa.string()),
           ("n_regionkey", pa.int32())])
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
    write("customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": [rnd.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [money(-999.99, 9999.99) for _ in range(n_cust)],
        "c_mktsegment": [rnd.choice(segs) for _ in range(n_cust)]},
        [("c_custkey", pa.int64()), ("c_name", pa.string()),
         ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
         ("c_mktsegment", pa.string())])
    write("supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": [rnd.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [money(-999.99, 9999.99) for _ in range(n_supp)]},
        [("s_suppkey", pa.int64()), ("s_name", pa.string()),
         ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])
    adj = ["small", "new", "hot", "large", "cold", "red", "blue", "old"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    ptypes = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
    write("part", {
        "p_partkey": list(range(n_part)),
        "p_name": [rnd.choice(adj) + " " + rnd.choice(noun) for _ in range(n_part)],
        "p_brand": ["Brand#%d" % rnd.randint(1, 25) for _ in range(n_part)],
        "p_type": [rnd.choice(ptypes) for _ in range(n_part)],
        "p_size": [rnd.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900.0 + (i % 1000) * 0.1, 2) for i in range(n_part)]},
        [("p_partkey", pa.int64()), ("p_name", pa.string()),
         ("p_brand", pa.string()), ("p_type", pa.string()),
         ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
    d0 = dt.datetime(1995, 1, 1)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    odates = [d0 + dt.timedelta(days=rnd.randint(0, 2404)) for _ in range(n_ord)]
    write("orders", {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rnd.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rnd.choice("OFP") for _ in range(n_ord)],
        "o_totalprice": [money(1000.0, 500000.0) for _ in range(n_ord)],
        "o_orderdate": odates,
        "o_orderpriority": [rnd.choice(prios) for _ in range(n_ord)]},
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
         ("o_orderdate", us), ("o_orderpriority", pa.string())])
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    for o in range(n_ord):
        for ln in range(1, rnd.randint(1, 7) + 1):
            qty = float(rnd.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rnd.randrange(n_part))
            li["l_suppkey"].append(rnd.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rnd.uniform(900.0, 2100.0), 2))
            li["l_discount"].append(rnd.randint(0, 10) / 100.0)
            li["l_tax"].append(rnd.randint(0, 8) / 100.0)
            li["l_returnflag"].append(rnd.choice("ANR"))
            li["l_linestatus"].append(rnd.choice("FO"))
            li["l_shipdate"].append(odates[o] + dt.timedelta(days=rnd.randint(1, 121)))
    write("lineitem", li,
          [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
           ("l_shipdate", us)])
    e0 = dt.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10 ** 6
    ts = sorted(rnd.randrange(span_us) for _ in range(n_ev))
    etypes = ["click", "signup", "error", "view", "purchase"]
    write("events", {
        "event_id": list(range(n_ev)),
        "ts": [e0 + dt.timedelta(microseconds=t) for t in ts],
        "user_id": [rnd.randrange(150) for _ in range(n_ev)],
        "event_type": [rnd.choice(etypes) for _ in range(n_ev)],
        "value": [money(0.01, 490.0) for _ in range(n_ev)],
        "props": ['{"k": %d}' % rnd.randrange(100) for _ in range(n_ev)]},
        [("event_id", pa.int64()), ("ts", us), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()),
         ("props", pa.string())])
    langs = ["en"] * 3 + ["de", "fr", "es", "zh"]
    # 15% of docs copy an earlier, otherwise unused long doc: a third
    # verbatim, the rest with one word replaced (3-gram Jaccard >= 0.85).
    # Every other pair shares almost no 3-grams, so each pair sits far
    # from the 0.35 threshold of the pair-mining gates on either side.
    texts, sources = [], []
    for i in range(n_doc):
        if sources and rnd.random() < 0.15:
            ws = texts[sources.pop(rnd.randrange(len(sources)))].split(" ")
            if rnd.random() < 0.67:
                ws[rnd.randrange(len(ws))] = rnd.choice(WORDS)
            texts.append(" ".join(ws))
        else:
            texts.append(" ".join(rnd.choice(WORDS + ["a", "the"])
                                  for _ in range(rnd.randint(8, 90))))
            if len(texts[-1].split(" ")) >= 50:
                sources.append(i)
    write("documents", {
        "doc_id": list(range(n_doc)), "text": texts,
        "lang": [rnd.choice(langs) for _ in range(n_doc)],
        "source": ["src%d" % rnd.randrange(20) for _ in range(n_doc)],
        "n_chars": [len(t) for t in texts]},
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())])
    write("embeddings", {
        "vec_id": list(range(n_doc)),
        "embedding": [[rnd.uniform(-0.35, 0.35) for _ in range(64)]
                      for _ in range(n_doc)],
        "label": [rnd.randrange(10) for _ in range(n_doc)]},
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())])
