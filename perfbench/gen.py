"""Seeded input generation for the graft benchmark.

Every file is a pure function of (workload, seed): numpy's PCG64
generator seeded with [seed, salt] draws each table, so the same seed
writes the same rows. The JVM side receives only these files: the
sf-layout parquet tables, the request or batch schedule, and the
reference facts the answer checks compare against (schedule.json).

Table shapes follow the sf0.1 tables (TPC-H-ish star schema plus
documents and embeddings): 25 nations over 5 regions, 15k customers,
150k orders dated 1995-01-01..2001-08-01, 2k unit vectors of dimension
64 in 10 clusters; documents of 15-90 words, 2k of them (sf0.1 has 5k:
the index builds are most of a run's set-up time).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3
NATIONS = 25
CUSTOMERS = 15000
ORDERS = 150000
DOCUMENTS = 2000
VECTORS = 2000
DIM = 64
LABELS = 10
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
GIVEN_CENTROIDS = 16  # graft.sim.Ivf.GivenCentroids: ids below are the IVF quantizer
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
_SYL = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "du",
        "sha", "gre", "bol", "tin", "mar", "quo", "zel", "fi", "yan", "cor"]
VOCAB = list(dict.fromkeys(a + b + c for a in _SYL for b in _SYL for c in ("", "n", "s")))[:600]


def utc(micros):
    """Epoch microseconds (None for null) as a UTC-adjusted timestamp."""
    return pa.array(micros, pa.int64()).cast(pa.timestamp("us", tz="UTC"))


def rng(seed, salt):
    return np.random.Generator(np.random.PCG64([seed, salt]))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_sf(tables, sf):
    """One parquet file per table: <sf>/<name>.parquet/part-0.parquet."""
    for name, t in tables.items():
        write(t, os.path.join(sf, f"{name}.parquet", "part-0.parquet"))


def price_cents(seed, n):
    return rng(seed, 5).integers(100000, 50100000, n)


def warehouse(seed):
    r = rng(seed, 1)
    keys = np.arange(ORDERS, dtype=np.int64)
    cents = price_cents(seed, ORDERS)
    dates = (np.datetime64("1995-01-01", "us")
             + r.integers(0, ORDER_DAYS, ORDERS).astype("timedelta64[D]"))
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(NATIONS), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(NATIONS)],
                            "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
            "c_nationkey": r.integers(0, NATIONS, CUSTOMERS).astype(np.int32),
            "c_acctbal": r.integers(0, 1000000, CUSTOMERS) / 100.0,
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, CUSTOMERS)]}),
        "orders": pa.table({
            "o_orderkey": keys,
            "o_custkey": r.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, ORDERS)],
            "o_totalprice": cents / 100.0,
            "o_orderdate": pa.array(dates, pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, ORDERS)]}),
    }
    return tables, cents


def doc_texts(r, n):
    """n documents of 15-90 words: a stopword one time in eight, else a
    vocabulary word with a mild head skew (u^1.5)."""
    lens = r.integers(15, 91, n)
    total = int(lens.sum())
    stop = r.random(total) < 0.125
    stop_w = r.integers(0, len(STOPWORDS), total)
    voc_w = np.floor(len(VOCAB) * r.random(total) ** 1.5).astype(np.int64)
    words = [STOPWORDS[s] if st else VOCAB[v] for st, s, v in zip(stop, stop_w, voc_w)]
    out, i = [], 0
    for l in lens:
        out.append(" ".join(words[i:i + l]))
        i += l
    return out


def documents(seed, salt, first, n):
    r = rng(seed, salt)
    texts = doc_texts(r, n)
    return pa.table({
        "doc_id": np.arange(first, first + n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in r.integers(0, 5, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def vectors(seed, salt, n):
    """n unit vectors: a seeded cluster centre plus uniform noise."""
    r = rng(seed, salt)
    centres = rng(seed, 40).uniform(-1, 1, (LABELS, DIM))
    labels = r.integers(0, LABELS, n)
    v = centres[labels] + r.uniform(-0.6, 0.6, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def emb_table(ids, v, labels=None):
    cols = {"vec_id": np.asarray(ids, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32()))}
    if labels is not None:
        cols["label"] = labels
    return pa.table(cols)


def brute_topk(ids, v, query_ids, k):
    """Exact cosine top-k of each query among the other vectors."""
    ids = np.asarray(ids)
    x = v.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pos = {int(i): p for p, i in enumerate(ids)}
    out = {}
    for q in query_ids:
        s = x @ x[pos[q]]
        s[pos[q]] = -np.inf
        order = np.lexsort((ids, -s))[:k]
        out[str(q)] = [int(ids[o]) for o in order]
    return out


def text_tables(seed):
    v, labels = vectors(seed, 41, VECTORS)
    return {"documents": documents(seed, 20, 0, DOCUMENTS),
            "embeddings": emb_table(np.arange(VECTORS), v, labels)}, v


def dashboard_serve(seed, out, cycles, k):
    tables, _ = warehouse(seed)
    text, v = text_tables(seed)
    tables.update(text)
    write_sf(tables, os.path.join(out, "sf"))
    r = rng(seed, 90)
    search = [" ".join(VOCAB[i] for i in r.integers(0, len(VOCAB) // 3, r.integers(2, 4)))
              for _ in range(2)]
    knn = [int(i) for i in r.choice(np.arange(GIVEN_CENTROIDS, VECTORS), 2, replace=False)]
    series = [[f"NATION_{r.integers(NATIONS)}", PRIORITIES[r.integers(5)]] for _ in range(2)]
    questions = [f"how did NATION_{r.integers(NATIONS)} change for priority "
                 f"{PRIORITIES[r.integers(5)][0]}" for _ in range(2)]
    # the distinct requests; the traffic mix is an assumption (no
    # traffic data exists): every cycle holds each request once, in a
    # seeded order, and a run serves `cycles` whole cycles after a
    # warm-up of one request of each kind
    reqs = ([[f"b{i}", 0] for i in range(1, 7)]
            + [["rising", 0], ["insight", 0], ["chat_intent", 0]]
            + [["chat", i] for i in range(len(questions))]
            + [["tfidf", i] for i in range(len(search))]
            + [["bm25", i] for i in range(len(search))]
            + [["knn", i] for i in range(len(knn))]
            + [["forecast", i] for i in range(len(series))])
    first = {}
    for i, (kind, _) in enumerate(reqs):
        first.setdefault(kind, i)
    order = rng(seed, 100)
    return {"requests": reqs, "warm": list(first.values()),
            "order": [int(i) for _ in range(cycles) for i in order.permutation(len(reqs))],
            "search": search, "knn": knn, "series": series, "questions": questions,
            "intent": "which urgent series is rising fastest?",
            "knn_brute": brute_topk(np.arange(VECTORS), v, knn, k),
            "rows": {"orders": ORDERS, "customer": CUSTOMERS, "documents": DOCUMENTS,
                     "embeddings": VECTORS}}


def grams(t):
    t = t.lower()
    return {t[i:i + 5] for i in range(len(t) - 4)}


def corpus(seed, salt, n, sf):
    """n seeded documents under `sf`, then planted copies appended with
    fresh ids: 3% of the base as exact copies and 3% as near-duplicates
    that re-draw ~5% of their words and alter word 2, so no
    near-duplicate is exact. The plants carry their char-5-gram Jaccard
    to the original."""
    base = documents(seed, salt, 0, n)
    texts = base.column("text").to_pylist()
    bucket = rng(seed, salt + 1).integers(0, 100, n)
    rows = {c: base.column(c).to_pylist() for c in base.column_names}
    plants = []
    for i in np.nonzero(bucket < 6)[0]:
        i = int(i)
        ws = texts[i].split(" ")
        if bucket[i] < 3:
            kind, t = "exact", texts[i]
        else:
            kind = "near"
            swap = np.random.Generator(np.random.PCG64([seed, salt + 2, i]))
            for j in range(len(ws)):
                if j == 1:
                    ws[j] = ws[j] + "q"
                elif swap.random() < 0.05:
                    ws[j] = VOCAB[swap.integers(len(VOCAB))]
            t = " ".join(ws)
        ga, gb = grams(texts[i]), grams(t)
        plants.append([i, n + i, kind, len(ga & gb) / len(ga | gb)])
        for c, val in (("doc_id", n + i), ("text", t), ("lang", rows["lang"][i]),
                       ("source", rows["source"][i]), ("n_chars", len(t))):
            rows[c].append(val)
    write_sf({"documents": pa.table({
        "doc_id": pa.array(rows["doc_id"], pa.int64()), "text": rows["text"],
        "lang": rows["lang"], "source": rows["source"],
        "n_chars": pa.array(rows["n_chars"], pa.int64())})}, sf)
    return {"docs": len(rows["doc_id"]), "plants": plants,
            "text_bytes": sum(len(t.encode()) for t in rows["text"])}


def corpus_dedup(seed, out, n, batches):
    """The corpus of the pass under <out>/corpus (see corpus), then the
    warehouse the batch job loads: see warehouse_load."""
    return {"corpus": corpus(seed, 20, n, os.path.join(out, "corpus")),
            "warehouse": warehouse_load(seed, out, batches)}


def warehouse_load(seed, out, batches):
    """The orders table (the snapshot store's first version) plus
    `batches` warehouse loads: Clean.load rows (append, with a truncate
    at b%10==4 and a full refresh at b==0 and b%10==9) and a change
    feed of 150 updates, 50 deletes and 100 inserts that touches no key
    twice, with the cumulative truth after each batch."""
    tables, cents = warehouse(seed)
    write_sf({"orders": tables["orders"]}, os.path.join(out, "sf"))
    b_dir = os.path.join(out, "batches")
    live = dict(zip(range(ORDERS), cents.tolist()))
    live_cents = int(cents.sum())
    loaded = 0
    perm = rng(seed, 60).permutation(ORDERS)
    plan = []
    for b in range(batches):
        r = rng(seed, 1000 + b)
        touched = perm[b * 200:(b + 1) * 200]
        upd, dele = touched[:150], touched[150:]
        ins = ORDERS + b * 100 + np.arange(100)
        keys = np.concatenate([upd, dele, ins]).astype(np.int64)
        new = r.integers(100000, 50100000, 300)
        old = [live.get(int(x)) for x in keys[:200]] + [None] * 100
        for x, c in zip(upd, new[:150]):
            live_cents += int(c) - live[int(x)]
            live[int(x)] = int(c)
        for x in dele:
            live_cents -= live.pop(int(x))
        for x, c in zip(ins, new[200:]):
            live_cents += int(c)
            live[int(x)] = int(c)
        old_us = int(np.datetime64("1996-01-01", "us").astype(np.int64))
        new_us = int((np.datetime64("2001-08-02", "us") + np.timedelta64(b, "D")).astype(np.int64))
        write(pa.table({
            "o_orderkey": keys, "kind": ["update"] * 150 + ["delete"] * 50 + ["insert"] * 100,
            "chg_mask": pa.array([1] * 150 + [0] * 150, pa.int32()),
            "old_price": pa.array([None if c is None else c / 100.0 for c in old], pa.float64()),
            "new_price": pa.array([c / 100.0 for c in new[:150]] + [None] * 50
                                  + [c / 100.0 for c in new[200:]], pa.float64()),
            "old_status": pa.array(["O"] * 200 + [None] * 100, pa.string()),
            "new_status": pa.array(["F"] * 150 + [None] * 50 + ["F"] * 100, pa.string()),
            "old_date": utc([old_us] * 200 + [None] * 100),
            "new_date": utc([new_us] * 150 + [None] * 50 + [new_us] * 100)}),
            os.path.join(b_dir, "feed", f"batch={b}", "part-0.parquet"))
        mode = "full-refresh" if b == 0 or b % 10 == 9 else "truncate" if b % 10 == 4 else "append"
        write(pa.table({
            "geo": [f"NATION_{i}" for i in r.integers(0, NATIONS, 2000)],
            "indicator": [PRIORITIES[i] for i in r.integers(0, 5, 2000)],
            "year": r.integers(1995, 2002, 2000).astype(np.int32),
            "value": r.integers(0, 10000000, 2000) / 100.0}),
            os.path.join(b_dir, "load", f"batch={b}", "part-0.parquet"))
        loaded = loaded + 2000 if mode == "append" else 2000
        plan.append({"batch": b, "load_mode": mode, "live_orders": len(live),
                     "live_cents": live_cents, "loaded_rows": loaded})
    return {"batches": plan, "batch_user_rows": {"load": 2000, "feed": 300}}


def generate(workload, seed, out, **kw):
    os.makedirs(out, exist_ok=True)
    facts = {"dashboard_serve": dashboard_serve,
             "corpus_dedup": corpus_dedup}[workload](seed, out, **kw)
    with open(os.path.join(out, "schedule.json"), "w") as fh:
        json.dump(facts, fh)
