"""Seeded input generators for the benchmark.

The seed is the only source of randomness: the same seed and workload
parameters give byte-identical parquet files, and `digest` records it.
The engine only ever sees the parquet files written here.

  corpus(dir, seed, params)  posts table + pipeline config (pipeline-*)
  catalog(dir, seed, sf)     the catalog's ten tables (catalog-slice)
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
NOISE_PHRASES = ["free gift", "promo code", "click here"]
NOISE_PATTERNS = ["free\\s+gift", "promo code", "click\\s+here"]
INDUSTRY_NAMES = [
    "Finance", "Health", "Retail", "Energy", "Software", "Travel", "Media",
    "Education", "Logistics", "Farming", "Insurance", "Telecom", "Mining",
    "Gaming", "Fashion", "Housing", "Legal", "Sports", "Food", "Auto",
    "Aviation", "Chemicals", "Defense", "Shipping"]


def vocabulary(size):
    """`size` distinct pseudo-words of two to three syllables, fixed for a
    size (not seeded), so keyword and stopword choices are stable."""
    rng = np.random.default_rng(size)
    words, seen = [], set()
    while len(words) < size:
        n = 2 + int(rng.integers(0, 2))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def pipeline_config(params):
    """Taxonomy, blacklist, noise patterns and stopwords for a workload.
    Keywords are vocabulary words spread over ranks `kw_rank_lo..hi`."""
    vocab = vocabulary(params["vocab"])
    n_ind, per = params["industries"], params["keywords_per_industry"]
    ranks = np.linspace(params["kw_rank_lo"], params["kw_rank_hi"], n_ind * per).astype(int)
    kws = [vocab[r] for r in ranks]
    industries = [[INDUSTRY_NAMES[i], kws[i::n_ind]] for i in range(n_ind)]
    return {
        "industries": industries,
        # mixed case: the blacklist compare is case-insensitive
        "blacklist": ["Chan_3", "chan_17", "CHAN_42"],
        "noise": NOISE_PATTERNS,
        "stopwords": vocab[:params["stopwords"]],
    }


def _zipf_p(n, s, q=2.7):
    p = 1.0 / (np.arange(n) + q) ** s
    return p / p.sum()


def posts_table(seed, params, n):
    """`n` posts: Zipf-like tokens, skewed channels, heavy-tailed views and
    `full_date` timestamps spread over `params["days"]` days."""
    rng = np.random.default_rng(seed)
    vocab = pa.array(vocabulary(params["vocab"]))
    lens = rng.integers(params["tokens_lo"], params["tokens_hi"] + 1, n)
    tokens = rng.choice(len(vocab), size=int(lens.sum()), p=_zipf_p(len(vocab), 1.0))
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    words = pa.ListArray.from_arrays(pa.array(offsets), vocab.take(pa.array(tokens)))
    text = pc.binary_join(words, " ").to_numpy(zero_copy_only=False).astype(object)
    noisy = rng.random(n) < params["noise_frac"]
    phrase = rng.integers(0, len(NOISE_PHRASES), n)
    for i in np.flatnonzero(noisy):
        text[i] = text[i] + " " + NOISE_PHRASES[phrase[i]]
    n_chan = params["channels"]
    chan = rng.choice(n_chan, size=n, p=_zipf_p(n_chan, 1.1, q=1.0))
    views = np.floor(rng.lognormal(6.0, 1.5, n)).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "s").astype(np.int64)
    secs = start + rng.integers(0, params["days"] * 86400, n)
    return pa.table({
        "post_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "channel_username": pa.array([f"chan_{c}" for c in chan]),
        "views": pa.array(views),
        "full_date": pa.array(secs * 1_000_000, pa.timestamp("us", tz="UTC")),
    })


def write(table, path, row_groups=16):
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)),
                   compression="snappy")


def corpus(out, seed, params):
    """Write corpus.parquet, warm.parquet (the warm-up's small input, from
    another seed stream) and config.json for a pipeline workload."""
    os.makedirs(out, exist_ok=True)
    write(posts_table(seed, params, params["posts"]), f"{out}/corpus.parquet")
    write(posts_table(seed + 1_000_003, params, params["warm_posts"]), f"{out}/warm.parquet")
    with open(f"{out}/config.json", "w") as f:
        json.dump(pipeline_config(params), f, indent=1)


# ---------------------------------------------------------------- catalog

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOC_WORDS = ("join hash row batch scan customer column filter small slow merge order "
             "vector line data table agg value key stream window spark a group part "
             "big sort query fast the").split()


def catalog(out, seed, sf):
    """The catalog's ten tables with the shapes and value domains of the
    engine's test data, `sf` scaling the fact tables (sf=0.01: 60 000
    line items, 500 documents, 10 000 events)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = sf / 0.01
    n_cust, n_supp, n_part = int(1500 * k), max(10, int(100 * k)), int(2000 * k)
    n_ord, n_line = int(15000 * k), int(60000 * k)
    n_docs, n_emb, n_ev = max(100, int(500 * k)), max(100, int(500 * k)), int(10000 * k)
    i32, i64 = pa.int32(), pa.int64()
    day = np.timedelta64(1, "D")
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": retail})
    d0 = np.datetime64("1995-01-01")
    odate = d0 + rng.integers(0, 2404, n_ord) * day
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.concatenate([[True], l_order[1:] != l_order[:-1]])
    idx = np.arange(n_line)
    start = np.maximum.accumulate(np.where(first, idx, 0))
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(idx - start + 1, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(
            (odate[l_order] + rng.integers(1, 122, n_line) * day).astype("datetime64[us]"))})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(gaps)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.lognormal(2.7, 1.2, n_ev), 2) + 0.01,
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})
    docs = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            docs.append(docs[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            docs.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": docs,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(d) for d in docs], i64)})
    label = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 1.5, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
    for name, tbl in t.items():
        write(tbl, f"{out}/{name}.parquet", row_groups=1)


def digest(dir_):
    """sha256 over the sorted file names and bytes under `dir_`."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(dir_)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, dir_).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
