"""Seeded input generation for the benchmark workloads.

Everything the engine reads during a run is produced here from the
`--seed` argument, so one seed always gives byte-identical inputs:

* a supermarket star schema in graft's parquet layout (`lineitem` =
  price observations, `part` = product catalog, `supplier` = stores,
  plus `documents`/`embeddings` for the stream lifecycles),
* the `api_mix` request schedule,
* the price-feed files of `maintained_state`, in the
  `Root.{ChainId,StoreId,Items.Item[]}` JSON layout.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["large", "small", "hot", "cold", "blue", "red", "green", "old", "new",
       "fresh", "dark", "light", "sweet", "sour", "plain", "spicy"]
NOUN = ["ring", "bolt", "plate", "bread", "milk", "cheese", "apple", "rice",
        "pasta", "juice", "soap", "tea", "coffee", "sugar", "salt", "oil",
        "honey", "butter", "yogurt", "cereal"]
CATEGORIES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "fr", "es", "zh"]
EPOCH_1995 = np.datetime64("1995-01-02", "us")
DAY_US = 86_400_000_000


def rng_for(seed, stream):
    """Independent generator per input family: changing one family's
    size never shifts another family's draws."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- star

def gen_star(out_dir, sf, seed, tables=("region", "nation", "supplier", "part",
                                        "lineitem", "documents", "embeddings")):
    """graft's star schema at scale factor `sf` (sf0.1 = 600k
    observations, 20k products, 1k stores). Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    counts = {}

    if "region" in tables:
        _write(pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
            f"{out_dir}/region.parquet")
        counts["region"] = 5
    if "nation" in tables:
        _write(pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
            f"{out_dir}/nation.parquet")
        counts["nation"] = 25
    if "supplier" in tables:
        r = rng_for(seed, 1)
        _write(pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_supp), 2))}),
            f"{out_dir}/supplier.parquet")
        counts["supplier"] = n_supp
    if "part" in tables:
        r = rng_for(seed, 2)
        adj = r.integers(0, len(ADJ), n_part)
        noun = r.integers(0, len(NOUN), n_part)
        names = [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)]
        _write(pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": [CATEGORIES[c] for c in r.integers(0, len(CATEGORIES), n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                900.0 + (np.arange(n_part) % 1000) / 10.0)}),
            f"{out_dir}/part.parquet")
        counts["part"] = n_part
    if "lineitem" in tables:
        r = rng_for(seed, 3)
        lines = np.clip(r.poisson(4.0, n_orders), 1, 7)
        n = int(lines.sum())
        okey = np.repeat(np.arange(n_orders), lines)
        starts = np.cumsum(lines) - lines
        linenumber = np.arange(n) - np.repeat(starts, lines) + 1
        pkey = r.integers(0, n_part, n)
        qty = r.integers(1, 51, n).astype(np.float64)
        retail = 900.0 + (pkey % 1000) / 10.0
        ext = np.round(qty * retail * r.uniform(0.9, 1.1, n), 2)
        disc = np.where(r.random(n) < 0.05, 0.0, r.integers(1, 11, n) / 100.0)
        ship = EPOCH_1995 + (r.integers(0, 2498, n) * DAY_US).astype("timedelta64[us]")
        flags = np.array(["A", "N", "R"])[r.integers(0, 3, n)]
        status = np.array(["F", "O"])[r.integers(0, 2, n)]
        _write(pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(pkey, pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(ext),
            "l_discount": pa.array(disc),
            "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(flags),
            "l_linestatus": pa.array(status),
            "l_shipdate": pa.array(ship, pa.timestamp("us"))}),
            f"{out_dir}/lineitem.parquet")
        counts["lineitem"] = n
    if "documents" in tables:
        r = rng_for(seed, 4)
        texts = []
        for i in range(n_docs):
            if i > 10 and r.random() < 0.05:
                # planted near-duplicate: an earlier doc plus a marker word
                texts.append(texts[int(r.integers(0, i))] + " dup")
            else:
                k = int(r.integers(10, 100))
                texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), k)))
        _write(pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in r.choice(5, n_docs, p=[.6, .1, .1, .1, .1])],
            "source": [f"src{j}" for j in r.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
            f"{out_dir}/documents.parquet")
        counts["documents"] = n_docs
    if "embeddings" in tables:
        r = rng_for(seed, 5)
        centers = r.normal(0, 1, (10, 64))
        label = r.integers(0, 10, n_emb)
        v = centers[label] + r.normal(0, 0.6, (n_emb, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        _write(pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32())}),
            f"{out_dir}/embeddings.parquet")
        counts["embeddings"] = n_emb
    return counts


def sample_fact_rows(data_dir, seed, drop_frac=0.05):
    """Drop a seeded share of the observation rows in place (the
    stream lifecycles' input is a row sample, not the full table)."""
    path = f"{data_dir}/lineitem.parquet"
    t = pq.read_table(path)
    keep = rng_for(seed, 6).random(t.num_rows) >= drop_frac
    t = t.filter(pa.array(keep))
    _write(t, path)
    return t.num_rows


# ------------------------------------------------------------- api_mix

# op -> share of the request mix (sums to 100)
API_MIX = [("search", 25), ("barcode", 15), ("product_card", 10),
           ("history", 10), ("basket", 10), ("fuzzy", 10),
           ("store_products", 10), ("lowest", 5), ("search_promo", 3),
           ("stats", 2)]

# Request parameters. Where the repository fixes a value, it is taken
# from there: the SparkEntry entry that serves the op (q_search_products,
# q_search_promo, q_price_history, q_lowest_price_category,
# q_fuzzy_search_indexed) or the operator's default. Product keys,
# stores, categories and basket sizes vary as the op mix prescribes.
SEARCH_SIZE = (1, 40)                 # q_search_products
SEARCH_PRICE_WIDTH = 900.0            # q_search_products: 900.0 .. 1800.0
SEARCH_LIMIT = 100                    # Catalog.searchProducts default, q_search_products
PROMO_LIMIT = 50                      # q_search_promo
HISTORY_RANGE = ("1996-01-01", "2001-12-31")  # q_price_history
LOWEST_ROW_LIMIT = 20                 # q_lowest_price_category
BASKET_SIZE = (3, 10)                 # the op mix: 3-10 products
# Assumptions, provisional until traffic data of the serving API is in
# the repository; each one sets the repeat share and result sizes:
ZIPF_S = 1.0         # product popularity: the classic Zipf law (exponent 1)
SEARCH_PAGES = 3     # search pages 0..2 of SEARCH_LIMIT rows, uniformly
# The search term is one word of the product-name vocabulary, uniformly
# (q_search_products uses one such word, "red"); the price window has
# the entry's width and starts at a uniform point of the catalog's price
# domain [900, 1000); a fuzzy query drops one letter of a product name
# at a uniform position (the entry's "smal ring" is "small ring" so cut).


def zipf_sampler(r, n, s=ZIPF_S):
    """Zipf-skewed keys over 0..n-1: rank k has weight 1/k^s, and the
    rank -> key map is a seeded permutation."""
    w = 1.0 / np.arange(1, n + 1) ** s
    w /= w.sum()
    perm = r.permutation(n)
    return lambda k: perm[r.choice(n, size=k, p=w)]


def mix_order(n):
    """The op of each of n requests: smooth weighted round-robin over
    API_MIX, so every prefix of the schedule holds each op's share to
    within one request, whatever the seed and however far a run gets.
    Each op starts with 100 - its share of credit, so every op is among
    the first 13 requests: `round_s` needs one call of each, and a 10 s
    run on a slow host completes only ~20 (from zero credit, `stats`
    would come 21st)."""
    credit = {op: 100 - share for op, share in API_MIX}
    order = []
    for _ in range(n):
        for op, share in API_MIX:
            credit[op] += share
        op = max(credit, key=lambda k: credit[k])
        credit[op] -= 100
        order.append(op)
    return order


def gen_api_requests(seed, n_part, n_supp, part_names, n=1000):
    """Request schedule: the op order is fixed (mix_order); products
    are drawn Zipf-skewed and stores uniformly from the seed."""
    r = rng_for(seed, 10)
    pick_parts = zipf_sampler(r, n_part)
    reqs = []
    for op in mix_order(n):
        pk = int(pick_parts(1)[0])
        store = int(r.integers(0, n_supp))
        cat = CATEGORIES[int(r.integers(0, len(CATEGORIES)))]
        if op == "search":
            lo = round(900.0 + float(r.integers(0, 1000)) / 10.0, 1)
            p = {"term": str(r.choice(ADJ + NOUN)), "category": cat,
                 "min_size": SEARCH_SIZE[0], "max_size": SEARCH_SIZE[1],
                 "min_price": lo, "max_price": round(lo + SEARCH_PRICE_WIDTH, 1),
                 "limit": SEARCH_LIMIT,
                 "offset": SEARCH_LIMIT * int(r.integers(0, SEARCH_PAGES))}
        elif op == "search_promo":
            p = {"category": cat, "store": store, "limit": PROMO_LIMIT}
        elif op in ("barcode", "product_card"):
            p = {"part": pk}
        elif op == "history":
            p = {"part": pk, "start": HISTORY_RANGE[0], "end": HISTORY_RANGE[1]}
        elif op == "basket":
            k = int(r.integers(BASKET_SIZE[0], BASKET_SIZE[1] + 1))
            p = {"parts": sorted(set(int(x) for x in pick_parts(k)))}
        elif op == "fuzzy":
            name = part_names[pk]
            cut = int(r.integers(0, len(name)))
            q = name[:cut] + name[cut + 1:]
            p = {"query": q if len(q.strip()) >= 3 else name}
        elif op == "store_products":
            p = {"store": store, "category": cat}
        elif op == "lowest":
            p = {"category": cat, "limit": LOWEST_ROW_LIMIT}
        else:  # stats
            p = {}
        reqs.append({"op": op, "params": p})
    for i, q in enumerate(reqs):
        q["id"] = i
    return reqs


# ----------------------------------------------------------- price feed

CHAIN = "7290027600007"


def _item_code(i):
    return f"729{i:010d}"


def gen_feed(seed, n_stores, n_items, n_batches, redeliver_frac=0.10):
    """Seed files (one per store) and a sequence of batch files. Each
    batch is one store's full price file with newer PriceUpdateDate and
    a seeded share of changed prices; a seeded ~10% of batches are
    exact re-deliveries of an earlier batch file. Returns
    (seed_files, batches); every batch names one probe item and the
    price the state must show for it once the batch is visible."""
    r = rng_for(seed, 20)
    base = dt.datetime(2025, 8, 21, 0, 0, 0)
    names = [f"{ADJ[i % len(ADJ)]} {NOUN[(i // len(ADJ)) % len(NOUN)]} {i}"
             for i in range(n_items)]
    makers = [f"maker{i % 37}" for i in range(n_items)]
    prices = np.round(r.uniform(1.0, 80.0, (n_stores, n_items)), 2)
    version = np.zeros(n_stores, dtype=np.int64)

    def store_file(s, update_ts, item_prices):
        stamp = update_ts.strftime("%Y-%m-%d %H:%M:%S")
        items = [{"ItemCode": _item_code(i), "ItemName": names[i],
                  "ManufacturerName": makers[i],
                  "ItemPrice": f"{item_prices[i]:.2f}",
                  "UnitOfMeasurePrice": f"{item_prices[i] / 10:.4f}",
                  "Quantity": "1.00", "UnitQty": "unit",
                  "PriceUpdateDate": stamp, "ItemStatus": "1",
                  "IsWeighted": "0"} for i in range(n_items)]
        return json.dumps({"Root": {"ChainId": CHAIN, "StoreId": str(s),
                                    "Items": {"Item": items}}})

    seed_files = []
    for s in range(n_stores):
        seed_files.append(store_file(s, base, prices[s]))
    batches = []
    fresh = []  # indexes of batches that carried new content
    for b in range(n_batches):
        if fresh and r.random() < redeliver_frac:
            src = batches[fresh[int(r.integers(0, len(fresh)))]]
            item = int(src["probe_item"][3:])
            # nothing may change: the probe must still see today's price
            batches.append(dict(src, redelivery=True,
                                probe_price=f"{prices[src['store'], item]:.2f}"))
            continue
        s = int(r.integers(0, n_stores))
        version[s] += 1
        ts = base + dt.timedelta(hours=int(version[s]))
        changed = r.random(n_items) < 0.2
        probe_item = int(r.integers(0, n_items))
        changed[probe_item] = True
        new = np.round(prices[s] * r.uniform(0.8, 1.2, n_items), 2)
        # the probed item's price must differ from what is visible now
        if new[probe_item] == prices[s, probe_item]:
            new[probe_item] = round(new[probe_item] + 0.01, 2)
        prices[s] = np.where(changed, new, prices[s])
        batches.append({"store": s, "body": store_file(s, ts, prices[s]),
                        "probe_item": _item_code(probe_item),
                        "probe_price": f"{prices[s, probe_item]:.2f}",
                        "redelivery": False})
        fresh.append(b)
    return seed_files, batches
