"""Correctness checks for every op a run attempted.

* api_mix: each result against DuckDB over the same parquet, with the
  request's parameters substituted into graft's own oracle SQL shapes
  (`SparkEntry.oracleSql`), compared exactly as tools/check_oracle.py
  compares (columns by name, rows sorted, values stringified, dtypes
  equal).
* maintained_state, stream lifecycles: each lifecycle's rows against
  its oracle SQL over the sampled input; the delete cascade against its
  contract (rows_before > 0 and rows_after == 0 on every face).
* maintained_state, price feed: each read-after-write probe against the
  price the generator wrote, and the final state against the newest
  row per key computed from the landed files.

Each check returns {op id: error or None}.
"""
import datetime as dt
import glob
import json
import os

import duckdb
import pandas as pd

# Spark type name -> pandas dtype of the same value through pyarrow
SPARK_DTYPES = {"long": "int64", "integer": "int32", "short": "int16",
                "double": "float64", "float": "float32", "boolean": "bool",
                "string": "object", "timestamp_ntz": "datetime64[us]"}


def _norm(df):
    """tools/check_oracle.py's normalization, verbatim in effect."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        d = str(df[c].dtype)
        if d.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif d == "object" and len(df) and df[c].map(
                lambda x: x is None or isinstance(x, (dt.date, dt.datetime))).all():
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    dtypes = {c: str(df[c].dtype) for c in df.columns}
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True), dtypes


def _spark_frame(res):
    cols = [c for c, _ in res["schema"]]
    df = pd.DataFrame(res["rows"], columns=cols, dtype=object)
    for c, t in res["schema"]:
        want = SPARK_DTYPES.get(t)
        if want is None:
            continue
        if want.startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype(want)
        elif len(df) and df[c].isna().any():
            continue  # leave nullable columns as pyarrow would not coerce them
        else:
            df[c] = df[c].astype(want)
    return df


def compare(res, expected):
    """None when Spark's rows equal the oracle's, else the difference."""
    (g, gt), (e, et) = _norm(_spark_frame(res)), _norm(expected.copy())
    if gt != et:
        return f"dtype mismatch spark={gt} oracle={et}"
    if list(g.columns) != list(e.columns):
        return f"columns spark={list(g.columns)} oracle={list(e.columns)}"
    if len(g) != len(e):
        return f"rows spark={len(g)} oracle={len(e)}"
    if not g.equals(e):
        diff = (g != e).any(axis=1)
        i = diff[diff].index[0]
        return (f"value mismatch on {int(diff.sum())} rows; first: spark="
                f"{g.loc[i].to_dict()} oracle={e.loc[i].to_dict()}")
    return None


def _connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{data_dir}/duckdb_tmp'")
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for p in glob.glob(f"{data_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM '{p}'")
    return con


def _sub(sql, old, new):
    n = sql.count(old)
    if n != 1:
        raise ValueError(f"oracle shape changed: {old!r} occurs {n} times")
    return sql.replace(old, new)


def _grams(q):
    q = q.lower()
    out = []
    for i in range(len(q) - 2):
        g = q[i:i + 3]
        if g not in out:
            out.append(g)
    return out


def _gram_list(gs):
    return "[" + ", ".join(f"'{g}'" for g in gs) + "]"


def api_sql(templates, op, p):
    """The oracle for one request: graft's SQL shape for the entry the
    op serves, with this request's parameters in place of the entry's
    fixed ones."""
    if op == "search":
        s = templates["q_search_products"]
        s = _sub(s, "'%red%'", f"'%{p['term']}%'")
        s = _sub(s, "p_type = 'ECONOMY'", f"p_type = '{p['category']}'")
        s = _sub(s, "p_size BETWEEN 1 AND 40", f"p_size BETWEEN {p['min_size']} AND {p['max_size']}")
        s = _sub(s, "p_retailprice BETWEEN 900.0 AND 1800.0",
                 f"p_retailprice BETWEEN {p['min_price']!r} AND {p['max_price']!r}")
        return _sub(s, "LIMIT 100 OFFSET 10", f"LIMIT {p['limit']} OFFSET {p['offset']}")
    if op == "search_promo":
        s = templates["q_search_promo"]
        s = _sub(s, "p_type = 'ECONOMY'", f"p_type = '{p['category']}'")
        s = _sub(s, "l_suppkey = 5", f"l_suppkey = {p['store']}")
        return _sub(s, "LIMIT 50", f"LIMIT {p['limit']}")
    if op == "barcode":
        return _sub(templates["q_price_compare"], "IN (25,125,615,1111)", f"IN ({p['part']})")
    if op == "product_card":
        return _sub(templates["q_product_card"], "l_partkey = 42", f"l_partkey = {p['part']}")
    if op == "history":
        s = _sub(templates["q_price_history"], "l_partkey = 42", f"l_partkey = {p['part']}")
        s = _sub(s, "TIMESTAMP '1996-01-01'", f"TIMESTAMP '{p['start']}'")
        return _sub(s, "TIMESTAMP '2001-12-31'", f"TIMESTAMP '{p['end']}'")
    if op == "basket":
        return _sub(templates["q_best_basket"], "IN (3,42,77,256,512,999,1024,1500,1776,1999)",
                    "IN (" + ",".join(str(x) for x in p["parts"]) + ")")
    if op == "fuzzy":
        old, new = _grams("smal ring"), _grams(p["query"])
        s = _sub(templates["q_fuzzy_search_indexed"], _gram_list(old), _gram_list(new))
        return _sub(s, f"(n_grams + {len(old)} - shared)", f"(n_grams + {len(new)} - shared)")
    if op == "store_products":
        s = _sub(templates["q_store_products"], "l_suppkey = 7", f"l_suppkey = {p['store']}")
        return _sub(s, "p_type = 'ECONOMY'", f"p_type = '{p['category']}'")
    if op == "lowest":
        s = _sub(templates["q_lowest_price_category"], "p_type = 'STANDARD'",
                 f"p_type = '{p['category']}'")
        return _sub(s, "LIMIT 20", f"LIMIT {p['limit']}")
    if op == "stats":
        return templates["q_stats"]
    raise ValueError(f"no oracle for op {op}")


def _results(out_dir):
    with open(f"{out_dir}/results.jsonl") as f:
        return {r["id"]: r for r in (json.loads(line) for line in f if line.strip())}


def check_api(run, out_dir, data_dir, requests):
    results = _results(out_dir)
    con = _connect(data_dir)
    cache = {}
    verdict = {}
    for o in run["ops"]:
        if o["error"]:
            verdict[o["id"]] = o["error"]
            continue
        if o["warm"]:
            continue  # warm-up calls are untimed; only their exceptions count
        res = results.get(o["id"])
        if res is None:
            verdict[o["id"]] = "no result captured"
            continue
        req = requests[o["req"]]
        try:
            sql = api_sql(run["oracle_templates"], o["kind"], req["params"])
            if sql not in cache:
                cache[sql] = con.execute(sql).df()
            verdict[o["id"]] = compare(res, cache[sql])
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[o["id"]] = f"oracle error: {e}"
    return verdict


def check_stream(run, out_dir, data_dir, kinds):
    results = _results(out_dir)
    con = _connect(data_dir)
    cache = {}
    verdict = {}
    for o in run["ops"]:
        if o["kind"] not in kinds:
            continue
        if o["error"]:
            verdict[o["id"]] = o["error"]
            continue
        res = results.get(o["id"])
        if res is None:
            verdict[o["id"]] = "no result captured"
            continue
        if o["kind"] == "delete_cascade":
            cols = [c for c, _ in res["schema"]]
            rows = [dict(zip(cols, r)) for r in res["rows"]]
            bad = [r for r in rows if not (r["rows_before"] > 0 and r["rows_after"] == 0)]
            verdict[o["id"]] = (None if rows and not bad
                                else f"cascade contract broken: {bad or 'no faces'}")
            continue
        sql = run["oracle_sql"].get(o["entry"])
        if sql is None:
            verdict[o["id"]] = f"no oracle for {o['entry']}"
            continue
        try:
            if sql not in cache:
                cache[sql] = con.execute(sql).df()
            verdict[o["id"]] = compare(res, cache[sql])
        except Exception as e:
            verdict[o["id"]] = f"oracle error: {e}"
    return verdict


def newest_per_key(files):
    """(chain, store, item) -> (price, update) over feed files, newest
    PriceUpdateDate winning (identical re-deliveries tie harmlessly)."""
    state = {}
    for path in files:
        with open(path) as f:
            root = json.load(f)["Root"]
        for it in root["Items"]["Item"]:
            k = (root["ChainId"], root["StoreId"], it["ItemCode"])
            v = (it["ItemPrice"], it["PriceUpdateDate"])
            if k not in state or v[1] > state[k][1]:
                state[k] = v
    return state


def check_feed(run, feed_dir, batches, kinds):
    verdict = {}
    for o in run["ops"]:
        if o["kind"] not in kinds:
            continue
        if o["error"]:
            verdict[o["id"]] = o["error"]
        elif o["kind"] == "feed_seed":
            verdict[o["id"]] = None
        else:
            want = float(o["expected_price"])
            got = o.get("probe_price")
            verdict[o["id"]] = (None if got is not None and float(got) == want
                                else f"probe saw {got}, expected {want}")
    # the final state must be the newest row per key over what landed
    files = sorted(glob.glob(f"{feed_dir}/seed/*.json")) + \
        [f"{feed_dir}/{b['file']}" for b in batches[:run["batches_landed"]]]
    want = newest_per_key(files)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{feed_dir}/duckdb_tmp'")
    con.execute("SET TimeZone='UTC'")
    rows = con.execute(
        "SELECT chain_id, store_id, item_code, CAST(item_price AS VARCHAR), "
        "strftime(CAST(price_update_date AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') "
        f"FROM read_parquet('{run['state']}/*.parquet')").fetchall()
    got = {(c, s, i): (p, u) for c, s, i, p, u in rows}
    state_err = None
    if len(rows) != len(got):
        state_err = f"state holds {len(rows) - len(got)} duplicate keys"
    elif got != want:
        bad = [k for k in want if got.get(k) != want[k]][:3]
        state_err = (f"state differs from newest-per-key on "
                     f"{sum(1 for k in want if got.get(k) != want[k])} keys "
                     f"(+{len(set(got) - set(want))} extra); first: "
                     + "; ".join(f"{k}: got {got.get(k)} want {want[k]}" for k in bad))
    return verdict, state_err
