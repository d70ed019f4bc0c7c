"""Correctness of the key workloads, checked outside the timed window.

Every key's rows (written once by the harness after its timed passes) are
hashed order-insensitively after the same normalisation as
``tools/check.py`` (columns sorted by name, timestamps to microseconds,
integers to int64, floats to float64, numerically equal cells equal) and
compared with the hash of the key's DuckDB oracle statement over the same
fixture. Oracle hashes are cached per fixture content hash.

Two keys have oracles whose recursive SQL takes DuckDB 10–44 s
per fixture; as ``tools/check.py --unionfind`` does at volume, they are
closed over the oracle-checked rows of ``q_dedup_minhash_verify``
instead: ``q_dedup_clusters_stored`` by union-find, ``q_dedup_pagerank``
by replaying its five integer rounds.
"""
import collections
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _norm(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        t = str(df[c].dtype)
        if t.startswith("datetime64"):
            if getattr(df[c].dt, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
        elif t.startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
        elif t.startswith("float"):
            df[c] = df[c].astype("float64")
    return df


def _cell(v):
    if v is None:
        return "null"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, pd.Timestamp):
        return "null" if pd.isna(v) else v.isoformat()
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "null"
        return str(int(f)) if f.is_integer() and abs(f) < 2 ** 53 else repr(f)
    if v is pd.NaT:
        return "null"
    return str(v)


def table_hash(df):
    """Order-insensitive hash of a normalised result table."""
    df = _norm(df)
    rows = sorted("\x1f".join(_cell(v) for v in r)
                  for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest(), len(rows)


def _connect(fixture):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(fixture)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS "
                        f"SELECT * FROM read_parquet('{fixture}/{f}')")
    return con


def _oracle_hash(con, key, sql, cache):
    path = os.path.join(
        cache, f"{key}-{hashlib.sha256(sql.encode()).hexdigest()[:12]}.json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    h, n = table_hash(con.sql(sql).df())
    os.makedirs(cache, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"hash": h, "rows": n}, fh)
    os.replace(tmp, path)
    return {"hash": h, "rows": n}


def _pairs(con, verify):
    df = con.sql(f"SELECT a_id, b_id FROM read_parquet('{verify}/{PAIRS}/*.parquet')").df()
    return [(int(a), int(b)) for a, b in zip(df["a_id"], df["b_id"])]


def _unionfind(con, verify, key):
    """doc_id -> (min doc_id of its component, component size, keeper)."""
    docs = [int(d) for d in con.sql("SELECT doc_id FROM documents").df()["doc_id"]]
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _pairs(con, verify):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    label = {}
    for d in docs:
        label[find(d)] = min(d, label.get(find(d), d))
    size = collections.Counter(label[find(d)] for d in docs)
    got = con.sql(f"SELECT doc_id, cluster_id, cluster_size, is_keeper "
                  f"FROM read_parquet('{verify}/{key}/*.parquet')").df()
    if len(got) != len(docs):
        return f"{len(got)} rows vs {len(docs)} documents"
    for d, cl, cs, kp in got.itertuples(index=False, name=None):
        want = label[find(int(d))]
        if (int(cl), int(cs), bool(kp)) != (want, size[want], int(d) == want):
            return f"doc {d}: ({cl},{cs},{kp}) vs union-find ({want},{size[want]})"
    return None


def _pagerank_replay(con, verify, key):
    """The five integer PageRank rounds over the verified pairs."""
    docs = [int(d) for d in con.sql("SELECT doc_id FROM documents").df()["doc_id"]]
    edges = [e for a, b in _pairs(con, verify) for e in ((a, b), (b, a))]
    deg = collections.Counter(u for u, _ in edges)
    rank = {d: 10000 for d in docs}
    for _ in range(5):
        inb = collections.Counter()
        for u, w in edges:
            inb[w] += rank[u] // deg[u]
        rank = {d: 1500 + math.floor(inb[d] * 0.85) for d in rank}
    got = con.sql(f"SELECT doc_id, degree, rank "
                  f"FROM read_parquet('{verify}/{key}/*.parquet')").df()
    if len(got) != len(rank):
        return f"{len(got)} rows vs {len(rank)} documents"
    for d, dg, rk in got.itertuples(index=False, name=None):
        d = int(d)
        if (math.floor(rk * 10000 + 0.5), int(dg)) != (rank[d], deg[d]):
            return f"doc {d}: ({rk},{dg}) vs replay ({rank[d] / 10000},{deg[d]})"
    return None


PAIRS = "q_dedup_minhash_verify"
OVER_PAIRS = {"q_dedup_clusters_stored": _unionfind,
              "q_dedup_pagerank": _pagerank_replay}


def check(res, fixture, fixture_hash, cache_root):
    """Returns ok, failed units (calls of wrong keys) and messages."""
    chk = res["check"]
    messages = [f"{k}: {v}" for k, v in chk.get("mismatches", {}).items()]
    messages += [f"{f['what']} pass {f['pass']}: {f['error']}"
                 for f in res["failures"]]
    keys = chk.get("keys", [])
    wrong = {k: f"not written: {e}" for k, e in chk.get("write_errors", {}).items()}
    if keys:
        con = _connect(fixture)
        cache = os.path.join(cache_root, fixture_hash)
        verify = chk["dir"]
        for key in sorted(keys, key=lambda k: k in OVER_PAIRS):
            if key in wrong:
                continue
            try:
                sql = chk["oracle"].get(key)
                if key in OVER_PAIRS:
                    err = (f"{PAIRS} is wrong" if PAIRS in wrong or PAIRS not in keys
                           else OVER_PAIRS[key](con, verify, key))
                elif sql is None:
                    err = "no oracle statement"
                else:
                    want = _oracle_hash(con, key, sql, cache)
                    got, n = table_hash(con.sql(
                        f"SELECT * FROM read_parquet('{verify}/{key}/*.parquet')").df())
                    err = None if got == want["hash"] else (
                        f"hash differs from the oracle ({n} rows vs {want['rows']})")
            except Exception as e:  # a check that cannot run is a failed check
                err = f"{type(e).__name__}: {e}"
            if err:
                wrong[key] = err
    messages += [f"{k}: {v}" for k, v in sorted(wrong.items())]
    calls = res.get("calls_per_key", {})
    failed_calls = {}
    for f in res["failures"]:
        failed_calls[f["what"]] = failed_calls.get(f["what"], 0) + 1
    units = sum(calls.get(k, 0) - failed_calls.get(k, 0) for k in wrong)
    ok = not wrong and not chk.get("mismatches")
    return {"ok": ok, "failed_units": units, "messages": messages,
            "wrong_keys": sorted(wrong)}
