"""Seeded input generators for the benchmark.

Two fixtures, both pure functions of the seed:

* ``cdc_log``: a pgshovel-shaped change log. Several publishers emit
  ``begin -> mutation* -> commit|rollback`` brackets, each with its own
  sequence space, interleaved message by message in arrival order. Row
  keys are Zipf-skewed over the ``customer`` keys (the hot key is chosen
  by the seed), the tombstone operation is ``error``, about 1% of the
  messages are redelivered later as exact copies, a few messages are
  lost (sequence gaps), and one publisher fails over to a successor
  mid-transaction. ``write_cdc`` writes it as ``log.parquet`` (every
  message), ``events.parquet`` (every delivered mutation, in the shape
  of the program's ``events`` table) and ``customer.parquet``.
* ``write_curate``: the committed base ``documents``/``embeddings``
  rewritten by a structure-preserving transform: a seeded bijection of
  the vocabulary and a seeded signed permutation of the vector
  coordinates. Exact and near duplicate families, document lengths in
  words, and all pairwise cosines are unchanged, so the amount of work
  is the same for every seed while the bytes differ.
"""
import bisect
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TOMBSTONE = "error"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 29 * 86400 * 1_000_000  # the log covers 2024-01-01 .. 2024-01-30
BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")


# Shape of the generated change log; test_gen.py asserts these shares.
MUTATIONS = 6600
PUBLISHERS = 4
CUSTOMERS = 1500
ZIPF_S = 1.1
MAX_TXN = 8
ROLLBACK_SHARE = 0.05
DUP_SHARE = 0.01
GAPS = 5


@dataclass
class CdcLog:
    messages: list            # dicts in arrival order
    customers: list           # dicts, one per customer key
    failover: tuple = ()      # (old publisher, new publisher)
    lost: list = field(default_factory=list)  # (publisher, seq) never delivered


def _zipf_keys(rng):
    """Customer keys ranked by a seeded permutation; weight 1/rank^s."""
    ranked = list(range(CUSTOMERS))
    rng.shuffle(ranked)
    cum, acc = [], 0.0
    for r in range(1, CUSTOMERS + 1):
        acc += 1.0 / r ** ZIPF_S
        cum.append(acc)
    return ranked, cum


def cdc_log(seed):
    rng = random.Random(f"cdc-log:{seed}")
    ranked, cum = _zipf_keys(rng)

    def key():
        return ranked[bisect.bisect_left(cum, rng.random() * cum[-1])]

    # Per-publisher transaction streams. Publisher 0 fails over to a
    # successor half-way through its share, inside an open transaction.
    pubs = [f"set{p}-a" for p in range(PUBLISHERS)]
    per_pub = max(1, MUTATIONS // PUBLISHERS)
    streams = []
    failover = ()
    for p, name in enumerate(pubs):
        msgs, seq, n = [], 0, 0
        cut = per_pub // 2 if p == 0 else None
        while n < per_pub:
            size = min(rng.randint(1, MAX_TXN), per_pub - n)
            msgs.append({"publisher": name, "seq": seq, "op": "begin"})
            seq += 1
            for i in range(size):
                if cut is not None and n >= cut and i == size // 2 and size > 1:
                    # the relay dies mid-transaction; its successor starts
                    # a fresh sequence space and carries on
                    old, name = name, f"set{p}-b"
                    failover = (old, name)
                    cut, seq = None, 0
                    msgs.append({"publisher": name, "seq": seq, "op": "begin"})
                    seq += 1
                msgs.append({"publisher": name, "seq": seq, "op": "mutation"})
                seq += 1
                n += 1
            end = "rollback" if rng.random() < ROLLBACK_SHARE else "commit"
            msgs.append({"publisher": name, "seq": seq, "op": end})
            seq += 1
        streams.append(msgs)

    # Interleave publishers message by message.
    heads = [0] * len(streams)
    arrival = []
    live = [i for i, s in enumerate(streams) if s]
    while live:
        i = rng.choice(live)
        arrival.append(streams[i][heads[i]])
        heads[i] += 1
        if heads[i] == len(streams[i]):
            live.remove(i)

    # Rows, event ids and commit times in arrival order.
    step = SPAN_US // max(1, len(arrival))
    ts, event_id = T0_US, 0
    for m in arrival:
        ts += rng.randint(1, 2 * step)
        if m["op"] == "mutation":
            m.update(user_id=key(), event_id=event_id, ts=ts,
                     event_type=rng.choice(EVENT_TYPES),
                     value=round(rng.uniform(0, 200), 2),
                     props=json.dumps({"k": rng.randrange(100)}))
            event_id += 1

    # Lost messages: a few mutations never arrive (sequence gaps).
    muts = [i for i, m in enumerate(arrival) if m["op"] == "mutation"]
    lost_idx = set(rng.sample(muts, GAPS))
    lost = sorted((arrival[i]["publisher"], arrival[i]["seq"]) for i in lost_idx)
    delivered = [m for i, m in enumerate(arrival) if i not in lost_idx]

    # Redelivery: ~dup_share of the messages arrive again, a little later.
    out = []
    pending = []  # (position, message)
    for i, m in enumerate(delivered):
        out.append(m)
        if rng.random() < DUP_SHARE:
            pending.append((i + rng.randint(1, 50), dict(m)))
        while pending and pending[0][0] <= i:
            out.append(pending.pop(0)[1])
        pending.sort(key=lambda t: t[0])
    out.extend(m for _, m in pending)
    for a, m in enumerate(out):
        m = out[a] = dict(m)
        m["arrival"] = a

    customers = [{
        "c_custkey": k,
        "c_name": f"Customer#{k:09d}",
        "c_nationkey": rng.randrange(25),
        "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
        "c_mktsegment": rng.choice(SEGMENTS),
    } for k in range(CUSTOMERS)]
    return CdcLog(out, customers, failover, lost)


LOG_SCHEMA = pa.schema([
    ("arrival", pa.int64()), ("publisher", pa.string()), ("seq", pa.int64()),
    ("op", pa.string()), ("user_id", pa.int64()), ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")), ("event_type", pa.string()),
    ("value", pa.float64())])
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])
CUSTOMER_SCHEMA = pa.schema([
    ("c_custkey", pa.int64()), ("c_name", pa.string()),
    ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
    ("c_mktsegment", pa.string())])


def write_cdc(seed, out_dir):
    log = cdc_log(seed)
    rows = [{
        "arrival": m["arrival"], "publisher": m["publisher"], "seq": m["seq"],
        "op": m["op"], "user_id": m.get("user_id", -1),
        "event_id": m.get("event_id", -1), "ts": m.get("ts"),
        "event_type": m.get("event_type", ""), "value": m.get("value", 0.0),
    } for m in log.messages]
    pq.write_table(pa.Table.from_pylist(rows, LOG_SCHEMA),
                   os.path.join(out_dir, "log.parquet"))
    events = [{k: m[k] for k in EVENTS_SCHEMA.names}
              for m in log.messages if m["op"] == "mutation"]
    pq.write_table(pa.Table.from_pylist(events, EVENTS_SCHEMA),
                   os.path.join(out_dir, "events.parquet"))
    pq.write_table(pa.Table.from_pylist(log.customers, CUSTOMER_SCHEMA),
                   os.path.join(out_dir, "customer.parquet"))
    return log


def vocabulary(texts):
    return sorted({w for t in texts for w in t.split(" ") if w})


def curate_tables(seed):
    """The base fixture rewritten for `seed`."""
    rng = random.Random(f"curate:{seed}")
    docs = pq.read_table(os.path.join(BASE_DIR, "documents.parquet"))
    emb = pq.read_table(os.path.join(BASE_DIR, "embeddings.parquet"))
    texts = docs.column("text").to_pylist()
    vocab = vocabulary(texts)
    image = vocab[:]
    rng.shuffle(image)
    bij = dict(zip(vocab, image))
    new_texts = [" ".join(bij.get(w, w) for w in t.split(" ")) for t in texts]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(new_texts, pa.string()))
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(t) for t in new_texts], pa.int64()))
    vecs = emb.column("embedding").to_pylist()
    dim = len(vecs[0])
    perm = list(range(dim))
    rng.shuffle(perm)
    sign = [rng.choice((-1.0, 1.0)) for _ in range(dim)]
    rotated = [[sign[j] * v[perm[j]] for j in range(dim)] for v in vecs]
    emb = emb.set_column(emb.schema.get_field_index("embedding"), "embedding",
                         pa.array(rotated, emb.schema.field("embedding").type))
    return docs, emb, bij, (perm, sign)


def write_curate(seed, out_dir):
    docs, emb, _, _ = curate_tables(seed)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def fixture_hash(fixture_dir):
    """Content hash of every table in a fixture directory."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(fixture_dir)):
        h.update(name.encode())
        table = pq.read_table(os.path.join(fixture_dir, name))
        for col in table.column_names:
            h.update(col.encode())
            h.update(repr(table.column(col).to_pylist()).encode())
    return h.hexdigest()[:16]
