"""Seeded input generators for the benchmark.

Every input a workload reads is made here from ``--seed`` alone, so the same
seed gives byte-identical files and a different seed gives different ones.
Nothing reads the repository's own corpora.

- ``write_corpus``: the ten tables the registry queries read (TPC-H-shaped
  star schema, ``events``, ``documents``, ``embeddings``), with the value
  distributions of the repository's sf0.001 test corpus (TESTDATA.md).
- ``write_curation``: a base corpus of documents and vectors, plus one
  delta per day whose arms plant exact copies, contained prefixes,
  near-dup edits and copies of the previous day's fresh docs.
- ``stedi_*``: the customer registry (Redis-CDC envelopes) and the
  stedi-events lines of the open-loop STEDI stream and its drain backlog.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- common ----------------------------------------------------------------


def rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream) pair, so adding a table
    never shifts the values of another."""
    key = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, key, len(stream)])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(base: dt.date, n_days: np.ndarray) -> pa.Array:
    epoch_us = int((dt.datetime.combine(base, dt.time()) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + n_days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


# --- analytics-mix corpus ----------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DOC_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "data column join small line customer query big order filter sort "
    "window stream group spark vector"
).split()

# Table sizes of the sf0.001 test corpus (documents and embeddings cut from
# 500 to 300): one pass of the analytics mix then measures mostly per-query
# fixed cost (planning, job launch), which is what dominates the registry
# at the sizes its correctness checks use.
CORPUS_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 300,
    "embeddings": 300,
}
EMB_DIM = 64
N_LABELS = 10


def corpus_tables(seed: int) -> dict[str, pa.Table]:
    n = CORPUS_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n["customer"])],
        }
    )
    r = rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
        }
    )
    r = rng(seed, "part")
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, np_), r.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, np_)],
            "p_type": [PART_TYPES[i] for i in r.integers(0, 6, np_)],
            "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
            "p_retailprice": [round(900 + (i % 1000) / 10.0, 2) for i in range(np_)],
        }
    )
    r = rng(seed, "orders")
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
            "o_totalprice": _money(r, 1000, 500000, no),
            "o_orderdate": _days(dt.date(1995, 1, 1), r.integers(0, 2404, no)),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)],
        }
    )
    r = rng(seed, "lineitem")
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(r.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
            "l_quantity": r.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105000, nl),
            "l_discount": r.integers(0, 11, nl) / 100.0,
            "l_tax": r.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, nl)],
            "l_shipdate": _days(dt.date(1995, 1, 2), r.integers(0, 2499, nl)),
        }
    )
    r = rng(seed, "events")
    ne = n["events"]
    offs = np.sort(r.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), offs),
            "user_id": pa.array(r.integers(0, n["customer"], ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, ne)],
            "value": np.round(np.minimum(r.exponential(25.0, ne), 490.0) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, ne)],
        }
    )
    r = rng(seed, "documents")
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        # the seed picks the words and which doc a planted copy copies; the
        # lengths and the number of planted near-dups are the same for every
        # seed, so the dedup queries do the same amount of work
        if i % 20 == 19:
            # planted near-dup: an earlier doc plus one marker token
            texts.append(texts[i - 1 - int(r.integers(0, 10))] + " dup")
        else:
            words = [DOC_VOCAB[j] for j in r.integers(0, len(DOC_VOCAB), 10 + (i * 37) % 90)]
            texts.append(" ".join(words) + (" dup" if i % 20 == 9 else ""))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in r.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    t["embeddings"] = _embeddings(rng(seed, "embeddings"), n["embeddings"], 0.15)
    return t


def _embeddings(r: np.random.Generator, n: int, spread: float) -> pa.Table:
    """Unit vectors around N_LABELS random centres; ``spread`` is the
    centre's weight against unit-norm noise (0.15: weak clusters, as in
    the sf0.001 test corpus; 1.0: clusters an IVF probe resolves)."""
    centres = r.standard_normal((N_LABELS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = r.integers(0, N_LABELS, n)
    noise = r.standard_normal((n, EMB_DIM))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    x = spread * centres[labels] + noise
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write the mix corpus as ``{out_dir}/{table}.parquet``; returns the
    bytes written per table."""
    sizes = {}
    for name, table in corpus_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes


# --- curation ingest -----------------------------------------------------------

def _arm(n: int, mod: int, rem: int) -> int:
    """Rows of an n-row table whose id % mod == rem: the size of one of
    the registry's arm filters."""
    return len(range(rem, n, mod))


# Sizes follow the registry's own ingest queries (queries/llm.py) at
# sf0.001, the scale its correctness checks run at: a base of 500
# documents and 500 embeddings.  Each day's doc delta has the arms of
# _ingest_delta, one base doc in three per arm: exact copies and
# appended-tail near-dups (doc_id % 3 == 2), contained prefixes (% 3 == 0),
# and fresh docs in the place of its reversed-text noise arm (% 3 == 1);
# the carry arm copies every fresh doc of the previous day, as
# _ingest_delta2 replays every day-1 noise doc.  The vector delta has the
# arms of _ann_merge_delta (exact copies of vec_id % 11 == 5, the noise
# arm vec_id % 7 == 3 as fresh vectors) plus _ann_delta2's verbatim replay
# of the previous day's noise arm as carry.
CUR_BASE_DOCS = 500
CUR_BASE_VECS = 500
CUR_ARMS = {
    "exact": _arm(CUR_BASE_DOCS, 3, 2),
    "prefix": _arm(CUR_BASE_DOCS, 3, 0),
    "near": _arm(CUR_BASE_DOCS, 3, 2),
    "fresh": _arm(CUR_BASE_DOCS, 3, 1),
}
CUR_CARRY = CUR_ARMS["fresh"]
VEC_ARMS = {"copy": _arm(CUR_BASE_VECS, 11, 5), "fresh": _arm(CUR_BASE_VECS, 7, 3)}
VEC_CARRY = VEC_ARMS["fresh"]
CUR_VOCAB_SIZE = 3000

# doc_id / vec_id blocks: day d's delta ids live in [(d + 1) * ID_BLOCK, ...)
ID_BLOCK = 1_000_000
ARM_OFFSET = {"exact": 0, "prefix": 100_000, "near": 200_000, "fresh": 300_000, "carry": 400_000}
VEC_OFFSET = {"copy": 0, "fresh": 300_000, "carry": 400_000}


def _cur_vocab(seed: int) -> list[str]:
    r = rng(seed, "cur_vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < CUR_VOCAB_SIZE:
        words.add("".join(letters[r.integers(0, 26, int(r.integers(3, 10)))]))
    return sorted(words)


def _zipf_doc(r: np.random.Generator, vocab: list[str], n: int) -> str:
    idx = np.minimum(r.zipf(1.3, n) - 1, len(vocab) - 1)
    # the four stopwords the quality classifier rewards, at a natural rate
    words = [vocab[i] for i in idx]
    for j in np.flatnonzero(r.random(n) < 0.12):
        words[j] = ("the", "a", "of", "and")[int(r.integers(0, 4))]
    return " ".join(words)


def curation_inputs(seed: int, n_days: int):
    """Base docs, base vectors and ``n_days`` (docs, vecs) deltas.  Each
    delta row carries its ``arm`` so the correctness check can tell what
    the funnel must decide for it; the program only ever sees
    (doc_id, text) and (vec_id, embedding)."""
    vocab = _cur_vocab(seed)
    r = rng(seed, "cur_base")
    # lengths cycle through 20..119 words whatever the seed
    base_texts = [_zipf_doc(r, vocab, 20 + (i * 37) % 100) for i in range(CUR_BASE_DOCS)]
    base = pa.table(
        {
            "doc_id": pa.array(range(CUR_BASE_DOCS), pa.int64()),
            "text": base_texts,
        }
    )
    vecs = _embeddings(rng(seed, "cur_vecs"), CUR_BASE_VECS, 1.0)
    base_x = np.stack(vecs.column("embedding").to_numpy(zero_copy_only=False))
    centres = np.stack([base_x[np.asarray(vecs.column("label")) == c].mean(0) for c in range(N_LABELS)])
    days = []
    prev_fresh: list[tuple[int, str]] = []
    prev_vfresh: list[tuple[int, np.ndarray]] = []
    for d in range(n_days):
        r = rng(seed, f"cur_day{d}")
        blk = (d + 1) * ID_BLOCK
        ids, texts, arms = [], [], []

        def add(arm: str, i: int, text: str) -> None:
            ids.append(blk + ARM_OFFSET[arm] + i)
            texts.append(text)
            arms.append(arm)

        src = r.choice(CUR_BASE_DOCS, CUR_ARMS["exact"] + CUR_ARMS["prefix"] + CUR_ARMS["near"], replace=False)
        k = 0
        for i in range(CUR_ARMS["exact"]):
            add("exact", i, base_texts[src[k]])
            k += 1
        for i in range(CUR_ARMS["prefix"]):
            t = base_texts[src[k]]
            add("prefix", i, t[: max(2 * len(t) // 3, 5)])
            k += 1
        for i in range(CUR_ARMS["near"]):
            t = base_texts[src[k]]
            add("near", i, t + " " + t[::-1][: max(len(t) // 6, 6)])
            k += 1
        fresh = [_zipf_doc(r, vocab, 20 + (i * 37) % 100) for i in range(CUR_ARMS["fresh"])]
        for i, t in enumerate(fresh):
            add("fresh", i, t)
        for i, (src_id, t) in enumerate(prev_fresh[:CUR_CARRY]):
            add("carry", i, t)
        prev_fresh = [(blk + ARM_OFFSET["fresh"] + i, t) for i, t in enumerate(fresh)]

        vids, vx, varms = [], [], []
        vsrc = r.choice(CUR_BASE_VECS, VEC_ARMS["copy"], replace=False)
        for i, j in enumerate(vsrc):
            vids.append(blk + VEC_OFFSET["copy"] + i)
            vx.append(base_x[j])
            varms.append("copy")
        lab = r.integers(0, N_LABELS, VEC_ARMS["fresh"])
        noise = r.standard_normal((VEC_ARMS["fresh"], EMB_DIM))
        noise /= np.linalg.norm(noise, axis=1, keepdims=True)
        fx = centres[lab] / np.linalg.norm(centres[lab], axis=1, keepdims=True) + noise
        fx /= np.linalg.norm(fx, axis=1, keepdims=True)
        for i in range(VEC_ARMS["fresh"]):
            vids.append(blk + VEC_OFFSET["fresh"] + i)
            vx.append(fx[i])
            varms.append("fresh")
        for i, (_vid, x) in enumerate(prev_vfresh[:VEC_CARRY]):
            vids.append(blk + VEC_OFFSET["carry"] + i)
            vx.append(x)
            varms.append("carry")
        prev_vfresh = [(blk + VEC_OFFSET["fresh"] + i, fx[i]) for i in range(VEC_ARMS["fresh"])]
        docs_t = pa.table(
            {"doc_id": pa.array(ids, pa.int64()), "text": texts, "arm": arms}
        )
        vec_t = pa.table(
            {
                "vec_id": pa.array(vids, pa.int64()),
                # the index's own element type: merged rows are appended
                # into its vector table, which must stay one schema
                "embedding": pa.array(
                    [np.asarray(x, np.float32) for x in vx], pa.list_(pa.float32())
                ),
                "arm": varms,
            }
        )
        days.append((docs_t, vec_t))
    return base, vecs, days


def carry_source(doc_id: int) -> int:
    """The fresh doc (or vector) of the previous day a carry-arm row copies."""
    day_blk = doc_id // ID_BLOCK * ID_BLOCK
    i = doc_id - day_blk - ARM_OFFSET["carry"]
    return day_blk - ID_BLOCK + ARM_OFFSET["fresh"] + i


def write_curation(seed: int, out_dir: str, n_days: int) -> None:
    base, vecs, days = curation_inputs(seed, n_days)
    _write(base, os.path.join(out_dir, "base_docs.parquet"))
    _write(vecs, os.path.join(out_dir, "base_vecs.parquet"))
    for d, (docs_t, vec_t) in enumerate(days):
        _write(docs_t, os.path.join(out_dir, f"delta_docs_{d}.parquet"))
        _write(vec_t, os.path.join(out_dir, f"delta_vecs_{d}.parquet"))


# --- STEDI stream ------------------------------------------------------------

# Customer keys are a seeded affine bijection of [0, N) into [0, 2^31 - 1):
# distinct keys, and an event picks its customer by idx alone.
STEDI_P = 2_147_483_647
EPOCH_DAY_1940 = (dt.date(1940, 1, 1) - dt.date(1970, 1, 1)).days


def stedi_affine(seed: int) -> tuple[int, int]:
    r = rng(seed, "stedi_affine")
    return int(r.integers(1, STEDI_P)), int(r.integers(0, STEDI_P))


def stedi_key(seed: int, idx: int) -> int:
    a, b = stedi_affine(seed)
    return (a * idx + b) % STEDI_P


def stedi_email(k: int) -> str:
    # streaming.pipeline.EMAIL_SQL
    return f"user{k}@test.com"


def stedi_birth_year(k: int) -> str:
    # streaming.pipeline.BIRTHDAY_SQL: date'1940-01-01' + (k * 73) % 21915 days
    return str((dt.date(1940, 1, 1) + dt.timedelta(days=(k * 73) % 21915)).year)


def stedi_customer_table(seed: int, n_customers: int, ts_us: int) -> pa.Table:
    """The customer registry as Kafka-shaped rows (key, value, timestamp):
    one Redis-CDC envelope per customer, exactly once each."""
    r = rng(seed, "stedi_names")
    first = ["Sam", "Trevor", "Ashley", "Eric", "Jason", "Sean", "Santosh", "Maria"]
    last = ["Test", "Anderson", "Khatib", "Howard", "Mitra", "Fibonnaci", "Lopez", "Chen"]
    keys, values = [], []
    for i in range(n_customers):
        k = stedi_key(seed, i)
        doc = {
            "customerName": f"{first[r.integers(0, 8)]} {last[r.integers(0, 8)]}",
            "email": stedi_email(k),
            "phone": "8015551212",
            "birthDay": (dt.date(1940, 1, 1) + dt.timedelta(days=(k * 73) % 21915)).isoformat(),
        }
        env = {
            "key": base64.b64encode(b"Customer").decode(),
            "existType": "NONE",
            "Ch": False,
            "Incr": False,
            "zSetEntries": [
                {"element": base64.b64encode(json.dumps(doc).encode()).decode(), "score": "0.0"}
            ],
        }
        keys.append(b"Customer")
        values.append(json.dumps(env).encode())
    return pa.table(
        {
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(values, pa.binary()),
            "timestamp": pa.array([ts_us] * n_customers, pa.timestamp("us", tz="UTC")),
        }
    )


def stedi_event_line(email: str, due_ms: int, event_id: int) -> str:
    """One stedi-events JSON value.  ``score`` carries the due time as
    ms * 1000 plus the event id mod 1000, so every event of a run is unique
    and its due time is ``score // 1000``."""
    date = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(due_ms // 1000))
    return (
        f'{{"customer":"{email}","score":{float(due_ms * 1000 + event_id % 1000)!r},'
        f'"riskDate":"{date}.{due_ms % 1000:03d}Z"}}'
    )


def stedi_event_emails(seed: int, n_customers: int, n_events: int, stream: str) -> list[str]:
    """The customer email of each of ``n_events`` events: a seeded pick of
    customer idx, mapped through the registry's affine keys."""
    a, b = stedi_affine(seed)
    idx = rng(seed, stream).integers(0, n_customers, n_events)
    return [stedi_email((a * int(i) + b) % STEDI_P) for i in idx]


def stedi_backlog_table(seed: int, n_customers: int, n_events: int, t0_ms: int) -> pa.Table:
    """A fixed pre-written event backlog (Kafka-shaped rows), the input of
    the drain phase; event i is due at ``t0_ms + i // 10``."""
    emails = stedi_event_emails(seed, n_customers, n_events, "stedi_backlog")
    ms = [t0_ms + i // 10 for i in range(n_events)]
    return pa.table(
        {
            "key": pa.array([None] * n_events, pa.binary()),
            "value": pa.array(
                [stedi_event_line(e, m, i).encode() for i, (e, m) in enumerate(zip(emails, ms))],
                pa.binary(),
            ),
            "timestamp": pa.array([m * 1000 for m in ms], pa.timestamp("us", tz="UTC")),
        }
    )
