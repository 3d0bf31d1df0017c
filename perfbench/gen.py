"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of (workload, seed, sizing): the same
seed writes byte-identical files, a different seed different ones.
The tables follow the schemas of the package's catalog
(``catalog.DECLARED_SCHEMAS``) and the value distributions of the
TPC-H-style fixtures the package is tested on, at the sizes set by the
constants below (each explains its choice):

- ``elt``: ``events`` (CDC source rows), ``customer``, ``nation``.
- ``corpus``: ``documents`` with seeded near-duplicate clusters.
- ``cdc``: a Debezium envelope change log split into JSON-lines
  files — inserts first, then updates concentrated on a hot-key set,
  with every key's change timestamps strictly increasing, so the
  latest-wins state after any prefix of files is unambiguous.

Inputs are written under the harness work directory and cached by
seed; :func:`ensure` returns the directory and its properties.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ELT: sf0.1 has 100k events over 1,500 users. The benchmark keeps
# 100k events (x1) over 16k users: the job's raw-events stage costs
# ~2.4 s per 100k events on 4 cores, and an x8 job (~20 s warm) does
# not fit a 10 s measuring window.
EVENTS_X = 1
BASE_EVENTS = 100_000
N_CUSTOMERS = 15_000
# users beyond the customer range exercise the 'unknown' nation fill
N_USERS = 16_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY_US = 86_400_000_000
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Corpus: sf0.1 has 5k documents; the benchmark uses x2. At x8 the
# DuckDB near-dup oracle alone takes ~9 s per run and the cold pass
# ~30 s; x2 fits three or more ~3 s jobs in a 10 s window.
DOCS_X = 2
BASE_DOCS = 5_000
CLUSTER_SHARE = 0.2  # share of documents that sit in a near-dup cluster
# A Zipf-weighted vocabulary of syllable words: with the fixtures'
# 30-word vocabulary, random documents share 3-shingles so often that
# the LSH band join emits O(n^2) chance pairs at x8.
_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu")
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in ("", *_SYL)]
_VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.6
_VOCAB_P /= _VOCAB_P.sum()
STOP = ("the", "a", "of", "and", "to", "in", "is", "an")
STOP_SHARE = 0.12
_WORDS = VOCAB + list(STOP)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

# CDC change log: inserts of every key first, then hot-key updates.
CDC_KEYS = 5_000
CDC_FILE_ROWS = 1_000
CDC_BACKLOG_FILES = 6
CDC_LIVE_FILE_ROWS = 125
HOT_KEY_SHARE = 0.1  # share of keys ...
HOT_UPDATE_SHARE = 0.8  # ... that receive this share of the updates

_CACHE_KEEP = 6  # input sets kept in the cache (newest first)


def _rng(seed: int, salt: str) -> np.random.Generator:
    h = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    # one row group, no statistics drift: byte-stable across runs
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _ts_type():
    # TIMESTAMP(MICROS, isAdjustedToUTC=false): the fixtures' physical type
    return pa.timestamp("us")


def gen_elt(out: str, seed: int) -> dict:
    r = _rng(seed, "elt")
    n = BASE_EVENTS * EVENTS_X
    id_off = int(r.integers(0, 1_000)) * 1_000_000
    ts_off = int(r.integers(0, 365)) * DAY_US
    ts = np.sort(TS_BASE_US + ts_off + r.integers(0, 30 * DAY_US, n))
    events = pa.table(
        {
            "event_id": pa.array(id_off + np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=_ts_type()),
            "user_id": pa.array(r.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
            "value": pa.array(np.round(r.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMERS, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
            "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMERS, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
            "c_mktsegment": pa.array(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                    r.integers(0, 5, N_CUSTOMERS)
                ]
            ),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    _write(events, os.path.join(out, "events.parquet"))
    _write(customer, os.path.join(out, "customer.parquet"))
    _write(nation, os.path.join(out, "nation.parquet"))
    return {"amplification": EVENTS_X, "rows": n, "users": N_USERS}


def _pii(r: np.random.Generator) -> str:
    k = int(r.integers(0, 3))
    if k == 0:
        return f"user{int(r.integers(0, 10_000))}@example.com"
    if k == 1:
        return ".".join(str(int(x)) for x in r.integers(0, 256, 4))
    return f"{int(r.integers(100, 999))}-{int(r.integers(10, 99))}-{int(r.integers(1000, 9999))}"


def _doc(r: np.random.Generator, pool: np.ndarray, at: int) -> list[str]:
    """One document drawn from ``pool`` (pre-drawn Zipf word indices,
    stop words already mixed in) starting at ``at``."""
    n = int(r.integers(8, 90))  # below 30 words the curation drops it
    words = [_WORDS[i] for i in pool[at : at + n]]
    if r.random() < 0.1:
        words[int(r.integers(0, n))] = _pii(r)
    return words


def _variant(r: np.random.Generator, words: list[str]) -> list[str]:
    """A near duplicate: a few substituted words (est. Jaccard stays
    high), sometimes an exact copy with extra spacing (the exact-dedup
    path of the curation job)."""
    if r.random() < 0.25:
        return ["", *words, ""]  # normalizes to the same content hash
    out = list(words)
    for _ in range(max(1, len(out) // 25)):
        out[int(r.integers(0, len(out)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
    return out


def gen_corpus(out: str, seed: int) -> dict:
    r = _rng(seed, "corpus")
    n = BASE_DOCS * DOCS_X
    id_off = int(r.integers(0, 1_000)) * 1_000_000
    pool = r.choice(len(VOCAB), n * 90, p=_VOCAB_P)
    stop = r.random(len(pool)) < STOP_SHARE
    pool[stop] = len(VOCAB) + r.integers(0, len(STOP), int(stop.sum()))
    texts: list[str] = []
    in_cluster = 0
    while len(texts) < n:
        base = _doc(r, pool, len(texts) * 90)
        if r.random() < CLUSTER_SHARE / 3:  # clusters of 2-4 docs, mean 3
            size = min(int(r.integers(2, 5)), n - len(texts))
            texts.append(" ".join(base))
            texts.extend(" ".join(_variant(r, base)) for _ in range(size - 1))
            in_cluster += size
        else:
            texts.append(" ".join(base))
    order = r.permutation(n)  # scatter cluster members over doc ids
    texts = [texts[i] for i in order]
    docs = pa.table(
        {
            "doc_id": pa.array(id_off + np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    _write(docs, os.path.join(out, "documents.parquet"))
    return {"amplification": DOCS_X, "rows": n, "near_dup_cluster_share": round(in_cluster / n, 4)}


def _envelope(op: str, ts_ms: int, key: int, user: int, etype: str, value: float) -> str:
    after = {"event_id": key, "user_id": user, "event_type": etype, "value": value, "props": None}
    payload = {
        "op": op,
        "ts_ms": ts_ms,
        "before": None,
        "after": after,
        "source": {"db": "promptly", "schema": "public", "table": "events"},
    }
    return json.dumps({"payload": payload})


def _kafka_ts(ts_ms: int) -> str:
    s, ms = divmod(ts_ms, 1000)
    return np.datetime_as_string(np.datetime64(s, "s"), unit="s") + f".{ms:03d}Z"


def cdc_live_files(seconds: int, rate: float) -> int:
    """Live-phase file count: one file per 1/rate s for ``seconds``."""
    return max(1, int(round(seconds * rate)))


def gen_cdc(out: str, seed: int, live_files: int) -> dict:
    r = _rng(seed, "cdc")
    id_off = int(r.integers(0, 1_000)) * 1_000_000
    ts_ms = TS_BASE_US // 1000 + int(r.integers(0, 365)) * 86_400_000
    hot = r.choice(CDC_KEYS, int(CDC_KEYS * HOT_KEY_SHARE), replace=False)
    sizes = [CDC_FILE_ROWS] * CDC_BACKLOG_FILES + [CDC_LIVE_FILE_ROWS] * live_files
    inserts = r.permutation(CDC_KEYS)
    n_ins = 0
    n_hot = 0
    os.makedirs(os.path.join(out, "backlog"))
    os.makedirs(os.path.join(out, "live"))
    for i, size in enumerate(sizes):
        lines = []
        for _ in range(size):
            # the global change clock advances 1-20 ms per change, so
            # every key's changes have strictly increasing ts
            ts_ms += int(r.integers(1, 21))
            if n_ins < CDC_KEYS:
                key, op = int(inserts[n_ins]), "c"
                n_ins += 1
            else:
                is_hot = r.random() < HOT_UPDATE_SHARE
                n_hot += is_hot
                key = int(hot[r.integers(0, len(hot))] if is_hot else r.integers(0, CDC_KEYS))
                op = "u"
            env = _envelope(
                op,
                ts_ms,
                id_off + key,
                int(r.integers(0, N_USERS)),
                EVENT_TYPES[int(r.integers(0, 5))],
                float(np.round(r.exponential(50.0), 2)),
            )
            lines.append(json.dumps({"raw_message": env, "kafka_timestamp": _kafka_ts(ts_ms)}))
        sub = "backlog" if i < CDC_BACKLOG_FILES else "live"
        with open(os.path.join(out, sub, f"{i:05d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    backlog_rows = CDC_FILE_ROWS * CDC_BACKLOG_FILES
    n_upd = sum(sizes) - CDC_KEYS
    return {
        "keys": CDC_KEYS,
        "backlog_files": CDC_BACKLOG_FILES,
        "backlog_rows": backlog_rows,
        "live_files": live_files,
        "live_file_rows": CDC_LIVE_FILE_ROWS,
        "hot_key_share": HOT_KEY_SHARE,
        "hot_update_share": round(n_hot / n_upd, 4) if n_upd else 0.0,
    }


def fingerprint(root: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for fn in sorted(files):
            if fn.startswith("_"):
                continue
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure(cache: str, kind: str, seed: int, **params) -> tuple[str, dict]:
    """Generate (or reuse) the input set; returns (dir, properties).
    Properties carry the content fingerprint of the generated files."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    out = os.path.join(cache, f"{kind}-s{seed}{'-' + tag if tag else ''}")
    meta = os.path.join(out, "_PROPS.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    gens = {"elt": gen_elt, "corpus": gen_corpus, "cdc": gen_cdc}
    props = gens[kind](tmp, seed, **params)
    props["seed"] = seed
    props["fingerprint"] = fingerprint(tmp)
    with open(os.path.join(tmp, "_PROPS.json"), "w") as f:
        json.dump(props, f)
    os.rename(tmp, out)
    _prune(cache)
    return out, props


def _prune(cache: str) -> None:
    sets = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache) if not d.endswith(".tmp")),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in sets[_CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)
