"""Seeded input generator for the benchmark.

Every input the program sees is made here from the `--seed` argument: the
`lineitem`, `documents` and `embeddings` tables the benchmark's registry
queries read, and the stream payloads (review envelopes, click events) the
open-loop generator writes. Same seed, same bytes.

Value domains mirror the repository's fixed test tables (TESTDATA.md): money
columns are exact 2-dp decimals, quantities are whole numbers, 5% of
documents are near-duplicates (an earlier text plus " dup") and a few are
exact duplicates. Queries rely on those invariants (decimal-exact sums,
dedup hits), so a generator that broke them would make the oracle check
fail for reasons that are not the program's.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "documents", "embeddings")
#: users in the sf0.1 events table
N_USERS = 1500

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_DAY_US = 86_400_000_000


def _cat(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).dictionary_decode()


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Exact 2-dp values: integer cents / 100 is the double nearest the decimal."""
    return rng.integers(lo, hi + 1, size=n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    a = np.datetime64(first, "D").astype(np.int64)
    b = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(a, b + 1, size=n)
    return pa.array(d * _DAY_US, type=pa.int64()).cast(pa.timestamp("us"))


def make_tables(seed: int, sf: float, names) -> dict[str, pa.Table]:
    """The registry's input tables at scale factor `sf`."""
    out: dict[str, pa.Table] = {}
    for name in names:
        r = np.random.default_rng([seed, TABLES.index(name)])
        if name == "lineitem":
            n = int(6_000_000 * sf)
            t = pa.table({
                "l_orderkey": r.integers(0, int(1_500_000 * sf), n),
                "l_partkey": r.integers(0, int(200_000 * sf), n),
                "l_suppkey": r.integers(0, int(10_000 * sf), n),
                "l_linenumber": r.integers(1, 8, n).astype(np.int32),
                "l_quantity": r.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _cents(r, 90_068, 10_499_991, n),
                "l_discount": r.integers(0, 11, n) / 100.0,
                "l_tax": r.integers(0, 9, n) / 100.0,
                "l_returnflag": _cat(r, ["A", "N", "R"], n),
                "l_linestatus": _cat(r, ["F", "O"], n),
                "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n),
            })
        elif name == "documents":
            t = make_documents(r, int(50_000 * sf))
        elif name == "embeddings":
            n = int(20_000 * sf)
            label = r.integers(0, 10, n).astype(np.int32)
            centers = r.normal(size=(10, 64))
            v = centers[label] + r.normal(scale=1.5, size=(n, 64))
            v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
            emb = pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)), pa.array(v.ravel())
            )
            t = pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": label})
        else:
            raise KeyError(name)
        out[name] = t
    return out


def review_texts(seed: int) -> list[str]:
    """The sf0.1 documents' texts, which the review envelopes draw from."""
    return make_tables(seed, 0.1, ["documents"])["documents"]["text"].to_pylist()


def make_documents(r: np.random.Generator, n: int) -> pa.Table:
    lengths = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    kind = r.random(n)
    src = r.integers(0, np.maximum(np.arange(n), 1))
    for i, k in enumerate(lengths):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[src[i]] + " dup")
        elif i > 0 and kind[i] < 0.052:
            texts.append(texts[src[i]])
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _cat(r, LANGS, n, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def write_file(table: pa.Table, path: str) -> None:
    """Write-then-rename, so a directory lister never sees a partial file.
    Timestamps go out as µs: Spark's stream reader rejects pyarrow's default
    nanosecond encoding (PARQUET_COLUMN_DATA_TYPE_MISMATCH)."""
    d, f = os.path.split(path)
    tmp = os.path.join(os.path.dirname(d), "_staging", f)
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, tmp, coerce_timestamps="us")
    os.rename(tmp, path)


# ---------------------------------------------------------------- streams --

RESEND_SHARE = 0.05
LATE_SHARE = 0.10
LATE_MAX_S = 120.0


def review_envelopes(seed: int, texts: list[str], start: int, n: int) -> pa.Table:
    """Kafka-value JSON bytes {id, review}. Reviews are documents texts made
    unique by a per-event suffix, so no text repeats by accident; a stated
    RESEND_SHARE are exact resends of an earlier envelope of the same slice,
    as a producer with retries would send."""
    r = np.random.default_rng([seed, 7, start])
    pick = r.integers(0, len(texts), n)
    resend = r.random(n) < RESEND_SHARE
    resend[0] = False
    back = r.integers(0, np.maximum(np.arange(n), 1))
    values: list[bytes] = []
    for i in range(n):
        if resend[i]:
            values.append(values[back[i]])
        else:
            eid = f"r{seed}-{start + i}"
            body = {"id": eid, "review": f"{texts[pick[i]]} #{start + i}"}
            values.append(json.dumps(body).encode())
    return pa.table({"value": pa.array(values, pa.binary())})


def click_events(seed: int, n_users: int, start: int, n: int) -> tuple[pa.Table, np.ndarray]:
    """Event rows without their timestamp, plus each row's lateness in µs.
    The writer stamps ts = due time - lateness; a LATE_SHARE of rows arrive
    up to LATE_MAX_S out of order, well inside the 10-minute watermark."""
    r = np.random.default_rng([seed, 11, start])
    late = np.where(
        r.random(n) < LATE_SHARE, r.integers(1, int(LATE_MAX_S * 1e6), n), 0
    ).astype(np.int64)
    t = pa.table({
        "event_id": np.arange(start, start + n, dtype=np.int64),
        "user_id": r.integers(0, n_users, n),
        "event_type": _cat(r, EVENT_TYPES, n),
        "value": np.minimum(np.floor(r.exponential(5000.0, n)), 99_999) / 100.0,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })
    return t, late


def stamp(events: pa.Table, late_us: np.ndarray, due_us: int) -> pa.Table:
    ts = pa.array(due_us - late_us, pa.int64()).cast(pa.timestamp("us"))
    return events.add_column(1, "ts", ts)
