"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and a size, and writes parquet
files shaped like the repository's star-schema test tables (same column
names, Arrow types and value domains). The same (seed, size) always gives
byte-identical inputs. Outputs are cached under the benchmark's cache
directory keyed by (kind, seed, size), so a repeated run with the same
seed skips generation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DUP_SHARE = 0.05  # share of documents that copy an earlier one + " dup"

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _rng(seed: int, *salt: int | str) -> np.random.Generator:
    key = [seed] + [
        int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
        if isinstance(s, str) else s
        for s in salt
    ]
    return np.random.default_rng(key)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def cached(cache_root: str, kind: str, seed: int, size: dict, build) -> str:
    """Return the directory holding the (kind, seed, size) inputs, building
    it with ``build(tmp_dir)`` on a miss. The build writes to a temporary
    sibling and is renamed into place, so a killed run never leaves a
    half-written cache entry behind."""
    tag = hashlib.md5(
        json.dumps(size, sort_keys=True).encode()
    ).hexdigest()[:10]
    out = os.path.join(cache_root, f"{kind}-seed{seed}-{tag}")
    if os.path.isfile(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump({"kind": kind, "seed": seed, "size": size}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# ------------------------------------------------------------ star schema


def star_tables(out: str, seed: int, sf: float) -> None:
    """region, nation, customer, orders, lineitem and events at scale
    factor ``sf`` (sf0.1 = 15k customers, 150k orders, 600k lineitems,
    100k events)."""
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(out, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))

    r = _rng(seed, "customer")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    }), os.path.join(out, "customer.parquet"))

    r = _rng(seed, "orders")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [
            "FOP"[i] for i in r.integers(0, 3, n_ord)
        ],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(
            _EPOCH_1995_US + r.integers(0, 2404, n_ord) * _DAY_US
        ),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    }), os.path.join(out, "orders.parquet"))

    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": ["ANR"[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": ["FO"[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": _ts(
            _EPOCH_1995_US + r.integers(1, 2499, n_li) * _DAY_US
        ),
    }), os.path.join(out, "lineitem.parquet"))

    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_2024_US
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    }), os.path.join(out, "events.parquet"))


# ------------------------------------------------------------- documents


def doc_texts(seed: int, n: int) -> list[str]:
    """``n`` documents of 10-100 words over the test-table vocabulary; a
    ``DUP_SHARE`` of them copy an earlier document and append " dup", so
    exact and near duplicates exist for the dedup screens to find."""
    r = _rng(seed, "doc_text")
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    is_dup = r.random(n) < DUP_SHARE
    src = r.integers(0, np.maximum(np.arange(n), 1))
    texts: list[str] = []
    pos = 0
    for i in range(n):
        if i > 0 and is_dup[i]:
            texts.append(texts[src[i]] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + lens[i]]))
        pos += lens[i]
    return texts


def _docs_table(seed: int, ids: np.ndarray, texts: list[str]) -> pa.Table:
    r = _rng(seed, "doc_meta")
    langs = r.choice(len(LANGS), len(ids), p=LANG_P)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# --------------------------------------------------------------- stream


def epoch_of(seed: int, doc_id: int, epochs: int) -> int:
    h = hashlib.blake2b(f"{seed}:{doc_id}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") % epochs


def stream_inputs(out: str, seed: int, n_docs: int, seed_docs: int,
                  epochs: int) -> None:
    """documents.parquet (the seed corpus: ids below ``seed_docs``) plus
    ``epochs`` single-file staging parts holding the remaining documents,
    split by a seeded hash of the id. Part files get strictly increasing
    mtimes so a file stream with maxFilesPerTrigger=1 reads them in order,
    one part per micro-batch."""
    texts = doc_texts(seed, n_docs)
    ids = np.arange(n_docs)
    docs = _docs_table(seed, ids, texts)
    _write(docs.slice(0, seed_docs), os.path.join(out, "documents.parquet"))
    parts: list[list[int]] = [[] for _ in range(epochs)]
    for i in range(seed_docs, n_docs):
        parts[epoch_of(seed, i, epochs)].append(i)
    staging = os.path.join(out, "staging")
    os.makedirs(staging)
    for e, members in enumerate(parts):
        path = os.path.join(staging, f"part-{e:04d}.parquet")
        _write(pa.table({
            "doc_id": pa.array(members, pa.int64()),
            "text": [texts[i] for i in members],
        }), path)
        os.utime(path, (1_700_000_000 + e * 100,) * 2)


# --------------------------------------------------------------- images


def image_arrays(seed: int, n: int, side: int) -> list[np.ndarray]:
    """``n`` smooth RGB test images (gradients plus seeded noise), so the
    perceptual hash and the JPEG quantizer see natural-image-like content
    rather than white noise."""
    r = _rng(seed, "images")
    yy, xx = np.mgrid[0:side, 0:side] / max(side - 1, 1)
    out = []
    for _ in range(n):
        a, b, c = r.uniform(-1, 1, 3)
        base = np.stack([
            128 + 100 * np.sin(3 * a * xx + 2 * b * yy + k) for k in range(3)
        ], axis=2)
        noise = r.normal(0, 12, (side, side, 3))
        out.append(np.clip(base + noise + 40 * c, 0, 255).astype(np.uint8))
    return out


def image_inputs(out: str, seed: int, n: int, side: int) -> None:
    """images.parquet: (img_id, content, seed, caption); even ids are PNG,
    odd ids baseline JPEG, both encoded with the package's own codecs."""
    from experimentsplan_datapipeline_spark.media.jpeg import encode_jpeg
    from experimentsplan_datapipeline_spark.media.png import encode_png

    arrays = image_arrays(seed, n, side)
    r = _rng(seed, "captions")
    captions = [
        " ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), r.integers(3, 90)))
        for _ in range(n)
    ]
    content = [
        encode_png(a) if i % 2 == 0 else encode_jpeg(a, quality=90)
        for i, a in enumerate(arrays)
    ]
    _write(pa.table({
        "img_id": pa.array(range(n), pa.int64()),
        "content": pa.array(content, pa.binary()),
        "seed": pa.array(r.integers(0, 1 << 40, n), pa.int64()),
        "caption": captions,
    }), os.path.join(out, "images.parquet"))
