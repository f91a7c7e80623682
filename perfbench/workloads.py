"""The benchmark workloads: their inputs, ops, stand-up and checks.

A batch op is a frame built by a public entry point of the package and
materialized to the ``noop`` sink. Its correctness check runs once per run,
outside the timed passes, on a collected copy of the same op's result: the
registry ops against their DuckDB oracle twin's hash, the media ops against
a Python replica of the transform. The streaming workload's ops are the
micro-batches of one ``availableNow`` drain; every drain is checked.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 8 of the 16 reference-parity queries: each distinct query pays ~0.7 s of
# cold code generation in the first warm-up pass and ~0.4 s in each later
# pass, and a run (set-up plus measurement in about 40 s) holds 8. The 8
# keep every shape the 16 have: joins, windows, top-k, time rollups, an
# as-of join, the flagship.
VTON_OPS = [
    "join_triplet", "agg_ema", "topk_latest_ts", "window_first_per_key",
    "events_tumbling", "rollup_time_multi", "join_asof", "flagship_revenue",
]

# Input sizes. "bench" is what the benchmark measures; "tiny" is the
# self-test size.
SIZES = {
    "bench": {
        "vton_analytics": {"sf": 0.01},
        "stream_ingest": {"docs": 500, "seed_docs": 300, "epochs": 2,
                          "compact_every": 2},
        "image_transform": {"images": 144, "side": 48},
    },
    "tiny": {
        "vton_analytics": {"sf": 0.001},
        "stream_ingest": {"docs": 390, "seed_docs": 300, "epochs": 3,
                          "compact_every": 2},
        "image_transform": {"images": 6, "side": 16},
    },
}


def _oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Op:
    name: str
    build: Callable[[], object]               # -> DataFrame
    collect: Callable[[object], list]         # DataFrame -> result rows
    compare: Callable[[list], str | None]     # rows -> problem or None


# ------------------------------------------------------------ registry ops


class RegistryWorkload:
    """Registry callables from ``plans.queries.QUERIES`` over generated
    tables, each checked against its DuckDB oracle twin."""

    kind = "batch"
    # A fresh JVM keeps getting faster for several passes while the JIT
    # compiles Spark's planning and execution paths: after one warm-up
    # pass, analytics passes on a 4-vCPU VM still fell 3.8 -> 3.5 -> 3.3
    # -> 2.9 s within a run. Warm up with this many noop passes after the
    # checked one; a third would cost a measurement round about 80 s of
    # its 3420 s budget when the machine is slow.
    extra_warmup_passes = 2

    def __init__(self, name: str, ops: list[str], size: dict):
        self.name, self.op_names, self.size = name, ops, size
        self.data_dir = ""
        self.oracle: dict[str, str] = {}

    def generate(self, cache: str, seed: int) -> None:
        self.data_dir = datagen.cached(
            cache, self.name, seed, self.size,
            lambda out: datagen.star_tables(out, seed, self.size["sf"]))

    def compute_oracle(self) -> None:
        """DuckDB oracle hash per op, cached beside the inputs and keyed by
        the oracle SQL text, so a seed pays for it once."""
        from experimentsplan_datapipeline_spark.plans.queries import ORACLE

        import duckdb

        co = _oracle_module()
        path = os.path.join(self.data_dir, "oracle.json")
        cache = {}
        if os.path.exists(path):
            with open(path) as f:
                cache = json.load(f)
        con = None
        for name in self.op_names:
            sql = ORACLE[name]
            key = f"{name}:{hashlib.md5(sql.encode()).hexdigest()}"
            if key not in cache:
                if con is None:
                    con = duckdb.connect(config={"threads": 2})
                    for f in os.listdir(self.data_dir):
                        if f.endswith(".parquet"):
                            con.execute(
                                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{self.data_dir}/{f}')")
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                cache[key] = co.table_hash(res.fetchall(), cols)
            self.oracle[name] = cache[key]
        if con is not None:
            con.close()
            with open(path, "w") as f:
                json.dump(cache, f)

    def stand_up(self, spark) -> None:
        from experimentsplan_datapipeline_spark.plans.queries import QUERIES

        co = _oracle_module()
        columns: dict[str, list[str]] = {}
        self.ops = []
        for name in self.op_names:
            fn = QUERIES[name]

            def collect(df, name=name):
                columns[name] = df.columns
                return [tuple(r) for r in df.collect()]

            def compare(rows, name=name):
                got = co.table_hash(rows, columns[name])
                if got != self.oracle[name]:
                    return f"hash {got} != oracle {self.oracle[name]}"
                return None

            self.ops.append(Op(name, lambda fn=fn: fn(spark, self.data_dir),
                               collect, compare))


# -------------------------------------------------------------- media ops


def _portable_hash(value: str, seed: int = 42) -> int:
    return int(hashlib.md5(f"{value}|{seed}".encode()).hexdigest()[:8], 16)


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def phash_replica(pixels: np.ndarray) -> int:
    """media.images.image_phash, replayed in the same operation order."""
    from experimentsplan_datapipeline_spark.media.images import dct_weights

    n, block = 8, 4
    px = [int(v) for v in pixels.reshape(-1)[: 3 * 64]]
    lum = [px[3 * i] + px[3 * i + 1] + px[3 * i + 2] for i in range(64)]
    c = dct_weights(n)
    t = []
    for x in range(n):
        for v in range(block):
            acc = None
            for y in range(n):
                term = lum[x * n + y] * float(c[v][y])
                acc = term if acc is None else acc + term
            t.append(acc)
    coeffs = []
    for u in range(block):
        for v in range(block):
            if u == 0 and v == 0:
                continue
            acc = None
            for x in range(n):
                term = t[x * block + v] * float(c[u][x])
                acc = term if acc is None else acc + term
            coeffs.append(_round6(acc))
    med = sorted(coeffs)[len(coeffs) // 2]
    return sum(1 << i for i, cf in enumerate(coeffs) if cf > med)


class ImageWorkload:
    """The reference dataloader chain, the perceptual hash and caption
    tokenization over seeded PNG/JPEG images in a parquet binary column."""

    kind = "batch"
    # No noop warm-up pass: after the checked one, timed passes move by
    # 10-15% from pass to pass with the host's CPU speed (5.1-6.0 s over
    # eight passes on a 4-vCPU VM) and a first pass is at most one such
    # step slower, which the median over 3-5 passes absorbs; a run spends
    # the 5-7 s that pass would cost on measurement instead.
    extra_warmup_passes = 0
    RESIZE = 8

    def __init__(self, name: str, size: dict):
        self.name, self.size = name, size

    def generate(self, cache: str, seed: int) -> None:
        self.seed = seed
        self.data_dir = datagen.cached(
            cache, self.name, seed, self.size,
            lambda out: datagen.image_inputs(
                out, seed, self.size["images"], self.size["side"]))

    def compute_oracle(self) -> None:
        from experimentsplan_datapipeline_spark.media.jpeg import decode_jpeg

        t = pq.read_table(os.path.join(self.data_dir, "images.parquet"))
        arrays = datagen.image_arrays(
            self.seed, self.size["images"], self.size["side"])
        self.expect = {}
        for img_id, content, seed, caption in zip(
            *(t.column(c).to_pylist()
              for c in ("img_id", "content", "seed", "caption"))
        ):
            # PNG is lossless: the generated array IS the expected decode
            px = arrays[img_id] if img_id % 2 == 0 else decode_jpeg(content)
            side, k = self.size["side"], self.RESIZE
            idx = (np.arange(k) * side) // k
            small = px.astype(np.int64)[idx][:, idx]
            norm = (small.reshape(-1).astype(np.float64) / 255.0 - 0.5) / 0.5
            toks = caption.strip().split()[:77]
            ids = [_portable_hash(w) % 49408 for w in toks]
            self.expect[img_id] = {
                "pixels": px.reshape(-1).tolist(),
                "flipped": (_portable_hash(str(seed)) % 1_000_000) / 1e6 < 0.5,
                "score": float(np.mean(norm)),
                "phash": phash_replica(px),
                "token_ids": ids + [0] * (77 - len(ids)),
            }

    def stand_up(self, spark) -> None:
        from pyspark.sql import functions as F

        from experimentsplan_datapipeline_spark.media.images import (
            batch_inference_stub,
            decode_images,
            deterministic_flip,
            image_phash,
            normalize_pixels,
            resize_images,
            tokenize_captions,
        )

        path = os.path.join(self.data_dir, "images.parquet")
        k = self.RESIZE

        def chain():
            src = spark.read.parquet(path).select("img_id", "content", "seed")
            resized = resize_images(decode_images(src), out_h=k, out_w=k)
            return batch_inference_stub(deterministic_flip(
                normalize_pixels(resized, image_col="resized"),
                seed_col="seed", portable_seed=42))

        def phash():
            src = spark.read.parquet(path).select("img_id", "content")
            return image_phash(decode_images(src)).select("img_id", "phash")

        def tokens():
            src = spark.read.parquet(path).select("img_id", "caption")
            return tokenize_captions(src, "caption", portable_seed=42).select(
                "img_id", "token_ids")

        def collect_chain(df):
            # only PNG pixels are compared, so only those cross to Python
            return df.select(
                "img_id", F.col("image.decode_ok").alias("ok"),
                F.when(F.col("img_id") % 2 == 0, F.col("image.pixels"))
                .alias("pixels"), "flipped", "score",
            ).collect()

        def check_chain(rows):
            return self._compare(rows, [
                ("ok", lambda r, e: r is True),
                ("pixels", lambda r, e: (
                    r == e["pixels"] if r is not None else False)),
                ("flipped", lambda r, e: r == e["flipped"]),
                ("score", lambda r, e: abs(r - e["score"]) <= 1e-9),
            ], png_only={"pixels"})

        def check_phash(rows):
            return self._compare(rows, [
                ("phash", lambda r, e: r == e["phash"])])

        def check_tokens(rows):
            return self._compare(rows, [
                ("token_ids", lambda r, e: list(r) == e["token_ids"])])

        def collect(df):
            return df.collect()

        self.ops = [
            Op("dataloader_chain", chain, collect_chain, check_chain),
            Op("image_phash", phash, collect, check_phash),
            Op("tokenize_captions", tokens, collect, check_tokens),
        ]

    def _compare(self, rows, fields, png_only=frozenset()) -> str | None:
        seen = {}
        for row in rows:
            seen[row["img_id"]] = row
        if sorted(seen) != sorted(self.expect) or len(rows) != len(seen):
            return f"ids: got {len(rows)} rows for {len(self.expect)} images"
        for img_id, row in seen.items():
            for col, ok in fields:
                if col in png_only and img_id % 2:
                    continue
                if not ok(row[col], self.expect[img_id]):
                    return f"img {img_id}: {col} differs"
        return None


# ---------------------------------------------------------------- stream


class StreamWorkload:
    """``streaming_ingest_funnel`` with growing state, a compact table and
    in-stream compaction, drained by one ``availableNow`` query per pass
    with one staged part file per micro-batch."""

    kind = "stream"

    def __init__(self, name: str, size: dict):
        self.name, self.size = name, size
        self.epochs = size["epochs"]

    def generate(self, cache: str, seed: int) -> None:
        s = self.size
        self.data_dir = datagen.cached(
            cache, self.name, seed, s,
            lambda out: datagen.stream_inputs(
                out, seed, s["docs"], s["seed_docs"], s["epochs"]))
        self.staging = os.path.join(self.data_dir, "staging")
        self.parts = [
            set(pq.read_table(os.path.join(self.staging, f), columns=["doc_id"])
                .column("doc_id").to_pylist())
            for f in sorted(os.listdir(self.staging))
        ]

    def compute_oracle(self) -> None:
        pass

    def stand_up(self, spark, scratch: str) -> None:
        """Build the persisted seed indexes the stream screens against."""
        from experimentsplan_datapipeline_spark.operators import dedup as dd

        self.root = scratch
        corpus = spark.read.parquet(
            os.path.join(self.data_dir, "documents.parquet"))
        self.mh, self.fp, self.state = "bench_mh", "bench_fp", "bench_state"
        dd.minhash_index_write(
            corpus, self.mh, "text", "doc_id", num_hashes=32, bands=8,
            shingle_size=3, portable_seed=42, n_buckets=4, store_text=True)
        dd.fingerprint_index_write(corpus, self.fp, "text", n_buckets=4)
        self.corpus_text = dd.minhash_index_read_text(spark, self.mh)

    def dirs(self) -> dict[str, str]:
        return {k: os.path.join(self.root, k) for k in
                ("decisions", "accepted", "keys", "fps", "ckpt")}

    def reset(self, spark) -> None:
        """Drop all state a previous drain left (outside the timing)."""
        from experimentsplan_datapipeline_spark.operators.util import lit_frame
        from experimentsplan_datapipeline_spark.streaming.ingest import (
            ingest_state_drop,
        )

        for d in self.dirs().values():
            shutil.rmtree(d, ignore_errors=True)
        ingest_state_drop(spark, self.state)
        lit_frame(
            spark, [],
            "doc_id long, keep boolean, exact_dup boolean, near_dup boolean, "
            "accepted boolean",
        ).write.parquet(os.path.join(self.dirs()["decisions"], "epoch=-1"))

    def writer(self, spark):
        from experimentsplan_datapipeline_spark.streaming.ingest import (
            streaming_ingest_funnel,
        )

        d = self.dirs()
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.staging)
        )
        return streaming_ingest_funnel(
            stream, self.corpus_text, self.mh, self.fp, d["decisions"],
            "text", "doc_id", num_hashes=32, bands=8, shingle_size=3,
            threshold=0.5, portable_seed=42, grow_state=True,
            accepted_dir=d["accepted"], state_dir=d["keys"],
            fp_state_dir=d["fps"], compact_table=self.state,
            auto_compact_every=self.size["compact_every"],
            corpus_text_pushdown=5000,
        ).option("checkpointLocation", d["ckpt"])

    def check(self, spark, corrupt: bool = False) -> tuple[int, str | None]:
        """(micro-batches committed, problem or None) for a drain of every
        staged part."""
        from pyspark.sql import functions as F

        from experimentsplan_datapipeline_spark.streaming.ingest import (
            last_committed_epoch,
            read_gate_results,
        )

        d = self.dirs()
        committed = last_committed_epoch(spark, d["ckpt"]) + 1
        counts = {
            r["doc_id"]: r["n"]
            for r in read_gate_results(spark, d["decisions"])
            .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
        }
        if corrupt and counts:
            counts.pop(next(iter(counts)))
        staged = set().union(*self.parts)
        if committed != self.epochs:
            return committed, f"committed {committed} of {self.epochs} epochs"
        if set(counts) != staged or any(n != 1 for n in counts.values()):
            return committed, (
                f"{len(counts)} decided ids for {len(staged)} "
                f"staged; {sum(1 for n in counts.values() if n != 1)} "
                f"decided more than once")
        return committed, None

    def state_size(self) -> tuple[int, int]:
        """(files, bytes) of the grown dedup state on disk, including the
        compact tables under the warehouse."""
        files = size = 0
        roots = [self.dirs()[k] for k in ("accepted", "keys", "fps")]
        wh = os.path.join(os.path.dirname(self.root), "warehouse")
        if os.path.isdir(wh):
            roots += [os.path.join(wh, t) for t in os.listdir(wh)
                      if t.startswith(self.state)]
        for r in roots:
            for dirpath, _, names in os.walk(r):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, n))
        return files, size


def make(name: str, size_name: str):
    size = SIZES[size_name][name]
    if name == "vton_analytics":
        return RegistryWorkload(name, VTON_OPS, size)
    if name == "stream_ingest":
        return StreamWorkload(name, size)
    if name == "image_transform":
        return ImageWorkload(name, size)
    raise KeyError(name)


WORKLOADS = ["vton_analytics", "stream_ingest", "image_transform"]
