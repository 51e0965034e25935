"""Deterministic inputs and their expected results, per (workload, seed, size).

Inputs are the rows `synth.write_pairs` produces (both go through
`synth.gen_row`), written here with pyarrow instead of Spark so that
building inputs never warms the engine: the JVM, the Python workers and
the JIT start cold in the measured process whether or not the inputs were
cached. Expected results come from independent single-node computations
(the pandas pipeline oracle, Python twins of the dedup and gate rules).
They are stored beside the inputs, or, where they depend on which rows the
engine committed, computed by the worker between timed operations; they
are never timed.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import re
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the layout or the generation rules below change, so a cache
# written by an older benchmark is never read.
LAYOUT_VERSION = 1

FILES_PER_TABLE = 8

PAIRS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("image_id", pa.string(), nullable=False),
        pa.field("bytes", pa.binary()),
        pa.field("w", pa.int32()),
        pa.field("h", pa.int32()),
        pa.field("fmt", pa.string()),
        pa.field("caption", pa.string()),
        pa.field("phash", pa.int64()),
    ]
)

# Sizes: large enough that per-row work is visible next to Spark's fixed
# per-job cost, small enough that a run (cold JVM start, warm-up, timed
# loop) fits the per-run time budget on a 4-core host.
SIZES = {
    "filter_captions": {"pairs": 4000, "warm": 400},
    # corpus rows committed before the first batch; rows per batch; batches
    # generated (the timed loop stops when its time is up); share of each
    # batch whose caption replays a corpus caption; share that copies an
    # earlier caption of the same batch minus one line (a near duplicate)
    "curated_ingest": {"corpus": 1000, "batch": 5000, "batches": 2, "replay": 0.15, "near": 0.1, "warm": 300},
}


def key_dir(cache_root: str, workload: str, seed: int) -> str:
    size = "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload].items()))
    return os.path.join(cache_root, "inputs", f"v{LAYOUT_VERSION}-{workload}-s{seed}-{size}")


def prepare(cache_root: str, workload: str, seed: int) -> str:
    """Build (or reuse) the inputs of one (workload, seed, size) key and
    return their directory. Written to a temp sibling and renamed, so an
    interrupted build is never mistaken for a finished one."""
    final = key_dir(cache_root, workload, seed)
    if os.path.exists(os.path.join(final, "meta.json")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    workers = min(4, len(os.sched_getaffinity(0)))
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("spawn")) as pool:
        meta = BUILDERS[workload](tmp, Generator(pool, seed, workers), SIZES[workload])
    meta.update(workload=workload, seed=seed, sizes=SIZES[workload])
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


# ------------------------------------------------------------ generation
def _gen_chunk(start: int, end: int, seed: int) -> pd.DataFrame:
    from ccnet_spark_spark.synth import gen_pandas

    return gen_pandas(start, end, seed)


class Generator:
    """synth.gen_pandas rows for id ranges, split over a process pool (row
    generation is pure Python and dominates building the inputs)."""

    def __init__(self, pool: ProcessPoolExecutor, seed: int, workers: int):
        self.pool, self.seed, self.workers = pool, seed, workers

    def __call__(self, start: int, end: int) -> pd.DataFrame:
        bounds = np.linspace(start, end, self.workers + 1).astype(int)
        parts = self.pool.map(_gen_chunk, bounds[:-1].tolist(), bounds[1:].tolist(), [self.seed] * self.workers)
        return pd.concat(list(parts), ignore_index=True)


def write_table(pdf: pd.DataFrame, path: str, files: int = FILES_PER_TABLE) -> int:
    """Write `pdf` as `files` parquet files under `path` (the scan splits a
    Spark reader would get from write_pairs); returns bytes on disk."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([PAIRS_ARROW_SCHEMA.field(c) for c in pdf.columns])
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        chunk = pdf.iloc[part]
        table = pa.Table.from_pandas(chunk, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"), compression="zstd")
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ------------------------------------------------------ independent twins
# Java's \s (Spark split) is ASCII whitespace only; SQL trim strips spaces only.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def spark_split_ws(text: str) -> list[str]:
    """Python twin of Spark's split(trim(text), '\\s+')."""
    return _JAVA_WS.split(text.strip(" "))


def image_gate_pass(row) -> bool:
    """Python twin of image_quality.keep_expr with the default ImageGateConfig."""
    w, h, fmt, data, cap = row["w"], row["h"], row["fmt"], row["bytes"], row["caption"]
    if w is None or h is None or not (w >= 32 and h >= 32):
        return False
    if not max(w, h) * 1 <= min(w, h) * 2:
        return False
    if fmt not in ("ppm", "qjpg"):
        return False
    if data is None or len(data) < 1024:
        return False
    if cap is None or not 5 <= len(cap) <= 5000:
        return False
    words = 0 if len(cap.strip(" ")) == 0 else len(spark_split_ws(cap))
    if words < 3:
        return False
    digits = sum(ch in "0123456789" for ch in cap)
    return digits / max(len(cap), 1) <= 0.3


def caption_hash(caption: str) -> str:
    """The incremental-dedup key, from the Python twins of the engine's
    normalizer and line hash."""
    from ccnet_spark_spark.functions.hashing import line_hash_py
    from ccnet_spark_spark.functions.normalize import normalize_for_dedup_py

    return line_hash_py(normalize_for_dedup_py(caption))


def fresh_ids(committed_captions, batch: pd.DataFrame) -> set[str]:
    """Ids incremental_dedup may let through: rows whose caption hash is new
    to everything committed, keeping the minimum id per hash in the batch."""
    seen = {caption_hash(c) for c in committed_captions}
    keep: dict[str, str] = {}
    for img, cap in zip(batch["image_id"], batch["caption"]):
        h = caption_hash(cap)
        if h not in seen and (h not in keep or img < keep[h]):
            keep[h] = img
    return set(keep.values())


def oracle_verdicts(pairs: pd.DataFrame) -> pd.DataFrame:
    """tests/oracle_pandas.run_oracle, reduced to the columns the gate
    compares, keyed by image_id."""
    from ccnet_spark_spark.operators.bucket import load_cutoffs_dict
    from tests.oracle_pandas import run_oracle

    out = run_oracle(pairs, cutoffs=load_cutoffs_dict())
    return out[["image_id", "keep", "drop_reason", "lang", "bucket", "scrubbed_caption"]].copy()


# ------------------------------------------------------ per-workload builds
def _build_filter(d: str, gen: Generator, size: dict) -> dict:
    pairs = gen(0, size["pairs"])
    in_bytes = write_table(pairs, os.path.join(d, "pairs"))
    # warm-up rows come from ids past the measured ones: same distribution,
    # disjoint data
    write_table(gen(10_000_000, 10_000_000 + size["warm"]), os.path.join(d, "warm"))
    oracle_verdicts(pairs).to_parquet(os.path.join(d, "oracle.parquet"))
    return {"rows": len(pairs), "input_bytes": in_bytes}


def _batch(rows: pd.DataFrame, corpus_captions: list[str], size: dict, rng) -> pd.DataFrame:
    caps = list(rows["caption"])
    for i in range(len(caps)):
        r = rng.random()
        if r < size["replay"]:
            caps[i] = corpus_captions[int(rng.integers(0, len(corpus_captions)))]
        elif r < size["replay"] + size["near"] and i > 0:
            lines = caps[int(rng.integers(0, i))].split("\n")
            if len(lines) > 2:
                del lines[int(rng.integers(0, len(lines)))]
            caps[i] = "\n".join(lines)
    rows = rows.copy()
    rows["caption"] = caps
    return rows


def _build_ingest(d: str, gen: Generator, size: dict) -> dict:
    c, b = size["corpus"], size["batch"]
    rng = np.random.default_rng([gen.seed, 7331])
    corpus = gen(0, c)
    write_table(corpus, os.path.join(d, "corpus"))
    batch_bytes = []
    for k in range(size["batches"]):
        rows = _batch(gen(c + k * b, c + (k + 1) * b), list(corpus["caption"]), size, rng)
        batch_bytes.append(write_table(rows, os.path.join(d, f"batch_{k:03d}"), files=4))
    # warm-up: its own small corpus and batch, committed to its own table
    base = 20_000_000
    wc = gen(base, base + size["warm"])
    write_table(wc, os.path.join(d, "warm_corpus"), files=2)
    lo = base + size["warm"]
    rows = _batch(gen(lo, lo + size["warm"]), list(wc["caption"]), size, rng)
    write_table(rows, os.path.join(d, "warm_batch"), files=4)
    return {"rows_per_batch": b, "batch_bytes": batch_bytes, "batches": size["batches"]}


BUILDERS = {
    "filter_captions": _build_filter,
    "curated_ingest": _build_ingest,
}


if __name__ == "__main__":
    # python3 -m perfbench.inputs <cache root> <workload> <seed>: build (or
    # reuse) one key's inputs and print their directory
    from perfbench import inputs

    print(inputs.prepare(sys.argv[1], sys.argv[2], int(sys.argv[3])))
