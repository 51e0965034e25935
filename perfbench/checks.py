"""Correctness gates: compare what the engine wrote with the independent
expected results from inputs.py. Pure pandas/pyarrow, so the unit tests
exercise them without Spark. Each gate returns a list of mismatch
descriptions; an empty list means the output is correct."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.dataset as ds

VERDICT_COLS = ["keep", "drop_reason", "lang", "bucket", "scrubbed_caption"]

# write_result partitions by lang; the benchmark (like bench.py) maps a NULL
# language to this partition value before writing
NULL_LANG = "__null__"


def read_table(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """A parquet directory (hive partition columns included) as pandas,
    partition values as plain strings."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    pdf = t.to_pandas()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.CategoricalDtype):
            pdf[c] = pdf[c].astype(object)
    return pdf


def _norm(v):
    if v is None:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if v == NULL_LANG:
        return None
    return v


def compare_verdicts(got: pd.DataFrame, want: pd.DataFrame, cols=VERDICT_COLS) -> list[str]:
    """Row-by-row equality on `cols`, keyed by image_id; the id sets must
    match exactly."""
    errs = []
    if got["image_id"].duplicated().any():
        errs.append(f"{int(got['image_id'].duplicated().sum())} duplicate image_id rows in output")
    g_ids, w_ids = set(got["image_id"]), set(want["image_id"])
    if g_ids != w_ids:
        errs.append(f"id sets differ: {len(g_ids - w_ids)} unexpected, {len(w_ids - g_ids)} missing")
        return errs
    g = got.drop_duplicates("image_id").set_index("image_id").loc[sorted(w_ids)]
    w = want.set_index("image_id").loc[sorted(w_ids)]
    for c in cols:
        gv = [_norm(v) for v in g[c]]
        wv = [_norm(v) for v in w[c]]
        bad = [i for i, (a, b) in enumerate(zip(gv, wv)) if a != b]
        if bad:
            i = bad[0]
            errs.append(f"{c}: {len(bad)} rows differ, e.g. {w.index[i]}: got {gv[i]!r}, want {wv[i]!r}")
    return errs


def check_subset(got_ids, allowed_ids, what: str) -> list[str]:
    extra = set(got_ids) - set(allowed_ids)
    return [f"{len(extra)} {what}, e.g. {sorted(extra)[0]}"] if extra else []


def check_sidecar(sidecar: pd.DataFrame, pid: str, n_expected: int) -> list[str]:
    rows = sidecar[sidecar["partition_id"] == pid]
    if len(rows) != 1:
        return [f"sidecar has {len(rows)} rows for {pid}, want 1"]
    n_in = int(rows["n_in"].iloc[0])
    if n_in != n_expected:
        return [f"sidecar n_in for {pid} is {n_in}, want {n_expected}"]
    return []


def parquet_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
