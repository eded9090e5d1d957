"""Reading and normalizing the per-query outputs of `graft.Verify` (one
parquet directory per query), shared by check_oracle.py and
compare_outputs.py."""
import glob
import os
import sys

import pandas as pd


def read_output(path):
    """All parquet parts of one query's output directory as one frame."""
    parts = glob.glob(f"{path}/*.parquet")
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True) if parts else pd.DataFrame()


def norm(df):
    """Driver semantics: columns sorted by name, rows as a sorted multiset of
    stringified values (nulls as None). Returns (columns, rows)."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notnull(df), None)
    rows = sorted([tuple(str(v) for v in r) for r in df.itertuples(index=False)])
    return df.columns.tolist(), rows


def exit_now(code):
    """Exit with `code` without interpreter teardown. pyarrow's threads can
    abort the teardown ("terminate called without an active exception",
    exit 134) after the summary has printed, which turned 2 of 22 clean
    compare_outputs.py runs into failures while a JVM was busy."""
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
