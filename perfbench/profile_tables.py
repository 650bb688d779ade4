"""Profile a table directory (``<dir>/<name>.parquet``): per column its
parquet type, value range, cardinality and skew (most frequent value
over the mean frequency), plus the document text and lineitem shapes
``datagen.py`` copies. Run it on a reference table set and on the
generator's output to compare the two:

    python3 perfbench/profile_tables.py TABLE_DIR > profile.json
"""

from __future__ import annotations

import collections
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _num(s: pd.Series) -> dict:
    s = s.astype(float)
    return {"min": round(s.min(), 4), "max": round(s.max(), 4),
            "mean": round(s.mean(), 4), "p50": round(s.median(), 4)}


def _text(s: pd.Series) -> dict:
    toks = s.str.split()
    vocab = collections.Counter(w for ws in toks for w in ws)
    dup = s.str.endswith(" dup")
    return {"words": _num(toks.map(len)), "vocab": len(vocab),
            "words_not_dup": _num(toks[~dup].map(len)),
            "near_dup_frac": round(dup.mean(), 4),
            "exact_dup_texts": int(s.duplicated().sum()),
            "chars": _num(s.str.len())}


def _column(pf: pq.ParquetFile, df: pd.DataFrame, c: str) -> dict:
    s = df[c]
    out = {"type": str(pf.schema_arrow.field(c).type)}
    if c == "embedding":
        a = np.stack(s.values)
        out.update(dim=a.shape[1],
                   norm=_num(pd.Series(np.linalg.norm(a, axis=1))))
    elif c == "text":
        out.update(_text(s))
    elif s.dtype == object:
        vc = s.value_counts(normalize=True)
        out.update(nunique=int(s.nunique()), min_share=round(vc.min(), 4),
                   max_share=round(vc.max(), 4))
    elif np.issubdtype(s.dtype, np.datetime64):
        out.update(min=str(s.min()), max=str(s.max()),
                   sorted=bool(s.is_monotonic_increasing))
    else:
        vc = s.value_counts()
        out.update(nunique=int(s.nunique()), **_num(s),
                   skew=round(vc.max() / vc.mean(), 3))
    return out


def profile(table_dir: str) -> dict:
    out = {}
    for f in sorted(os.listdir(table_dir)):
        pf = pq.ParquetFile(os.path.join(table_dir, f))
        df = pf.read().to_pandas()
        out[f.split(".")[0]] = {
            "rows": len(df), "row_groups": pf.metadata.num_row_groups,
            **{c: _column(pf, df, c) for c in df.columns}}
    if "lineitem" in out:
        li = pq.read_table(os.path.join(table_dir, "lineitem.parquet"),
                           columns=["l_orderkey"]).to_pandas()
        out["lineitem"]["lines_per_order"] = _num(
            li.groupby("l_orderkey").size())
    return out


if __name__ == "__main__":
    print(json.dumps(profile(sys.argv[1]), indent=1))
