"""Query-sweep correctness: each query's Spark result against its DuckDB
oracle SQL over the same tables, compared by row count and an
order-independent digest (the column set is sorted by name and the oracle's
columns are cast to the Spark result's dtypes first, as
scripts/crosscheck.py does).
"""
import glob
import math

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return repr(tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return repr(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def digest(df):
    """Order-independent digest: the sum of per-row hashes modulo 2**64."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_norm).astype(str)
    if df.empty:
        return 0
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return int(h.sum(dtype=np.uint64))


def compare(con, name, sql, out_dir):
    files = glob.glob(f"{out_dir}/*.parquet")
    check = {"name": f"sweep {name}", "ok": False, "detail": ""}
    if not files:
        check["detail"] = "no Spark output"
        return check
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:  # an oracle that cannot run is a failed check
        check["detail"] = f"oracle error: {str(e)[:160]}"
        return check
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if sorted(got.columns) != sorted(want.columns):
        check["detail"] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        return check
    want = want[list(got.columns)]
    try:
        want = want.astype(got.dtypes.to_dict())
    except (TypeError, ValueError):
        pass
    dg, dw = digest(got), digest(want)
    check["ok"] = len(got) == len(want) and dg == dw
    check["detail"] = f"rows {len(got)}/{len(want)} digest {dg:016x}/{dw:016x}"
    return check
