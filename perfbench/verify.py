"""Output check for benchmark operations.

A key's output is reduced to an order-insensitive digest: row count, sorted
column names, each column's dtype kind, and the multiset of rows with
floats rounded to 10 significant digits and timestamps rendered as
``%Y-%m-%d %H:%M:%S``.
This is ``tests/oracle.compare_frames`` semantics with the float tolerance
replaced by rounding, so a run can check an output without re-running the
DuckDB oracle (the minhash oracle alone takes ~30 s at sf0.1).

Run as a script, it records: every benchmark key (or the keys named) runs
on the repo's test tables, is compared with its DuckDB oracle through
``tests/oracle.compare_frames``, and has the digest of its Spark output
stored in ``digests.json`` only if the oracle agrees.  From the repo root:

    python3 perfbench/verify.py [--sf 0.1] [keys...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
DIGESTS = HERE / "digests.json"


def _kind(s: pd.Series) -> str:
    return {"i": "i", "u": "i", "f": "f", "b": "b"}.get(s.dtype.kind, "o")


def _canonical(s: pd.Series) -> pd.Series:
    """One column in a form whose hash ignores dtype width and float noise
    below 10 significant digits."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return s.dt.strftime("%Y-%m-%d %H:%M:%S").fillna("<NA>")
    if pd.api.types.is_float_dtype(s):
        x = s.to_numpy(dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            scale = 10.0 ** (9 - np.floor(np.log10(np.abs(x))))
            r = np.where(np.isfinite(scale), np.round(x * scale) / scale, x)
        return pd.Series(np.where(np.isnan(r), np.nan, r + 0.0))
    if s.dtype.kind in "iub":
        return s.astype(np.int64)
    return s.astype(str).where(s.notna(), "<NA>")


def digest(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _canonical(pdf[c]).to_numpy() for c in cols})
    rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    h = hashlib.sha256()
    h.update(json.dumps([len(pdf), [(c, _kind(pdf[c])) for c in cols]]).encode())
    h.update(rows.tobytes())
    return h.hexdigest()


def load_digests() -> dict[str, dict[str, str]]:
    return json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}


def _record(sf: float, keys: list[str]) -> int:
    sys.path.insert(0, str(HERE.parent))
    from workloads import WORKLOADS, bench_env, sf_dir

    from experiments_datafusion_spark.queries import all_queries
    from experiments_datafusion_spark.session import get_spark
    from tests.oracle import compare_frames, duck_run

    root = HERE.parent / ".perfbench"
    bench_env(root / "record-tmp")
    data = str(sf_dir(sf))
    keys = keys or sorted({k for ks in WORKLOADS.values() for k in ks})
    spark = get_spark("perfbench-record")
    registry = all_queries()
    recorded = load_digests()
    failures = 0
    for key in keys:
        actual = registry[key].fn(spark, data).toPandas()
        try:
            compare_frames(actual, duck_run(registry[key].oracle, data), key)
        except AssertionError as exc:
            failures += 1
            print(f"MISMATCH {key}: {exc}", flush=True)
            continue
        recorded.setdefault(str(sf), {})[key] = digest(actual)
        print(f"ok {key} rows={len(actual)}", flush=True)
    spark.stop()
    DIGESTS.write_text(json.dumps(recorded, indent=1, sort_keys=True) + "\n")
    return 1 if failures else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    sys.exit(_record(args.sf, args.keys))
