"""Order-insensitive result signatures, and the command that regenerates
the stored ones from the DuckDB oracle.

A signature is the row count, the sorted column names and a SHA-256 over
the canonical rows. Cells are canonicalised the way ``tests/oracle.py``
canonicalises them for the repo's oracle gate (floats compared exactly,
DATE and TIMESTAMP both as ISO timestamps), so a match here is the same
verdict that gate gives.

Regenerate after changing a mix or the vendored tables::

    python3 perfbench/signatures.py
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
SIGNATURES_PATH = os.path.join(HERE, "signatures.json")


def canon_cell(v):
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        return ("nan",) if math.isnan(v) else ("f", float(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(canon_cell(x) for x in v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return ("t", v.isoformat())
    if isinstance(v, datetime.date):
        # Spark DATE arrives as datetime.date, DuckDB DATE as a midnight
        # timestamp: both become the midnight timestamp string.
        return ("t", f"{v.isoformat()}T00:00:00")
    return ("s", str(v))


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(canon_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort(key=repr)
    return rows


def signature(df: pd.DataFrame) -> dict:
    digest = hashlib.sha256()
    for row in canon_rows(df):
        digest.update(repr(row).encode())
        digest.update(b"\n")
    return {
        "rows": len(df),
        "columns": sorted(str(c) for c in df.columns),
        "sha256": digest.hexdigest(),
    }


def load_signatures() -> dict:
    with open(SIGNATURES_PATH) as f:
        return json.load(f)


def _oracle_frame(sql: str, sf_dir: str, tables) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def regenerate(root: str) -> dict:
    """Signature of every (workload, op) from its ``QuerySpec.oracle``
    run in DuckDB over the workload's vendored tables."""
    sys.path.insert(0, root)
    import dicebox_sensorybatchprocessor_spark as engine
    from dicebox_sensorybatchprocessor_spark.io import TABLES

    import mixes

    specs = engine.all_queries()
    out: dict[str, dict] = {}
    for name, mix in mixes.WORKLOADS.items():
        sf_dir = mixes.data_dir(mix.sf)
        out[name] = {}
        for op in mix.ops:
            oracle = specs[op].oracle
            if oracle is None:
                raise SystemExit(f"{name}/{op} has no oracle SQL to sign")
            out[name][op] = signature(_oracle_frame(oracle, sf_dir, TABLES))
    return out


if __name__ == "__main__":
    sigs = regenerate(os.path.dirname(HERE))
    with open(SIGNATURES_PATH, "w") as f:
        json.dump(sigs, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {sum(len(v) for v in sigs.values())} signatures to {SIGNATURES_PATH}")
