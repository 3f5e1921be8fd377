"""Compare the harness's check outputs with DuckDB running each query's
oracle SQL over the same generated tables.

The compare is the canonical one of `tools/check_oracle.py`, whose `canon`
this module uses: both sides go through pandas, columns sorted by name, rows
sorted by every column, then cell-by-cell `str` equality.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import canon  # noqa: E402


def compare(data_dir, outputs, tables):
    """`outputs`: the harness's check entries (query, path, ok, oracle).
    Returns the queries checked, the failures with their reason, and the
    queries that have no oracle."""
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    checked, failed, unchecked = [], {}, []
    for o in outputs:
        name = o["query"]
        if not o["ok"]:
            checked.append(name)
            failed[name] = "no answer to check (the cold-pass call threw)"
            continue
        if o["oracle"] is None:
            unchecked.append(name)
            continue
        checked.append(name)
        try:
            sdf = con.sql(f"SELECT * FROM read_parquet('{os.path.join(o['path'], '*.parquet')}')").df()
            ddf = con.sql(o["oracle"]).df()
            scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
            if scols != dcols:
                failed[name] = f"columns {scols} vs {dcols}"
            elif len(sdf) != len(ddf):
                failed[name] = f"rows {len(sdf)} vs {len(ddf)}"
            else:
                a, b = canon(sdf), canon(ddf)
                if not a.equals(b):
                    i = int((a != b).any(axis=1).idxmax())
                    failed[name] = (f"first diff at sorted row {i}: spark={a.iloc[i].to_dict()} "
                                    f"duck={b.iloc[i].to_dict()}")
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            failed[name] = f"{type(e).__name__}: {e}"
    return {"checked": checked, "failed": failed, "unchecked": unchecked}
