"""DuckDB oracle check of the registry_construct results.

Each query's cold-pass result (parquet under <results>/<query>/) is
compared against the query's oracle SQL run by DuckDB over the same
generated tables, with the schema / row-count / value-hash comparison of
the repository's tools/check_oracle.py (its `canon` and `hash_df` are
imported from the checkout, so both checks stay one logic).
"""
import glob
import importlib.util
import json
import os
from pathlib import Path


def _check_oracle_module(root: Path):
    path = root / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(root: Path, tables_dir: str, results_dir: str):
    """Returns (checked, mismatches: list of (query, reason))."""
    import duckdb
    import pandas as pd
    co = _check_oracle_module(root)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute("SET enable_progress_bar = false")
    for t in co.TABLES:
        p = f"{tables_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{results_dir}/oracle_sql.json"))
    checked, bad = 0, []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files:
            bad.append((name, "no result written"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        checked += 1
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append((name, f"oracle error: {e}"))
            continue
        g, e = co.canon(got), co.canon(exp)
        if list(g.columns) != list(e.columns):
            bad.append((name, f"columns {list(g.columns)} vs {list(e.columns)}"))
        elif len(g) != len(e):
            bad.append((name, f"rows {len(g)} vs {len(e)}"))
        elif len(g) == 0:
            bad.append((name, "empty result"))
        elif co.hash_df(g) != co.hash_df(e):
            bad.append((name, "value hash differs"))
    con.close()
    return checked, bad
