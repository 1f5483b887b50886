"""DuckDB oracle check of query_suite outputs over the same derived inputs,
with the comparison rules of the repository's tools/check_correctness.py
(imported from the checkout, so the gate and the benchmark cannot drift).
"""
import importlib.util
import json
import os

from .inputs import TABLES


def _gate(root):
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(root, data_dir, outputs_dir, oracle_json):
    """Returns [(entry, error or None)] for every entry with an oracle."""
    import duckdb
    gate = _gate(root)
    with open(oracle_json) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    results = []
    for name, sql in sorted(oracles.items()):
        res = gate.load_result(outputs_dir, name)
        if res is None:
            results.append((name, "no output"))
            continue
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            results.append((name, f"oracle error: {e}"))
            continue
        results.append((name, gate.compare(name, res, exp)))
    return results
