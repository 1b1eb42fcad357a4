"""Checks dumped query outputs against their DuckDB oracle.

The compare is the repository checker's (tools/check.py) streaming path:
identical arrow column types, identical row counts, an identical
order-independent multiset digest of the rows (its `digest_batches`), and
no decimal digit strings that float64 would canonicalise differently.

The input tables are fixed, so the oracle's side (types, rows, digest) is
computed once per oracle SQL text and cached beside the tables; a run then
only digests its own outputs.
"""
import hashlib
import json
import os
import sys

from concurrent.futures import ProcessPoolExecutor

import pyarrow.dataset as ds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check  # noqa: E402  (tools/check.py)

WORKERS = 3


def expected(sql, data_dir):
    """Types, row count and digest of the oracle's result (cached)."""
    cache = os.path.join(data_dir, "expected")
    path = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:24]
                        + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    reader = con.execute(sql).fetch_record_batch(1 << 16)
    types = {f.name: str(f.type) for f in reader.schema}
    rows, digest, _ = check.digest_batches(iter(reader), sorted(types))
    exp = {"types": types, "rows": rows, "digest": f"{digest:032x}"}
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(path + ".tmp", path)
    return exp


def mismatch(out_dir, data_dir, sql):
    """Why the output in out_dir does not match the oracle, or None."""
    if sql is None:
        return "no oracle SQL"
    try:
        got = ds.dataset(out_dir)
    except Exception as e:  # noqa: BLE001 - a missing output is a failure
        return f"MISSING {e}"
    exp = expected(sql, data_dir)
    types = {f.name: str(f.type) for f in got.schema}
    if types != exp["types"]:
        return f"TYPES spark={types} oracle={exp['types']}"
    cols = sorted(types)
    rows, digest, hazards = check.digest_batches(
        got.to_batches(), cols,
        hazard_cols=[c for c in cols if types[c].startswith("decimal")])
    if rows != exp["rows"]:
        return f"ROWS spark={rows} oracle={exp['rows']}"
    if f"{digest:032x}" != exp["digest"]:
        return f"DIGEST differs over {rows} rows"
    if hazards:
        return f"HAZARD {hazards} decimal value(s)"
    return None


def failures(dump_dir, data_dir, oracle_sql, keys):
    """{key: reason} for every key whose output does not match; the keys
    are checked WORKERS at a time."""
    with ProcessPoolExecutor(min(WORKERS, len(keys))) as pool:
        reasons = pool.map(mismatch, [os.path.join(dump_dir, k) for k in keys],
                           [data_dir] * len(keys),
                           [oracle_sql.get(k) for k in keys])
        return {k: r for k, r in zip(keys, reasons) if r}
