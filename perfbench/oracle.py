"""Batch-mix output check: Spark's checked-pass outputs against oracles.

Each query's parquet output is canonicalised (columns sorted by name, cells
rendered as text with floats at 9 significant digits, rows sorted) and
digested. The expected digest comes from the query's `SparkEntry.oracleSql`
entry run by DuckDB over the same generated tables; for the queries whose
reference is a Python function rather than SQL, from that function in the
repository's `tools/compare.py` when it provides one. A query with neither
is checked for a non-empty result only. Oracle digests are cached beside
the tables, keyed by the oracle's text, so each is derived once.
"""

import hashlib
import importlib.util
import math
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(rows):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.9g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def digest(cols, rows):
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return {"cols": cols, "rows": len(rows), "sha": h.hexdigest()}


def frame_digest(df):
    cols = sorted(df.columns)
    return digest(cols, canon(df[cols].itertuples(index=False, name=None)))


def records_digest(recs, fallback_cols):
    cols = sorted(recs[0].keys()) if recs else fallback_cols
    return digest(cols, canon(tuple(r[c] for c in cols) for r in recs))


def _file_text(path):
    return path.read_text() if path.exists() else ""


def _py_oracles(tools_dir, sql_map):
    path = Path(tools_dir) / "compare.py"
    if not path.exists():
        return {}
    spec = importlib.util.spec_from_file_location("graft_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.ORACLE_SQL = sql_map
    return getattr(mod, "PY_ORACLES", {})


def check(tables, out_dir, sql_map, queries, cache, tools_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    py = None
    status, seconds = {}, {}
    for q in queries:
        t0 = time.time()
        d = Path(out_dir) / q
        if not any(d.glob("*.parquet")):
            status[q] = "no_output"
            continue
        got = frame_digest(pq.read_table(str(d)).to_pandas())
        # keyed by the oracle's own text, so a changed oracle is re-derived
        ref = sql_map.get(q) or _file_text(Path(tools_dir) / "compare.py")
        key = f"{q}:{hashlib.sha256(ref.encode()).hexdigest()[:16]}"
        if key not in cache:
            if q in sql_map:
                cache[key] = frame_digest(con.execute(sql_map[q]).fetch_df())
            else:
                py = _py_oracles(tools_dir, sql_map) if py is None else py
                if q in py:
                    cache[key] = records_digest(py[q](con), got["cols"])
        want = cache.get(key)
        if want is None:
            status[q] = "pass_rows_only" if got["rows"] > 0 else "empty"
        else:
            status[q] = "pass" if got == want else "fail"
        seconds[q] = round(time.time() - t0, 3)
    return status, seconds


def selftest():
    ok = True

    def expect(name, cond):
        nonlocal ok
        print(f"{'PASS' if cond else 'FAIL'} {name}")
        ok = ok and cond

    a = canon([(2, 0.1 + 0.2, "x"), (1, float("nan"), None)])
    expect("canon renders floats at 9 digits and sorts rows",
           a == [("1", "NaN", "None"), ("2", "0.3", "x")])
    expect("digest is order independent",
           digest(["a"], canon([(1,), (2,)])) == digest(["a"], canon([(2,), (1,)])))
    return ok
