"""Output checks for the query workloads.

Each query's result (written by the harness as parquet, outside the timed
region) is compared with its DuckDB oracle SQL run over the same input
tables: columns sorted by name, rows sorted by value, cells compared with
`norm` and `cells_equal` from the repository's `tools/check.py`, and, as
there, a non-scalar output column fails the check. Queries without oracle
SQL get a rows-only check (at least one row).
"""
import hashlib
import os
import pickle
import sys
from concurrent.futures import ProcessPoolExecutor

import duckdb

import gen

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import cells_equal, norm  # noqa: E402


def oracle_rows(con, sql, cache):
    """(column types, rows sorted by all columns) of the oracle SQL; kept
    in `cache` (a file path) because it depends only on the inputs and
    the SQL."""
    if os.path.exists(cache):
        with open(cache, "rb") as fh:
            return pickle.load(fh)
    dtypes = {d[0]: d[1] for d in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()}
    order = ", ".join(f'"{c}"' for c in sorted(dtypes))
    rows = con.execute(f"SELECT {order} FROM ({sql}) ORDER BY {order}").fetchall()
    tmp = f"{cache}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump((dtypes, rows), fh)
    os.replace(tmp, cache)
    return dtypes, rows


def check_one(con, result_glob, sql, cache):
    """None if the result matches, else a one-line reason."""
    sdesc = con.execute(f"DESCRIBE SELECT * FROM '{result_glob}'").fetchall()
    scols = sorted(d[0] for d in sdesc)
    stypes = {d[0]: d[1] for d in sdesc}
    nonscalar = [f"{c}:{t}" for c, t in stypes.items()
                 if "[" in t or "STRUCT" in t or "MAP" in t]
    if nonscalar:
        return "non-scalar output columns: " + ", ".join(nonscalar)
    order = ", ".join(f'"{c}"' for c in scols)
    srows = con.execute(
        f"SELECT {order} FROM '{result_glob}' ORDER BY {order}").fetchall()
    if sql is None:
        return None if srows else "rows-only check: 0 rows"
    dtypes, drows = oracle_rows(con, sql, cache)
    if sorted(dtypes) != scols:
        return f"schema mismatch spark={scols} duck={sorted(dtypes)}"
    tbad = [c for c in scols if stypes[c] != dtypes[c]]
    if tbad:
        return "type mismatch " + "; ".join(
            f"{c}: spark={stypes[c]} duck={dtypes[c]}" for c in tbad)
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duck={len(drows)}"
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        for c, sv, dv in zip(scols, map(norm, sr), map(norm, dr)):
            if not cells_equal(sv, dv):
                return f"cell mismatch row={i} col={c} spark={sv!r} duck={dv!r}"
    return None


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET enable_progress_bar = false")
    for t in gen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _check_task(args):
    name, result_dir, data_dir, sql, cache = args
    con = _connect(data_dir)
    try:
        return name, check_one(con, os.path.join(result_dir, "*.parquet"), sql, cache)
    except Exception as e:  # an unreadable result or a failing oracle
        return name, f"{type(e).__name__}: {str(e)[:200]}"
    finally:
        con.close()


def check_all(check_dir, data_dir, oracle_sql, cache_dir):
    """{query: None | reason} for every query result under `check_dir`.
    Queries are checked in parallel, one single-threaded DuckDB each;
    oracle results are cached per input directory and SQL text."""
    os.makedirs(cache_dir, exist_ok=True)
    names = sorted(os.listdir(check_dir)) if os.path.isdir(check_dir) else []
    tasks = []
    for n in names:
        sql = oracle_sql.get(n)
        key = hashlib.sha256(f"{os.path.abspath(data_dir)}\n{sql}".encode()).hexdigest()
        tasks.append((n, os.path.join(check_dir, n), data_dir, sql,
                      os.path.join(cache_dir, f"{key}.pkl")))
    with ProcessPoolExecutor(max_workers=os.cpu_count()) as pool:
        return dict(pool.map(_check_task, tasks))
