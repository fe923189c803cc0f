"""Result checks in DuckDB.

Two relations are compared as multisets of canonical rows: columns are
matched by name, numbers are cast to DOUBLE and printed with six
significant digits (the same rounding on both sides, so float summation
order does not matter), timestamps become epoch microseconds and
everything else its text form. Both sides are canonicalised by the
same DuckDB functions, so the comparison is exact.
"""
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]
_FLOATING = ("FLOAT", "DOUBLE", "DECIMAL", "REAL")
_INTEGER = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
            "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def connect(data_dir):
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def parquet_rel(path):
    """SQL reading a Spark output directory (hive partitions included)."""
    return (f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
            f"hive_partitioning = true)")


def _canon(col, typ, numeric):
    c = f'"{col}"'
    if numeric:
        v = (f"CASE WHEN isnan(CAST({c} AS DOUBLE)) THEN 'nan' "
             f"ELSE printf('%.6g', CAST({c} AS DOUBLE)) END")
    elif "TIMESTAMP" in typ:
        v = f"CAST(epoch_us({c}) AS VARCHAR)"
    elif typ == "BLOB":
        v = f"hex({c})"
    else:
        v = f"CAST({c} AS VARCHAR)"
    return f"coalesce({v}, '<null>')"


def _columns(con, name):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {name}").fetchall()}


def compare(con, left_sql, right_sql):
    """None when the two relations hold the same canonical rows, else a
    one-line description of the first difference found."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE cmp_l AS {left_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE cmp_r AS {right_sql}")
    lc, rc = _columns(con, "cmp_l"), _columns(con, "cmp_r")
    if sorted(lc) != sorted(rc):
        return f"columns differ: {sorted(lc)} vs {sorted(rc)}"
    ln = con.execute("SELECT count(*) FROM cmp_l").fetchone()[0]
    rn = con.execute("SELECT count(*) FROM cmp_r").fetchone()[0]
    if ln != rn:
        return f"row counts differ: {ln} vs {rn}"
    sel = {}
    for col in sorted(lc):
        kinds = (lc[col], rc[col])
        numeric = (any(k.startswith(_FLOATING) for k in kinds)
                   and all(k.startswith(_FLOATING + _INTEGER) for k in kinds))
        sel["l"] = sel.get("l", []) + [_canon(col, lc[col], numeric)]
        sel["r"] = sel.get("r", []) + [_canon(col, rc[col], numeric)]
    diff = con.execute(
        f"SELECT count(*) FROM (SELECT {', '.join(sel['l'])} FROM cmp_l "
        f"EXCEPT ALL SELECT {', '.join(sel['r'])} FROM cmp_r)").fetchone()[0]
    if diff:
        return f"{diff} of {ln} rows differ"
    return None


def check_saved(data_dir, saved_dir, oracle_sql):
    """Check each query result saved under `saved_dir/<query>` against
    its oracle SQL; returns {query: problem} for the queries that fail."""
    con = connect(data_dir)
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        if not sql:
            bad[name] = "no oracle SQL"
            continue
        try:
            problem = compare(con, parquet_rel(os.path.join(saved_dir, name)), sql)
        except duckdb.Error as e:
            problem = f"{type(e).__name__}: {e}".splitlines()[0]
        if problem:
            bad[name] = problem
    return bad


def _read(path):
    if not os.path.exists(path):
        return None
    with open(path, "rb") as f:
        return f.read()


def _files(root):
    return sorted(os.path.relpath(p, root) for p in glob.glob(f"{root}/**/*", recursive=True)
                  if os.path.isfile(p))


def check_pipeline(data_dir, iters, oracle_sql):
    """Check pipeline iterations: the first one's tables against the
    oracle SQL, every later one against the first (tables as canonical
    rows, text/ROOT/SVG outputs byte for byte). `oracle_sql` maps an
    output table directory to its oracle query. Returns {iteration dir:
    problem} for the iterations that fail; when the first fails, every
    iteration does, since the others are only compared with it."""
    if not iters:
        return {}
    con = connect(data_dir)
    bad = {}
    first = iters[0]
    for table, sql in sorted(oracle_sql.items()):
        try:
            problem = compare(con, parquet_rel(os.path.join(first, table)), sql)
        except duckdb.Error as e:
            problem = f"{type(e).__name__}: {e}".splitlines()[0]
        if problem:
            bad[first] = f"{table}: {problem}"
            break
    plain = [f for f in _files(first)
             if not f.split(os.sep)[0] in oracle_sql and not f.endswith(".crc")]
    if not plain and first not in bad:
        bad[first] = "no report files written"
    if first in bad:
        return {it: f"first iteration: {bad[first]}" if it != first else bad[first]
                for it in iters}
    for it in iters[1:]:
        problem = None
        for table in sorted(oracle_sql):
            try:
                problem = compare(con, parquet_rel(os.path.join(it, table)),
                                  parquet_rel(os.path.join(first, table)))
            except duckdb.Error as e:
                problem = f"{type(e).__name__}: {e}".splitlines()[0]
            if problem:
                problem = f"{table}: {problem}"
                break
        if problem is None:
            for f in plain:
                if _read(os.path.join(it, f)) != _read(os.path.join(first, f)):
                    problem = f"{f} differs from the first iteration's"
                    break
        if problem:
            bad[it] = problem
    return bad
