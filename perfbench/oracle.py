"""DuckDB oracle check for the benchmark's query results.

The canonical form is the one `tools/check.py` compares: columns sorted by
name, floating-point values rounded to 12 significant digits, rows as a
multiset. Here the comparison runs inside DuckDB (`EXCEPT ALL` both ways)
instead of as Python row lists, and each oracle result is computed once per
corpus fingerprint and kept as parquet.
"""
import glob
import hashlib
import os

import duckdb

from corpus import TABLES

FLOAT_TYPES = {"FLOAT", "DOUBLE", "REAL"}


def _round12(c):
    return (f"CASE WHEN {c} IS NULL OR {c} = 0 OR isnan({c}) OR isinf({c}) "
            f"THEN {c} ELSE round({c}, 11 - CAST(floor(log10(abs({c}))) AS INTEGER)) END")


def _columns(con, relation):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()}


def compare(con, got, want):
    """None when the two relations hold the same canonical rows, else why not."""
    gc, wc = _columns(con, got), _columns(con, want)
    if sorted(gc) != sorted(wc):
        return f"columns {sorted(gc)} vs {sorted(wc)}"
    exprs = []
    for name in sorted(gc):
        q = '"' + name.replace('"', '""') + '"'
        if gc[name] in FLOAT_TYPES or wc[name] in FLOAT_TYPES:
            exprs.append(_round12(f"CAST({q} AS DOUBLE)") + f" AS {q}")
        else:
            exprs.append(q)
    sel = ", ".join(exprs)
    only_got, only_want = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM {got} EXCEPT ALL "
        f"SELECT {sel} FROM {want})), (SELECT count(*) FROM (SELECT {sel} "
        f"FROM {want} EXCEPT ALL SELECT {sel} FROM {got}))").fetchone()
    if only_got or only_want:
        return f"{only_got} rows only in the result, {only_want} only in the oracle"
    return None


def check(corpus_dir, fingerprint, results_dir, oracle_sql, cache_dir):
    """Map each query name to None (matches its oracle) or the reason it
    does not."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'spill')}'")
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    cache = os.path.join(cache_dir, fingerprint)
    os.makedirs(cache, exist_ok=True)
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            verdicts[name] = "no result"
            continue
        if not sql:
            verdicts[name] = "no oracle"
            continue
        want = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:20] + ".parquet")
        try:
            if not os.path.exists(want):
                tmp = want + f".{os.getpid()}.tmp"
                con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
                os.replace(tmp, want)
            verdicts[name] = compare(con, f"read_parquet({files!r})", f"read_parquet('{want}')")
        except duckdb.Error as e:
            verdicts[name] = f"oracle error: {str(e).splitlines()[0]}"
    con.close()
    return verdicts
