"""Output checks, run outside every timed region.

* `queries`   - each Spark result against its `SparkEntry.oracleSql`
                query run in DuckDB on the same generated tables, with
                the comparison rules of `tools/check.py`: columns by
                name, rows sorted by every column, integers exact,
                floats to 1e-9 relative, and a HUGEINT oracle column
                is a mismatch (Spark has no int128). Oracle results are
                cached per input set, since the inputs are a pure
                function of the seed.
* `medallion` - every lake table's row count against the generator's
                known counts, every OBT's count against its fact's, and
                every `date_year` partition column not all null.
"""
import hashlib
import math
import os
import pickle
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.dataset as ds

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
INT128_TYPES = {"HUGEINT", "UHUGEINT"}


def _oracle(con, sql, cache_dir):
    """(types, frame) of an oracle query, memoized on disk by SQL text."""
    path = Path(cache_dir) / (hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")
    if path.exists():
        return pickle.loads(path.read_bytes())
    rel = con.sql(sql)
    types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    got = (types, con.execute(sql).fetchdf())
    path.write_bytes(pickle.dumps(got))
    return got


def _same_cell(a, b, exact_int, is_float_col):
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    try:
        if exact_int:
            return pd.isna(a) == pd.isna(b) and (pd.isna(a) or int(a) == int(b))
        if is_float_col or isinstance(a, float) or isinstance(b, float):
            x, y = float(a), float(b)
            if math.isnan(x) and math.isnan(y):
                return True
            return x == y or abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
        return bool(a == b)
    except (TypeError, ValueError):
        return repr(a) == repr(b)


def compare(con, sql, result_dir, cache_dir):
    """None when the Spark result matches the oracle, else a reason."""
    wtypes, want = _oracle(con, sql, cache_dir)
    drifted = [c for c, t in wtypes.items() if t in INT128_TYPES]
    if drifted:
        return f"oracle columns {drifted} are HUGEINT"
    spark_sql = f"SELECT * FROM '{result_dir}/*.parquet'"
    rel = con.sql(spark_sql)
    gtypes = dict(zip(rel.columns, (str(t) for t in rel.types)))
    got = con.execute(spark_sql).fetchdf()
    cols = sorted(want.columns)
    if cols != sorted(got.columns):
        return f"columns differ: {cols} vs {sorted(got.columns)}"
    if len(want) != len(got):
        return f"row count {len(want)} (oracle) vs {len(got)} (spark)"
    exact = {c for c in cols if wtypes[c] in INT_TYPES and gtypes.get(c) in INT_TYPES}
    w = want[cols].sort_values(cols, ignore_index=True)
    g = got[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        floaty = wtypes[c] in ("DOUBLE", "FLOAT") or wtypes[c].startswith("DECIMAL")
        for i, (a, b) in enumerate(zip(w[c], g[c])):
            if not _same_cell(a, b, c in exact, floaty):
                return f"col {c} row {i}: oracle={a!r} spark={b!r}"
    return None


def queries(tables_dir, results_dir, names, oracle_sql, cache_dir):
    """Per query name: None if correct, else the reason it is not."""
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{Path(tables_dir) / (t + '.parquet')}'")
    out = {}
    for name in names:
        res = Path(results_dir) / name
        if name not in oracle_sql:
            out[name] = "no oracle SQL"
        elif not res.is_dir():
            out[name] = "no result"
        else:
            try:
                out[name] = compare(con, oracle_sql[name], res, cache_dir)
            except Exception as e:  # an oracle or read error is a failed check
                out[name] = f"{type(e).__name__}: {e}"
    con.close()
    return out


def result_rows(results_dir, names):
    total = 0
    for n in names:
        d = Path(results_dir) / n
        if d.is_dir():
            total += ds.dataset(str(d), format="parquet").count_rows()
    return total


def tree_bytes(path, suffix=".parquet"):
    files = [p for p in Path(path).rglob(f"*{suffix}") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def lake_tables(sizes, checkin_times):
    """Lake path -> expected rows, for the 13 outputs of the medallion DAG."""
    silver = dict(sizes, checkin=sizes["checkin"] * checkin_times)
    out = {f"bronze/{e}": n for e, n in sizes.items()}
    out.update({f"silver/{e}": n for e, n in silver.items()})
    out.update({f"silver/{e}_obt": silver[e] for e in ("review", "checkin", "tip")})
    return out


def medallion(lake, sizes, checkin_times):
    """(per lake table: None if correct, else the reason; rows found)."""
    out, rows = {}, 0
    for table, want in lake_tables(sizes, checkin_times).items():
        path = Path(lake) / table
        if not (path / "_SUCCESS").exists():
            out[table] = "not written"
            continue
        dset = ds.dataset(str(path), format="parquet", partitioning="hive",
                          exclude_invalid_files=True)
        got = dset.count_rows()
        rows += got
        problem = None if got == want else f"{got} rows, expected {want}"
        if problem is None and "date_year" in dset.schema.names:
            years = dset.to_table(columns=["date_year"]).column("date_year")
            if years.null_count == len(years):
                problem = "date_year is all null"
        out[table] = problem
    return out, rows
