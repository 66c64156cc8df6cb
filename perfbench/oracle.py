"""Output check: each query's warm-up output against `SparkEntry.oracleSql`
run by DuckDB over the same corpus, with tools/compare_oracle.py's
normalisation (columns by name, object columns as text, rows sorted by every
column, values compared exactly). Oracle results are cached per corpus, that
is per (seed, sf), and per SQL text, so a changed query is checked against
the DuckDB result of its new SQL."""
import glob
import hashlib
import os

import duckdb
import pandas as pd

from corpus import TABLES


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _pickle(corpus, oracle_sql, name):
    digest = hashlib.sha1(oracle_sql[name].encode()).hexdigest()[:12]
    return os.path.join(corpus, "oracle", f"{name}_{digest}.pkl")


def ensure(corpus, oracle_sql, names):
    """Compute and cache the oracle result of every name that has one."""
    os.makedirs(os.path.join(corpus, "oracle"), exist_ok=True)
    todo = [n for n in names if n in oracle_sql
            and not os.path.exists(_pickle(corpus, oracle_sql, n))]
    if not todo:
        return
    con = duckdb.connect(config={"threads": 4, "memory_limit": "3GB"})
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        for n in todo:
            df = con.sql(oracle_sql[n]).df()
            pkl = _pickle(corpus, oracle_sql, n)
            df.to_pickle(pkl + ".tmp")
            os.rename(pkl + ".tmp", pkl)
    finally:
        con.close()


def compare(corpus, oracle_sql, output_dir, name):
    """None when Spark's output equals the cached oracle, else the reason.
    Queries without an oracle get a rows-only check."""
    files = glob.glob(f"{output_dir}/{name}/*.parquet")
    if not files:
        return "no output"
    spark_df = pd.concat([pd.read_parquet(f) for f in files])
    if name not in oracle_sql:
        return None if len(spark_df) > 0 else "no rows"
    pkl = _pickle(corpus, oracle_sql, name)
    spark_df = norm(spark_df)
    duck_df = norm(pd.read_pickle(pkl))
    if list(spark_df.columns) != list(duck_df.columns):
        return f"columns {list(spark_df.columns)} vs {list(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} vs {len(duck_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            return f"{c}[row{i}]: spark={a[i]!r} duck={b[i]!r}"
    return None
