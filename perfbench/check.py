"""Output checks of one benchmark run.

Registry-query outputs are compared with DuckDB running the query's
`SparkEntry.oracleSql` entry over the same fixture directory: same columns,
same row count, and the same rows in the same order, with floats rounded to
6 places. The wc_text outputs are compared with the word counts the corpus
generator recorded.
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    return [tuple(round(v, 6) if isinstance(v, float) else v for v in row)
            for row in df.itertuples(index=False)]


def _parquet(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {path}")
    return pd.concat([pd.read_parquet(f) for f in files])


def oracle_mismatch(con, sql, out_dir):
    """None when the Spark output equals DuckDB's result, else why not."""
    spark = _parquet(out_dir)
    duck = con.execute(sql).df()
    if sorted(duck.columns) != sorted(spark.columns):
        return f"columns differ: duckdb={sorted(duck.columns)} spark={sorted(spark.columns)}"
    if len(duck) != len(spark):
        return f"row count differs: duckdb={len(duck)} spark={len(spark)}"
    d, s = _rows(duck), _rows(spark)
    if d != s:
        first = next(i for i, (x, y) in enumerate(zip(d, s)) if x != y)
        order = " (same rows, other order)" if sorted(d, key=repr) == sorted(s, key=repr) else ""
        return f"row {first} differs{order}: duckdb={d[first]!r} spark={s[first]!r}"
    return None


def corpus_mismatch(out, check_dir, meta):
    """Checks a wc_text output against the generator's recorded counts."""
    path = os.path.join(check_dir, out)
    if out == "wc_out":
        lines = []
        for f in sorted(glob.glob(os.path.join(path, "part-*"))):
            with open(f) as fh:
                lines.extend(fh.read().splitlines())
        want = [f"{w} {c}" for w, c in sorted(meta["counts"].items())]
        if lines != want:
            bad = next((i for i, (x, y) in enumerate(zip(lines, want)) if x != y),
                       min(len(lines), len(want)))
            got = lines[bad] if bad < len(lines) else None
            exp = want[bad] if bad < len(want) else None
            return f"line {bad} differs: spark={got!r} expected={exp!r}"
        return None
    if out == "wordcount_distinct":
        n = int(_parquet(path)["n_words"].iloc[0])
        return None if n == meta["distinct_words"] else \
            f"n_words={n}, expected {meta['distinct_words']}"
    return f"no check defined for {out}"


def run_checks(checks, check_dir, fixture, corpus_meta):
    """Returns {output name: failure message} for every failed check."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(fixture, t + '.parquet')}')")
    failures = {}
    for c in checks:
        out = c["out"]
        try:
            if c["error"]:
                why = f"output not produced: {c['error']}"
            elif c["oracle"] is not None:
                why = ("no oracle SQL in SparkEntry.oracleSql" if c["sql"] is None
                       else oracle_mismatch(con, c["sql"], os.path.join(check_dir, out)))
            else:
                why = corpus_mismatch(out, check_dir, corpus_meta)
        except Exception as e:  # a check that cannot run is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            failures[out] = why
    con.close()
    return failures

