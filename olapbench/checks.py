"""Output checks made apart from the program under test.

Each check returns a list of problems; an empty list means the outputs are
correct.
"""
import glob
import hashlib
import os

BUCKETS = ("valid", "fraud", "errors", "invalid_log")


def check_ingest(result, expected):
    """Every drain committed one batch per file and the bucket counts the
    generator labels predict; the last drain's stores read back the
    expected rows and cent sums. Equal counts after every drain also show
    that no batch was delivered twice or lost."""
    problems = []
    statuses = result["check"]["statuses"]
    if not statuses:
        problems.append("no drain completed")
    for i, st in enumerate(statuses):
        if st["new_batches"] != expected["files"]:
            problems.append("drain %d: %d batches for %d files"
                            % (i, st["new_batches"], expected["files"]))
        for b in BUCKETS:
            want = expected["buckets"][b][0]
            if st[b] != want:
                problems.append("drain %d: %s has %d rows, expected %d"
                                % (i, b, st[b], want))
    for b in BUCKETS:
        got = result["check"]["read_back"].get(b)
        want = expected["buckets"][b]
        if got is None or list(got) != list(want):
            problems.append("read-back %s: rows, cents = %s, expected %s"
                            % (b, got, want))
    return problems


def _canon(df):
    """Columns sorted by name and rows sorted on the hashed representation
    (floats at 10 significant digits), as the repository's oracle gate
    compares them."""
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64).apply(
                lambda v: float("%.10g" % v) if pd.notna(v) else v)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _hash(df):
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.10g").encode()).hexdigest()


def compare(got, want):
    """Row count, column names and a hash of all values."""
    g, w = _canon(got.copy()), _canon(want.copy())
    if list(g.columns) != list(w.columns):
        return "columns %s, expected %s" % (list(g.columns), list(w.columns))
    if len(g) != len(w):
        return "%d rows, expected %d" % (len(g), len(w))
    if _hash(g) != _hash(w):
        return "values differ"
    return None


def read_result(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def check_tx(results_dir, events_dir, entries, oracles, tx1_expected):
    """Each entry's result against DuckDB running its oracle SQL over the
    same `events` table, and tx1's counts against the generator."""
    import duckdb
    problems = []
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
                % os.path.join(events_dir, "events.parquet"))
    results = {}
    for name in entries:
        got = read_result(os.path.join(results_dir, name))
        results[name] = got
        if name not in oracles:
            problems.append("%s: no oracle to check it against" % name)
            continue
        bad = compare(got, con.execute(oracles[name]).df())
        if bad:
            problems.append("%s: %s" % (name, bad))
    tx1 = results.get("tx1_bucket_counts")
    if tx1 is None:
        problems.append("tx1_bucket_counts: no result")
    else:
        got = {str(r.bucket): int(r.n) for r in tx1.itertuples()}
        if got != tx1_expected:
            problems.append("tx1_bucket_counts: %s, generator expects %s"
                            % (got, tx1_expected))
    return problems
