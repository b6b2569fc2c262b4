"""Correctness checks run after the timed passes.

Query results are compared with DuckDB by the repository's own
`tools/check.py` rules (imported, not copied). Ingest read-backs are
checked against DuckDB over the generated input.
"""
import contextlib
import importlib.util
import io
import os

import duckdb

# HyperLogLog with lgK = 12 (SketchRollupJob's default) has a relative
# standard error of 1.04 / sqrt(2^12); four of them bound the estimate.
HLL_TOLERANCE = 4 * 1.04 / 2 ** 6


def check_queries(root, data_dir, check_dir):
    """Return {query: message} for every oracle query whose output differs."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(data_dir, check_dir)
    fails = {}
    for line in out.getvalue().splitlines():
        if line.startswith("FAIL "):
            name = line[5:].split(":")[0].split(".")[0]
            fails.setdefault(name, line)
    return fails


def check_ingest(data_dir, check_dir, event_days, n_docs):
    """Return {check: message} for every read-back that disagrees with the input."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet')")
    exact = {d: (n, s, u) for d, n, s, u in con.execute("""
        SELECT strftime(ts, '%Y%m%d'), count(*), sum(value), count(DISTINCT user_id)
        FROM events GROUP BY 1""").fetchall()}
    fails = {}
    daily = dict((d, (n, s)) for d, n, s in con.execute(f"""
        SELECT submission_date_s3, sum(n_events), sum(sum_value)
        FROM read_parquet('{check_dir}/events_daily/*.parquet') GROUP BY 1""").fetchall())
    for d in event_days:
        n, s, u = exact.get(d, (0, 0.0, 0))
        got = daily.get(d)
        if got is None or got[0] != n or abs(got[1] - s) > 1e-9 * max(1.0, abs(s)):
            fails[f"events_daily:{d}"] = f"events_daily {d}: got {got}, expected ({n}, {s})"
    sketch = {d: (a, n) for a, n, d in con.execute(f"""
        SELECT active_users, n_events, day
        FROM read_parquet('{check_dir}/active_users/*.parquet')""").fetchall()}
    for d in event_days:
        n, _, u = exact.get(d, (0, 0.0, 0))
        got = sketch.get(d)
        if got is None or got[1] != n or abs(got[0] - u) > HLL_TOLERANCE * u:
            fails[f"sketch_rollup:{d}"] = f"active_users {d}: got {got}, expected ({u}, {n})"
    (n_sizes,) = con.execute(f"""
        SELECT count(*) FROM read_parquet('{check_dir}/containment_sizes/*.parquet')
        WHERE n_sh > 0""").fetchone()
    if n_sizes != n_docs:
        fails["history_append"] = f"containment sizes: {n_sizes} documents, expected {n_docs}"
    return fails
