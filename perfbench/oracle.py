"""Correctness gate: the repository's independent DuckDB port of the
reference SQL (tools/replay_duckdb.py) replays the same feed, and every
table the engine wrote and every read result it returned must match it
row for row (as multisets).

The port is imported unchanged; only its FIX (the feed directory) is
pointed at the benchmark's feed.
"""
import contextlib
import glob
import importlib.util
import sys

import duckdb


def load_port(root, feed_dir):
    spec = importlib.util.spec_from_file_location(
        "replay_duckdb", f"{root}/tools/replay_duckdb.py")
    port = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(port)
    port.FIX = feed_dir
    return port


def replay(port, scd, days, snapshots):
    """The port's own per-day loop; `snapshots` maps day -> dims to keep
    as they stood at the end of that day (for the as-of reads)."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    with contextlib.redirect_stdout(sys.stderr):
        port.ddl(con)
        for day in range(1, days + 1):
            port.load_day(con, day)
            port.normalize(con)
            port.add_report_data(con, scd)
            for dim in sorted(snapshots.get(day, ())):
                con.execute(f"CREATE TABLE snap_{day}_{dim} AS SELECT * FROM {dim}")
    return con


def _cols(con, table):
    return [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]


def _diff(con, expected_sql, cols, parquet_dir):
    """(rows only expected, rows only in the engine's output)."""
    files = glob.glob(f"{parquet_dir}/*.parquet")
    got = (f"SELECT {', '.join(cols)} FROM read_parquet({files!r})" if files
           else f"SELECT * FROM ({expected_sql}) WHERE false")
    only_exp = con.execute(
        f"SELECT count(*) FROM ({expected_sql} EXCEPT ALL {got})").fetchone()[0]
    only_got = con.execute(
        f"SELECT count(*) FROM ({got} EXCEPT ALL {expected_sql})").fetchone()[0]
    return only_exp, only_got


def check_lake(con, dump_dir, tables):
    """One failure line per table that differs from the port."""
    bad = []
    for t in tables:
        cols = _cols(con, t)
        a, b = _diff(con, f"SELECT {', '.join(cols)} FROM {t}", cols, f"{dump_dir}/{t}")
        if a or b:
            bad.append(f"{t}: {a} rows only in port, {b} only in engine")
    return bad


def check_read(con, key, result_dir):
    """Failure line, or None, for one read result (key = family/op/args)."""
    op, *args = key.split("/")[1:]
    if op == "report_by_day":
        files = glob.glob(f"{result_dir}/*.parquet")
        got = set()
        if files:
            rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
            names = [d[0] for d in rel.description]
            for row in rel.fetchall():
                for name, v in zip(names[1:], row[1:]):
                    if v is not None:
                        got.add((row[0], name, v))
        exp = set(con.execute("""SELECT CAST(fraud_dt AS DATE), fraud_type, count(*)
            FROM report GROUP BY ALL""").fetchall())
        return None if got == exp else f"{key}: {len(exp ^ got)} cells differ"
    if op == "client_history":
        table, where = "dim_clients_hist", f"client_id = '{args[0]}'"
    elif op == "card_day_txns":
        table = "fact_transactions"
        where = f"card_num = '{args[0]}' AND CAST(trans_date AS DATE) = DATE '{args[1]}'"
    elif op == "dim_as_of":
        table, where = f"snap_{args[1]}_{args[0]}", "true"
    else:
        raise ValueError(key)
    cols = _cols(con, table)
    a, b = _diff(con, f"SELECT {', '.join(cols)} FROM {table} WHERE {where}",
                 cols, result_dir)
    return None if not (a or b) else f"{key}: {a} rows only in port, {b} only in engine"


def staging_rows(con):
    """Rows of the port's mart staging for the last day it replayed."""
    return con.execute("SELECT count(*) FROM stg_denormalized_data").fetchone()[0]
