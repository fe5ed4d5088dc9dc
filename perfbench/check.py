"""Untimed output checks against the engine's own DuckDB oracles.

dashboard-read: each read's per-champion rows must equal that puuid's
rows of q52's oracle, and its recent-match ids must equal all of the
puuid's matches (every generated player has far fewer than the
300-match trim).
ingest-ticks: the gold rows every tick reads back for its three players
must equal q25's oracle over the matches landed so far in that stream,
and each pass's final gold must equal q25's oracle over every match the
pass landed (q25's rounding: kda_sum via Num.fround to 2 digits).

Each check returns the ids of the ops whose outputs were wrong; those
ops count as failed, never as excluded.
"""
import collections
import os

import duckdb


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(float(a) - float(b)) <= 1e-9
    return a == b


def _rows_equal(xs, ys):
    return len(xs) == len(ys) and all(
        len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y)) for x, y in zip(xs, ys))


def _connect(setup_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("orders", "customer"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(setup_dir, t + ".parquet")))
    return con


def dashboard(doc, setup_dir):
    con = _connect(setup_dir)
    expected = collections.defaultdict(list)
    for puuid, champion, games, wins, avg_kda, winrate in con.execute(
            doc["oracle"]["q52"]).fetchall():
        expected[puuid].append([champion, games, wins, avg_kda, winrate])
    matches = collections.defaultdict(list)
    for puuid, match_id in con.execute(
            "SELECT 'P' || o_custkey, CAST(o_orderkey AS VARCHAR) FROM orders").fetchall():
        matches[puuid].append(match_id)
    bad = []
    for r in doc["results"]["reads"]:
        stats = sorted(r["stats"], key=lambda x: x[0])
        if not _rows_equal(stats, expected.get(r["puuid"], [])) or \
                sorted(r["recent"]) != sorted(matches.get(r["puuid"], [])):
            bad.append(r["op"])
    return bad


def _gold(con, q25, keys):
    con.execute("CREATE OR REPLACE TEMP TABLE landed AS SELECT unnest(?) AS k", [sorted(keys)])
    con.execute("CREATE OR REPLACE VIEW orders AS SELECT o.* FROM base_orders o "
                "JOIN landed ON o.o_orderkey = landed.k")
    return [list(r) for r in con.execute(q25).fetchall()]


def ingest(doc, setup_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW base_orders AS SELECT * FROM read_parquet('%s')"
                % os.path.join(setup_dir, "orders.parquet"))
    landed = collections.defaultdict(list)
    for k, s, t in con.execute(
            "SELECT o_orderkey, stream, tick FROM read_parquet('%s')"
            % os.path.join(setup_dir, "increments.parquet")).fetchall():
        landed[(s, t)].append(k)
    q25 = doc["oracle"]["q25"]
    res = doc["results"]
    ops_of_pass = collections.defaultdict(list)
    for r in res["run_ids"]:
        if r["phase"] == "timed":
            ops_of_pass[r["pass"]].append(r["op"])
    cache = {}

    def expected(stream, tick):
        if (stream, tick) not in cache:
            keys = set()
            for t in range(tick + 1):
                keys.update(landed[(stream, t)])
            cache[(stream, tick)] = _gold(con, q25, keys)
        return cache[(stream, tick)]

    bad = set()
    for g in res["gold_reads"]:
        ops_of_pass[g["pass"]].append(g["op"])
        players = set(g["players"])
        want = [r for r in expected(g["stream"], g["tick"]) if r[0] in players]
        if not _rows_equal(sorted(g["rows"], key=lambda r: (r[0], r[1])), want):
            bad.add(g["op"])
    for f in res["finals"]:
        if not _rows_equal(sorted(f["rows"], key=lambda r: (r[0], r[1])),
                           expected(f["stream"], f["ticks"] - 1)):
            bad.update(ops_of_pass[f["pass"]])
    return sorted(bad)
