"""Seeded input generator for the benchmark.

Everything the engine receives is made here from the seed: the same
seed gives byte-identical files (see test_perfbench.py). Layout of the
output directory:

  setup<k>/orders.parquet, setup<k>/customer.parquet
      The match fact and the player dim, in the test tables' TPC-H-shaped
      schema (TESTDATA.md) (`Domain.bronzeFromOrders` / `Domain.dimFromCustomer` turn
      them into bronze matches and the summoners dim). One identical
      copy per set-up, so each set-up builds its stages from scratch.
  setup<k>/increments.parquet  (ingest-ticks only)
      o_orderkey, stream, tick: which increment lands each match.
  players.txt  (dashboard-read only)
      The read sequence, one puuid a line: a Zipf(s) draw over a seeded
      permutation of all players, so a few players are read often.
  ingest_plan.txt  (ingest-ticks only)
      "<streams> <ticks>", then per stream the three players whose gold
      rows every tick of that stream reads back.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_PLAYERS = 15_000
ZIPF_S = 1.1
N_READS = 20_000
# A pass replays one stream; eight ticks a stream keep a whole timed
# window (5-6 ticks) inside one pass, so every run times the same
# tick positions.
STREAMS = 4
TICKS = 8
INGEST_MATCHES = 48_000
DUP_SHARE = 0.05

STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY0 = np.datetime64("1995-01-01", "D")
N_DAYS = int((np.datetime64("2001-08-01", "D") - DAY0).astype(np.int64)) + 1


def _write(table, path):
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def base_tables(rng):
    keys = np.arange(N_ORDERS, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, N_PLAYERS, N_ORDERS, dtype=np.int64),
        "o_orderstatus": STATUS[rng.integers(0, len(STATUS), N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2),
        "o_orderdate": (DAY0 + rng.integers(0, N_DAYS, N_ORDERS)).astype("datetime64[us]"),
        "o_orderpriority": PRIORITY[rng.integers(0, len(PRIORITY), N_ORDERS)],
    })
    cust = np.arange(N_PLAYERS, dtype=np.int64)
    customer = pa.table({
        "c_custkey": cust,
        "c_name": np.char.add("Customer#", cust.astype(str)),
        "c_nationkey": rng.integers(0, 25, N_PLAYERS, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_PLAYERS), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, N_PLAYERS)],
    })
    return orders, customer


def read_sequence(rng):
    """Zipf(ZIPF_S)-distributed player reads over a seeded permutation."""
    perm = rng.permutation(N_PLAYERS)
    weights = 1.0 / np.arange(1, N_PLAYERS + 1) ** ZIPF_S
    ranks = rng.choice(N_PLAYERS, size=N_READS, p=weights / weights.sum())
    return ["P%d" % perm[r] for r in ranks]


def increments(rng, custkeys):
    """Deals INGEST_MATCHES of the matches into STREAMS x TICKS increments
    (1500 new matches each). From the second
    tick of a stream on, DUP_SHARE of each increment's size is re-sent
    from the stream's earlier increments: the duplicate arrivals that
    Incremental's dedup exists for."""
    order = rng.permutation(N_ORDERS)[:INGEST_MATCHES].astype(np.int64)
    cols = {"o_orderkey": [], "stream": [], "tick": []}
    players = []
    for s, chunk in enumerate(np.array_split(order, STREAMS)):
        ticks = np.array_split(chunk, TICKS)
        for t, inc in enumerate(ticks):
            if t > 0:
                earlier = np.concatenate(ticks[:t])
                dups = rng.choice(earlier, size=int(len(inc) * DUP_SHARE), replace=False)
                inc = np.concatenate([inc, dups])
            cols["o_orderkey"].append(inc)
            cols["stream"].append(np.full(len(inc), s, dtype=np.int32))
            cols["tick"].append(np.full(len(inc), t, dtype=np.int32))
        stream_players = np.unique(custkeys[chunk])
        players.append(["P%d" % p for p in rng.choice(stream_players, 3, replace=False)])
    table = pa.table({k: np.concatenate(v) for k, v in cols.items()})
    return table, players


def generate(seed, workload, out, setups):
    """Writes the inputs of `workload` for `seed` under `out`."""
    rng = np.random.default_rng(seed)
    orders, customer = base_tables(rng)
    extra = {}
    if workload == "dashboard-read":
        with open(os.path.join(out, "players.txt"), "w") as f:
            f.write("\n".join(read_sequence(rng)) + "\n")
    elif workload == "ingest-ticks":
        inc, players = increments(rng, orders.column("o_custkey").to_numpy())
        extra["increments.parquet"] = inc
        with open(os.path.join(out, "ingest_plan.txt"), "w") as f:
            f.write("%d %d\n" % (STREAMS, TICKS))
            f.write("".join(" ".join(p) + "\n" for p in players))
    else:
        raise ValueError("unknown workload %r" % workload)
    for k in range(setups):
        d = os.path.join(out, "setup%d" % k)
        os.makedirs(d)
        _write(orders, os.path.join(d, "orders.parquet"))
        _write(customer, os.path.join(d, "customer.parquet"))
        for name, table in extra.items():
            _write(table, os.path.join(d, name))
