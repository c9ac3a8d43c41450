"""Seeded input generators for the benchmark.

Everything a run feeds the program is made here: from the run's seed,
the parquet tables the queries read, the synthetic Helium chain the
follower ingests and the read schedule; the batch schedule that reveals
the chain is fixed (see `batch_schedule`). The same seed gives
byte-identical inputs; `selftest` checks that and that a different seed
changes every seeded one of them.

The tables follow the shape of the repository's test tables (same names,
columns, types and value domains: a TPC-H-like star schema plus `events`,
`documents` and `embeddings`), so the queries' own oracle SQL applies
unchanged.
"""
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64


def _day_ts(rng, n, start, end):
    """n naive timestamps at midnight, uniform over [start, end] days."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_data(seed, sf):
    """Return {table name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -1000, 10000),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -1000, 10000)})
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04")})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_base + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(n_docs)]
    # 5% near-duplicates: an earlier document's text plus a marker word
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(seed, sf, out_dir):
    """Write the seeded tables as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in table_data(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


# ----------------------------------------------------------------- chain

TXN_TYPES = ["payment_v1", "payment_v2", "poc_request_v1", "poc_receipts_v1",
             "add_gateway_v1", "assert_location_v1", "assert_location_v2",
             "transfer_hotspot_v1", "state_channel_close_v1",
             "token_burn_v1", "price_oracle_v1"]
REWARD_TYPES = ["poc_challengers", "poc_challengees", "poc_witnesses",
                "data_credits", "consensus"]
# assumption: the length of a Helium reward epoch is not recorded in the
# repository; 30 blocks is about 30 min at the reference's 1 block/min
EPOCH_BLOCKS = 30
# assumption: rewards per `rewards_v2`, fixed so that runs of different
# seeds do the same work
REWARDS = 200
GENESIS_TIME = 1_600_000_000


def _hex(rng, n):
    return f"{rng.getrandbits(4 * n):0{n}x}"


def chain(seed, n_blocks):
    """A synthetic chain with epoch-style skew.

    Blocks are 60 s apart. Every block carries 2-3 small transactions;
    the last block of each `EPOCH_BLOCKS`-block epoch also carries one
    `rewards_v2` with 200 rewards, 5% with a null gateway
    (`securities`) and 5% with a null account (`overages`). Only the
    60 s spacing and the reward types that lack a gateway or an account
    come from the reference; the counts and shares are assumptions (see
    the README). Returns (blocks, txns, per_block) where blocks and txns
    are JSON strings in the node's wire shape and per_block[h - 1] holds
    block h's expected (reward rows, reward amount sum, transaction rows).
    """
    rng = random.Random(f"chain-{seed}")
    accounts = [_hex(rng, 40) for _ in range(400)]
    gateways = [_hex(rng, 40) for _ in range(250)]
    blocks, txns, per_block = [], [], []
    for h in range(1, n_blocks + 1):
        stubs = []
        rewards = amount = 0
        for i in range(rng.randint(2, 3)):
            th = f"{h:08x}{i:02x}{_hex(rng, 22)}"
            ty = rng.choice(TXN_TYPES)
            fields = {"payer": rng.choice(accounts), "amount": rng.randint(1, 10**9),
                      "fee": rng.randint(0, 10**5), "nonce": rng.randint(1, 10**6)}
            stubs.append({"hash": th, "type": ty})
            txns.append(json.dumps({"hash": th, "type": ty,
                                    "fields": json.dumps(fields)}))
        if h % EPOCH_BLOCKS == 0:
            th = f"{h:08x}ff{_hex(rng, 22)}"
            rs = []
            for _ in range(REWARDS):
                kind = rng.random()
                amt = rng.randint(1, 10**10)
                if kind < 0.05:
                    rs.append({"account": rng.choice(accounts), "gateway": None,
                               "amount": amt, "type": "securities"})
                elif kind < 0.10:
                    rs.append({"account": None, "gateway": rng.choice(gateways),
                               "amount": amt, "type": "overages"})
                else:
                    rs.append({"account": rng.choice(accounts),
                               "gateway": rng.choice(gateways), "amount": amt,
                               "type": rng.choice(REWARD_TYPES)})
                amount += amt
            rewards = len(rs)
            fields = {"start_epoch": h - EPOCH_BLOCKS + 1, "end_epoch": h,
                      "rewards": rs}
            stubs.append({"hash": th, "type": "rewards_v2"})
            txns.append(json.dumps({"hash": th, "type": "rewards_v2",
                                    "fields": json.dumps(fields)}))
        blocks.append(json.dumps({"height": h, "time": GENESIS_TIME + 60 * h,
                                  "hash": _hex(rng, 44), "transactions": stubs}))
        per_block.append((rewards, amount, len(stubs)))
    return blocks, txns, per_block


# A cycle is one catch-up burst followed by five tip batches. At the tip
# every batch holds one block (the reference polls every 10 s for a chain
# of about 1 block/min). A burst is the backlog after about half an hour
# without the follower (the node's 15-30 min warm-up at 1 block/min),
# drained in one batch as the reference drains all pending blocks per
# tick. How often a burst happens is an assumption; the bounded metrics
# are the burst's and the tip batches are reported apart, so it sets only
# how many samples of each a run takes. The order is fixed, burst first:
# in a fresh JVM the follower's per-batch cost falls over its first
# batches, so tip batches placed before the burst would run colder.
CYCLE = 6
BURST = EPOCH_BLOCKS - 1
# per cycle: rewards per gateway and transactions per type over the last
# epoch; two reads per cycle is an assumption
READS = [["gateway_window", EPOCH_BLOCKS], ["type_counts", EPOCH_BLOCKS]]


def batch_schedule(n_cycles):
    """Block counts to reveal per batch: `n_cycles` cycles of one burst of
    `BURST` blocks and `CYCLE - 1` single-block tip batches. The run's
    set-up commits block 1, so the burst of the first cycle covers blocks
    2 to `EPOCH_BLOCKS` and holds the epoch's reward block."""
    return ([BURST] + [1] * (CYCLE - 1)) * n_cycles


def read_schedule(seed, n_cycles):
    """Downstream reads to run after each batch commits: every cycle runs
    each read in `READS` once ([kind, window in blocks]), each after a
    seeded batch of the cycle."""
    rng = random.Random(f"reads-{seed}")
    out = []
    for _ in range(n_cycles):
        cycle = [[] for _ in range(CYCLE)]
        for r in READS:
            cycle[rng.randrange(CYCLE)].append(r)
        out.extend(cycle)
    return out


# -------------------------------------------------------------- self-test

def _digest(obj):
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str)
                          .encode()).hexdigest()


def _tables_digest(seed):
    h = hashlib.sha256()
    for name, tbl in table_data(seed, 0.0001).items():
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        h.update(name.encode() + sink.getvalue().to_pybytes())
    return h.hexdigest()


def selftest(seed):
    """Check each seeded generator: same seed -> identical output, another
    seed -> different output. Returns {generator: passed}."""
    other = seed + 1
    gens = {
        "tables": _tables_digest,
        "chain": lambda s: _digest(chain(s, 60)),
        "reads": lambda s: _digest(read_schedule(s, 20)),
    }
    return {name: f(seed) == f(seed) and f(seed) != f(other)
            for name, f in gens.items()}
