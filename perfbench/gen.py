"""Seeded input generators for the three benchmark workloads.

Every choice that shapes an input is a constant below; the same seed
gives byte-identical inputs. The engine only ever sees the files written
here, never the seed.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ingest: the /live payload stream of the reference's fetch step
BASES = ["USD", "EUR", "GBP", "JPY"]
N_TARGETS = 170             # quotes per payload, "EGP" among them
PAIR = ("USD", "EGP")       # the pair the email summary reports
BATCHES = 6                 # batches per replay of the stream
BATCH_STEP_S = 6 * 3600     # DAG run interval: the 24 h window reaches back 4 runs
CRASH_EVERY = 2             # batches between planted uncommitted swaps
# counts of the (batch, base) slots, placed by the seed; exact counts keep
# the work of a replay the same from seed to seed
FAILED_SLOTS = 3            # of 24: the main payload has "success": false
LATE_SLOTS = 2              # of the 20 from batch 1 on: an extra late payload
DUP_SLOTS = 3               # of 24: a second, newer payload for the same base
NULL_FRACTION = 0.02        # chance that a quote of a successful payload is null
DUP_QUOTES = 0.30           # share of targets a duplicate payload repeats
T0 = 1704067200             # 2024-01-01 00:00:00 UTC

# dashboard: the read set's tables at the row counts, key ranges and
# microsecond timestamps of the sf0.01 test data (sf0.1 is 10x larger)
N_ORDERS = 15000
N_CUSTOMERS = 1500
N_LINEITEM = 60000          # order keys drawn uniformly from the orders
N_PARTS = 2000
N_SUPPLIERS = 100
N_EVENTS = 10000
N_USERS = 150
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
DASHBOARD_QUERIES = [
    "sort_limit_5000", "filter_conj_eq", "topk_latest_per_pair",
    "earliest_in_window", "scalar_pct_change", "window_lag_pct_change",
    "moving_avg", "latest_per_key_maxby", "asof_join",
    "range_join_window_agg"]
ORDER_LENGTH = 100          # permutations of the read set, concatenated

# corpus: the document count of the sf0.1 test data, of which the chains
# and copies below
N_DOCS = 5000               # the rest are independent, 10-100 tokens
EXACT_DUPS = 25             # documents that copy an independent one
N_CHAINS = 50               # near-duplicate chains
CHAIN_LENGTH = 4            # documents per chain: 3 component rounds
CHAIN_TOKENS = 40           # tokens per chain document
CHAIN_SHIFT = 20            # tokens dropped and appended per chain step
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts_us(micros):
    return pa.array(np.asarray(micros, dtype="int64"), pa.timestamp("us"))


# ---------------------------------------------------------------- ingest

def ingest(rng, out):
    """Landing files `landing/bNNNN/<BASE>.json` (one /live payload per
    line) and `truth.json`: per batch, the rows the warehouse must hold
    after it, computed here under the MERGE rule (strict S.ts > T.ts,
    ties keep the stored row; within a batch the newest row, then the
    highest rate, wins)."""
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    codes = {PAIR[1]}
    while len(codes) < N_TARGETS:
        codes.add("".join(rng.choice(letters, 3)))
    targets = sorted(codes)
    level = {(b, t): float(np.exp(rng.normal(0, 2))) for b in BASES for t in targets}

    slots = [(j, k) for j in range(BATCHES) for k in range(len(BASES))]

    def pick(cands, k):
        chosen = rng.choice(len(cands), k, replace=False)
        return [cands[i] for i in sorted(chosen)]
    failed = set(pick(slots, FAILED_SLOTS))
    dup = set(pick(slots, DUP_SLOTS))
    late = pick([s for s in slots if s[0] > 0], LATE_SLOTS)
    late_tie = set(late[::2])  # half tie the stored timestamp exactly

    current = {}                 # (base, target) -> (rate, ts)
    last_ok = {}                 # base -> ts of its last successful payload
    history, pair_rows = 0, []
    truth = []
    for j in range(BATCHES):
        payloads = {b: [] for b in BASES}
        clock = T0 + j * BATCH_STEP_S
        for k, b in enumerate(BASES):
            ts = clock + 7 * k
            quotes = {}
            for t in targets:
                level[b, t] *= float(np.exp(rng.normal(0, 0.002)))
                rate = round(level[b, t], 6)
                quotes[b + t] = None if rng.random() < NULL_FRACTION else rate
            ok = (j, k) not in failed
            payloads[b].append((ok, ts, quotes))
            if (j, k) in dup:
                sub = {b + t: round(level[b, t] * 1.001, 6)
                       for t in targets if rng.random() < DUP_QUOTES}
                payloads[b].append((True, ts + 60, sub))
            if (j, k) in late:
                late_ts = last_ok.get(b, clock) if (j, k) in late_tie \
                    else clock - 2 * BATCH_STEP_S + 7 * k
                sub = {b + t: round(level[b, t] * 1.013, 6) for t in targets}
                payloads[b].append((True, late_ts, sub))
            if ok:
                last_ok[b] = ts

        d = os.path.join(out, "landing", f"b{j:04d}")
        os.makedirs(d)
        incoming = []
        for b in BASES:
            with open(os.path.join(d, f"{b}.json"), "w") as f:
                for ok, ts, quotes in payloads[b]:
                    f.write(json.dumps({"success": ok, "source": b,
                                        "timestamp": ts, "quotes": quotes}) + "\n")
                    if ok:
                        incoming += [((b, p[len(b):]), r, ts)
                                     for p, r in quotes.items() if r is not None]

        stale = [(k, r, ts) for k, r, ts in incoming
                 if k in current and current[k][1] >= ts]
        before, won = dict(current), set()
        for k, r, ts in incoming:
            old = current.get(k)
            # the stored row wins a tie on ts; between incoming rows the
            # higher rate does
            if old is None or ts > old[1] or (ts == old[1] and k in won and r > old[0]):
                current[k] = (r, ts)
                won.add(k)
        history += len(incoming)
        pair_rows += [(ts, r) for k, r, ts in incoming if k == PAIR]
        summary = None
        if pair_rows:
            lt, lr = max(pair_rows)
            et, er = min(x for x in pair_rows if x[0] >= lt - 86400)
            pct = (lr - er) / er * 100 if er != 0 else 0.0
            summary = [lr, er, pct]
        truth.append({
            "retrieved_at": clock + 300,
            "accepted": len(incoming),
            "history_rows": history,
            "changed": sum(1 for k, v in current.items() if before.get(k) != v),
            "summary": summary,
            "current": [[k[0], k[1], r, ts] for k, (r, ts) in sorted(current.items())],
            "late": [[k[0], k[1], r, ts] for k, r, ts in stale]})

    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"bases": BASES, "pair": list(PAIR), "crash_every": CRASH_EVERY,
                   "batch": truth}, f)
    return {"batches": BATCHES, "rows_per_batch": len(BASES) * N_TARGETS}


# ------------------------------------------------------------- dashboard

def dashboard(rng, out):
    """`tables/{orders,lineitem,events}.parquet` with the schemas, row
    counts and value ranges of the sf0.01 test data, and `order.json`:
    the query order, concatenated seeded permutations of the read set."""
    d = os.path.join(out, "tables")
    os.makedirs(d)
    day = 86400
    base95 = 788918400  # 1995-01-01

    n = N_ORDERS
    cust = rng.integers(0, N_CUSTOMERS, n)
    cust[:3] = 7  # the single-pair queries read customer 7
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(cust.astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _ts_us((base95 + rng.integers(0, 2405, n) * day) * 1_000_000),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    }), os.path.join(d, "orders.parquet"))

    m = N_LINEITEM
    okey = np.sort(rng.integers(0, n, m))
    first = np.searchsorted(okey, okey)  # first line of each row's order
    _write(pa.table({
        "l_orderkey": pa.array(okey.astype("int64")),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, m).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, m).astype("int64")),
        "l_linenumber": pa.array((np.arange(m) - first + 1).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], m)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], m)),
        "l_shipdate": _ts_us((base95 + day + rng.integers(0, 2500, m) * day) * 1_000_000),
    }), os.path.join(d, "lineitem.parquet"))

    e = N_EVENTS
    ts = np.sort(rng.integers(0, 30 * day * 1_000_000, e)) + T0 * 1_000_000
    _write(pa.table({
        "event_id": pa.array(np.arange(e, dtype="int64")),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, e).astype("int64")),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e)),
        "value": pa.array(np.round(rng.uniform(0, 500, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    }), os.path.join(d, "events.parquet"))

    order = [q for _ in range(ORDER_LENGTH) for q in rng.permutation(DASHBOARD_QUERIES)]
    with open(os.path.join(out, "order.json"), "w") as f:
        json.dump([str(q) for q in order], f)
    return {"orders": n, "lineitem": m, "events": e}


# ---------------------------------------------------------------- corpus

def corpus(rng, out):
    """`tables/documents.parquet`: independent documents, a few exact
    copies, and near-duplicate chains in which each document drops the
    first CHAIN_SHIFT tokens of the one before and appends new ones.
    Neighbours share CHAIN_TOKENS - CHAIN_SHIFT tokens (several 13-grams),
    documents two steps apart share none, so a chain is a path and its
    ids ascend along it: min-label propagation needs CHAIN_LENGTH - 1
    rounds."""
    vocab = np.array(VOCAB)
    independent = N_DOCS - N_CHAINS * CHAIN_LENGTH - EXACT_DUPS
    units = [[" ".join(rng.choice(vocab, rng.integers(10, 101)))]
             for _ in range(independent)]
    for _ in range(N_CHAINS):
        toks = list(rng.choice(vocab, CHAIN_TOKENS))
        chain = []
        for _ in range(CHAIN_LENGTH):
            chain.append(" ".join(toks))
            toks = toks[CHAIN_SHIFT:] + list(rng.choice(vocab, CHAIN_SHIFT))
        units.append(chain)
    for _ in range(EXACT_DUPS):
        units.append([units[int(rng.integers(0, independent))][0]])
    texts = [t for u in (units[i] for i in rng.permutation(len(units))) for t in u]
    n = len(texts)
    d = os.path.join(out, "tables")
    os.makedirs(d)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS[0], n, p=LANGS[1])),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }), os.path.join(d, "documents.parquet"))
    return {"docs": n}


def make(workload, seed, out):
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    return {"ingest": ingest, "dashboard": dashboard, "corpus": corpus}[workload](rng, out)
