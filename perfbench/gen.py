"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, config): the same seed
gives byte-identical files (numpy PCG64 streams + pyarrow parquet with
fixed writer settings + sorted JSON keys). Sizes and shares come from
`config.json`, which records why each setting was chosen.

Tables follow the repo's TPC-H-ish star schema plus the `events`,
`documents` and `embeddings` tables the queries read; the CDC feed is a
Debezium-style change stream (see `cdc_stream`).

Usage: python3 perfbench/gen.py <workload> <seed> <seconds> <out_dir>
"""
import bisect
import itertools
import json
import os
import random
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "anvil"]
T_EVENTS = np.datetime64("2024-01-01T00:00:00", "us")
T_ORDERS = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
EPOCH = datetime(1970, 1, 1)


def load_config():
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


def rng(seed, stream):
    """One independent PCG64 stream per (seed, table), so adding a table
    never shifts the values of another."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def write_parquet(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy",
                   write_statistics=True, use_dictionary=True)


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def star_tables(out, seed, sf):
    """region/nation/customer/supplier/part/orders/lineitem/events at
    scale factor `sf` (row counts as in the repo's testdata scales)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev, n_users = 4 * n_ord, int(1_000_000 * sf), int(15_000 * sf)

    write_parquet(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write_parquet(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(seed, 1)
    write_parquet(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    r = rng(seed, 2)
    write_parquet(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp)})
    r = rng(seed, 3)
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    write_parquet(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
                   for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    r = rng(seed, 4)
    odate = T_ORDERS + r.integers(0, 2400, n_ord) * DAY_US
    write_parquet(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": money(r, 1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][i] for i in r.integers(0, 5, n_ord)]})
    r = rng(seed, 5)
    okey = r.integers(0, n_ord, n_line, dtype=np.int64)
    write_parquet(f"{out}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(r, 900, 105000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [["F", "O"][i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(odate[okey] + r.integers(1, 122, n_line) * DAY_US,
                               pa.timestamp("us"))})
    r = rng(seed, 6)
    ts = T_EVENTS + np.sort(r.integers(0, 30 * DAY_US, n_ev))
    write_parquet(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})


def documents(out, seed, n, neardup_share, exact_dup_share):
    """`n` documents over the repo's 31-word vocabulary. Exactly a
    `neardup_share` of them are near-duplicates of an earlier document
    (one token appended or replaced) and an `exact_dup_share` exact
    copies; originals are drawn with replacement, so families of several
    variants occur."""
    r = rng(seed, 7)
    texts = []
    # exact counts, not per-row draws: the dedup work is the same size
    # under every seed, only which documents are copies changes
    n_near, n_exact = round(neardup_share * n), round(exact_dup_share * n)
    kinds = np.zeros(n, dtype=np.int64)
    copies = 1 + r.permutation(n - 1)[:n_near + n_exact]
    kinds[copies[:n_near]], kinds[copies[n_near:]] = 1, 2
    for i in range(n):
        if i > 0 and kinds[i] != 0:
            src = texts[int(r.integers(0, i))].split()
            if kinds[i] == 1:
                if r.random() < 0.5:
                    src = src + ["dup"]
                else:
                    src[int(r.integers(0, len(src)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(src))
        else:
            ntok = int(r.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), ntok)))
    write_parquet(f"{out}/documents.parquet", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(out, seed, n, neardup_share, dim=64):
    """`n` unit vectors; exactly a `neardup_share` of them are small
    perturbations of an earlier vector (cosine ~0.99), the rest
    independent Gaussians."""
    r = rng(seed, 8)
    m = r.standard_normal((n, dim))
    near = np.zeros(n, dtype=bool)
    near[1 + r.permutation(n - 1)[:round(neardup_share * n)]] = True  # exact count, as for documents
    for i in range(1, n):
        if near[i]:
            m[i] = m[int(r.integers(0, i))] + 0.1 * r.standard_normal(dim)
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    write_parquet(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n, dtype=np.int32)})


def fmt_ts(ms):
    """Epoch ms -> the TopicStream JSON timestamp spelling (UTC, µs)."""
    return (EPOCH + timedelta(milliseconds=int(ms))).strftime("%Y-%m-%d %H:%M:%S.%f")


def cdc_feed(out, seed, seconds, c):
    """Debezium-style change events for `cdc_stream`.

    - `snapshot.jsonl`: one `op=r` image per key (the initial bulk load).
    - `feed/tick-NNNNNN.jsonl`: the open-loop feed, one file per tick,
      `rate_per_s * tick_ms / 1000` events each, for `seconds` seconds.
      Keys are Zipf(`zipf_s`)-skewed; a key's next change is an update
      or delete while it exists and an insert after a delete. Each event
      carries its creation time as both the image `ts` and the envelope
      `ts_ms`; creation times advance `event_spacing_ms` per event, so
      the feed spans many 10-minute windows.
    - An `out_of_order_share` of events arrive 1..`max_disorder_ticks`
      ticks late (inside the 10-minute watermark); a
      `beyond_tolerance_share`, drawn only from the feed's second half and
      after its third trigger interval (the watermark has moved by then),
      carry a creation time more than two hours before the feed's start
      (beyond the watermark, so the windowed query drops them). Every
      on-time event is created at or after the feed's start and every
      beyond-tolerance one before it, whatever the feed's length, so
      `manifest.json`'s `feed_start_ms` separates the two exactly.
    - `backlog/chunk-K/part-NNN.jsonl`: pre-staged backlog drained after
      the open loop; `warm/part-NNN.jsonl`: the warm-up chunk.
    - `dim.parquet`: the user -> segment enrichment dimension (a
      `dim_missing_share` of users absent, exercising the back-fill).
    - `manifest.json`: counts the harness checks against.
    """
    # scalar draws dominate here, and random.Random is ~20x cheaper per
    # call than a numpy Generator (its sequence is stable across Pythons)
    r = random.Random(seed * 1_000_003 + 9)
    keys, users = c["keys"], c["users"]
    t0 = int(np.datetime64("2024-03-01T00:00:00", "ms").astype(np.int64))
    zipf_cdf = list(itertools.accumulate(1.0 / k ** c["zipf_s"] for k in range(1, keys + 1)))
    perm = list(range(keys))
    r.shuffle(perm)  # hot keys are not simply the low ids
    state = {}

    def image(k, ts_ms):
        return {"event_id": k, "ts": fmt_ts(ts_ms),
                "user_id": r.randrange(users),
                "event_type": EVENT_TYPES[r.randrange(5)],
                "value": round(r.expovariate(1 / 50.0), 2)}

    def line(before, after, op, ts_ms):
        return json.dumps({"before": before, "after": after, "op": op,
                           "ts_ms": ts_ms}, sort_keys=True)

    snap = []
    for k in range(keys):
        ts_ms = t0 - 86_400_000 + k
        state[k] = image(k, ts_ms)
        snap.append(line(None, state[k], "r", ts_ms))

    clock = [t0]

    def change():
        k = perm[min(keys - 1, bisect.bisect(zipf_cdf, r.random() * zipf_cdf[-1]))]
        ts_ms = clock[0]
        clock[0] += c["event_spacing_ms"]
        prev = state.get(k)
        if prev is None:
            state[k] = image(k, ts_ms)
            return k, line(None, state[k], "c", ts_ms), ts_ms
        if r.random() < c["delete_share"]:
            del state[k]
            return k, line(prev, None, "d", ts_ms), ts_ms
        state[k] = image(k, ts_ms)
        return k, line(prev, state[k], "u", ts_ms), ts_ms

    per_tick = c["rate_per_s"] * c["tick_ms"] // 1000
    n_ticks = seconds * 1000 // c["tick_ms"]
    ticks = [[] for _ in range(n_ticks)]
    first_late_tick = max(n_ticks // 2, 3 * c["trigger_ms"] // c["tick_ms"])
    beyond, n_late = 0, 0
    for i in range(n_ticks * per_tick):
        base = i // per_tick
        k, ln, ts_ms = change()
        u = r.random()
        if u < c["beyond_tolerance_share"] and base >= first_late_tick:
            rec = json.loads(ln)
            n_late += 1
            late = t0 - 7_200_000 - n_late  # distinct, and before every on-time creation time
            for side in ("before", "after"):
                if rec[side] is not None:
                    rec[side]["ts"] = fmt_ts(late)
            rec["ts_ms"] = late
            ln = json.dumps(rec, sort_keys=True)
            beyond += rec["after"] is not None  # deletes never reach the windowed query
            ticks[base].append(ln)
        elif u < c["beyond_tolerance_share"] + c["out_of_order_share"]:
            ticks[min(n_ticks - 1, base + r.randint(1, c["max_disorder_ticks"]))].append(ln)
        else:
            ticks[base].append(ln)

    def chunk(n_events, n_files):
        lines = [change()[1] for _ in range(n_events)]
        step = -(-n_events // n_files)
        return [lines[j:j + step] for j in range(0, n_events, step)]

    os.makedirs(f"{out}/feed")
    with open(f"{out}/snapshot.jsonl", "w") as f:
        f.write("\n".join(snap) + "\n")
    for t, lines in enumerate(ticks):
        with open(f"{out}/feed/tick-{t:06d}.jsonl", "w") as f:
            f.write("".join(x + "\n" for x in lines))
    backlog = []
    for b in range(c["backlog_chunks"]):
        os.makedirs(f"{out}/backlog/chunk-{b}")
        files = chunk(c["backlog_events"], c["backlog_files"])
        backlog.append(sum(len(x) for x in files))
        for j, lines in enumerate(files):
            with open(f"{out}/backlog/chunk-{b}/part-{j:03d}.jsonl", "w") as f:
                f.write("".join(x + "\n" for x in lines))
    os.makedirs(f"{out}/warm")
    for j, lines in enumerate(chunk(c["warm_events"], c["backlog_files"])):
        with open(f"{out}/warm/part-{j:03d}.jsonl", "w") as f:
            f.write("".join(x + "\n" for x in lines))

    uid = [u for u in range(users) if r.random() >= c["dim_missing_share"]]
    write_parquet(f"{out}/dim.parquet", {
        "user_id": pa.array(uid, pa.int64()),
        "segment": [SEGMENTS[r.randrange(5)] for _ in uid]})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({"ticks": n_ticks, "tick_ms": c["tick_ms"], "feed_start_ms": t0,
                   "tick_events": [len(x) for x in ticks],
                   "beyond_tolerance_rows": beyond, "backlog_events": backlog,
                   "snapshot_events": keys}, f, sort_keys=True)


def generate(workload, seed, seconds, out, cfg=None):
    cfg = cfg or load_config()
    w = cfg["workloads"][workload]
    os.makedirs(out, exist_ok=True)
    if workload == "cdc_stream":  # reads only its own feed
        cdc_feed(out, seed, seconds, w["feed"])
        return
    t = cfg["tables"]
    star_tables(out, seed, t["sf"])
    documents(out, seed, t["documents"]["rows"], t["documents"]["neardup_share"],
              t["documents"]["exact_dup_share"])
    embeddings(out, seed, t["embeddings"]["rows"], t["embeddings"]["neardup_share"])


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
