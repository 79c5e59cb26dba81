"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of the seed:

* `tables(...)` writes the ten fixture tables at scale factor `SF`
  (TPC-H-like star schema plus `events`, `documents`, `embeddings`; the
  program's SQL helper registers all ten as views) as one parquet file
  each, with the column types, value domains and single-row-group layout of
  the repo's fixture tables, so the queries see the shapes they are
  declared against.
* `shard_logs(...)` writes `kinesis-like` shard logs in the reference record
  format (`tsNanos\tpartitionKey\ttestData-<ISO>`) with poison payloads and
  producer re-sends, and returns the exact outcome a correct consumer yields.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH = dt.datetime(1970, 1, 1)
SF = 0.1
POISON_FRAC = 0.01
RESEND_FRAC = 0.02
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _days(y, m, d):
    return (dt.datetime(y, m, d) - EPOCH).days


def _day_ts(rng, lo, hi, n):
    """Uniform whole days in [lo, hi] as timestamp[us] values."""
    return rng.integers(_days(*lo), _days(*hi) + 1, n).astype(np.int64) * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def tables(seed, out):
    """Write the fixture tables at scale factor `SF`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_vec = int(50_000 * SF), int(20_000 * SF)
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    keys = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_day_ts(rng, (1995, 1, 1), (2001, 8, 1), n_ord), ts),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_day_ts(rng, (1995, 1, 2), (2001, 11, 4), n_line), ts)})

    ev_lo = (dt.datetime(2024, 1, 1) - EPOCH) // dt.timedelta(microseconds=1)
    ev_ts = np.sort(ev_lo + rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * SF)), n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # 5% of documents re-publish another document with a trailing " dup"
    # (near duplicates); the rest are bags of 10-100 vocabulary words.
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})


def shard_logs(seed, out, records, shards, truth=None):
    """Write `shard-NNN.txt` logs holding `records` distinct producer records
    (`POISON_FRAC` of them poison) plus re-sends of `RESEND_FRAC` of them,
    and return the outcome a correct consumer must produce.
    With `truth` set, also write that CSV: each distinct record's partition
    key and the channel (`good` or `dead`) it belongs in.

    Each distinct record gets a strictly later event time (1-20 ms apart), so
    its partition key (`partitionKey-<epoch millis>`) and payload are unique.
    Each record goes to a shard drawn at random. A re-send repeats key
    and payload 1-64 positions later in the same shard, i.e. a later sequence
    number, as a producer retry under at-least-once delivery does. A poison
    record carries a payload that does not parse as `testData-<ISO>`.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    t0_ms = (dt.datetime(2024, 1, 1) - EPOCH) // dt.timedelta(milliseconds=1)
    ms = t0_ms + np.cumsum(rng.integers(1, 21, records))
    shard_of = rng.integers(0, shards, records)
    poison = rng.random(records) < POISON_FRAC
    resend = (rng.random(records) < RESEND_FRAC) & ~poison
    delay = rng.integers(1, 65, records)
    kinds = rng.integers(0, 3, records)
    logs = [[] for _ in range(shards)]
    pending = [[] for _ in range(shards)]  # (due position, line)
    for i in range(records):
        key = f"partitionKey-{ms[i]}"
        stamp = dt.datetime.fromtimestamp(ms[i] / 1000, dt.timezone.utc)
        if poison[i]:
            payload = ("garbage-" + key, "testData-" + stamp.strftime("%Y/%m/%d %H:%M"),
                       "testData-")[kinds[i]]
        else:
            payload = "testData-" + stamp.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms[i] % 1000:03d}"
        line = f"{ms[i] * 1_000_000}\t{key}\t{payload}\n"
        s = shard_of[i]
        log = logs[s]
        while pending[s] and pending[s][0][0] <= len(log):
            log.append(pending[s].pop(0)[1])
        log.append(line)
        if resend[i]:
            pending[s].append((len(log) + int(delay[i]), line))
            pending[s].sort(key=lambda p: p[0])
    if truth:
        with open(truth, "w", encoding="utf-8") as f:
            f.write("partitionKey,channel\n")
            f.writelines(f"partitionKey-{ms[i]},{'dead' if poison[i] else 'good'}\n"
                         for i in range(records))
    for s in range(shards):
        logs[s].extend(line for _, line in pending[s])
        with open(os.path.join(out, f"shard-{s:03d}.txt"), "w", encoding="utf-8") as f:
            f.writelines(logs[s])
    return {
        "records_written": int(sum(len(log) for log in logs)),
        "distinct": int(records),
        "poison": int(poison.sum()),
        "resent": int(resend.sum()),
        "shard_lengths": {f"shardId-{s:012d}": len(logs[s]) for s in range(shards)},
    }
