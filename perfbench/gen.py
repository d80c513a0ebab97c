"""Seeded input generators for the benchmark.

`tables` writes the ten parquet tables the engine's batch and LLM queries
read, with the schemas of the engine's test data (TESTDATA.md): a TPC-H-like
star schema, an `events` table, a `documents` corpus with near-duplicates and
an `embeddings` table. `stream` writes the sensor readings of the streaming
workload. The same seed always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
COLORS = "blue cold hot red small new old large".split()
THINGS = "ring plate gear rod bolt anvil widget gizmo".split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DAY_US = 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, seed, sf, docs, vecs):
    """Write the ten tables at scale factor `sf` (lineitem = 6M x sf rows),
    with `docs` documents and `vecs` embeddings."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    users = max(int(15_000 * sf), 10)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{c} {t}" for c, t in zip(rng.choice(COLORS, n_part),
                                               rng.choice(THINGS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + ts).astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # 5% of documents are near-copies of an earlier one: two words
    # replaced and a marker word appended
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()[:100]
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    _write(out, "documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, vecs).astype(np.int32)})


SENSORS = 40
DELAY_MS = 5000      # the watermark delay of the W1 pipeline
READ_MS = 100        # one reading per sensor every 100 ms of event time


def _walk(rng, n):
    """Per-sensor temperature random walks, `n` steps each."""
    start = 65 + rng.standard_normal(SENSORS) * 20
    return start[:, None] + np.cumsum(rng.standard_normal((SENSORS, n)) * 0.5, axis=1)


def _chunks(rng, chunks, rows, base_ms):
    """Closed-loop chunks: in-order readings with up to 2 s of disorder, and
    1% late rows placed 8-15 s behind everything earlier chunks carried."""
    per = rows // SENSORS
    temps = _walk(rng, chunks * per + chunks)
    out, prev_max, step = [], None, 0
    for c in range(chunks):
        rows_c = []
        for k in range(step, step + per):
            # ts % READ_MS identifies k mod 97, so no two readings of a
            # sensor share a timestamp
            lag = READ_MS * rng.integers(0, 20, SENSORS) + (k % 97)
            for s in range(SENSORS):
                ts = base_ms + k * READ_MS - lag[s]
                rows_c.append((c, f"sensor_{s + 1}", int(ts), float(temps[s, k])))
        if prev_max is not None:
            for s in rng.choice(SENSORS, max(rows // 100, 1), replace=False):
                ts = prev_max - int(rng.integers(8000, 15001))
                rows_c.append((c, f"sensor_{s + 1}", ts, float(temps[s, chunks * per + c])))
        step += per
        rng.shuffle(rows_c)
        prev_max = max(r[2] for r in rows_c) if prev_max is None else \
            max(prev_max, max(r[2] for r in rows_c))
        out.extend(rows_c)
    return out


def stream(out, seed, drain_chunks, chunk_rows, open_rate, open_seconds):
    """Write warm.csv, drain.csv and open.csv (see SensorStream.scala)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, rows in (("warm", _chunks(rng, 2, 400, 1_000_000)),
                       ("drain", _chunks(rng, drain_chunks, chunk_rows, 100_000_000))):
        with open(os.path.join(out, f"{name}.csv"), "w") as f:
            f.writelines(f"{c},{i},{t},{v!r}\n" for c, i, t, v in rows)
    # open loop: every sensor reads at a fixed period, staggered across
    # sensors, so rows are due at a constant total rate
    period = 1000.0 * SENSORS / open_rate
    # an event time lags its schedule by whole periods plus k mod 19 ms, so
    # no two readings of a sensor share a timestamp
    assert period == int(period) and period > 19, "rate must give a whole-ms period > 19"
    per = int(open_seconds * 1000 / period)
    temps = _walk(rng, per)
    rows = []
    for k in range(per):
        for s in range(SENSORS):
            sched = k * period + s * period / SENSORS
            if rng.random() < 0.01:
                off = -int(rng.integers(8000, 15001))
            else:
                off = -(int(period) * int(rng.integers(0, 19)) + k % 19)
            rows.append((sched, f"sensor_{s + 1}", off, float(temps[s, k])))
    with open(os.path.join(out, "open.csv"), "w") as f:
        f.writelines(f"{t!r},{i},{o},{v!r}\n" for t, i, o, v in rows)
