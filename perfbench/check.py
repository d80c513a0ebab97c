"""Correctness checks, run after the timed region has ended.

Query results are compared with the engine's DuckDB oracle SQL the way
scripts/selfcheck.py compares them. The streaming sinks are compared with
an evaluation of the same generated rows that replays the micro-batch
boundaries the queries reported.
"""
import collections
import glob
import json
import os

import duckdb
import pandas as pd

from gen import DELAY_MS

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def queries(data_dir, results_dir, oracle, ops):
    """Name -> None when the query's result is right, else a reason."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    laps = sorted({o["lap"] for o in ops})
    failed_ops = {o["name"]: o["error"] for o in ops if o["error"]}
    verdict = {}
    for name, sql in sorted(oracle.items()):
        if name in failed_ops:
            verdict[name] = f"failed: {failed_ops[name]}"
            continue
        try:
            got = [pd.read_parquet(os.path.join(results_dir, f"lap{l}", name)) for l in laps]
        except Exception as e:  # missing or unreadable output
            verdict[name] = f"no output: {e}"
            continue
        try:
            want = _canon(con.execute(sql).df())
            verdict[name] = None
            for lap, g in zip(laps, map(_canon, got)):
                if list(g.columns) != list(want.columns):
                    verdict[name] = f"lap {lap}: columns {list(g.columns)} != {list(want.columns)}"
                elif len(g) != len(want):
                    verdict[name] = f"lap {lap}: rows {len(g)} != {len(want)}"
                else:
                    pd.testing.assert_frame_equal(g, want, check_dtype=False, check_exact=True)
                    continue
                break
        except Exception as e:
            verdict[name] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    return verdict


def _read_rows(path):
    with open(path) as f:
        return [(line.split(",")) for line in f.read().splitlines() if line]


def _batches(progress, rows_by_block):
    """Rows of each data-carrying micro-batch, from reported offsets."""
    out = []
    for p in progress:
        src = p["sources"][0]
        end = src.get("endOffset")
        start = src.get("startOffset")
        start = -1 if start is None else int(start)
        if end is None or int(end) == start:
            out.append([])
            continue
        rows = []
        for b in range(start + 1, int(end) + 1):
            rows.extend(rows_by_block[b])
        out.append(rows)
    return out


def stream(run_dir, stream_dir, rec, threshold):
    """Check W1 and P1 over the whole timed run; returns (problems, facts)."""
    drain = _read_rows(os.path.join(stream_dir, "drain.csv"))
    blocks = collections.defaultdict(list)
    for c, i, t, v in drain:
        blocks[int(c)].append((i, int(t), float(v)))
    open_rows = _read_rows(os.path.join(stream_dir, "open.csv"))
    t0 = rec["open_t0"]
    base = rec["drain_chunks"]
    for n, b in enumerate(rec["open_blocks"]):
        for k in range(b["first"], b["first"] + b["rows"]):
            s, i, o, v = open_rows[k]
            blocks[base + n].append((i, int(t0 + float(s)) + int(o), float(v)))
    problems, facts = [], {}

    # W1: the watermark of a batch is the max event time of earlier batches
    # minus the delay; a row is dropped as late when its window ended at or
    # before the watermark of the batch before its own
    w1p = [json.loads(p) for p in rec["w1_progress"]]
    sums = collections.defaultdict(lambda: [0.0, 0])
    wm, late_wm, max_ts = 0, 0, None
    dropped_rows, dropped_groups = 0, 0
    for rows in _batches(w1p, blocks):
        late = set()
        for i, t, v in rows:
            end = (t // 1000) * 1000 + 1000
            if end <= late_wm:
                dropped_rows += 1
                late.add((i, end))
            else:
                s = sums[(i, end)]
                s[0] += v
                s[1] += 1
        dropped_groups += len(late)
        late_wm = wm
        if rows:
            m = max(t for _, t, _ in rows)
            max_ts = m if max_ts is None else max(max_ts, m)
            wm = max(wm, max_ts - DELAY_MS)
    reported = sum(sum(op.get("numRowsDroppedByWatermark", 0) for op in p["stateOperators"])
                   for p in w1p)
    facts.update(w1_rows_dropped=dropped_rows, w1_dropped_reported=reported)
    if not dropped_groups <= reported <= dropped_rows:
        problems.append(f"W1 dropped {reported} rows by watermark, "
                        f"expected {dropped_groups}..{dropped_rows}")
    final = {}
    for i, end, avg in _read_rows(os.path.join(run_dir, "w1_final.csv")):
        final[(i, int(end))] = float(avg)
    if set(final) != set(sums):
        problems.append(f"W1 emitted {len(final)} windows, expected {len(sums)}")
    bad = sum(1 for k, (s, n) in sums.items()
              if k in final and abs(final[k] - s / n) > 1e-9 * max(1.0, abs(s / n)))
    if bad:
        problems.append(f"W1 has {bad} wrong window averages")

    # P1: per sensor, each batch's readings in event-time order against the
    # last temperature seen
    p1p = [json.loads(p) for p in rec["p1_progress"]]
    last, want = {}, collections.Counter()
    for rows in _batches(p1p, blocks):
        for i, t, v in sorted(rows, key=lambda r: (r[0], r[1])):
            if i in last and abs(v - last[i]) > threshold:
                want[(i, v, abs(v - last[i]))] += 1
            last[i] = v
    got = collections.Counter()
    for f in _committed_files(rec["p1_sink"]):
        df = pd.read_parquet(f)
        got.update(zip(df["id"], df["temperature"], df["diff"]))
    facts.update(p1_alerts=sum(got.values()), p1_alerts_expected=sum(want.values()))
    if got != want:
        problems.append(f"P1 wrote {sum(got.values())} alerts, expected {sum(want.values())}; "
                        f"{sum((got - want).values())} unexpected")
    return problems, facts


def _committed_files(sink):
    """Files the exactly-once file sink committed, from its metadata log: the
    latest compacted log plus every batch log written after it."""
    logs = {}
    for p in glob.glob(os.path.join(sink, "_spark_metadata", "*")):
        name = os.path.basename(p)
        if name.split(".")[0].isdigit():
            logs[int(name.split(".")[0])] = p
    compact = max((b for b, p in logs.items() if p.endswith(".compact")), default=-1)
    files = []
    for b in sorted(b for b in logs if b >= compact):
        with open(logs[b]) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    files.append(entry["path"].replace("file://", "", 1))
    return files
