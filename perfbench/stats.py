"""Pure functions behind the benchmark's numbers (tested in test_stats.py)."""
import bisect
import datetime
import math
import re

BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least a share `p`
    of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def tail_percentile(n, cap=0.99, beyond=BEYOND):
    """The highest percentile, at most `cap`, that leaves at least `beyond`
    of `n` samples above it; None when `n` is too small for any."""
    if n <= beyond:
        return None
    p = min(cap, math.floor(1000 * (n - beyond) / n) / 1000)
    # nearest rank: ceil(p*n) samples at or below, the rest beyond
    return p if n - math.ceil(p * n) >= beyond else None


def commit_times(progress):
    """(end_offset, commit_ms) per micro-batch that consumed data, in batch
    order, from parsed StreamingQueryProgress documents of one query."""
    out = []
    for p in progress:
        src = p["sources"][0]
        if src.get("startOffset") == src.get("endOffset") or src.get("endOffset") is None:
            continue
        end = int(src["endOffset"])
        out.append((end, epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]))
    return out


def epoch_ms(iso):
    """Epoch ms of a progress timestamp such as 2026-10-17T10:00:00.123Z."""
    d = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def open_loop_latencies(sched_ms, blocks, first_offset, commits):
    """Latency of every row from its scheduled creation to the commit of
    the micro-batch of one query that consumed it.

    sched_ms: scheduled time of each row, epoch ms.
    blocks: (first_row, rows) of each block added to the query's memory
      stream, in order; block i has source offset first_offset + i.
    commits: (end_offset, commit_ms) per batch of the query.
    Rows of blocks no batch consumed are left out and counted."""
    ends = [e for e, _ in commits]
    lat, missing = [], 0
    for i, (first, rows) in enumerate(blocks):
        j = bisect.bisect_left(ends, first_offset + i)
        if j == len(commits):
            missing += rows
            continue
        lat.extend(commits[j][1] - sched_ms[r] for r in range(first, first + rows))
    return lat, missing


def self_times(spans):
    """Span id -> duration minus the part of its interval that its child
    spans cover (children clipped to the parent, overlaps counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_result(result, spec, trace):
    """Problems with a final result line against BENCHMARK.json: the keys,
    and every metric of the right list present once with its unit and a
    finite value."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
        return problems
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        problems.append("attempted must be a whole number >= 1")
    if not isinstance(result["failed"], int) or result["failed"] < 0:
        problems.append("failed must be a whole number >= 0")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(want):
        problems.append(f"metric names differ: {sorted(set(got) ^ set(want))}")
    for name, m in got.items():
        if not NAME.match(name):
            problems.append(f"bad name {name}")
        if set(m) != {"value", "unit"} or m.get("unit") != want.get(name):
            problems.append(f"bad entry for {name}: {m}")
        elif not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            problems.append(f"{name} is not a finite number")
        elif not UNIT.match(m["unit"]):
            problems.append(f"bad unit for {name}")
    return problems
