"""Turns the JVM's raw record into end-to-end and per-layer metrics."""
import glob
import json
import os
import statistics

import stats

KERNELS = ["minhash_sigs", "simhash_sig", "md5_long60", "md5_grams", "rolling_hash",
           "winnow", "vector_dot", "vector_quantize", "sorted_intersect_count"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

# Every per-layer metric and its unit. A workload that bypasses a layer
# reports 0 for it.
PER_LAYER = (
    [("core.session.start_ms", "ms"), ("core.tables.load_ms", "ms")] +
    [(f"core.tables.load_ms.{t}", "ms") for t in TABLES] +
    [("core.staged.builds", "count"), ("core.staged.reads", "count"),
     ("core.staged.hit_ratio", "ratio"), ("core.staged.build_ms", "ms")] +
    [(f"{m}.{k}", u) for m in ("batch", "llm") for k, u in (
        ("build_ms", "ms"), ("build_self_ms", "ms"), ("build_jobs", "count"),
        ("exec_ms", "ms"), ("plan_share", "ratio"))] +
    [("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
     ("plan.planning_ms", "ms"), ("plan.share", "ratio")] +
    [("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.sched_delay_ms", "ms"), ("exec.input_bytes", "bytes"),
     ("exec.input_rows", "count"), ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
     ("exec.gc_ms", "ms"), ("exec.core_busy_frac", "ratio"),
     ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
     ("exec.shuffle_fetch_wait_ms", "ms"), ("exec.spill_bytes", "bytes"),
     ("exec.skew_max", "ratio")] +
    [(f"functions.{k}.ns_per_row", "ns/row") for k in KERNELS] +
    [("streaming.batches", "count"), ("streaming.trigger_ms_p50", "ms"),
     ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
     ("streaming.latest_offset_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
     ("streaming.commit_offsets_ms", "ms"), ("streaming.state_rows", "count"),
     ("streaming.state_mem_bytes", "bytes"), ("streaming.state_commit_ms", "ms"),
     ("streaming.state_update_ms", "ms"), ("streaming.rows_dropped_by_watermark", "count"),
     ("streaming.sink_ms", "ms"), ("streaming.watermark_lag_ms", "ms"),
     ("streaming.backlog_rows_end", "count"), ("streaming.gen_late_ms_max", "ms")])


def _progress(rec, key):
    return [json.loads(p) for p in rec[key]]


def add_schedule(rec, open_csv):
    """Adds each open-loop row's scheduled epoch ms, and the rows still
    waiting for a commit when the generator stopped, to the record."""
    with open(open_csv) as f:
        rec["sched_ms"] = [rec["open_t0"] + float(l.split(",", 1)[0]) for l in f if l.strip()]
    commits = [stats.commit_times(_progress(rec, k)) for k in ("w1_progress", "p1_progress")]
    done = min(max((e for e, t in c if t <= rec["open_gen_end"]), default=-1) for c in commits)
    base = rec["drain_chunks"]
    rec["backlog_rows_end"] = sum(b["rows"] for i, b in enumerate(rec["open_blocks"])
                                  if base + i > done)


def stream_latencies(rec):
    """Open-loop event latencies of W1 and of P1, pooled, and the rows
    either query left unconsumed."""
    lat, missing = [], 0
    for key in ("w1_progress", "p1_progress"):
        l, m = stats.open_loop_latencies(
            rec["sched_ms"], [(b["first"], b["rows"]) for b in rec["open_blocks"]],
            rec["drain_chunks"], stats.commit_times(_progress(rec, key)))
        lat += l
        missing += m
    return lat, missing


def open_loop_batch_ms(rec):
    """Durations of the W1 and P1 micro-batches that consumed open-loop
    rows."""
    out = []
    for key in ("w1_progress", "p1_progress"):
        for p in _progress(rec, key):
            src = p["sources"][0]
            if src.get("endOffset") is not None and src.get("startOffset") != src["endOffset"] \
                    and int(src["endOffset"]) >= rec["drain_chunks"]:
                out.append(p["durationMs"]["triggerExecution"])
    return out


def stream_ops(rec, problems):
    """Micro-batches that consumed data, and how many checks failed."""
    n = sum(len(stats.commit_times(_progress(rec, k))) for k in ("w1_progress", "p1_progress"))
    return n, len(problems)


def end_to_end(workload, jvm):
    """Name -> (value, unit): the gated end-to-end metrics, plus the
    workload-specific figures printed beside them."""
    rec = jvm["workload_record"]
    out = {"setup_s": (statistics.median(s["setup_s"] for s in jvm["setups"]), "s"),
           "setup_cold_s": (jvm["setups"][0]["setup_s"], "s")}
    if workload == "sensor_stream":
        lat, missing = stream_latencies(rec)
        p = stats.tail_percentile(len(lat))
        out["wall_s"] = (rec["drain_s"], "s")
        out["op_ms_mean"] = (statistics.fmean(open_loop_batch_ms(rec)), "ms")
        out["stream_drain_rps"] = (rec["drain_rows"] / rec["drain_s"], "rows/s")
        out["event_latency_ms_mean"] = (statistics.fmean(lat), "ms")
        out["event_latency_ms_p50"] = (stats.percentile(lat, 0.5), "ms")
        out[f"event_latency_ms_p{round(p * 100, 1):g}"] = (stats.percentile(lat, p), "ms")
        out["event_latency_samples"] = (len(lat), "count")
        out["event_latency_unconsumed"] = (missing, "count")
    else:
        ops = [o for o in rec["ops"] if not o["error"]]
        q = [o["total_ms"] for o in ops]
        out["wall_s"] = (statistics.median(rec["laps_s"]), "s")
        out["cpu_s"] = (statistics.median(rec["laps_cpu_s"]), "s")
        out["op_ms_mean"] = (statistics.fmean(q), "ms")
        out["query_s_p50"] = (statistics.median(q) / 1000, "s")
        out["query_samples"] = (len(q), "count")
    out.setdefault("cpu_s", (jvm["cpu_s"], "s"))
    out["heap_live_mb"] = (jvm["heap_live_mb"], "MB")
    return out


def per_layer(workload, jvm, cores):
    """Name -> (value, unit) for every PER_LAYER metric, and the span list
    of the trace file (harness spans, jobs, stages, micro-batches), each
    with its self time."""
    rec, tr = jvm["workload_record"], jvm["trace"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["core.session.start_ms"] = statistics.median(s["session_ms"] for s in jvm["setups"])

    spans = [dict(s) for s in tr["spans"]]
    workload_span = next(s for s in spans if s["kind"] == "workload")
    w0, w1 = workload_span["start"], workload_span["end"]
    by_id = {s["id"]: s for s in spans}
    next_id = max(by_id) + 1
    stage_parent = {}
    for j in tr["jobs"]:
        group = int(j["group"]) if j["group"].isdigit() else None
        span = {"id": next_id, "parent": group if group in by_id else workload_span["id"],
                "kind": "job", "name": f"job {j['id']}", "start": float(j["start"]),
                "end": float(j["end"] or j["start"]), "attrs": {"ok": j["ok"]}}
        next_id += 1
        spans.append(span)
        for sid in j["stage_ids"]:
            stage_parent.setdefault(sid, span["id"])
    for st in tr["stages"]:
        if st["submitted"] and st["id"] in stage_parent:
            spans.append({"id": next_id, "parent": stage_parent[st["id"]], "kind": "stage",
                          "name": st["name"], "start": float(st["submitted"]),
                          "end": float(st["completed"] or st["submitted"]),
                          "attrs": {k: st[k] for k in ("tasks", "run_ms", "cpu_ms")}})
            next_id += 1
    timed_stages = [st for st in tr["stages"] if w0 <= (st["submitted"] or 0) <= w1]
    timed_jobs = [j for j in tr["jobs"] if w0 <= j["start"] <= w1]

    if workload == "sensor_stream":
        laps = 1
        spans += _stream_spans(tr["progress"], workload_span["id"], next_id)
        _streaming(m, rec, tr["progress"])
    else:
        laps = len(rec["laps_s"])
        ops = rec["ops"]
        loads = tr.get("tables_load_ms", {})
        for t, ms in loads.items():
            m[f"core.tables.load_ms.{t}"] = ms
        m["core.tables.load_ms"] = statistics.median(loads.values())
        for k, ns in tr.get("kernel_ns_per_row", {}).items():
            m[f"functions.{k}.ns_per_row"] = ns
        selfs = stats.self_times(spans)
        for layer in ("batch", "llm"):
            mine = [o for o in ops if o["module"] == layer and not o["error"]]
            builds = {s["id"] for s in spans if s["kind"] == "build"
                      and s["parent"] in by_id and by_id[s["parent"]]["kind"] == "query"
                      and by_id[s["parent"]]["parent"] == workload_span["id"]
                      and s["name"] in {o["name"] for o in mine}}
            m[f"{layer}.build_ms"] = sum(o["build_ms"] for o in mine) / laps
            m[f"{layer}.exec_ms"] = sum(o["exec_ms"] for o in mine) / laps
            m[f"{layer}.build_self_ms"] = sum(selfs[b] for b in builds) / laps
            m[f"{layer}.build_jobs"] = sum(1 for j in tr["jobs"] if j["group"].isdigit()
                                           and int(j["group"]) in builds) / laps
        m["core.staged.builds"] = sum(o["staged_builds"] for o in ops) / laps
        m["core.staged.reads"] = sum(o["staged_reads"] for o in ops) / laps
        readers = [o for o in ops if o["staged_reads"] > 0]
        if readers:
            m["core.staged.hit_ratio"] = sum(1 for o in readers if o["staged_builds"] == 0) / len(readers)
        m["core.staged.build_ms"] = sum(p["duration_ms"] for p in tr["plans"]
                                        if p["staged_write"] and w0 <= p["planned"]) / laps
        # each plan belongs to the query whose span its planning ended in
        queries = [(s["start"], s["end"], s["name"]) for s in spans if s["kind"] == "query"
                   and s["parent"] == workload_span["id"]]
        module = {o["name"]: o["module"] for o in ops}
        planned = {"batch": 0.0, "llm": 0.0}
        for p in tr["plans"]:
            q = next((n for a, b, n in queries if a - 1 <= p["planned"] <= b + 1), None)
            if q is None:
                continue
            for phase in ("analysis", "optimization", "planning"):
                m[f"plan.{phase}_ms"] += p["phases_ms"].get(phase, 0.0) / laps
            planned[module[q]] += sum(p["phases_ms"].get(ph, 0.0)
                                      for ph in ("analysis", "optimization", "planning"))
        for o in ops:
            m["plan.analysis_ms"] += o["analysis_ms"] / laps
            planned[o["module"]] += o["analysis_ms"]
        total = 0.0
        for layer in ("batch", "llm"):
            spent = m[f"{layer}.build_ms"] + m[f"{layer}.exec_ms"]
            total += spent
            m[f"{layer}.plan_share"] = planned[layer] / laps / spent if spent else 0.0
        m["plan.share"] = (m["plan.analysis_ms"] + m["plan.optimization_ms"] +
                           m["plan.planning_ms"]) / total if total else 0.0

    agg = lambda k: sum(st[k] for st in timed_stages) / laps
    m["exec.jobs"] = len(timed_jobs) / laps
    m["exec.stages"] = len(timed_stages) / laps
    for name, key in (("tasks", "tasks"), ("sched_delay_ms", "sched_delay_ms"),
                      ("input_bytes", "input_bytes"), ("input_rows", "input_rows"),
                      ("task_run_ms", "run_ms"), ("task_cpu_ms", "cpu_ms"), ("gc_ms", "gc_ms"),
                      ("shuffle_write_bytes", "shuffle_write_bytes"),
                      ("shuffle_read_bytes", "shuffle_read_bytes"),
                      ("shuffle_fetch_wait_ms", "fetch_wait_ms"), ("spill_bytes", "spill_bytes")):
        m[f"exec.{name}"] = agg(key)
    m["exec.core_busy_frac"] = sum(st["run_ms"] for st in timed_stages) / (
        (w1 - w0) * cores) if w1 > w0 else 0.0
    skews = [st["task_ms_max"] / max(st["task_ms_median"], 1) for st in timed_stages
             if st["tasks"] >= cores]
    m["exec.skew_max"] = max(skews, default=0.0)

    spans.append({"id": 0, "parent": -1, "kind": "run", "name": workload,
                  "start": min(s["start"] for s in spans),
                  "end": max(s["end"] for s in spans), "attrs": {}})
    selfs = stats.self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    units = dict(PER_LAYER)
    return {k: (float(v), units[k]) for k, v in m.items()}, spans


def _stream_spans(progress, parent, next_id):
    """pipeline -> micro-batch spans from progress documents."""
    out, pipes = [], {}
    for p in map(json.loads, progress):
        name = p.get("name") or p["id"]
        end = stats.epoch_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)
        if name not in pipes:
            pipes[name] = {"id": next_id, "parent": parent, "kind": "pipeline", "name": name,
                           "start": stats.epoch_ms(p["timestamp"]), "end": end, "attrs": {}}
            next_id += 1
            out.append(pipes[name])
        pipes[name]["end"] = max(pipes[name]["end"], end)
        out.append({"id": next_id, "parent": pipes[name]["id"], "kind": "micro-batch",
                    "name": f"batch {p['batchId']}", "start": stats.epoch_ms(p["timestamp"]),
                    "end": end, "attrs": {"rows": p.get("numInputRows", 0),
                                          "duration_ms": p["durationMs"]}})
        next_id += 1
    return out


def _streaming(m, rec, progress):
    docs = [json.loads(p) for p in progress]
    data = [p for p in docs if p.get("numInputRows", 0) > 0]
    w1 = [p for p in data if (p.get("name") or "").startswith("w1_")]
    p1 = [p for p in data if p not in w1]
    mean = lambda ps, k: statistics.fmean(p["durationMs"].get(k, 0) for p in ps) if ps else 0.0
    m["streaming.batches"] = len(data)
    if data:
        m["streaming.trigger_ms_p50"] = stats.percentile(
            [p["durationMs"]["triggerExecution"] for p in data], 0.5)
    m["streaming.add_batch_ms"] = mean(w1, "addBatch")
    m["streaming.sink_ms"] = mean(p1, "addBatch")
    m["streaming.query_planning_ms"] = mean(data, "queryPlanning")
    m["streaming.latest_offset_ms"] = mean(data, "latestOffset")
    m["streaming.wal_commit_ms"] = mean(data, "walCommit")
    m["streaming.commit_offsets_ms"] = mean(data, "commitOffsets")
    ops = lambda ps, k: [sum(o.get(k, 0) for o in p["stateOperators"]) for p in ps]
    if data:
        last = {}
        for p in docs:
            last[p.get("name") or p["id"]] = p
        m["streaming.state_rows"] = sum(ops(last.values(), "numRowsTotal"))
        m["streaming.state_mem_bytes"] = sum(ops(last.values(), "memoryUsedBytes"))
        m["streaming.state_commit_ms"] = statistics.fmean(ops(data, "commitTimeMs"))
        m["streaming.state_update_ms"] = statistics.fmean(ops(data, "allUpdatesTimeMs"))
    m["streaming.rows_dropped_by_watermark"] = sum(ops(docs, "numRowsDroppedByWatermark"))
    lags = [stats.epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"] -
            stats.epoch_ms(p["eventTime"]["watermark"]) for p in w1
            if p.get("eventTime", {}).get("watermark") and
            stats.epoch_ms(p["eventTime"]["watermark"]) >= rec["open_t0"] - 60000]
    if lags:
        m["streaming.watermark_lag_ms"] = stats.percentile(lags, 0.5)
    m["streaming.backlog_rows_end"] = rec["backlog_rows_end"]
    m["streaming.gen_late_ms_max"] = max(
        (b["added"] - rec["sched_ms"][b["first"]] for b in rec["open_blocks"]), default=0.0)


def overhead(results_dir, workload, seed, traced_wall):
    """Traced wall_s minus the latest untraced run's, same workload and
    seed; None when no untraced run is on record."""
    best = None
    for f in glob.glob(os.path.join(results_dir, f"{workload}-seed{seed}-trace0-*.json")):
        if f.endswith(".trace.json"):
            continue
        stamp = int(f.rsplit("-", 1)[1].split(".")[0])
        if best is None or stamp > best[0]:
            best = (stamp, f)
    if best is None:
        return None
    with open(best[1]) as fh:
        return traced_wall - json.load(fh)["end_to_end"]["wall_s"][0]
