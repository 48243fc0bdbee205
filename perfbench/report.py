"""Metrics of one run, computed from the JVM's raw record.

`E2E` and `PER_LAYER` are the metric names the benchmark reports on
every workload (their units as values); `build` also fills the
workload-specific names of README.md (`batch.*`, `stream.*`,
`index.*`, `streaming.*`, `operators.<query>_s`) into the report.
"""
import glob
import json
import os

from analysis import (attribute, driver_gap, jobs_table, match_latency, median,
                      progress_triggers, self_times, tail)

MB = 1048576.0

E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    "core.tables_first_s": "s",
    "core.persisted_rdds_peak": "count",
    "core.storage_mb_peak": "MB",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.files_read": "count",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.unattributed_jobs": "count",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.output_mb": "MB",
    "spark.output_files": "count",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.rows_per_trigger": "count",
    "index.layout_files": "count",
    "index.layout_mb": "MB",
    "index.write_amp": "ratio",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jvm.threads_peak": "count",
    "jvm.peak_rss_mb": "MB",
}


def dur_s(x):
    return (x["end_ms"] - x["start_ms"]) / 1000.0


def in_window(t, op):
    return op["start_ms"] <= t <= op["end_ms"]


def build(raw, oracle, inputs):
    w = raw["workload"]
    ops = [o for o in raw["ops"] if o["start_ms"] >= raw["measure"]["start_ms"]]
    m = {"setup_s": median([dur_s(s) for s in raw["setups"]])}
    rep = {"workload": w, "seed": raw["seed"], "trace": raw["trace"],
           "seconds": raw["seconds"], "nproc": raw["nproc"], "host": raw["host"],
           "confs": raw["confs"], "inputs": inputs, "check": raw["check"],
           "setups_s": [dur_s(s) for s in raw["setups"]],
           "ops_s": [[o["kind"], o["name"], dur_s(o), o["ok"]] for o in ops],
           "info": {k: v for k, v in raw["info"].items()
                    if k not in ("ticks", "recent_progress")}}
    streams = []
    if w == "batch_telemetry":
        attempted, failed = batch(raw, ops, oracle, m, rep)
    elif w == "stream_detect":
        attempted, failed, streams = stream(raw, ops, m, rep)
    else:
        attempted, failed = index(raw, ops, m, rep)
    m["failed_frac"] = failed / attempted if attempted else 1.0
    m["jvm.peak_rss_mb"] = raw["jvm"]["vm_hwm_mb"]
    if raw["trace"]:
        layers(raw, ops, streams, m, rep)
    rep.update(metrics=m, attempted=attempted, failed=failed)
    return rep


def latency(m, rep, values, prefix):
    v, p, n = tail(values)
    m["latency_p50_s"] = median(values)
    m["latency_tail_s"] = v
    m[f"{prefix}_p50_s"] = m["latency_p50_s"]
    m[f"{prefix}_tail_s"] = v
    rep["tail"] = {"percentile": p, "samples": n}


def batch(raw, ops, oracle, m, rep):
    digests = raw["check"]["digests"]
    rep["oracle"] = oracle
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    pass_s = [(max(o["end_ms"] for o in p) - min(o["start_ms"] for o in p)) / 1000.0
              for p in passes.values()]
    m["batch.pass_s"] = median(pass_s)
    latency(m, rep, [dur_s(o) for o in ops], "batch.query")
    m["throughput_per_s"] = len(ops) / sum(pass_s)
    for q in raw["info"]["mix"]:
        m[f"operators.{q}_s"] = median([dur_s(o) for o in ops if o["name"] == q])
    failed = sum(1 for o in ops if not o["ok"] or o.get("digest") != digests.get(o["name"])
                 or (oracle or {}).get(o["name"]) != "PASS")
    return len(ops), failed


def stream(raw, ops, m, rep):
    info = raw["info"]
    names = [q["name"] for q in info["queries"]]
    trig = {n: [] for n in names}
    for n, js in info["recent_progress"].items():
        trig[n] = [(end, off) for _, end, off, _ in progress_triggers(js)]
    ticks = info["ticks"]
    lats = match_latency(ticks, trig)
    done = [l / 1000.0 for l in lats if l is not None]
    latency(m, rep, done, "stream.latency")
    # median over the closed-loop batches, so one slow batch cannot
    # swing a rate taken over only a few of them
    m["stream.events_per_s"] = info["closed_events"] / median([dur_s(o) for o in ops])
    m["throughput_per_s"] = m["stream.events_per_s"]
    m["streaming.generator_late_s"] = max(t["sent_ms"] - t["due_ms"] for t in ticks) / 1000.0
    # events sent but not yet covered by every detector, at each send
    backlog = 0
    for i, t in enumerate(ticks):
        backlog = max(backlog, sum(
            u["events"] for u, l in zip(ticks[:i + 1], lats)
            if l is None or u["due_ms"] + l > t["sent_ms"]))
    m["streaming.backlog_peak_events"] = backlog
    rep["open_loop"] = {"ticks": len(ticks), "tick_ms": info["tick_ms"],
                        "events_per_s": info["tick_events"] * 1000.0 / info["tick_ms"]}
    verdicts = raw["check"]["detectors"]
    n_det = len(names)
    per_det = len(ticks) + len(ops)
    failed = sum(per_det for v in verdicts.values() if not v["ok"])
    failed += sum(1 for l in lats if l is None)
    return per_det * n_det, min(failed, per_det * n_det), progress_triggers(
        raw["progress"] if raw["trace"] else
        [j for js in info["recent_progress"].values() for j in js])


def index(raw, ops, m, rep):
    applies = [o for o in ops if o["kind"] == "apply"]
    probes = [o for o in ops if o["kind"] == "probe"]
    m["index.apply_p50_s"] = median([dur_s(o) for o in applies])
    m["index.probe_p50_s"] = median([dur_s(o) for o in probes])
    latency(m, rep, [dur_s(o) for o in probes[:raw["info"]["latency_samples"]]], "index.probe")
    m["index.ops_per_s"] = len(ops) / sum(dur_s(o) for o in ops)
    m["throughput_per_s"] = m["index.ops_per_s"]
    c = raw["check"]
    lay = c["layout"]
    m["index.layout_files"] = lay["files"]
    m["index.layout_mb"] = lay["bytes"] / MB
    if raw["trace"]:
        m["sources.probe_plan_files"] = lay["probe_plan_files"] / max(1, len(probes))
    failed = sum(1 for o in ops if not o["ok"])
    if probes and probes[-1]["ok"] and not (c["bm25_ok"] and c["ivf_ok"]):
        failed += 1
    return len(ops), failed


def layers(raw, ops, streams, m, rep):
    """Per-layer figures from the traced record: per operation medians,
    plus run totals in rep["split"]."""
    spans = raw["spans"]
    jobs = jobs_table(raw["jobs"])
    owner = attribute(jobs, spans)
    span_op = {s["id"]: s["op"] for s in spans}
    stages = {s["id"]: s for s in raw["stages"]}
    intervals = [(j["start_ms"], j["end_ms"]) for j in jobs]
    w0, w1 = raw["measure"]["start_ms"], raw["measure"]["end_ms"]
    m["spark.unattributed_jobs"] = sum(
        1 for j in jobs if w0 <= j["start_ms"] <= w1 and j["id"] not in owner)
    setup_tables = [dur_s(s) for s in spans if s["name"] == "core.tables"]
    m["core.tables_first_s"] = median(setup_tables)
    per = {k: [] for k in ("jobs", "stages", "tasks", "job_s", "gap", "run", "cpu", "shr",
                           "shw", "skew", "out_b", "out_f", "in_b", "in_r", "files",
                           "plan", "exec")}
    stage_seen = set()
    for o in ops:
        oj = [j for j in jobs if span_op.get(owner.get(j["id"])) == o["id"]]
        st = []
        for j in oj:
            for sid in j.get("stages", []):
                if sid in stages and sid not in stage_seen:
                    stage_seen.add(sid)
                    st.append(stages[sid])
        qs = [q for q in raw["queries"] if in_window(q["end_ms"] - q["exec_ms"], o)]
        tr = [p for _, end, _, p in streams if in_window(end, o)]
        per["jobs"].append(len(oj))
        per["stages"].append(len(st))
        per["tasks"].append(sum(s["tasks"] for s in st))
        gap = driver_gap(o["start_ms"], o["end_ms"], intervals) / 1000.0
        per["gap"].append(gap)
        per["job_s"].append(dur_s(o) - gap)
        per["run"].append(sum(s["run_ms"] for s in st) / 1000.0)
        per["cpu"].append(sum(s["cpu_ns"] for s in st) / 1e9)
        per["shr"].append(sum(s["shuffle_read_bytes"] for s in st) / MB)
        per["shw"].append(sum(s["shuffle_write_bytes"] for s in st) / MB)
        per["skew"].append(max([s["task_ms_max"] / max(1, s["task_ms_median"])
                                for s in st if s["tasks"] > 1] or [1.0]))
        per["out_b"].append(sum(s["output_bytes"] for s in st) / MB)
        per["out_f"].append(sum(q["files_written"] for q in qs))
        per["in_b"].append(sum(s["input_bytes"] for s in st) / MB)
        per["in_r"].append(sum(s["input_rows"] for s in st))
        per["files"].append(sum(q["files_read"] for q in qs))
        if tr:
            per["plan"].append(sum(p["durationMs"].get("queryPlanning", 0) for p in tr) / 1000.0)
            per["exec"].append(sum(p["durationMs"].get("addBatch", 0) for p in tr) / 1000.0)
        else:
            per["plan"].append(sum(q["plan_ms"] for q in qs) / 1000.0)
            per["exec"].append(sum(q["exec_ms"] for q in qs) / 1000.0)
    names = {"jobs": "spark.jobs", "stages": "spark.stages", "tasks": "spark.tasks",
             "job_s": "spark.job_s", "gap": "spark.driver_gap_s",
             "run": "spark.executor_run_s", "cpu": "spark.executor_cpu_s",
             "shr": "spark.shuffle_read_mb", "shw": "spark.shuffle_write_mb",
             "skew": "spark.task_skew", "out_b": "spark.output_mb",
             "out_f": "spark.output_files", "in_b": "sources.input_mb",
             "in_r": "sources.input_rows", "files": "sources.files_read",
             "plan": "operators.plan_s", "exec": "operators.exec_s"}
    for k, n in names.items():
        m[n] = median(per[k])
    samples = raw["samples"]
    m["core.persisted_rdds_peak"] = max([s["persisted_rdds"] for s in samples] or [0])
    m["core.storage_mb_peak"] = max([s["storage_mb"] for s in samples] or [0.0])
    m["jvm.gc_s"] = raw["jvm"]["gc_ms"] / 1000.0
    m["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
    m["jvm.threads_peak"] = raw["jvm"]["threads_peak"]
    # span self time per layer, summed over the measured operations
    st = self_times(spans)
    layer_self = {}
    op_ids = {o["id"] for o in ops}
    for s in spans:
        if s["op"] in op_ids:
            layer_self[s["name"]] = layer_self.get(s["name"], 0.0) + st[s["id"]] / 1000.0
    for name in ("operators.bm25_probe", "operators.ivf_probe",
                 "streaming.bm25_apply", "streaming.ivf_apply"):
        xs = [dur_s(s) for s in spans if s["name"] == name and s["op"] in op_ids]
        if xs:
            m[name + "_s"] = median(xs)
    for name in ("operators.bm25_build", "operators.ivf_build"):
        xs = [dur_s(s) for s in spans if s["name"] == name]
        if xs:
            m[name + "_s"] = median(xs)
    rep["self_time_s"] = layer_self
    trig = [p for _, _, _, p in streams]
    for key, n in (("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                   ("queryPlanning", "query_planning_s"), ("latestOffset", "latest_offset_s"),
                   ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s")):
        if trig:
            m[f"streaming.{n}"] = median([p["durationMs"].get(key, 0) / 1000.0 for p in trig])
    last = {}
    for p in trig:
        last[p["name"]] = p
    m["streaming.state_rows"] = sum(sum(s.get("numRowsTotal", 0) for s in p["stateOperators"])
                                    for p in last.values())
    m["streaming.state_mb"] = sum(sum(s.get("memoryUsedBytes", 0) for s in p["stateOperators"])
                                  for p in last.values()) / MB
    if trig:
        m["streaming.state_commit_s"] = median([sum(s.get("commitTimeMs", 0)
                                                    for s in p["stateOperators"]) / 1000.0
                                                for p in trig])
    m["streaming.rows_per_trigger"] = median([p["numInputRows"] for p in trig]) if trig else 0
    lay = raw["check"].get("layout", {})
    applies = [o for o in ops if o["kind"] == "apply"]
    written = sum(per["out_b"][i] for i, o in enumerate(ops) if o["kind"] == "apply") * MB
    m["index.write_amp"] = written / lay["user_bytes"] if lay.get("user_bytes") else 0.0
    m.setdefault("index.layout_files", 0)
    m.setdefault("index.layout_mb", 0.0)
    rep["split"] = {
        "ops": len(ops), "applies": len(applies),
        "job_s": sum(per["job_s"]), "driver_gap_s": sum(per["gap"]),
        "executor_run_s": sum(per["run"]), "executor_cpu_s": sum(per["cpu"]),
        "trigger_overhead_s": sum((p["durationMs"].get("triggerExecution", 0)
                                   - p["durationMs"].get("addBatch", 0)) / 1000.0
                                  for _, end, _, p in streams
                                  if any(in_window(end, o) for o in ops)),
    }
    rep["tracing_overhead"] = overhead(raw, m)


def overhead(raw, m):
    """Traced end-to-end values against those of the latest untraced
    result of the same workload in results/."""
    files = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "results", f"{raw['workload']}-*-trace0-*.json")),
                   key=os.path.getmtime)
    if not files:
        return None
    with open(files[-1]) as f:
        base = json.load(f)["metrics"]
    return {k: {"traced": m[k], "untraced": base[k], "ratio": m[k] / base[k] if base[k] else None}
            for k in E2E if k in base and k in m}


def print_summary(rep, path):
    m = rep["metrics"]
    units = {**E2E, **PER_LAYER}
    print(f"workload {rep['workload']} seed {rep['seed']} trace {rep['trace']} "
          f"nproc {rep['nproc']} load {rep['host']['load_before']} -> {rep['host']['load_after']}")
    for k in sorted(m):
        u = units.get(k) or ("s" if k.endswith("_s") else "MB" if k.endswith("_mb") else
                             "1/s" if k.endswith("_per_s") else "")
        print(f"  {k:34s} {m[k]:.6g} {u}")
    if "tail" in rep:
        print(f"  tail percentile p{rep['tail']['percentile']} of {rep['tail']['samples']} samples")
    print("  phases " + " ".join(f"{k}={v:.1f}s" for k, v in rep.get("phases_s", {}).items()))
    print(f"  correct {rep['failed'] == 0}: {rep['failed']} failed of {rep['attempted']}")
    print(f"  report {path}")
