"""Turn one run's raw record (written by graft.perfbench.Main) into metrics.

Pure functions over plain data, so the rules are testable without Spark:
the tail-percentile rule, interval unions, span self time, driver gap,
and matching stream ticks to the triggers that cover their offsets.
"""
import bisect
import json
import math
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n):
    """Highest whole percentile whose nearest rank leaves at least
    TAIL_BEYOND of n samples beyond it; None when n is too small."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= TAIL_BEYOND:
            return p
    return None


def tail(values):
    """(value, percentile, sample count) for the tail rule."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values) if values else 0.0, 100, len(values)
    return nearest_rank(values, p), p, len(values)


def union_length(intervals):
    """Total length covered by the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if e > start and s < end]


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(sp["id"], [])]
        covered = union_length(clip(kids, sp["start_ms"], sp["end_ms"]))
        out[sp["id"]] = sp["end_ms"] - sp["start_ms"] - covered
    return out


def driver_gap(op_start, op_end, job_intervals):
    """Operation wall time not covered by any running job."""
    return (op_end - op_start) - union_length(
        clip(job_intervals, op_start, op_end))


def match_latency(ticks, triggers):
    """Per tick, time from its due time to the end of the last
    detector's first trigger whose end offset covers the tick's offset.

    ticks: [{"due_ms", "offset"}]; triggers: {detector: [(end_ms,
    end_offset)]}. A tick no detector trigger covers gets None.
    """
    ordered = {}
    for d, trs in triggers.items():
        trs = sorted(trs)
        # best covered offset so far, per trigger end time
        ends, covered, best = [], [], -1
        for end_ms, off in trs:
            best = max(best, off)
            ends.append(end_ms)
            covered.append(best)
        ordered[d] = (ends, covered)
    out = []
    for t in ticks:
        worst = None
        for d, (ends, covered) in ordered.items():
            i = bisect.bisect_left(covered, t["offset"])
            if i == len(covered):
                worst = None
                break
            lat = ends[i] - t["due_ms"]
            worst = lat if worst is None else max(worst, lat)
        out.append(worst)
    return out


def jobs_table(events):
    """Pair the listener's job start/end events by job id."""
    jobs = {}
    for e in events:
        j = jobs.setdefault(e["id"], {"id": e["id"]})
        if e["event"] == "start":
            j.update(start_ms=e["time_ms"], group=e.get("group"),
                     stages=e.get("stages", []))
        else:
            j.update(end_ms=e["time_ms"], ok=e.get("ok", True))
    return [j for j in jobs.values() if "start_ms" in j and "end_ms" in j]


def attribute(jobs, spans):
    """{job id: span id}: the span named by the job's group when the job
    started inside it, else the innermost span covering its start.
    Jobs that match neither are left out (unattributed)."""
    by_id = {sp["id"]: sp for sp in spans}
    out = {}
    for j in jobs:
        g = j.get("group") or ""
        sp = by_id.get(int(g[5:])) if g.startswith("span-") and g[5:].isdigit() else None
        if sp and sp["start_ms"] - 1 <= j["start_ms"] <= sp["end_ms"] + 1:
            out[j["id"]] = sp["id"]
            continue
        inner = [s for s in spans if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
        if inner:
            out[j["id"]] = max(inner, key=lambda s: s["start_ms"])["id"]
    return out


def progress_triggers(progress_json):
    """[(query name, end_ms, end_offset, progress dict)] from
    StreamingQueryProgress JSON strings; idle triggers are skipped."""
    from datetime import datetime, timezone
    out = []
    for js in progress_json:
        p = json.loads(js)
        if not p.get("sources") or p.get("numInputRows", 0) == 0:
            continue
        ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = ts.replace(tzinfo=timezone.utc).timestamp() * 1000.0
        end = start + p["durationMs"].get("triggerExecution", 0)
        off = int(p["sources"][0]["endOffset"])
        out.append((p.get("name"), end, off, p))
    return out
