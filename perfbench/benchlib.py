"""Everything the benchmark computes on the Python side: the workload
table, the output check, the metrics and spans derived from the raw record
the benchmark's JVM writes, and the run record."""
import hashlib
import json
import os
import statistics
from pathlib import Path

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"
REFS = HERE / "refs"

# Each workload is a set of whole query-registry modules of the program at
# one fixture scale (copies of the read-only fixtures live under data/).
# Only the first two fit the benchmark's run budget; see README.md.
WORKLOADS = {
    # short extraction queries: per-query fixed cost in Catalyst and jobs
    "extraction": {"modules": ["Extraction"], "scale": "sf0.01"},
    # checkpointed micro-batch streams: per-batch state, WAL and offset
    # commits, stream start and stop
    "daily_stream": {"modules": ["StreamingQ"], "scale": "sf0.01"},
    # the reference pipeline's surface: KB search scan, extraction, manifest
    # explode, JP2 decode, verified sinks and graph builds
    "etl_batch": {"modules": ["Extraction", "Sources", "Nested"], "scale": "sf0.1"},
    # dedup, similarity search, clustering: native expressions, shuffles and
    # multi-job iterative builds
    "llm_curation": {"modules": ["Llm"], "scale": "sf0.1"},
}
PROBE_SCALE = "sf0.1"

# End-to-end metrics and their units; see BENCHMARK.json for the bounds of
# the ones the benchmark gates on.
E2E_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "batch_p50_ms": "ms", "batch_tail_ms": "ms",
    "cpu_s": "s", "peak_rss_mb": "MB", "tmp_mb_left": "MB", "failed_frac": "1",
}

PER_LAYER_UNITS = {
    "engine.session_s": "s", "engine.stage_s": "s",
    "queries.build_s": "s", "queries.exec_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.executions": "count",
    "exec.jobs": "count", "exec.tasks": "count", "exec.job_s": "s",
    "exec.driver_gap_s": "s", "exec.slot_use": "1", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.deserialize_s": "s", "exec.fetch_wait_s": "s",
    "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.output_mb": "MB", "exec.failed_tasks": "count",
    "sources.scan_rows": "count", "jp2.decode_mpix_per_s": "Mpx/s",
    "jp2.reduced_mpix_per_s": "Mpx/s",
    "functions.minhash_ns_per_row": "ns", "functions.cosine_ns_per_row": "ns",
    "functions.char_stats_ns_per_row": "ns", "functions.unaccent_ns_per_row": "ns",
    "sinks.append_s": "s", "sinks.written_ratio": "1", "sinks.files_written": "count",
    "sinks.mb_written": "MB",
    "stream.starts": "count", "stream.batches": "count",
    "stream.empty_batch_ratio": "1", "stream.lifecycle_s": "s",
    "stream.add_batch_s": "s", "stream.planning_s": "s", "stream.offsets_s": "s",
    "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s",
    "stream.state_commit_s": "s", "stream.state_rows": "count",
    "stream.batch_p50_ms": "ms", "stream.batch_tail_ms": "ms",
    "tmp_mb_left": "MB", "trace.overhead_frac": "1",
}


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_index(n, beyond=10):
    """Index into n ascending samples of the highest percentile that has at
    least `beyond` samples above it, but never below the median."""
    return max(n - 1 - beyond, n // 2)


def tail(xs, beyond=10):
    """(percentile, value) of the tail sample chosen by `tail_index`."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    i = tail_index(len(s), beyond)
    return 100.0 * (i + 1) / len(s), s[i]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_gap(window, job_intervals):
    """Time in `window` during which no job of it was running."""
    lo, hi = window
    return (hi - lo) - union_length(clip(job_intervals, lo, hi))


def self_times(spans):
    """Per span kind, the summed span time not covered by its children."""
    children = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered = union_length(clip(children.get(sp["id"], []), sp["start"], sp["end"]))
        out[sp["kind"]] = out.get(sp["kind"], 0.0) + (sp["end"] - sp["start"]) - covered
    return out


# -------------------------------------------------------------- output check

def check_result(q, ref):
    """None when a query execution's result matches its reference, else why
    it does not. The JVM fingerprints each result (graft.perfbench.Canon);
    references hold the oracle's fingerprint, or for a rows-only query its
    row count or, where the register documents a varying count, a range."""
    if q["error"] is not None:
        return "error: " + q["error"]
    if ref is None:
        return "no reference result"
    if "sha256" in ref:
        if q["sha256"] == ref["sha256"]:
            return None
        return f"result differs from the oracle ({q['rows']} rows, oracle {ref['rows']})"
    if "rows_max" in ref:
        if ref["rows_min"] <= q["rows"] <= ref["rows_max"]:
            return None
        return f"{q['rows']} rows, outside [{ref['rows_min']}, {ref['rows_max']}]"
    return None if q["rows"] == ref["rows"] else f"{q['rows']} rows, expected {ref['rows']}"


def load_refs(scale):
    path = REFS / f"{scale}.json"
    return json.loads(path.read_text()) if path.exists() else {}


# ------------------------------------------------------------------- metrics

def first_pass(raw):
    return raw["passes"][0]


def in_window(t, window):
    return window[0] <= t <= window[1]


def end_to_end(raw, failed, attempted):
    p1 = first_pass(raw)
    lat = [(q["end"] - q["start"]) / 1e3 for q in p1["queries"]]
    pct, tail_s = tail(lat)
    m = {
        "setup_s": raw["setup"]["first_s"],
        "first_pass_s": sum(lat),
        "query_p50_s": median(lat),
        "query_tail_s": tail_s,
        "cpu_s": p1["cpu_s"],
        "peak_rss_mb": raw["peak_rss_mb"],
        "tmp_mb_left": raw["tmp_bytes_left"] / 1e6,
        "failed_frac": failed / attempted if attempted else 0.0,
    }
    warm = [sum(q["end"] - q["start"] for q in p["queries"]) / 1e3 for p in raw["passes"][1:]]
    if warm:
        m["pass_s"] = median(warm)
    window = (p1["start"], p1["end"])
    batches = [b["trigger_ms"] for b in raw["streams"]
               if b["kind"] == "batch" and in_window(b["at"], window)]
    notes = {"query_tail_pct": pct, "query_samples": len(lat)}
    if batches:
        bpct, btail = tail(batches)
        m["batch_p50_ms"] = median(batches)
        m["batch_tail_ms"] = btail
        notes.update(batch_tail_pct=bpct, batch_samples=len(batches))
    return m, notes


def query_windows(raw):
    """(query name, start, built, end) of every first-pass execution."""
    return [(q["query"], q["start"], q["built"], q["end"]) for q in first_pass(raw)["queries"]]


def owner_of(t, windows):
    for w in windows:
        if w[1] <= t <= w[3]:
            return w
    return None


def stream_runs(raw, windows):
    """Per stream run id: query window, start, end and its batches."""
    runs = {}
    for ev in raw["streams"]:
        r = runs.setdefault(ev["run"], {"start": None, "end": None, "batches": []})
        if ev["kind"] == "start":
            r["start"] = ev["at"]
        elif ev["kind"] == "end":
            r["end"] = ev["at"]
        else:
            r["batches"].append(ev)
    out = {}
    for run, r in runs.items():
        first = r["start"] if r["start"] is not None else min(
            (b["at"] for b in r["batches"]), default=None)
        w = owner_of(first, windows) if first is not None else None
        if w is None:
            continue
        last_batch = max((b["at"] + b["trigger_ms"] for b in r["batches"]), default=first)
        end = r["end"] if r["end"] is not None else last_batch
        out[run] = {"query": w, "start": first, "end": min(max(end, last_batch), w[3]),
                    "batches": sorted(r["batches"], key=lambda b: b["at"])}
    return out


def job_owner(job, windows, streams):
    if job["group"] in streams:
        return streams[job["group"]]["query"]
    for w in windows:
        if job["group"] == w[0] and w[1] <= job["start"] <= w[3]:
            return w
    return owner_of(job["start"], windows)


def per_layer(raw, cores):
    """Per-layer metrics of the first pass of a traced run."""
    windows = query_windows(raw)
    streams = stream_runs(raw, windows)
    jobs = [(j, job_owner(j, windows, streams)) for j in raw["jobs"] if j["end"] >= 0]
    jobs = [(j, w) for j, w in jobs if w is not None]
    job_s = 0.0
    gap_s = 0.0
    for w in windows:
        ivs = [(j["start"], j["end"]) for j, o in jobs if o is w]
        job_s += union_length(clip(ivs, w[1], w[3])) / 1e3
        gap_s += driver_gap((w[1], w[3]), ivs) / 1e3

    def jsum(k):
        return sum(j[k] for j, _ in jobs)
    p1 = first_pass(raw)
    execs = [e for e in raw["executions"] if in_window(e["end"], (p1["start"], p1["end"]))]
    batches = [b for s in streams.values() for b in s["batches"]]
    batch_ms = [b["trigger_ms"] for b in batches]
    setup = raw["setup"]
    m = {
        "engine.session_s": setup["session_s"],
        "engine.stage_s": setup["stage_s"],
        "queries.build_s": sum(w[2] - w[1] for w in windows) / 1e3,
        "queries.exec_s": sum(w[3] - w[2] for w in windows) / 1e3,
        "catalyst.analysis_s": sum(e["analysis_s"] for e in execs)
        + sum(q["analysis_s"] for q in p1["queries"]),
        "catalyst.optimization_s": sum(e["optimization_s"] for e in execs),
        "catalyst.planning_s": sum(e["planning_s"] for e in execs),
        "catalyst.executions": len(execs),
        "exec.jobs": len(jobs),
        "exec.tasks": jsum("tasks"),
        "exec.job_s": job_s,
        "exec.driver_gap_s": gap_s,
        "exec.slot_use": jsum("task_s") / (job_s * cores) if job_s > 0 else 0.0,
        "exec.task_cpu_s": jsum("task_cpu_s"),
        "exec.gc_s": jsum("gc_s"),
        "exec.deserialize_s": jsum("deserialize_s"),
        "exec.fetch_wait_s": jsum("fetch_wait_s"),
        "exec.input_mb": jsum("input_bytes") / 1e6,
        "exec.shuffle_write_mb": jsum("shuffle_write_bytes") / 1e6,
        "exec.spill_mb": jsum("spill_bytes") / 1e6,
        "exec.output_mb": jsum("output_bytes") / 1e6,
        "exec.failed_tasks": jsum("failed_tasks"),
        "sources.scan_rows": sum(e["scan_rows"] for e in execs),
        "stream.starts": len(streams),
        "stream.batches": len(batches),
        "stream.empty_batch_ratio":
            sum(1 for b in batches if b["rows"] == 0) / len(batches) if batches else 0.0,
        "stream.lifecycle_s":
            sum(s["end"] - s["start"] for s in streams.values()) / 1e3 - sum(batch_ms) / 1e3,
        "stream.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
        "stream.planning_s": sum(b["planning_ms"] for b in batches) / 1e3,
        "stream.offsets_s": sum(b["offsets_ms"] for b in batches) / 1e3,
        "stream.wal_commit_s": sum(b["wal_commit_ms"] for b in batches) / 1e3,
        "stream.commit_offsets_s": sum(b["commit_offsets_ms"] for b in batches) / 1e3,
        "stream.state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1e3,
        "stream.state_rows": sum(s["batches"][-1]["state_rows"] for s in streams.values()
                                 if s["batches"]),
        "stream.batch_p50_ms": median(batch_ms),
        "stream.batch_tail_ms": tail(batch_ms)[1],
        "tmp_mb_left": raw["tmp_bytes_left"] / 1e6,
    }
    m.update(raw["probes"])
    return {k: int(v) if PER_LAYER_UNITS.get(k) == "count" else v for k, v in m.items()}


def spans(raw):
    """Spans of the first pass: run > pass > query > build/execute > job, and
    build > stream > micro-batch > job. Every span of a query carries the
    query's id; times are epoch milliseconds."""
    windows = query_windows(raw)
    streams = stream_runs(raw, windows)
    p1 = first_pass(raw)
    out = []

    def add(kind, name, start, end, parent, query=None):
        sid = len(out)
        out.append({"id": sid, "kind": kind, "name": name, "start": start,
                    "end": max(start, end), "parent": parent, "query": query})
        return sid
    run = add("run", "run", p1["start"], raw["passes"][-1]["end"], None)
    pass_id = add("pass", "pass 1", p1["start"], p1["end"], run)
    phase_of = {}
    for i, w in enumerate(windows):
        qid = f"p1.{i}.{w[0]}"
        q = add("query", w[0], w[1], w[3], pass_id, qid)
        phase_of[w] = (qid, add("build", "build", w[1], w[2], q, qid),
                       add("execute", "execute", w[2], w[3], q, qid))
    batch_spans = {}
    for run_id, s in streams.items():
        qid, b, e = phase_of[s["query"]]
        parent = b if s["start"] <= s["query"][2] else e
        st = add("stream", run_id, s["start"], s["end"], parent, qid)
        for bt in s["batches"]:
            batch_spans.setdefault(run_id, []).append(
                (bt["at"], bt["at"] + bt["trigger_ms"],
                 add("batch", f"batch {bt['batch']}", bt["at"], bt["at"] + bt["trigger_ms"], st, qid)))
    for j in raw["jobs"]:
        w = job_owner(j, windows, streams)
        if w is None or j["end"] < 0:
            continue
        qid, b, e = phase_of[w]
        parent = b if j["start"] <= w[2] else e
        for s, t, sid in batch_spans.get(j["group"], []):
            if s <= j["start"] <= t:
                parent = sid
        add("job", f"job {j['id']}", j["start"], j["end"], parent, qid)
    return out


def plan_digests(raw):
    """Per query, a digest of the normalized physical plans it executed."""
    windows = query_windows(raw)
    by_query = {}
    for e in sorted(raw["executions"], key=lambda e: e["end"]):
        w = owner_of(e["end"], windows)
        if w is not None:
            by_query.setdefault(w[0], []).append(e["plan"])
    return {q: hashlib.sha256("\n".join(ps).encode()).hexdigest()[:16]
            for q, ps in sorted(by_query.items())}


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return []


def cores():
    return len(os.sched_getaffinity(0))
