#!/usr/bin/env python3
"""One benchmark run: build the program from this checkout, run one
workload in a fresh JVM, check every output, write the run record and
print the result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds N --trace 0|1
        [--scale sfX]   run the workload on another fixture scale (tests)

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1). The full record, with the run envelope,
per-query times and, when traced, spans, self times and plan digests, is
written under .bench_records/<workload>/ in the checkout; its path is
printed on the line before. Each run keeps its temp files, Spark local
dirs, warehouse and checkpoints under .bench_run/ and deletes them at the
end, after counting what the program left there.
"""
import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import build  # noqa: E402

ROOT = build.ROOT
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def benchmark_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def commit():
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def java_options():
    """JVM flags of every benchmark JVM: the module opens Spark needs on JDK
    17, and no perf-data file (it would be written to /tmp/hsperfdata_*)."""
    return ["-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]


def java(classes, run_dir, modules, data, args, timeout):
    """Runs the benchmark JVM with its temp roots under run_dir."""
    for d in ("tmp", "local", "warehouse", "checkpoints"):
        (run_dir / d).mkdir(parents=True)
    cmd = ["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC"] + java_options()
    cmd += [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dspark.sql.streaming.checkpointLocation={run_dir / 'checkpoints'}",
            "-Dspark.ui.enabled=false",
            "-cp", build.classpath(classes), "graft.perfbench.Harness",
            "--modules", ",".join(modules), "--data", str(data), "--root", str(run_dir),
            "--cpus", str(benchlib.cores())] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, cwd=run_dir, env=env, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({code})")


def run_jvm(classes, modules, scale, run_dir, seed, seconds, trace, only=()):
    """One measured run; returns the raw record the JVM wrote."""
    extra = ["--only", ",".join(only)] if only else []
    java(classes, run_dir, modules, benchlib.DATA / scale,
         ["--probe-data", str(benchlib.DATA / benchlib.PROBE_SCALE), "--seed", str(seed),
          "--seconds", str(seconds), "--trace", str(trace)] + extra,
         timeout=max(170, seconds + 160))
    return json.loads((run_dir / "raw.json").read_text())


def check_outputs(raw, refs):
    """Per (pass, query) execution, None or why its result is wrong."""
    return {(p["pass"], q["query"]): benchlib.check_result(q, refs.get(q["query"]))
            for p in raw["passes"] for q in p["queries"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(benchlib.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", help="fixture scale to run instead of the workload's own")
    a = ap.parse_args()

    spec = benchmark_spec()
    classes = build.build()
    workload = benchlib.WORKLOADS[a.workload]
    scale = a.scale or workload["scale"]
    refs = benchlib.load_refs(scale)
    run_dir = ROOT / ".bench_run" / f"{a.workload}-s{a.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    started = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    load_before = benchlib.loadavg()
    try:
        raw = run_jvm(classes, workload["modules"], scale, run_dir, a.seed, a.seconds, a.trace)
        checks = check_outputs(raw, refs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if run_dir.parent.exists() and not any(run_dir.parent.iterdir()):
            run_dir.parent.rmdir()
    load_after = benchlib.loadavg()

    attempted = len(checks)
    failures = {f"p{k[0]}:{k[1]}": v for k, v in sorted(checks.items()) if v is not None}
    e2e, notes = benchlib.end_to_end(raw, len(failures), attempted)
    record = {
        "envelope": {
            "commit": commit(), "source_key": classes.parent.name.split("-", 1)[1],
            "workload": a.workload, "modules": workload["modules"], "scale": scale,
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "started": started, "nproc": benchlib.cores(), "cpus": raw["cpus"],
            "loadavg_before": load_before, "loadavg_after": load_after,
            "java": raw["java_version"], "spark": raw["spark_version"],
            "heap": HEAP, "heap_max_mb": raw["heap_max_mb"],
        },
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "failures": failures,
        "end_to_end": e2e, "notes": notes,
        "queries": [{"pass": p["pass"], "query": q["query"],
                     "build_s": (q["built"] - q["start"]) / 1e3,
                     "exec_s": (q["end"] - q["built"]) / 1e3}
                    for p in raw["passes"] for q in p["queries"]],
    }
    names = [m["name"] for m in spec["end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if a.trace:
        span_list = benchlib.spans(raw)
        record["per_layer"] = benchlib.per_layer(raw, raw["cpus"])
        record["self_time_s"] = {k: v / 1e3 for k, v in benchlib.self_times(span_list).items()}
        record["plan_digests"] = benchlib.plan_digests(raw)
        record["spans"] = span_list
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = record["per_layer"]
    else:
        values = e2e

    rec_dir = ROOT / ".bench_records" / a.workload
    rec_dir.mkdir(parents=True, exist_ok=True)
    stamp = started.replace(":", "").replace("+0000", "Z")
    rec_path = rec_dir / f"{stamp}-s{a.seed}-t{a.trace}-{os.getpid()}.json"
    rec_path.write_text(json.dumps(record, indent=1))
    for k, v in failures.items():
        print(f"FAILED {k}: {v}", file=sys.stderr)
    print(f"record: {rec_path}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))


if __name__ == "__main__":
    main()
