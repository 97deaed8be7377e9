#!/usr/bin/env python3
"""Run one perfbench workload against the engine built from this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine (src/main/scala) and the benchmark (perfbench/src) with
scalac on first use, times set-up in three fresh JVMs, runs the workload in
one JVM on local[nproc], checks its outputs, and prints the metrics: one
line per metric with its unit, then a JSON object as the last line. Exits
nonzero when the build fails, an operation fails or a check fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("weekly_roster", "fuzzy_backlog", "index_churn", "curation_report")
SETUP_SAMPLES = 3
HEAP = "3g"

# end-to-end metric -> unit
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "batch_p50_s": "s",
    "probe_p50_s": "s",
    "maint_s": "s",
    "stored_bytes_per_row": "B",
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, $SPARK_HOME/jars, or the
    `unmanagedBase` the repository's build.sbt names."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_JARS or SPARK_HOME)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: missing source tree {os.path.relpath(r, ROOT)}")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def java_base(jars, workload=False):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the workload JVM gets a fixed, pre-touched heap: growing it page by
    # page mid-run puts multi-second pauses into whichever operation
    # triggers the growth. Set-up JVMs get neither, so set-up time does not
    # include zeroing the heap.
    heap = [f"-Xms{HEAP}", "-XX:+AlwaysPreTouch"] if workload else []
    return ["java", "-XX:+UseParallelGC", f"-Xmx{HEAP}"] + heap + [
            "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            ] + opens + ["-cp", f"{os.path.join(BUILD, 'app.jar')}:{jars}/*"]


def build(jars):
    """Compile engine + benchmark into .build/app.jar and dump a class-data
    archive for it; skipped when the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    h.update(open(__file__, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    t0 = time.monotonic()
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    scala = [os.path.join(jars, f) for f in sorted(os.listdir(jars))
             if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", f)]
    if len(scala) != 3:
        raise SystemExit("perfbench: scala 2.13 compiler jars not found beside Spark")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(scala), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", classes, "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    subprocess.run(["jar", "cf", os.path.join(BUILD, "app.jar"), "-C", classes, "."],
                   check=True)
    # a class-data archive of everything set-up loads (dumped at exit)
    work = os.path.join(BUILD, "cds-work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_base(jars)
    cmd[1:1] = [f"-XX:ArchiveClassesAtExit={os.path.join(BUILD, 'app.jsa')}",
                f"-Djava.io.tmpdir={work}/tmp"]
    subprocess.run(cmd + ["perfbench.Setup", "1", work], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.monotonic() - t0:.1f}s")


def launch(cmd, log_path):
    """Start a JVM; return (process, seconds from spawn to its READY line)."""
    t0 = time.monotonic()
    err = open(log_path, "ab")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
    ready = None
    for line in p.stdout:
        if line.strip() == "PERFBENCH_READY":
            ready = time.monotonic() - t0
            break
    return p, ready


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    os.makedirs(OUT, exist_ok=True)
    rec, setup = run_once(a, jars, trace=a.trace)
    if not a.trace:
        record_history(a.workload, rec)
    print(report(a, rec, setup))


def run_once(a, jars, trace):
    """Time set-up in SETUP_SAMPLES set-up-only JVMs, then run the workload
    in one more JVM; returns (record, set-up seconds)."""
    n = cores()
    run_id = f"{a.workload}-s{a.seed}-t{trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    err_log = os.path.join(OUT, f"{run_id}.log")
    shared = [f"-XX:SharedArchiveFile={os.path.join(BUILD, 'app.jsa')}",
              "-Xshare:auto", f"-Djava.io.tmpdir={work}/tmp"]
    base = java_base(jars)
    base[1:1] = shared
    wbase = java_base(jars, workload=True)
    wbase[1:1] = shared
    try:
        setup = []
        for _ in range(SETUP_SAMPLES):
            p, ready = launch(base + ["perfbench.Setup", str(n), f"{work}/setup"], err_log)
            p.wait()
            if ready is None or p.returncode != 0:
                raise SystemExit(f"perfbench: set-up failed, see {err_log}")
            setup.append(ready)
        record_path = os.path.join(work, "record.json")
        spans_path = os.path.join(OUT, f"{run_id}.spans.json")
        p, ready = launch(wbase + [
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(trace), "--cores", str(n),
            "--dir", work, "--record", record_path, "--spans", spans_path,
            "--run_id", run_id], err_log)
        if ready is None:
            p.wait()
            raise SystemExit(f"perfbench: workload JVM did not start, see {err_log}")
        workload_ready = ready
        for _ in p.stdout:
            pass
        if p.wait() != 0 or not os.path.exists(record_path):
            raise SystemExit(f"perfbench: workload JVM failed ({p.returncode}), see {err_log}")
        rec = json.load(open(record_path))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["setup_samples_s"] = setup
    rec["workload_jvm_ready_s"] = workload_ready
    rec["run_id"] = run_id
    with open(os.path.join(OUT, f"{run_id}.record.json"), "w") as f:
        json.dump(rec, f, indent=1)
    return rec, setup


HISTORY = os.path.join(OUT, "history.jsonl")


def record_history(workload, rec):
    with open(HISTORY, "a") as f:
        f.write(json.dumps({"workload": workload, "run_s": rec["run_s"]}) + "\n")


def untraced_run_s(workload):
    if not os.path.exists(HISTORY):
        return []
    rows = [json.loads(x) for x in open(HISTORY) if x.strip()]
    return [r["run_s"] for r in rows if r["workload"] == workload]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def report(a, rec, setup):
    samples = rec["samples"]
    e2e = {
        "setup_s": median(setup),
        "run_s": rec["run_s"],
        "batch_p50_s": median(samples.get("batch_s", [])),
        "probe_p50_s": median(samples.get("probe_s", [])),
        "maint_s": rec["scalars"]["maint_s"],
        "stored_bytes_per_row": rec["scalars"]["stored_bytes_per_row"],
    }
    attempted, failed = rec["attempted"], rec["failed"]
    lines = [f"workload {a.workload} seed {a.seed} master {rec['env']['master']} "
             f"cores {rec['env']['cores']} spark {rec['env']['spark_version']}"]
    for k, v in e2e.items():
        lines.append(f"{k:22s} {v:.6g} {END_TO_END[k]}")
    lines.append(f"{'failed_ratio':22s} {failed / max(attempted, 1):.6g} 1 "
                 f"({failed} of {attempted} operations and checks)")
    for c in rec["checks"]:
        lines.append(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + c['detail']}")
    if a.trace == 0:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        layers = dict(rec.get("layers", {}))
        layers["trace.run_s"] = rec["run_s"]
        untraced = untraced_run_s(a.workload)
        if untraced:
            lines.append(f"{'trace overhead':22s} {rec['run_s'] - median(untraced):.6g} s "
                         f"(traced run_s - median of {len(untraced)} untraced runs here)")
        names = per_layer_names(a.workload, layers)
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                   for name, unit in names.items()}
        lines += [f"{k:60s} {m['value']:.6g} {m['unit']}" for k, m in metrics.items()]
    ok = failed == 0 and all(c["ok"] for c in rec["checks"])
    lines.append(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                             "metrics": metrics}))
    if not ok:
        print("\n".join(lines))
        sys.exit(1)
    return "\n".join(lines)


def per_layer_names(workload, layers):
    """BENCHMARK.json's per-layer names for a gated workload; every recorded
    key for the others."""
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if workload in [w["name"] for w in bench["workloads"]]:
        return {m["name"]: m["unit"] for m in bench["per_layer"]}
    return {k: unit_of(k) for k in sorted(layers)}


def unit_of(name):
    metric = name.rsplit(".", 1)[-1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes") or metric == "bytes_written":
        return "B"
    if metric.endswith(("_ratio", "_amp", "_yield", "_recall")):
        return "1"
    return "count"


if __name__ == "__main__":
    main()
