#!/usr/bin/env python3
"""Benchmark of the graft TRACE pipeline and its snapshot lake.

One run of one workload:

    python3 perfbench/run.py --workload trace_batch --seed 1 --seconds 5 --trace 0

builds the program and the harness from source on first use (sbt, in
perfbench/), runs the workload in one JVM with Spark at local[nproc],
checks every answer, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. The lines before it give the host conditions, the
per-operation metrics of the workload and any failed check. The exit
code is 0 only when every check passed.

    python3 perfbench/run.py --all --seed 1 --seconds 5

runs every workload untraced and traced, prints every metric with its
unit, the tracing overhead, and exits non-zero if any check failed.
Add `--size tiny` for a quick run at toy sizes (the self-test uses it).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ["trace_batch", "lake_read", "lake_write"]
JVM_TIMEOUT_S = 140
ORACLE_TIMEOUT_S = 30

# per-operation metrics each workload reports besides the end-to-end set
DETAIL_UNITS = {
    "panel_s": "s", "stage1_s": "s", "trades_per_s": "1/s",
    "scan_p50_ms": "ms", "scan_tail_ms": "ms", "travel_p50_ms": "ms",
    "fullscan_p50_ms": "ms", "heap_mb": "MB", "append_p50_ms": "ms",
    "merge_p50_ms": "ms", "delete_p50_ms": "ms", "maint_p50_ms": "ms",
    "raw_p50_ms": "ms", "space_amp": "ratio",
}


def log(msg):
    print(msg, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile the program and the harness unless their sources are
    unchanged since the last build; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the program's sources (src/main/scala/graft) are missing")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log("perfbench: building program and harness (sbt)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    # class-data sharing maps only classes from jars, so the compiled
    # class directories are packed into jars
    entries = []
    for i, e in enumerate(cp[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(BUILD, f"classes{i}.jar")
            shutil.make_archive(jar[:-len(".jar")], "zip", e)
            os.replace(jar[:-len(".jar")] + ".zip", jar)
            e = jar
        entries.append(e)
    cp = os.pathsep.join(entries)
    archive_classes(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def archive_classes(cp):
    """Class-data sharing: one short run at toy size archives the classes
    it loads, and every later run maps them instead of loading them one
    by one, which saves seconds of JVM and Spark start-up per run. If the
    archive cannot be made, runs go on without it."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    out = os.path.join(BUILD, "runs", "class-archive")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = ["--workload", "lake_read", "--seed", "1", "--seconds", "0", "--size", "tiny",
            "--out", out]
    try:
        p = subprocess.run(java_cmd(cp, args, archive=True), cwd=BUILD,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=JVM_TIMEOUT_S)
        ok = p.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    if not ok and os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)


def java_cmd(cp, args, archive=False):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if archive:
        cmd.append(f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    elif os.path.exists(CDS_ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    cmd += ["-Xmx3g", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", cp, "perfbench.Main"] + args
    return cmd


def run_jvm(cp, workload, seed, seconds, trace, size, corrupt):
    out = os.path.join(BUILD, "runs", f"{workload}-{size}-{seed}-{trace}-{corrupt}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--size", size, "--corrupt", corrupt, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    proc = subprocess.Popen(java_cmd(cp, args), cwd=BUILD, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        text, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, out, f"{workload}: timed out after {JVM_TIMEOUT_S} s"
    res_file = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_file):
        return None, out, f"{workload}: JVM exited {proc.returncode}\n" + text[-3000:]
    for ln in text.splitlines():
        if ln.startswith("layer ") or ln.startswith("[perfbench]"):
            log(ln)
    with open(res_file) as f:
        return json.load(f), out, None


def oracle_check(oracle_dir):
    """DuckDB oracle comparison, in a child process with a time limit."""
    try:
        p = subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), oracle_dir],
                           cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return [f"oracle: no answer within {ORACLE_TIMEOUT_S} s"]
    if p.returncode != 0:
        return ["oracle: " + p.stdout.strip()[-2000:]]
    return [f"oracle: {m}" for m in p.stdout.splitlines() if m.strip()]


def run_one(cp, spec, workload, seed, seconds, trace, size, corrupt):
    """Run one workload, check it, print its report; return the result."""
    res, out, err = run_jvm(cp, workload, seed, seconds, trace, size, corrupt)
    if res is None:
        return None, [err]
    errors = list(res["errors"])
    if workload == "trace_batch":
        errors += oracle_check(os.path.join(out, "oracle"))
    res["correct"] = res["correct"] and not errors
    h = res["host"]
    log(f"host nproc={h['nproc']} load_start=[{h['load_start']}] load_end=[{h['load_end']}] "
        f"xmx_mb={h['xmx_mb']} master={h['master']} "
        f"shuffle_partitions={h['shuffle_partitions']}")
    log("sizes " + json.dumps(res["sizes"], sort_keys=True))
    log("setup_samples_s " + json.dumps(res["setup_samples_s"]))
    for k, v in res["detail"].items():
        if k in DETAIL_UNITS:
            log(f"metric {workload}.{k} = {v} {DETAIL_UNITS[k]}")
    for k, v in sorted(res["detail"].get("samples", {}).items()):
        log(f"samples {workload}.{k} {json.dumps(v)}")
    for e in errors:
        log(f"CHECK FAILED {workload}: {e}")
    return res, errors


def metrics_of(spec, res, trace):
    kind = "per_layer" if trace else "end_to_end"
    values = res["per_layer"] if trace else res["metrics"]
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec[kind]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", choices=["none", "panel_drop", "lake_resurrect", "lake_drop"],
                    default="none")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    cp = build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if not a.all:
        res, errors = run_one(cp, spec, a.workload, a.seed, a.seconds, a.trace, a.size, a.corrupt)
        if res is None:
            for e in errors:
                log(f"CHECK FAILED {a.workload}: {e}")
            sys.exit(1)
        print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics_of(spec, res, a.trace)}))
        sys.exit(0 if res["correct"] else 1)

    ok = True
    for w in WORKLOADS:
        runs = {}
        for trace in (0, 1):
            res, errors = run_one(cp, spec, w, a.seed, a.seconds, trace, a.size, a.corrupt)
            ok = ok and res is not None and res["correct"]
            runs[trace] = res
            if res is None:
                continue
            for name, m in metrics_of(spec, res, trace).items():
                log(f"{'layer' if trace else 'e2e'} {w}.{name} = {m['value']} {m['unit']}")
        if runs.get(0) and runs.get(1):
            over = runs[1]["metrics"]["op_p50_ms"] - runs[0]["metrics"]["op_p50_ms"]
            log(f"tracing overhead {w}.op_p50_ms = {over:.3f} ms (traced minus untraced)")
    log("ALL CHECKS PASSED" if ok else "SOME CHECKS FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
