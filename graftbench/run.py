#!/usr/bin/env python3
"""Run one graftbench workload against the graft tree this directory sits in.

    python3 graftbench/run.py --workload dashboard_reads --seed 1 --seconds 20 --trace 0

Run it from the root of the tree. The first call builds graft and the
benchmark with sbt (offline) into .bench_build/; later calls reuse the build
while no source file changed. Each call runs the workload in one JVM on
local[nproc], prints a report of every metric with its unit and sample count,
and ends with one JSON line: the end-to-end metrics BENCHMARK.json names
(--trace 0) or its per-layer metrics (--trace 1), the correctness verdict,
and the attempted/failed operation counts.

    python3 graftbench/run.py --self-test

runs the benchmark's own tests (checks that a corrupted expectation is
flagged).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
RUN_LIMIT_S = 170  # the whole call must end within 180 s once built

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Xmx2g")
    return env


def source_fingerprint():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src", "graftbench"):
        top = os.path.join(ROOT, base)
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, dirs, files in os.walk(top):
                # skip build output and sbt's meta-meta build
                dirs[:] = sorted(x for x in dirs if x != "target" and not
                                 (x == "project" and os.path.basename(d) == "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("graftbench: no graft source tree next to the benchmark "
                 "(expected build.sbt and src/main/scala/graft)")
    os.makedirs(BUILD, exist_ok=True)
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as f:
                    return f.read().strip()
    log("building graft and the benchmark with sbt (first run only)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("graftbench: build failed")
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("/") or ".jar" in ln or "classes" in ln]
    if not lines:
        sys.exit("graftbench: sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def batch_tables():
    """The sf0.1 tables batch_analytics reads, generated once per build dir."""
    out = os.path.join(BUILD, "sf0.1")
    if not os.path.isfile(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), "0.1", out],
                       check=True, stdout=subprocess.DEVNULL, timeout=120)
        open(os.path.join(out, "_done"), "w").close()
    return out


def run_jvm(cp, args, work, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dsun.net.httpserver.nodelay=true",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    if args.workload == "batch_analytics":
        cmd += ["--data", batch_tables()]
        cmd.insert(1, f"-Dgraftbench.digests={os.path.join(HERE, 'batch_digests.tsv')}")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            sys.exit("graftbench: workload ran past its time limit")
        finally:
            # the JVM runs in its own session: stop it whenever this
            # process leaves early (time limit, SIGTERM, Ctrl-C)
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"graftbench: workload JVM exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def report(res, trace):
    ratio = res["failed"] / max(1, res["attempted"])
    print(f"== {res['workload']}: correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']} fail_ratio={ratio:g}")
    for msg in res.get("failures", []):
        print(f"   FAIL {msg}")
    print("-- end-to-end")
    for k, m in res["e2e"].items():
        print(f"   {k:<24} {m['value']:>14.6g} {m['unit']:<6} n={m['n']}")
    if trace:
        print("-- per layer")
        for k, m in res["per_layer"].items():
            print(f"   {k:<34} {m['value']:>14.6g} {m['unit']}")
    for k, v in res.get("info", {}).items():
        if k != "digests":  # kept in the result file
            print(f"   ({k}: {v})")


def overhead(res, workload):
    """Tracing overhead: this traced run's end-to-end metrics minus those of
    the last untraced run of the workload in this build directory."""
    path = os.path.join(BUILD, f"result-{workload}-trace0.json")
    if not os.path.isfile(path):
        return
    with open(path) as f:
        base = json.load(f)["e2e"]
    print("-- tracing overhead (traced minus last untraced run)")
    for k, m in res["e2e"].items():
        if k in base:
            print(f"   {k:<24} {m['value'] - base[k]['value']:>+14.6g} {m['unit']}")


def contract_line(res, trace):
    """The last line: exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    have = res["per_layer"] if trace else res["e2e"]
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in have:
            metrics[m["name"]] = {"value": have[m["name"]]["value"], "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if missing:
        sys.exit(f"graftbench: workload did not report {missing}")
    attempted = max(1, int(res["attempted"]))
    return json.dumps({"correct": bool(res["correct"]), "attempted": attempted,
                       "failed": int(res["failed"]), "metrics": metrics})


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("graftbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        build()
        sys.exit(subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                                cwd=HERE, env=sbt_env()).returncode)
    if not args.workload:
        ap.error("--workload is required")
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, deadline)
        trace_file = os.path.join(work, "trace.jsonl")
        if os.path.isfile(trace_file):
            shutil.copy(trace_file, os.path.join(BUILD, f"trace-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(res, args.trace)
    if args.trace:
        overhead(res, args.workload)
    with open(os.path.join(BUILD, f"result-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(contract_line(res, args.trace), flush=True)


if __name__ == "__main__":
    main()
