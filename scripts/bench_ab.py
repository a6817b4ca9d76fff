#!/usr/bin/env python3
"""Cross-tree A/B, interleaved in one session on one box, so box drift
lands on every tree equally and a recorded delta is attributable to CODE.

  python3 scripts/bench_ab.py OUT.json bench|httpperf LABEL=DIR [LABEL=DIR...] \
      [--passes=N] [--sf=DIR]

runs the FULL graft.Bench (or graft.HttpPerf) from each tree. Interleaving
order per pass is LABEL order (A B C, A B C, ...), never grouped — a
contention burst then spans trees instead of poisoning one. The recorded
per-tree stat is the element-wise MIN across its passes.

  python3 scripts/bench_ab.py OUT.json graftbench --workload W --pairs N \
      [--seconds S] [--trace 0|1] [--seed0 K] PARENT=DIR CHANGE=DIR

runs `graftbench/run.py` from both trees in N pairs. Pair i uses seed
K+i on both sides, and the side that runs first alternates pair by pair.
For every end-to-end metric it prints each side's median and quartiles,
the change's wins over the pairs (ties count for neither side), and the
verdict of the paired-run rule: a gain needs at least 10 pairs, wins in at
least 9/10 of them and a median gap larger than the parent's
interquartile range. A metric listed in BENCHMARK.json also shows the
median's relative move against its bound. Any failed operation or
incorrect run is printed.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time


# one report line of graftbench/run.py: `   name   value unit n=N`
METRIC = re.compile(r"^\s+(\S+)\s+(\S+)\s+(\S*)\s+n=(\d+)$")
HEADER = re.compile(r"^== \S+: correct=(\S+) attempted=(\d+) failed=(\d+)")


def graftbench_run(tree, a, seed):
    """One graftbench call in `tree`: its end-to-end metrics, correctness
    and operation counts, parsed from the report it prints."""
    cmd = [sys.executable, "graftbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    rec = {"seed": seed, "metrics": {}, "units": {}}
    section = None
    for line in r.stdout.splitlines():
        h = HEADER.match(line)
        if h:
            rec.update(correct=h.group(1) == "True", attempted=int(h.group(2)),
                       failed=int(h.group(3)))
        elif line.startswith("-- "):
            section = line
        elif section == "-- end-to-end":
            m = METRIC.match(line)
            if m:
                rec["metrics"][m.group(1)] = float(m.group(2))
                rec["units"][m.group(1)] = m.group(3)
    if r.returncode != 0 or "correct" not in rec:
        sys.exit(f"graftbench failed in {tree} (seed {seed}, rc={r.returncode}):\n"
                 + (r.stderr + r.stdout)[-3000:])
    return rec


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def ab_graftbench(argv):
    ap = argparse.ArgumentParser(prog="bench_ab.py OUT.json graftbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--seed0", type=int, default=200)
    ap.add_argument("trees", nargs=2, metavar="LABEL=DIR")
    a = ap.parse_args(argv)
    (base, base_dir), (chg, chg_dir) = (t.split("=", 1) for t in a.trees)
    with open(os.path.join(chg_dir, "BENCHMARK.json")) as f:
        declared = {m["name"]: m for m in json.load(f)["end_to_end"]}

    runs = {base: [], chg: []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = [(base, base_dir), (chg, chg_dir)]
        for label, d in order if i % 2 == 0 else order[::-1]:
            rec = graftbench_run(d, a, seed)
            runs[label].append(rec)
            print(f"[pair {i + 1} {label}] seed={seed} correct={rec['correct']} "
                  f"failed={rec['failed']}/{rec['attempted']} " + " ".join(
                      f"{k}={v:.4g}" for k, v in sorted(rec["metrics"].items())),
                  flush=True)

    def higher_better(name):
        if name in declared:
            return declared[name]["better"] == "higher"
        return name.endswith("_per_s")

    summary = {}
    names = sorted(set.intersection(*(set(r["metrics"]) for rs in runs.values()
                                      for r in rs)))
    print(f"\n== {a.workload}: {a.pairs} pairs, {base} vs {chg}")
    print(f"   {'metric':<24} {base + ' median [q1, q3]':>30} "
          f" {chg + ' median [q1, q3]':>30}  wins  verdict")
    for name in names:
        xb = [r["metrics"][name] for r in runs[base]]
        xc = [r["metrics"][name] for r in runs[chg]]
        (bq1, bmed, bq3), (cq1, cmed, cq3) = quartiles(xb), quartiles(xc)
        up = higher_better(name)
        wins = sum((c > b) if up else (c < b) for b, c in zip(xb, xc))
        gap = (cmed - bmed) if up else (bmed - cmed)
        if a.pairs < 10:
            verdict = "no claim (under 10 pairs)"
        elif wins >= 0.9 * a.pairs and gap > bq3 - bq1:
            verdict = "gain"
        elif wins <= 0.1 * a.pairs and -gap > bq3 - bq1:
            verdict = "loss"
        else:
            verdict = "no claim"
        rec = {"unit": runs[chg][0]["units"][name],
               base: {"median": bmed, "q1": bq1, "q3": bq3, "runs": xb},
               chg: {"median": cmed, "q1": cq1, "q3": cq3, "runs": xc},
               "wins": wins, "verdict": verdict}
        if name in declared and bmed:
            worse = -gap / abs(bmed)
            rec["worse_by"], rec["bound"] = worse, declared[name]["bound"]
            verdict += (f"; {'worse' if worse > 0 else 'better'} by "
                        f"{abs(worse):.1%} (bound {rec['bound']:.0%})"
                        + (" OVER BOUND" if worse > rec["bound"] else ""))
        summary[name] = rec
        print(f"   {name:<24} {bmed:>12.4g} [{bq1:.4g}, {bq3:.4g}]"
              f" {cmed:>12.4g} [{cq1:.4g}, {cq3:.4g}]  {wins:>2}/{a.pairs}  {verdict}")
    for label, rs in runs.items():
        bad = [(r["seed"], r["failed"], r["correct"]) for r in rs
               if r["failed"] or not r["correct"]]
        print(f"   {label}: {sum(r['failed'] for r in rs)} failed of "
              f"{sum(r['attempted'] for r in rs)} operations"
              + (f"; runs with failures or incorrect: {bad}" if bad else ""))
    return {"phase": "graftbench", "workload": a.workload, "pairs": a.pairs,
            "seconds": a.seconds, "trace": a.trace, "seed0": a.seed0,
            "interleaving": "per-pair, first side alternating, same seed",
            "metrics": summary, "runs": runs}


out = sys.argv[1]
phase = sys.argv[2]
if phase == "graftbench":
    with open(out, "w") as f:
        json.dump(ab_graftbench(sys.argv[3:]), f, indent=1)
    print(f"wrote {out}")
    sys.exit(0)
trees = [a.split("=", 1) for a in sys.argv[3:] if "=" in a and not a.startswith("--")]
passes = next((int(a.split("=")[1]) for a in sys.argv if a.startswith("--passes=")), 2)
sf = next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--sf=")), "/root/testdata/sf0.1")
main = {"bench": "graft.Bench", "httpperf": "graft.HttpPerf"}[phase]

runs = {label: [] for label, _ in trees}
for p in range(passes):
    for label, d in trees:
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS="32")
        t0 = time.time()
        r = subprocess.run(["sbt", "-batch", f"runMain {main}"],
                           cwd=d, env=env, capture_output=True, text=True)
        wall = time.time() - t0
        line = next((l for l in reversed(r.stdout.splitlines())
                     if l.startswith("{")), None)
        if r.returncode != 0 or line is None:
            print(f"[{label} pass{p+1}] FAILED rc={r.returncode}\n"
                  + r.stderr[-2000:], file=sys.stderr)
            sys.exit(1)
        rec = json.loads(line)
        rec["_wall_sec"] = round(wall, 1)
        rec["_pass"] = p + 1
        rec["_started_utc"] = time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                            time.gmtime(t0))
        runs[label].append(rec)
        key = "value" if phase == "bench" else "graft_write_500batch_sec"
        print(f"[{label} pass{p+1}] {key}={rec.get(key)} wall={wall:.0f}s",
              flush=True)

def summarize(recs):
    if phase == "bench":
        return {
            "total_min": min(r["value"] for r in recs),
            "totals": [round(r["value"], 1) for r in recs],
            "queries_min": {k: min(r["queries"][k] for r in recs)
                            for k in recs[0]["queries"]},
        }
    keys = [k for k, v in recs[0].items()
            if isinstance(v, (int, float)) and k.startswith("graft_")]
    out = {k: min(r[k] for r in recs) for k in keys}
    # r17: HttpPerf carries the full published perf grid — min-reduce each
    # cell's measured seconds across passes, keep shape/reference fields
    if isinstance(recs[0].get("grid"), list):
        out["grid"] = []
        for i, cell in enumerate(recs[0]["grid"]):
            merged = dict(cell)
            for k, v in cell.items():
                if isinstance(v, (int, float)) and not k.startswith(
                        ("num_", "n_", "reference_")):
                    merged[k] = min(r["grid"][i][k] for r in recs)
            out["grid"].append(merged)
    return out

result = {
    "phase": phase, "sf": sf, "passes": passes,
    "interleaving": "per-pass round-robin over trees (one session, one box)",
    "trees": {label: summarize(recs) for label, recs in runs.items()},
    "runs": runs,
}
with open(out, "w") as f:
    json.dump(result, f, indent=1)
print(f"wrote {out}")
