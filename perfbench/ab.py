#!/usr/bin/env python3
"""A/B comparison of two checkouts with the same benchmark.

    python3 perfbench/ab.py --parent ../parent --change . [--pairs 10] [--seed 1000]

Both directories are checkout roots holding identical perfbench/ trees
and BENCHMARK.json (the script refuses otherwise). For each workload it
runs `--pairs` parent/change pairs on seeds seed, seed+1, ..., alternating
which side runs first, then reports per end-to-end metric:

- each side's median and quartiles (statistics.quantiles, n=4);
- the change's win fraction over all pairs (ties count for neither);
- a verdict: "gain" when the change wins at least 9/10 of the pairs and
  the medians differ by more than the parent's own quartile spread;
  "unresolved" when the parent's spread exceeds the metric's bound,
  unless every change run beats every parent run; "regression" when the
  change's median is worse by more than the bound; otherwise "same".

It also records the host condition: nproc, driver heap, Spark and JDK
versions, and a fixed CPU probe timed before and after. Results go to
stdout as a table and to --out as JSON.
"""

import argparse
import hashlib
import json
import os
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path


def tree_hash(root):
    h = hashlib.sha256()
    bench = root / "perfbench"
    files = [root / "BENCHMARK.json"] + sorted(
        p for p in bench.rglob("*")
        if p.is_file() and "target" not in p.parts and not str(p).startswith(str(bench / "project" / "project")))
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def cpu_probe():
    """Fixed pure-interpreter loop; its time tracks the host, not the code."""
    t0 = time.perf_counter()
    x, acc = 0x9E3779B97F4A7C15, 0
    for _ in range(2_000_000):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        acc = (acc + x) & 0xFFFFFFFFFFFFFFFF
    return time.perf_counter() - t0


def host(side):
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    spark = "unknown"
    stamp = side / ".bench_build" / "classpath.json"
    if stamp.is_file():
        m = re.search(r"spark-core_[\d.]+-([\w.]+)\.jar", json.loads(stamp.read_text())["classpath"])
        spark = m.group(1) if m else spark
    meminfo = Path("/proc/meminfo")
    kb = next((int(ln.split()[1]) for ln in meminfo.read_text().splitlines()
               if ln.startswith("MemTotal:")), 0) if meminfo.exists() else 0
    return {"nproc": os.cpu_count(), "mem_total_gb": round(kb / 2**20, 1),
            "driver_heap_gb": max(2, min(4, kb // (4 * 2**20))) if kb else 2,
            "jdk": jdk[0] if jdk else "unknown", "spark": spark}


def run(side, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=side, capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{side}: {workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in rec["metrics"].items()}, rec["correct"]


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def verdict(metric, par, chg):
    lower = metric["better"] == "lower"
    bound = metric.get("bound", 0.0)
    wins = sum(1 for p, c in zip(par, chg) if (c < p if lower else c > p))
    frac = wins / len(par)
    pq1, pmed, pq3 = quartiles(par)
    _, cmed, _ = quartiles(chg)
    spread = (pq3 - pq1) / abs(pmed) if pmed else float("inf")
    worse = (cmed - pmed) / abs(pmed) if lower else (pmed - cmed) / abs(pmed)
    all_better = (max(chg) < min(par)) if lower else (min(chg) > max(par))
    if frac >= 0.9 and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regression"
    else:
        v = "same"
    return frac, spread, worse, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workload", action="append", help="default: every workload of BENCHMARK.json")
    ap.add_argument("--out", type=Path, default=Path(".bench_build/ab.json"))
    args = ap.parse_args()
    parent, change = args.parent.resolve(), args.change.resolve()
    if tree_hash(parent) != tree_hash(change):
        raise SystemExit("parent and change must carry identical perfbench/ and BENCHMARK.json")
    spec = json.loads((change / "BENCHMARK.json").read_text())
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    probe_before = cpu_probe()
    report = {"host": host(change), "cpu_probe_s": {"before": probe_before}, "rows": []}
    for w in workloads:
        par, chg, wrong = [], [], 0
        for i in range(args.pairs):
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            got = {}
            for name, side in order:
                got[name], ok = run(side, w, args.seed + i, spec["run_seconds"])
                wrong += 0 if ok else 1
            par.append(got["parent"])
            chg.append(got["change"])
            print(f"[ab] {w} pair {i + 1}/{args.pairs} done", file=sys.stderr)
        for m in spec["end_to_end"]:
            p = [r[m["name"]] for r in par]
            c = [r[m["name"]] for r in chg]
            frac, spread, worse, v = verdict(m, p, c)
            report["rows"].append({
                "workload": w, "metric": m["name"], "unit": m["unit"], "bound": m["bound"],
                "parent": dict(zip(("q1", "median", "q3"), quartiles(p))),
                "change": dict(zip(("q1", "median", "q3"), quartiles(c))),
                "win_fraction": frac, "parent_spread": spread, "change_worse_by": worse,
                "verdict": v, "pairs": len(p), "incorrect_runs": wrong})
    report["cpu_probe_s"]["after"] = cpu_probe()
    args.out.parent.mkdir(parents=True, exist_ok=True)
    args.out.write_text(json.dumps(report, indent=1))
    print(json.dumps(report["host"]), json.dumps(report["cpu_probe_s"]))
    print(f"{'workload':<18} {'metric':<20} {'parent median':>14} {'change median':>14} "
          f"{'wins':>5} {'spread':>7} {'verdict':>10}")
    for r in report["rows"]:
        print(f"{r['workload']:<18} {r['metric']:<20} {r['parent']['median']:>14.4g} "
              f"{r['change']['median']:>14.4g} {r['win_fraction']:>5.2f} {r['parent_spread']:>7.3f} "
              f"{r['verdict']:>10}")


if __name__ == "__main__":
    main()
