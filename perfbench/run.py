#!/usr/bin/env python3
"""Run one benchmark workload against the engine checked out here.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 15 --trace 0

The first run in a checkout compiles the engine (src/main) and the
harness (perfbench/src) with sbt and caches the classpath under
.bench_build/; later runs reuse it while the sources are unchanged.
Each run starts one JVM with a local[nproc] Spark session, prints the
human-readable record, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics; a traced run also writes every span
and job to .bench_build/trace-<workload>-<seed>.json. Workloads:
graph_iterative, graph_lifecycle (both in BENCHMARK.json) and
corpus_dedup_ann (runnable by name, kept out of the timed set).
"""

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the engine's own build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads, so a changed engine rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine and harness once per source state; return the classpath."""
    stamp = BUILD / "classpath.json"
    digest = source_hash()
    if stamp.is_file():
        rec = json.loads(stamp.read_text())
        if rec.get("hash") == digest and all(Path(p).exists() for p in rec["classpath"].split(os.pathsep)):
            return rec["classpath"]
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    log = BUILD / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                              text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    with open(log, "a") as out:
        out.write(proc.stdout)
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {proc.returncode}); see {log}", 1)
    classpath = lines[-1].strip()
    stamp.write_text(json.dumps({"hash": digest, "classpath": classpath,
                                 "build_s": round(time.time() - t0, 3)}))
    return classpath


def heap_arg():
    """Driver heap: a quarter of memory, between 2 and 4 GiB."""
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo") if ln.startswith("MemTotal:"))
        gb = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"-Xmx{gb}g"


def run_jvm(classpath, args):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    work = BUILD / f"work-{os.getpid()}"
    # temp files stay in the checkout; no hsperfdata file under /tmp
    cmd = ["java", heap_arg(), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    log = BUILD / "logs" / f"{args.workload}-{args.seed}-t{args.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log}", 1)
    if proc.returncode != 0:
        tail = log.read_text().splitlines()[-15:]
        fail(f"run failed (exit {proc.returncode}); log in {log}:\n" + "\n".join(tail), 1)
    lines = out.splitlines()
    if not lines:
        fail(f"run printed nothing; log in {log}", 1)
    return lines[:-1], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("no engine sources here: run from the root of a checkout (src/main/scala/graft, build.sbt)")
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_file.read_text())

    classpath = build()
    human, rec = run_jvm(classpath, args)
    for ln in human:
        print(ln)
    metrics = rec["metrics"]

    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    if args.trace == 0:
        (results / f"{args.workload}-{args.seed}.json").write_text(json.dumps(rec))
        names = [m["name"] for m in spec["end_to_end"]]
    else:
        # tracing overhead: the traced round against the untraced round of
        # the same workload (same seed when recorded, else the median of
        # the recorded seeds); 0 when no untraced run is recorded here
        same = results / f"{args.workload}-{args.seed}.json"
        rounds = ([json.loads(same.read_text())["metrics"]["wall_s"]["value"]] if same.is_file() else
                  [json.loads(p.read_text())["metrics"]["wall_s"]["value"]
                   for p in results.glob(f"{args.workload}-*.json")])
        untraced = statistics.median(rounds) if rounds else 0.0
        traced = metrics["wall_s"]["value"]
        metrics["trace.untraced_round_s"] = {"value": untraced, "unit": "s"}
        metrics["trace.overhead_ratio"] = {"value": traced / untraced if untraced else 0.0, "unit": "ratio"}
        for k in sorted(metrics):
            print(f"[perfbench] {k:<40} {metrics[k]['value']} {metrics[k]['unit']}")
        names = [m["name"] for m in spec["per_layer"]]

    missing = [n for n in names if n not in metrics]
    if missing:
        fail(f"run did not report {missing}", 1)
    rec["metrics"] = {n: metrics[n] for n in names}
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
