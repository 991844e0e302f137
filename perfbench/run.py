#!/usr/bin/env python3
"""graft benchmark: one workload at one seed, printed as one JSON line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 24 --trace 0

Builds the benchmark (graft's main sources plus perfbench/src) with sbt
when the sources changed. A first JVM makes or checks the input table;
then one Spark JVM on local[nproc] measures:

  * with --trace 0 it reports the end-to-end metrics: set-up (JVM start
    to a ready session plus one warm job), then a fixed number of
    back-to-back jobs that take about --seconds;
  * with --trace 1 it reports the per-layer metrics: Spark listener
    counters, pipeline stage times, and a single-thread pass over the
    extractor's layers.

The metric names printed are the ones BENCHMARK.json declares. The last
stdout line is {"correct", "attempted", "failed", "metrics"}; the line
before it records host noise (steal share, load average). Work files,
cached inputs and traces stay under perfbench/work. See README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
BUILD_INFO = BENCH / "target" / "perfbench-build.json"

# Input pages per workload: sized so that one job takes a few seconds
# on a 4-vCPU host and a run holds several jobs.
SIZES = {"extract": 40000, "corpus": 6000}
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=400",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
RUN_DEADLINE_S = 170


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    files = []
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if sources changed."""
    fp = source_fingerprint()
    if BUILD_INFO.exists():
        info = json.loads(BUILD_INFO.read_text())
        if info.get("fingerprint") == fp:
            return info["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    BUILD_INFO.parent.mkdir(parents=True, exist_ok=True)
    BUILD_INFO.write_text(json.dumps({"fingerprint": fp, "classpath": lines[-1]}))
    return lines[-1]


def host_sample():
    cpu = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    load = [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    return {"ticks": sum(cpu[:8]), "steal": cpu[7] if len(cpu) > 7 else 0,
            "idle": cpu[3] + cpu[4], "load1": load[0]}


def host_noise(a, b):
    dt = max(1, b["ticks"] - a["ticks"])
    return {"steal_share": round((b["steal"] - a["steal"]) / dt, 4),
            "busy_share": round(1 - (b["idle"] - a["idle"]) / dt, 4),
            "loadavg_start": a["load1"], "loadavg_end": b["load1"]}


def run_jvm(classpath, args, tag, deadline):
    """One benchmark JVM; returns its result dict."""
    result = WORK / "results" / f"{tag}.json"
    log = WORK / "logs" / f"{tag}.log"
    for p in (result, log):
        p.parent.mkdir(parents=True, exist_ok=True)
    result.unlink(missing_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graftbench.Main",
           *args, "--work", str(WORK), "--result", str(result),
           "--launch-ns", str(time.monotonic_ns())]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{tag} ran past the time limit; log in {log}")
    if not result.exists():
        die(f"{tag} exited {proc.returncode} without a result; log in {log}")
    r = json.loads(result.read_text())
    if r["error"]:
        sys.stderr.write(log.read_text()[-3000:])
        die(f"{tag} failed: {r['error']}")
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, help="input pages (default: per workload)")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add one empty page, which must come back ok=false")
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not spec_path.is_file():
        die(f"no graft sources under {ROOT}; run from a full checkout")
    spec = json.loads(spec_path.read_text())
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    classpath = build()
    deadline = max(deadline, time.monotonic() + 150)  # a fresh build gets its own budget
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", str(a.size or SIZES[a.workload]),
            "--inject-failure", "1" if a.inject_failure else "0"]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # inputs are made (or checked) in a process of their own, so that
    # generating them never warms the measured JVM
    prep = run_jvm(classpath, ["--prepare", "1", *args], f"{tag}-prepare", deadline)
    h0 = host_sample()
    r = run_jvm(classpath, ["--prepare", "0", *args], tag, deadline)
    noise = host_noise(h0, host_sample())

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in r["metrics"].items()}
    metrics["setup_s"] = {"value": r["setup_s"], "unit": "s"}
    missing = [n for n in names if n not in metrics]
    if missing:
        die(f"the run produced no value for {missing}")
    checks = r["checks"]
    correct = r["failed"] == 0 and not checks
    for c in checks:
        print(f"perfbench: check failed: {c}", file=sys.stderr)
    print(json.dumps({"host": noise, "input_digest": r["input_digest"],
                      "output_digest": r["digests"], "gen_s": prep["gen_s"],
                      "setup_s": r["setup_s"], "job_s": r["job_s"],
                      "failed_share": r["failed"] / max(1, r["attempted"])}))
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": {n: metrics[n] for n in names}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
