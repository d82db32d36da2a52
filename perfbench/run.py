#!/usr/bin/env python3
"""Run one workload of the crestspark benchmark and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from the checkout's sources with sbt (offline); later runs reuse
the build until a source file changes. Every metric is printed on its own
line, then a short summary line, then, as the last line, the result object
{"correct", "attempted", "failed", "metrics"} holding the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
WORK = BENCH / ".work"
RESULTS = BENCH / ".results"
WORKLOADS = ("ingest", "cdc_mirror", "curation", "lake_query")
MV_WORKLOADS = ("ingest", "cdc_mirror", "curation")
# The workloads each group of per-layer metrics applies to (README.md,
# "Per-layer metrics"). A traced run must report every metric that applies
# to its workload; the others read 0 from 0 samples.
LAYER_WORKLOADS = {
    "streaming.": MV_WORKLOADS,
    "sources.": MV_WORKLOADS,
    "lake.": WORKLOADS,
    "lake_read.": ("lake_query",),
    "operators.": ("curation",),
    "spark.": WORKLOADS,
    "gen.": ("ingest",),
    "trace.": WORKLOADS,
}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these when a session starts outside spark-submit
# (the engine's build passes the same list to its forked runs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, engine and benchmark."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def classpath(stamp):
    """The benchmark's runtime classpath, building first if stale."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
        if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
            return cp_file.read_text().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log = BUILD / "build.log"
        with open(log, "w") as out:
            code = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                 "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
        lines = log.read_text(errors="replace").splitlines()
        if code != 0:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"build failed (exit {code}); see {log}", 1)
        cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
        if not cps:
            fail(f"build printed no classpath; see {log}", 1)
        cp_file.write_text(cps[-1])
        stamp_file.write_text(stamp)
        return cps[-1]


def git_commit():
    if not (ROOT / ".git").exists():
        return "none"
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--short=12", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or "none"


def applies(workload, metric):
    return any(metric.startswith(group) and workload in ws
               for group, ws in LAYER_WORKLOADS.items())


def declared(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "small"), default="default")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {BENCH.name}/: run from a full checkout")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json missing at the checkout root")
    names = declared(a.trace)

    stamp = source_hash()
    cp = classpath(stamp)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    RESULTS.mkdir(exist_ok=True)
    out = (RESULTS / f"{tag}.json").resolve()
    out.unlink(missing_ok=True)  # never read a stale result

    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", str(out), "--work", str(work), "--scale", a.scale]
    t0 = time.time()
    log = work / "run.log"
    with open(log, "w") as f:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
    wall = time.time() - t0
    if code != 0 or not out.exists():
        sys.stderr.write("\n".join(log.read_text(errors="replace").splitlines()[-60:]) + "\n")
        fail(f"{a.workload} run failed (exit {code}) after {wall:.0f} s", 1)
    res = json.loads(out.read_text())
    for trace in work.glob("trace-*.jsonl"):
        shutil.move(str(trace), RESULTS / f"{tag}.spans.jsonl")
    shutil.move(str(log), RESULTS / f"{tag}.log")
    shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    missing = [n for n in names if n not in metrics and (not a.trace or applies(a.workload, n))]
    if missing:
        fail(f"{a.workload} did not report {', '.join(missing)}", 1)
    for n, unit in names.items():
        metrics.setdefault(n, {"value": 0, "unit": unit, "n": 0})
    for n, m in metrics.items():
        print(f"metric {a.workload} {n} {m['value']} {m['unit']} n={m['n']}")
    print(f"summary workload={a.workload} seed={a.seed} trace={a.trace} commit={git_commit()} "
          f"src={stamp[:12]} nproc={res['nproc']} run_s={res['run_s']:.2f} wall_s={wall:.1f} "
          f"correct={str(res['correct']).lower()} attempted={res['attempted']} "
          f"failed={res['failed']} out={out}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in names},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
