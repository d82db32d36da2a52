#!/usr/bin/env python3
"""Self-test of the benchmark at small scale.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json, and cdc_mirror, briefly at the small
input scale, untraced and traced, and asserts that each run passes every
correctness check and reports every declared metric with its unit: each
end-to-end metric above 0, and each per-layer metric that applies to the
workload from at least one sample, and above 0 where a zero would mean its
probe never fired. Takes several minutes; the first run builds.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
from run import applies  # noqa: E402

# Per-layer metrics that every run of a workload they apply to must see
# above 0: times and counts of work each step does. Left out are figures
# that are 0 on a healthy run (conflicts, spill, lag, idle time at
# capacity, compaction in a window without one, phases under 1 ms).
MUST_OCCUR = {
    "streaming.trigger_ms", "streaming.add_batch_ms",
    "sources.versions_per_batch", "sources.rows_per_batch",
    "lake.commits_per_step", "lake.put_ms", "lake.commit_attempts",
    "lake.meta_reads_per_commit", "lake.meta_read_ms", "lake.files_per_commit",
    "lake.bytes_written_per_input_byte", "lake.live_files",
    "operators.task_s_per_kdoc", "operators.recall", "operators.index_rows",
    "operators.postings_files",
    "spark.jobs_per_step", "spark.stages_per_step", "spark.tasks_per_step",
    "spark.task_s_per_step",
} | {
    f"lake_read.{m}" for m in (
        "plan_ms", "exec_ms", "bytes_scanned_per_query", "rows_read_per_row_returned",
        "after_commit_ms", "repeat_ms")
}
# Traced runs alternate untraced and traced quarters, so they run longer to
# hold a traced sample of every query class and client step.
SECONDS = {0: "3", 1: "16"}


def run(workload, trace):
    r = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", SECONDS[trace], "--trace", str(trace), "--scale", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and lines, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}"
    return json.loads(lines[-1]), lines


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    # cdc_mirror is not declared (see README) but must keep working
    for w in [x["name"] for x in spec["workloads"]] + ["cdc_mirror"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            try:
                res, lines = run(w, trace)
                assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
                assert res["correct"] is True and res["failed"] == 0, f"checks failed: {res}"
                assert res["attempted"] >= 1, res
                # `metric <workload> <name> <value> <unit> n=<samples>`
                samples = {l.split()[2]: int(l.split()[-1][2:])
                           for l in lines if l.startswith("metric ")}
                for m in spec[kind]:
                    got = res["metrics"].get(m["name"])
                    assert got is not None, f"{m['name']} missing"
                    assert got["unit"] == m["unit"], f"{m['name']} unit {got['unit']} != {m['unit']}"
                    assert isinstance(got["value"], (int, float)), m["name"]
                    if kind == "end_to_end":
                        assert got["value"] > 0, f"{m['name']} is {got['value']}"
                    elif applies(w, m["name"]):
                        assert samples[m["name"]] > 0, f"{m['name']} applies to {w} but has no samples"
                        assert m["name"] not in MUST_OCCUR or got["value"] > 0, \
                            f"{m['name']} is {got['value']}: its probe never fired"
                assert len(lines[-2]) < 500 and lines[-2].startswith("summary "), lines[-2]
                print(f"ok   {w} trace={trace} attempted={res['attempted']}")
            except AssertionError as e:
                failures.append(f"{w} trace={trace}: {e}")
                print(f"FAIL {w} trace={trace}: {e}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
