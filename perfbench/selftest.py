#!/usr/bin/env python3
"""Quick self-test of the benchmark harness on tiny inputs.

    python3 perfbench/selftest.py

Run from the root of a checkout. Runs every workload once untraced and once
traced with `--scale tiny`, and fails if a metric named in BENCHMARK.json,
its unit, or a correctness check goes missing, if a workload stops
reporting a layer it calls, or if any check fails.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

# checks every run of a workload must report, as name patterns
CHECKS = {
    "ingest": [r"fixture\.deterministic",
               r"(dkss|harmonie)\.outcomes\.cold", r"(dkss|harmonie)\.outcomes\.warm\d+",
               r"(dkss|harmonie)\.manifest\.cold", r"(dkss|harmonie)\.manifest\.warm\d+",
               r"dkss\.preserved\.salinity", r"harmonie\.preserved\.lightning",
               r"(dkss|harmonie)\.rows\.[\w-]+", r"(dkss|harmonie)\.checksum\.[\w-]+",
               r"dkss\.band\.[\w-]+"],
    "query_mix": [rf"oracle\.{q}" for q in (
        "q133_drop_provenance", "q138_token_fertility", "q01_pricing_summary", "q22_sessionize")],
}
TRACED_CHECKS = {"ingest": [r"trace\.outputs_equal"], "query_mix": []}
# per-layer metrics a workload must measure itself rather than report as 0
OWN_LAYERS = {
    "ingest": r"(dkss|harmonie|cycle|trace)\.|setup_(cpu|wall)_s$|warm_(cpu_)?s$|warm_process_cpu_s$|speed_probe_s$|failed_frac$",
    "query_mix": r"(query|Materialize\.shared|trace)\.|setup_(cpu|wall)_s$|warm_(cpu_)?s$|warm_process_cpu_s$|speed_probe_s$|failed_frac$",
}


def check_run(spec, workload, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
                       cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    problems = []
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        return [f"exit {r.returncode}: {r.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct"):
        problems.append(f"not correct: {r.stderr[-2000:]}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result.get("metrics", {})
    if sorted(got) != sorted(m["name"] for m in wanted):
        problems.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            problems.append(f"{m['name']}: {v}")
    with open(os.path.join(run.work_dir(workload, 1, trace, "tiny"), "report.json")) as fh:
        report = json.load(fh)
    names = [c["name"] for c in report["checks"]]
    for pat in CHECKS[workload] + (TRACED_CHECKS[workload] if trace else []):
        if not any(re.fullmatch(pat, n) for n in names):
            problems.append(f"no check matching {pat}")
    if trace:
        lost = [n for n in report["not_exercised"] if re.match(OWN_LAYERS[workload], n)]
        if lost:
            problems.append(f"layers not measured: {lost}")
    return problems


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failed = False
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            problems = check_run(spec, w, trace)
            print(f"{'FAIL' if problems else 'ok  '} {w} trace={trace}")
            for p in problems:
                print(f"     {p}")
            failed |= bool(problems)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
