#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. The line before it records host weather. Everything
a run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import glob
import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "query_mix")
TABLES = os.path.join(HERE, "data", "sf0.01")  # the engine's sf0.01 test tables
RUN_LIMIT_S = 170  # a run past its build must end within this
JVM_HEAP = "2g"

sys.path.insert(0, HERE)


def work_dir(workload, seed, trace, scale):
    return os.path.join(BUILD, "work", f"{workload}-s{seed}-t{trace}-{scale}")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile with sbt unless the sources match the last build; return the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == h.hexdigest() and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)):
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=850)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed (sbt exit {r.returncode}); see {log}")
    classpath = lines[-1].strip()
    with open(stamp_path, "w") as fh:
        json.dump({"sources": h.hexdigest(), "classpath": classpath}, fh)
    return classpath


def sha_probe():
    """Fixed-work CPU probe: seconds for 16 SHA-256 passes over 8 MiB."""
    buf = b"\x5a" * (8 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(16):
        h.update(buf)
    h.digest()
    return round(time.perf_counter() - t0, 4)


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, from /proc/stat when present."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def oracle_checks(results, oracle):
    """Compare each query's Spark result to its DuckDB oracle with the
    engine's own correctness gate, `tools/check.py`."""
    with open(os.path.join(results, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), TABLES, results],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.splitlines()
    checks = []
    for name in sorted(oracle):
        ok = any(l.split()[:2] == ["OK", name] for l in lines)
        info = ""
        if not ok:
            # the FAIL line and the row dump indented below it
            at = next((i for i, l in enumerate(lines) if l.split()[:2] == ["FAIL", name + ":"]), None)
            info = (" / ".join([lines[at]] + list(itertools.takewhile(
                lambda l: l.startswith(" "), lines[at + 1:]))) if at is not None
                    else f"no verdict from tools/check.py (exit {r.returncode})")
        checks.append({"name": f"oracle.{name}", "ok": ok, "detail": info[:500]})
    return checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="ingest input size; tiny is for the harness self-test")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a checkout of the engine (no build.sbt or src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    weather = {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg(), "sha_probe_start_s": sha_probe()}
    classpath = build()
    started = time.monotonic()

    work = work_dir(a.workload, a.seed, a.trace, a.scale)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    result_path = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={work}/tmp"]
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--tables", TABLES, "--scale", a.scale, "--out", result_path]
    ticks = cpu_ticks()
    jvm_start = time.monotonic()
    with open(os.path.join(work, "jvm.out"), "w") as out, open(os.path.join(work, "jvm.err"), "w") as err:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=out, stderr=err,
                               timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            fail(f"the workload did not finish within {RUN_LIMIT_S} s; see {work}/jvm.err", 3)
    jvm_s = time.monotonic() - jvm_start
    steal = [after - before for before, after in zip(ticks, cpu_ticks())]
    if r.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.err")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the workload JVM failed (exit {r.returncode}); see {work}/jvm.err", 3)
    with open(result_path) as fh:
        res = json.load(fh)

    checks = res["checks"]
    if a.workload == "query_mix":
        checks += oracle_checks(os.path.join(work, "results"), res["detail"]["oracle_sql"])
    attempted = res["ops_attempted"] + len(checks)
    failed = res["ops_failed"] + sum(1 for c in checks if not c["ok"])

    weather.update(loadavg_end=os.getloadavg(), sha_probe_end_s=sha_probe(),
                   steal_frac=round(steal[0] / steal[1], 4) if steal[1] else None,
                   jvm_s=round(jvm_s, 3), max_heap_mb=res["detail"]["max_heap_mb"])
    metrics, missing = {}, []
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    for m in wanted:
        if m["name"] == "ok_frac":
            metrics["ok_frac"] = {"value": 1.0 - failed / attempted, "unit": m["unit"]}
        elif m["name"] == "failed_frac":
            metrics["failed_frac"] = {"value": failed / attempted, "unit": m["unit"]}
        elif m["name"] in res["metrics"]:
            metrics[m["name"]] = res["metrics"][m["name"]]
        elif a.trace:
            # a layer this workload does not call
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
            missing.append(m["name"])
        else:
            fail(f"the workload did not report {m['name']}", 3)

    with open(os.path.join(work, "report.json"), "w") as fh:
        json.dump({"weather": weather, "checks": checks, "errors": res["errors"],
                   "detail": res["detail"], "not_exercised": missing, "metrics": metrics,
                   "jvm_metrics": res["metrics"]}, fh, indent=1)
    for sub in ("out", "bands", "results", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    for c in checks:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    for e in res["errors"]:
        print(f"perfbench: error: {e}", file=sys.stderr)
    print("perfbench weather " + json.dumps(weather))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
