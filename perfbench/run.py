#!/usr/bin/env python3
"""The repo benchmark: one workload, one run, one result line.

    python3 perfbench/run.py --workload dashboard|lake --seed N \
        --seconds S --trace 0|1

Run it from the repo root. The first run builds the engine and the
harness from source with sbt (the harness in perfbench/ is a build of its
own that depends on the engine one directory up). Every later run reuses
the build while the sources are unchanged. A run generates its inputs
from the seed, sets up several times, measures for S seconds, checks the
outputs outside the timed region, and prints two JSON lines: the detail
line (weather, the workload's own figures) and, last, the result line of
BENCHMARK.json's contract.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("dashboard", "lake")
# a run after the build must end within this many seconds
DEADLINE_S = 170

sys.path.insert(0, HERE)


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """The runtime classpath, building first when the sources changed."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "build", "classpath.txt")
    stamp_file = os.path.join(WORK, "build", "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=800)
    sys.stderr.write(p.stderr)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        log(p.stdout)
        raise SystemExit(f"build failed (exit {p.returncode})")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f}s")
    return lines[-1]


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classpath, args, out, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dderby.system.home={WORK}", "-Dspark.ui.enabled=false",
            # the status store keeps every job, stage, task and SQL
            # execution up to these counts; left at Spark's defaults it
            # grows with the ops a run completes and swamps driver_heap_mb
            "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
            "-Dspark.ui.retainedTasks=1000", "-Dspark.sql.ui.retainedExecutions=50",
            "-cp", classpath, "perfbench.Main"] + args + ["--out", out]
    p = subprocess.Popen(cmd, cwd=WORK, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("harness timed out")
    if code != 0:
        raise SystemExit(f"harness failed (exit {code})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # plants one wrong expectation; only the self-test sets it
    ap.add_argument("--fault", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no engine source next to perfbench/: run from a checkout of the repo")
        return 2

    import check
    import gen
    import report

    classpath = build()
    t_start = time.time()
    # keep only this run's inputs and outputs
    for d in ("data", "runs", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    data = os.path.join(WORK, "data", f"{a.workload}-{a.seed}")
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}")
    t = time.perf_counter()
    gen.main(["gen", a.workload, str(a.seed), data])
    gen_s = time.perf_counter() - t

    args = ["--workload", a.workload, "--data", data, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed), "--fault", str(a.fault)]
    timeout = DEADLINE_S - (time.time() - t_start)
    result = run_jvm(classpath, args, out, timeout)

    if a.workload == "dashboard":
        failures, info = check.check_dashboard(data, result, a.seed, bool(a.fault))
    else:
        failures, info = result["failures"], {}
    ops = report.timed_ops(result)
    failed_ops = sum(1 for o in ops if not o["ok"])
    failed = min(len(ops), failed_ops + len(failures))

    metrics, detail = report.end_to_end(result, gen_s)
    if a.trace:
        metrics, layer_detail = report.per_layer(result)
        detail.update(layer_detail)
    detail.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "failed_share": failed / max(1, len(ops)),
        "failures": failures[:20], "check": info,
        "weather": dict(result["weather"], inputs=data),
    })
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
