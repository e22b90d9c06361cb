#!/usr/bin/env python3
"""Engine benchmark: run one workload against the engine built from this
checkout and print one JSON result line as the last line of stdout.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline); inputs are generated from the seed and cached
under ``.bench_build/data``. The harness JVM is started directly (never
through ``sbt run``), its output goes to a log file, and the result line
is printed only after it has exited, so nothing can follow it. Progress,
build output and a readable summary go to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(BENCH, "harness")
QUERIES = os.path.join(BENCH, "queries.txt")
INPUTS = {"corpus_build": "corpus", "index_serve": "serve", "query_mix": "tables"}
TIMEOUT_S = 170          # the whole run, build excluded
KEEP_SEEDS = 12          # generated inputs kept per kind
JVM_HEAP = "2g"
# module opens Spark needs on JDK 17 outside spark-submit (as build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def read(path, mode="r"):
    with open(path, mode) as f:
        return f.read()


def sources():
    """Every file the engine and the harness build from."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HARNESS, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    return files


def build():
    """Compiles engine + harness with sbt when any source changed, and
    returns the harness runtime classpath."""
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "sources.sha256")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        h.update(read(f, "rb"))
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            read(stamp_file) == stamp:
        return read(cp_file).strip()
    log("building engine and harness with sbt (first run of this source tree)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    # keep sbt's own temporary files inside the checkout too
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    build_log = os.path.join(STATE, "build.log")
    with open(build_log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "--no-server",
                            "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HARNESS, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = read(build_log).splitlines()
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        log(f"build failed (exit {p.returncode}); see {build_log}:")
        for line in lines[-20:]:
            log("  " + line)
        sys.exit(1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def inputs(kind, seed):
    """Generated inputs for `seed`, keeping the newest few seeds."""
    data = os.path.join(STATE, "data")
    os.makedirs(data, exist_ok=True)
    d = gen.path(kind, seed, data)
    if not os.path.isdir(d):
        old = sorted((p for p in os.listdir(data)
                      if p.startswith(kind + "-") and not p.endswith(".tmp")),
                     key=lambda p: os.path.getmtime(os.path.join(data, p)))
        for p in old[:max(0, len(old) - KEEP_SEEDS + 1)]:
            shutil.rmtree(os.path.join(data, p), ignore_errors=True)
        log(f"generating {kind} inputs for seed {seed}")
    gen.ensure(kind, seed, data)
    os.utime(d)
    return d


def run_jvm(cp, workload, data, out, seconds, trace):
    """Runs the harness to completion; returns (exit code, peak RSS MB)."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap: no resizing and no partly touched heap to
    # vary the footprint between runs
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={out}"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    t0 = time.time()
    cmd += ["-cp", cp, "perfbench.Harness", workload, data, out,
            str(seconds), str(trace), repr(t0), QUERIES]
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=out, stdout=jlog,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        deadline = t0 + TIMEOUT_S
        try:
            while True:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                if time.time() > deadline:
                    log(f"harness still running after {TIMEOUT_S}s; killing it")
                    proc.kill()
                    pid, status, usage = os.wait4(proc.pid, 0)
                    break
                time.sleep(0.05)
        except BaseException:
            # interrupted: leave no harness JVM behind
            proc.kill()
            os.wait4(proc.pid, 0)
            raise
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def check(workload, data, out, res):
    if workload == "corpus_build":
        return checks.corpus(data, res)
    if workload == "index_serve":
        return checks.serve(data, out, res)
    return checks.mix(data, out, res)


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    # a terminated launcher still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources under {ROOT}: run from a checkout's root")
        sys.exit(2)
    os.makedirs(STATE, exist_ok=True)
    cp = build()
    data = inputs(INPUTS[a.workload], a.seed)
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    out = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        code, rss = run_jvm(cp, a.workload, data, out, a.seconds, a.trace)
        res_path = os.path.join(out, "result.json")
        if code != 0 or not os.path.exists(res_path):
            log(f"harness exited with {code}; last lines of its log:")
            for line in read(os.path.join(out, "jvm.log")).splitlines()[-25:]:
                log("  " + line)
            res = {"attempted": 1, "metrics": {}}
            failed, notes = 1, ["the harness did not finish"]
        else:
            res = json.loads(read(res_path))
            t = time.time()
            failed, notes = check(a.workload, data, out, res)
            log(f"checked {res['attempted']} operations in "
                f"{time.time() - t:.1f}s: {failed} wrong")
        for n in notes:
            log("check: " + n)
        metrics = dict(res["metrics"])
        metrics["peak_rss_mb"] = {"value": rss, "unit": "MB"}
        if a.trace and os.path.exists(os.path.join(out, "trace.json")):
            dest = os.path.join(STATE, "trace", f"{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copy(os.path.join(out, "trace.json"), dest)
            layers = json.loads(read(dest))["layers"]
            log(f"trace written to {os.path.relpath(dest, ROOT)}")
            for k, v in layers.items():
                log(f"  {k} = {v['value']:.6g} {v['unit']}")
        if res.get("op_seconds"):
            log("op seconds (kind, round, s): " + ", ".join(
                f"{k}/{r}/{t:.3f}" for k, r, t in res["op_seconds"]))
        for k, v in res.get("detail", {}).items():
            log(f"detail: {k} = {v:.6g}")
        for k, v in metrics.items():
            log(f"metric: {k} = {v['value']:.6g} {v['unit']}")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    attempted = max(int(res["attempted"]), 1)
    line = {"correct": failed == 0, "attempted": attempted,
            "failed": min(failed, attempted),
            "metrics": {n: metrics[n] for n in metric_names(a.trace)
                        if n in metrics}}
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
