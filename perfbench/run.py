#!/usr/bin/env python3
"""Runs one benchmark workload against the graft engine and prints its
metrics as one JSON line.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed
(perfbench/datagen.py); every operation's result is checked, the SQL lanes
against their DuckDB oracle. All state lives under .perfbench/ in the
repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402

# Scale factor of the generated tables, per workload (None: no tables).
WORKLOADS = {"tpch": 0.1, "duck_script": 0.01, "pipeline_ops": 0.1, "lp_solve": None}
DEADLINE_S = 170
# Cores the process may use, as `nproc` counts them.
NPROC = len(os.sched_getaffinity(0))
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    h = hashlib.sha1()
    for base in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, base))):
            if "target" in d.split(os.sep):
                continue
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")) or "META-INF" in d:
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    h.update(open(p, "rb").read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        h.update(open(os.path.join(ROOT, f), "rb").read())
    return h.hexdigest()


def build(deadline):
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp = os.path.join(STATE, "build", "stamp")
    cp_file = os.path.join(STATE, "build", "classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(STATE, "build", "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=max(deadline - time.time(), 1))
    lines = open(log).read().splitlines()
    if r.returncode != 0:
        fail(f"build failed, see {log}")
    cps = [ln for ln in lines if "perfbench" in ln and ".jar" in ln and not ln.startswith("[")]
    if not cps:
        fail(f"no classpath in {log}")
    open(cp_file, "w").write(cps[-1].strip())
    open(stamp, "w").write(digest)
    return cps[-1].strip()


def data_dir(sf, seed):
    d = os.path.join(STATE, "data", f"sf{sf}_seed{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, seed, sf)
        open(os.path.join(d, "done"), "w").close()
    return d


def run_jvm(cp, args, run_dir, deadline, trace):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] + [
        "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Dperfbench.trace={1 if trace else 0}",
        "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its deadline, see {run_dir}/jvm.log")
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail(f"engine run exited with {code}, see {run_dir}/jvm.log")
    return json.load(open(os.path.join(run_dir, "run.json")))


def verdict(run, oracle_failures):
    """Counts failed operations: those that threw or whose result failed its
    check in the engine run, plus every operation of a lane whose result the
    oracle rejected."""
    failed = [op for op in run["ops"] if op["error"] or op["lane"] in oracle_failures]
    return len(run["ops"]), len(failed)


E2E = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_ms", "ms"), ("op_tail_ms", "ms"),
       ("heap_retained_mb", "MB")]


# Unit of a per-layer metric, by the end of its name (first match wins).
LAYER_UNITS = [("ops_per_s", "1/s"), ("_ms", "ms"), ("ms_per_iter", "ms"), ("_bytes", "bytes"),
               ("share", "ratio"), ("_ratio", "ratio"), ("vs_stock", "ratio"), ("_mb", "MB"),
               ("_s", "s")]


def layer_unit(name):
    return next((u for suffix, u in LAYER_UNITS if name.endswith(suffix)), "count")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the engine's sources are not here; run from a full checkout of the repository")
    first_build = not os.path.exists(os.path.join(STATE, "build", "stamp"))
    deadline = started + (900 if first_build else DEADLINE_S)
    cp = build(deadline)
    phases = {"build_s": time.time() - started}

    sf = WORKLOADS[a.workload]
    data = data_dir(sf, a.seed) if sf else os.path.join(STATE, "data", "none")
    phases["data_s"] = time.time() - started - sum(phases.values())
    os.makedirs(data, exist_ok=True)
    run_dir = os.path.join(STATE, "runs", f"{a.workload}_seed{a.seed}_trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--data", data, "--out", run_dir,
                       "--cores", str(NPROC)],
                  run_dir, deadline, a.trace)
    phases["engine_s"] = time.time() - started - sum(phases.values())

    oracle_failures = oracle.check(run, run_dir, data) if sf else {}
    phases["oracle_s"] = time.time() - started - sum(phases.values())
    attempted, failed = verdict(run, oracle_failures)
    run.update({"nproc": NPROC, "loadavg": os.getloadavg(), "attempted": attempted,
                "failed": failed, "fail_ratio": failed / attempted,
                "oracle_failures": oracle_failures, "phases_s": phases,
                "wall_s": time.time() - started})
    run["oracle_lanes"] = sorted(run.pop("oracles", {}))
    shutil.rmtree(os.path.join(run_dir, "results"), ignore_errors=True)
    json.dump(run, open(os.path.join(run_dir, "run.json"), "w"), indent=1)

    for lane, err in list(run["errors"].items()) + list(oracle_failures.items()):
        print(f"FAILED {lane}: {err}")
    if a.trace:
        layers = dict(run["layers"])
        layers.update({k: v for k, v in run["metrics"].items() if "." in k})
        layers["run.fail_ratio"] = failed / attempted
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": run["metrics"][k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
