#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload curate_batch --seed 1 --seconds 10 --trace 0

Builds the engine and harness from source on first use (sbt, into
perfbench/target), runs the workload in one JVM at local[nproc] inside a
fresh run directory under .perfbench/, checks the outputs, and prints two
JSON lines: the full record (every end-to-end figure that applies, the
tail percentiles, every check, the environment), then the result line
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).
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
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ["curate_batch", "manifest_rw"]
ENGINE_SRC = os.path.join(REPO, "src", "main")
TARGET = os.path.join(HERE, "target")
DEADLINE_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p[len(REPO):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(REPO, ".perfbench", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail(f"engine sources not found at {ENGINE_SRC}")
    digest = source_digest()
    stamp = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=880)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def run_jvm(cp, args, run_dir, out_file, deadline):
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--root", run_dir, "--out", out_file]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:  # the JVM has already exited
                pass
            proc.wait()
            fail("stopped before the workload finished")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            stop()
    if rc != 0 or not os.path.exists(out_file):
        with open(log_path) as f:
            sys.stderr.write("".join(
                l for l in f.readlines()[-60:] if " INFO " not in l))
        fail(f"workload exited with code {rc}")
    with open(out_file) as f:
        return json.load(f)


def oracle_check(record, deadline):
    """Compare the warm-up outputs with DuckDB through tools/check_oracle.py."""
    tool = os.path.join(REPO, "tools", "check_oracle.py")
    if not os.path.exists(tool):
        return False, "tools/check_oracle.py not found"
    try:
        proc = subprocess.run(
            [sys.executable, tool, record["paths"]["oracle_input"],
             record["paths"]["oracle_output"]],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        return False, "oracle comparison timed out"
    lines = proc.stdout.strip().splitlines()
    fails = [l for l in lines if l.startswith("FAIL")]
    # the verdict line is printed after every comparison; DuckDB can still
    # abort while the interpreter shuts down, which changes no verdict
    verdict = [l for l in lines if l.startswith("ALL ") and l.endswith(" MATCH")]
    if verdict and not fails:
        return True, verdict[0]
    return False, "; ".join(fails)[:500] or (lines[-1] if lines else "no output")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t0 = time.time()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    deadline = time.time() + DEADLINE_S
    base = os.path.join(REPO, ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        record = run_jvm(cp, args, run_dir, os.path.join(run_dir, "record.json"),
                         deadline)
        checks = record["checks"]
        if args.workload == "curate_batch":
            ok, detail = oracle_check(record, deadline)
            checks.append({"name": "DuckDB oracle", "ok": ok,
                           "detail": "" if ok else detail})
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, tails = metrics.end_to_end(record)
    ops = [o for p in record["passes"] for o in p["ops"] if not p["traced"]]
    failures = [c["name"] for c in checks if not c["ok"]] + sorted(
        {o[2] for o in ops if not o[4]})
    attempted = len(ops) + len(checks)
    failed = sum(1 for c in checks if not c["ok"]) + sum(1 for o in ops if not o[4])
    e2e["failed_frac"] = failed / attempted
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update({"run_cpu_s": "s", "write_p50_s": "s", "write_tail_s": "s",
                  "bytes_per_row": "B/row", "failed_frac": "fraction"})
    full = {
        "workload": args.workload, "seed": args.seed, "env": record["env"],
        "inputs": record["inputs"],
        "end_to_end": {k: {"value": v, "unit": units.get(k, "")} for k, v in e2e.items()},
        "tails": tails, "failures": failures, "checks": checks,
        "setup_s_each": record["setup_s"], "warmup_s": record["warmup_s"],
        "warmup_jobs": record["warmup_jobs"],
        "jobs_per_pass": [p["jobs"] for p in record["passes"] if not p["traced"]],
        "extras": record["extras"], "wall_s": time.time() - t0,
    }
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        layer = metrics.per_layer(record, names)
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(record["trace"], f)
        full["trace_file"] = os.path.relpath(trace_file, REPO)
        full["tracing_overhead"] = layer.get("tracing_overhead")
        result = {n: {"value": layer[n], "unit": units[n]} for n in names}
    else:
        result = {}
        for m in spec["end_to_end"]:
            if e2e.get(m["name"]) is None:
                fail(f"metric {m['name']} was not measured")
            result[m["name"]] = {"value": e2e[m["name"]], "unit": m["unit"]}
    print(json.dumps(full))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
