"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload ingest_hot --seed 1 --seconds 30 --trace 0

Builds the program (perfbench/build.py), generates the workload's inputs
from the seed, runs them through the program's public entry points in one
JVM on local[nproc], checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md for the workloads and every metric.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import ingest  # noqa: E402
import lake  # noqa: E402
import selftest  # noqa: E402
import serve  # noqa: E402

WORK_ROOT = os.path.join(HERE, ".work")
TRACE_DIR = os.path.join(HERE, ".traces")
RUN_LIMIT_S = 170

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


WORKLOADS = {"ingest_hot": ingest, "ingest_wide": ingest, "serve_mix": serve,
             "lake_commit": lake}


def run_jvm(classpath, work, conf, deadline):
    """Start the harness on `conf`, wait for it, return (result, spawn epoch)."""
    conf = dict(conf, work=work, result=os.path.join(work, "result.json"))
    path = os.path.join(work, "config.properties")
    with open(path, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and the throughput collector keep run-to-run spread low
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", path]
    spawn = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness timed out")
        finally:
            # never leave the JVM behind: timeout, SIGTERM or any error
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = conf["result"]
    result = json.load(open(result_path)) if os.path.exists(result_path) else {}
    if proc.returncode != 0 or "error" in result:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"harness failed ({result.get('error', proc.returncode)})\n{tail}")
    return result, spawn


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    mod = WORKLOADS[args.workload]
    selftest.check_all()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    # the first run in a checkout pays the build; the run budget starts after it
    deadline = time.time() + RUN_LIMIT_S

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK_ROOT)
    try:
        out = mod.run(args, work, len(os.sched_getaffinity(0)),
                      lambda conf: run_jvm(classpath, work, conf, deadline))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    trace = out.pop("trace", None)
    if trace is not None:
        os.makedirs(TRACE_DIR, exist_ok=True)
        with open(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(trace, f)
    for line in out.pop("notes", []):
        print(line)
    line = json.dumps(out)
    selftest.validate_line(line, selftest.declared_metrics(args.workload, args.trace))
    print(line)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
