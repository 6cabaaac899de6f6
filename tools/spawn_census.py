#!/usr/bin/env python3
"""Count the OS processes one benchmark run spawns, by executable and by path.

Usage:
  python3 tools/spawn_census.py --out FILE [--workload ingest_wide] [--seed 41]
                                [--seconds 20] [--checkout DIR]

It builds the checkout's benchmark (`perfbench/build.py`), then runs
`python3 perfbench/run.py --trace 0` once with Java Flight Recorder on,
through `JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=...`, and reads every
`jdk.ProcessStart` event back with the JDK's `jfr` tool. Hadoop's local file
system spawns `chmod`, `readlink` and the like when its native library is not
loaded; this shows how many, and for which files.

It prints the spawn count per executable and per path class. The class is
taken from the path components in the spawned command line: `sources/`,
`offsets/`, `commits/` (a streaming checkpoint's logs), `gen-*` (a keyed-store
generation) or `other`. It writes the counts and the run's metrics line to
--out, which must lie outside `perfbench/`; the recording lives in a temp dir
that is removed at the end. run.py keeps its own build and scratch dirs inside
the checkout.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile

CLASSES = ("sources/", "offsets/", "commits/", "gen-*", "other")


def path_class(command):
    """The class of the first path argument that names one, else `other`."""
    for arg in command.split()[1:]:
        parts = arg.split("/")
        for cls in ("sources", "offsets", "commits"):
            if cls in parts:
                return cls + "/"
        if any(p.startswith("gen-") for p in parts):
            return "gen-*"
    return "other"


def executable(command):
    return os.path.basename(command.split()[0]) if command.strip() else "?"


def process_starts(jfr_tool, recording):
    out = subprocess.run([jfr_tool, "print", "--json", "--events", "jdk.ProcessStart",
                          recording], capture_output=True, text=True, check=True).stdout
    return [e["values"].get("command", "") for e in json.loads(out)["recording"]["events"]]


def census(commands):
    by_exe = collections.Counter(executable(c) for c in commands)
    by_class = collections.Counter(path_class(c) for c in commands)
    cross = collections.Counter(f"{executable(c)} {path_class(c)}" for c in commands)
    return {"total": len(commands), "by_executable": dict(by_exe.most_common()),
            "by_class": {k: by_class.get(k, 0) for k in CLASSES},
            "by_executable_class": dict(cross.most_common())}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="JSON file for the counts")
    ap.add_argument("--workload", default="ingest_wide")
    ap.add_argument("--seed", type=int, default=41)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--checkout", default=os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), help="checkout to run (default: this one)")
    args = ap.parse_args(argv)

    checkout = os.path.abspath(args.checkout)
    out = os.path.abspath(args.out)
    if out.startswith(os.path.join(checkout, "perfbench") + os.sep):
        ap.error("--out must lie outside perfbench/")
    jfr_tool = shutil.which("jfr") or os.path.join(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java")), "jfr")

    # build without the recorder, so only the benchmark's JVM is recorded
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout, check=True,
                   stdout=subprocess.DEVNULL)
    tmp = tempfile.mkdtemp(prefix="spawn-census-")
    try:
        recording = os.path.join(tmp, "run.jfr")
        env = dict(os.environ, JAVA_TOOL_OPTIONS=(
            f"-XX:StartFlightRecording=filename={recording},settings=default,dumponexit=true"))
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        p = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True)
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines or not os.path.exists(recording):
            sys.stderr.write(f"run failed (exit {p.returncode})\n{p.stderr[-3000:]}\n")
            return 1
        result = census(process_starts(jfr_tool, recording))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    result.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  metrics_line=json.loads(lines[-1]))
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print(f"{args.workload} seed {args.seed}: {result['total']} process spawns")
    print("by executable: " + ", ".join(f"{k} {v}" for k, v in result["by_executable"].items()))
    print("by path class: " + ", ".join(f"{k} {v}" for k, v in result["by_class"].items()))
    for k, v in result["by_executable_class"].items():
        print(f"  {v:>6}  {k}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
