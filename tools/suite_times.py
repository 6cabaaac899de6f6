#!/usr/bin/env python3
"""Per-suite wall time of the last ScalaTest run, slowest first, and the total.

Usage:
  python3 tools/suite_times.py [REPORT_DIR]

REPORT_DIR defaults to target/test-reports. Each TEST-*.xml there is the
JUnit report sbt wrote for one suite; its `time` attribute is the suite's
wall time in seconds. A suite run on its own later overwrites its file, so
run this right after the full `testOnly *` run whose budget you are
checking. The last line is the summed suite time and its headroom under
the tier-1 `testOnly *` timeout (sbt's own start-up, about 10 s, comes on
top). The tool only reads; it writes nothing.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

# `timeout -k 10 2670 sbt ... "testOnly *"` in ROADMAP.md's tier-1 command
TIER1_TIMEOUT_S = 2670


def suite_times(report_dir):
    times = []
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        times.append((root.get("name"), float(root.get("time", "0")),
                      int(root.get("tests", "0"))))
    return sorted(times, key=lambda t: -t[1])


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    times = suite_times(report_dir)
    if not times:
        sys.exit(f"no TEST-*.xml under {report_dir}")
    for name, secs, tests in times:
        print(f"{secs:9.1f} s  {tests:4d} tests  {name}")
    total = sum(t[1] for t in times)
    headroom = TIER1_TIMEOUT_S - total
    print(f"{total:9.1f} s  {sum(t[2] for t in times):4d} tests  total "
          f"({len(times)} suites); headroom {headroom:.1f} s "
          f"({100 * headroom / TIER1_TIMEOUT_S:.1f} %) under the "
          f"{TIER1_TIMEOUT_S} s tier-1 timeout")


if __name__ == "__main__":
    main()
