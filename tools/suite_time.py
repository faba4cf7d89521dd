#!/usr/bin/env python3
"""Sum the suite time of one test run from sbt's JUnit XML reports.

Usage: python3 tools/suite_time.py <START_FILE>

START_FILE is a file `touch`ed just before `sbt test`; its mtime marks
when the run began.

sbt never deletes a report: the XML of a suite that was renamed, deleted or
simply not run stays in target/test-reports, and summing every file counts
it again. Only reports written at or after the start are summed; every
older one is named on stderr as skipped, so a stale suite cannot inflate
the total unnoticed.

Prints one line: suites, tests, failures, errors, skipped and the summed
seconds. Exits 1 when no report is newer than the start.
"""
import os
import sys
import xml.etree.ElementTree as ET

REPORTS = "target/test-reports"


def suites(path: str):
    """(tests, failures, errors, skipped, seconds) per <testsuite>."""
    root = ET.parse(path).getroot()
    nodes = [root] if root.tag == "testsuite" else root.findall("testsuite")
    for s in nodes:
        yield (int(s.get("tests", 0)), int(s.get("failures", 0)),
               int(s.get("errors", 0)), int(s.get("skipped", 0)),
               float(s.get("time", 0.0)))


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    since = os.path.getmtime(sys.argv[1])
    counted, stale = [], []
    for f in sorted(os.listdir(REPORTS)):
        if not f.endswith(".xml"):
            continue
        path = os.path.join(REPORTS, f)
        if os.path.getmtime(path) < since:
            stale.append(f)
        else:
            counted.extend(suites(path))
    for f in stale:
        print(f"skipped stale report: {f}", file=sys.stderr)
    if not counted:
        print(f"no report in {REPORTS} is newer than {sys.argv[1]}",
              file=sys.stderr)
        return 1
    tot = [sum(r[i] for r in counted) for i in range(5)]
    print(f"suites={len(counted)} tests={tot[0]} failures={tot[1]} "
          f"errors={tot[2]} skipped={tot[3]} seconds={tot[4]:.1f} "
          f"stale_skipped={len(stale)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
