#!/usr/bin/env python3
"""Print per-suite wall seconds from sbt's JUnit XML test reports.

    python3 tools/suite_times.py [REPORT_DIR]

REPORT_DIR defaults to target/test-reports. Suites print slowest first,
one `seconds  tests  suite` line each, then the total.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join("target", "test-reports")
    rows = []
    for f in glob.glob(os.path.join(d, "*.xml")):
        root = ET.parse(f).getroot()
        suites = [root] if root.tag == "testsuite" else root.findall("testsuite")
        for s in suites:
            rows.append((float(s.get("time", 0)), int(s.get("tests", 0)), s.get("name")))
    if not rows:
        sys.exit("no test reports under " + d)
    rows.sort(reverse=True)
    for secs, tests, name in rows:
        print("%9.1f  %4d  %s" % (secs, tests, name))
    print("%9.1f  %4d  total" % (sum(r[0] for r in rows), sum(r[1] for r in rows)))


if __name__ == "__main__":
    main()
