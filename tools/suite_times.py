#!/usr/bin/env python3
"""Per-suite wall time of the last sbt test run.

Usage: python3 tools/suite_times.py [reportDir]
  (default reportDir: target/test-reports)

Reads the JUnit XML reports sbt writes (TEST-*.xml), prints one row per
suite, slowest first: seconds, test count, failures+errors, suite name.
The last row is the total over all suites. Suite times come from each
report's `time` attribute, so they exclude JVM start and compilation.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        yield (float(root.get("time", 0)), int(root.get("tests", 0)),
               int(root.get("failures", 0)) + int(root.get("errors", 0)),
               root.get("name", os.path.basename(path)))


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = sorted(suites(report_dir), reverse=True)
    if not rows:
        sys.exit(f"no TEST-*.xml reports under {report_dir}")
    print(f"{'seconds':>9} {'tests':>6} {'failed':>6}  suite")
    for secs, tests, failed, name in rows:
        print(f"{secs:9.1f} {tests:6d} {failed:6d}  {name}")
    print(f"{sum(r[0] for r in rows):9.1f} {sum(r[1] for r in rows):6d} "
          f"{sum(r[2] for r in rows):6d}  total ({len(rows)} suites)")


if __name__ == "__main__":
    main()
