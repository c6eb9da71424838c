"""Run the deep lifecycle suites, one pytest process per file.

The default collection skips ``tests/conftest.DEEP_SUITE_FILES``. A
single JVM running all of them outgrows a 16 GB box, so this runs each
file in its own process with ``SPARK_GRAFT_FULL_TESTS=1`` and
``SPARK_GRAFT_DRIVER_MEM=8g``, prints a passed/failed/skipped table and
exits non-zero if any file failed.

Usage (from the repository root):
  python tools/deep_suites.py
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.conftest import DEEP_SUITE_FILES  # noqa: E402


def run_file(name: str, xml_path: str) -> dict:
    env = {
        **os.environ,
        "SPARK_GRAFT_FULL_TESTS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "8g",
    }
    t0 = time.perf_counter()
    proc = subprocess.run(
        [
            sys.executable, "-m", "pytest", os.path.join("tests", name),
            "-q", "-p", "no:cacheprovider", f"--junitxml={xml_path}",
        ],
        cwd=ROOT,
        env=env,
    )
    row = {"file": name, "rc": proc.returncode,
           "seconds": time.perf_counter() - t0,
           "passed": 0, "failed": 0, "skipped": 0}
    if os.path.exists(xml_path):
        for suite in ET.parse(xml_path).getroot().iter("testsuite"):
            n = int(suite.get("tests", 0))
            failed = int(suite.get("failures", 0))
            failed += int(suite.get("errors", 0))
            skipped = int(suite.get("skipped", 0))
            row["failed"] += failed
            row["skipped"] += skipped
            row["passed"] += n - failed - skipped
    return row


def main() -> int:
    rows = []
    with tempfile.TemporaryDirectory() as tmp:
        for name in sorted(DEEP_SUITE_FILES):
            rows.append(run_file(name, os.path.join(tmp, name + ".xml")))
    print()
    print(f"{'file':<32} {'passed':>6} {'failed':>6} {'skipped':>7} {'s':>5}")
    for r in rows:
        print(f"{r['file']:<32} {r['passed']:>6} {r['failed']:>6} "
              f"{r['skipped']:>7} {r['seconds']:>5.0f}")
    bad = [r["file"] for r in rows if r["failed"] or r["rc"] != 0]
    if bad:
        print(f"FAILED: {', '.join(bad)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
