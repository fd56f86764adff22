#!/usr/bin/env python3
"""Fast pre-commit guard for the §2A XML-kernel surface.

Round 6 ended with a snapshot commit that broke 52 tests because a
half-finished ``plans/spec.py`` refactor shipped untested.  This guard runs
the cheap, Spark-free portions of the suite — the golden Test1.cs ports, the
pure-Python property round-trips and the generated-kernel differential test —
plus an import smoke of every package module, so a red kernel can never ship
silently again (r6 verdict task #7).

Wire-up: ``.git/hooks/pre-commit`` calls this script; it must exit 0 for the
commit to proceed.  Bypass (emergencies only): ``git commit --no-verify``.

Budget: the fast subset runs in about a minute with no JVM startup.
"""

from __future__ import annotations

import os
import subprocess
import sys

# derive the repo root from this script's location so the hook checks the
# tree it lives in (clones/worktrees at other paths included)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FAST_TESTS = [
    "tests/test_xml_golden.py",
    "tests/test_property_roundtrip.py",
    "tests/test_kernel_differential.py",
]


def main() -> int:
    # 1. import smoke: every module in the package must at least import
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "import pkgutil, importlib, xmlstreamprocessor_spark as p;"
            "[importlib.import_module(m.name) for m in"
            " pkgutil.walk_packages(p.__path__, p.__name__ + '.')]",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if r.returncode != 0:
        sys.stderr.write("precommit_guard: package import smoke FAILED\n")
        sys.stderr.write(r.stderr[-3000:])
        return 1

    # 2. driver-contract sanity: the entry module must import, every
    #    _PRIORITY name must resolve in the REGISTRY (window typos), and
    #    queries()/oracle_sql() must build (no SparkSession needed)
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "import __spark_entry__ as m;"
            "qs, osql = m.queries(), m.oracle_sql();"
            "assert len(qs) >= 200 and set(osql) <= set(qs)",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if r.returncode != 0:
        sys.stderr.write("precommit_guard: driver-contract check FAILED\n")
        sys.stderr.write(r.stderr[-3000:])
        return 1

    # 3. the fast golden suite (pure Python, no SparkSession)
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "-x", "-q", "-p", "no:cacheprovider", *FAST_TESTS],
        cwd=REPO,
    )
    if r.returncode != 0:
        sys.stderr.write(
            "precommit_guard: golden/property tests FAILED — refusing to commit.\n"
            "Fix the kernel or stash the incomplete refactor (see VERDICT r6 #1).\n"
        )
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
