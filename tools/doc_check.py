"""Doc-drift guard: the query counts stated in README.md must match the
live registry (the r7 verdict caught README saying 163 while the registry
held 170 — this check makes that class of drift impossible to ship).

Usage: python tools/doc_check.py   (exit 1 on any mismatch)

Rules: every literal of the form "<N> named queries", "all <N> queries"
or "<N>/<N> oracle" in README.md must equal len(QUERIES) (both numbers of
the last form); ORACLES must cover QUERIES; every
"<N> pytest cases" literal must equal the live collected test count
(VERDICT r14 nit: the query gate let the test count drift two rounds).
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def collected_test_count() -> int:
    """Exact collected count (parametrize/hypothesis expansions included)
    via pytest's own collector — the only number that can't drift."""
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        capture_output=True,
        text=True,
        check=False,
    ).stdout
    m = re.search(r"(\d+) tests? collected", out)
    if not m:
        raise RuntimeError(f"could not parse pytest collection:\n{out[-500:]}")
    return int(m.group(1))


def main() -> int:
    from ecommerce_data_pipeline_spark.queries import ORACLES, QUERIES

    n = len(QUERIES)
    bad = 0
    text = open("README.md", encoding="utf-8").read()
    for m in re.finditer(
        r"(\d+)\s+named queries|all\s+(\d+)\s+queries|ALL\s+(\d+)\s+with"
        r"|(\d+)/(\d+)\s+oracle",
        text,
    ):
        for claimed in {int(g) for g in m.groups() if g}:
            if claimed != n:
                line = text[: m.start()].count("\n") + 1
                print(f"DRIFT README.md:{line}: says {claimed}, registry has {n}")
                bad += 1
    missing = [q for q in QUERIES if q not in ORACLES]
    if missing:
        print(f"DRIFT: {len(missing)} queries lack oracles: {missing[:5]}")
        bad += 1
    n_tests = collected_test_count()
    for m in re.finditer(r"(\d+)\s+pytest cases", text):
        claimed = int(m.group(1))
        if claimed != n_tests:
            line = text[: m.start()].count("\n") + 1
            print(
                f"DRIFT README.md:{line}: says {claimed} pytest cases, "
                f"suite collects {n_tests}"
            )
            bad += 1
    if not bad:
        print(
            f"OK: README counts match registry ({n} queries, all with "
            f"oracles; {n_tests} pytest cases)"
        )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
