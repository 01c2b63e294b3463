"""Correctness gate: every timed call is checked, and failures are counted.

A call fails when it raises or when its output disagrees with the expected
value computed independently (the numpy oracle in ``tests/oracle_np.py``,
or a structural check for the Monte Carlo summary).  ``error_rate`` is
failed / attempted.
"""

from __future__ import annotations

import math
import sys
import traceback

# Engine and oracle agree to ~1e-12 relative on these inputs; the gate
# leaves room for summation-order differences only.
RTOL = 1e-6

MAX_REPORTS = 5


class Gate:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self._reported = 0

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0

    def _fail(self, message: str) -> None:
        self.failed += 1
        if self._reported < MAX_REPORTS:
            self._reported += 1
            print(f"perfbench: FAILED {message}", file=sys.stderr)

    def error(self, what: str) -> None:
        """Count an attempted call that raised (call from an ``except``)."""
        self.attempted += 1
        self._fail(f"{what}: {traceback.format_exc()}")

    def check(self, what: str, got, expected, rtol: float = RTOL) -> bool:
        """Count an attempted call whose output is the tuple ``got``; it
        passes when each element is finite and matches ``expected`` (an
        element of ``expected`` that is None is not compared)."""
        self.attempted += 1
        for i, (g, e) in enumerate(zip(got, expected, strict=True)):
            if e is None:
                continue
            if g is None or not math.isfinite(g) or not math.isclose(g, e, rel_tol=rtol):
                self._fail(f"{what}[{i}]: got {g!r}, expected {e!r}")
                return False
        return True

    def require(self, what: str, ok: bool, detail: str = "") -> bool:
        """Count an attempted call whose output passed/failed a check made
        by the caller."""
        self.attempted += 1
        if not ok:
            self._fail(f"{what}: {detail}")
        return ok
