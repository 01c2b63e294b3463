"""Gate-window rotation discipline, enforced (r11, r10 verdict #8).

The driver's correctness gate checks only the FIRST 50 registry entries
each round, so tail rows ride on old hash-green records while
``entry_queries.py`` keeps changing underneath them.  Rounds 2-10
managed rotation by hand (and r10 found 21 rows stale since r2/r3);
this test turns the discipline into an invariant:

- every registry row WITH an oracle must either sit inside the current
  50-row window (it will be re-gated this round) or have a hash-green
  record at most ``MAX_STALE_ROUNDS`` rounds before the latest recorded
  round (rows at exactly the limit pass NOW but fail after the next
  round's record lands — the forcing function for next round's swaps);
- rows-only rows (no ``oracle_sql()`` entry — the seeded xxhash64 MC
  studies and the engine-hash dedup diagnostics) are exempt from the
  hash requirement but must still be either in-window or have SOME
  passing record.

When this fails, rotate the named rows into the window (swap out
thrice-green rows whose kernels the round did not touch) — see the
REGISTRY comment in entry_queries.py.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

MAX_STALE_ROUNDS = 6
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _history():
    """{row: last hash-green round} and {row: last any-pass round} from
    the in-repo CORRECTNESS_r*.json records, plus the latest round."""
    last_green: dict[str, int] = {}
    last_pass: dict[str, int] = {}
    latest = 0
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rn = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        latest = max(latest, rn)
        for k, v in json.load(open(f)).items():
            if v.get("hash_match"):
                last_green[k] = rn
            # a rows-only record passes as "ran and produced rows"
            if v.get("rows_match") or (
                v.get("err") == "no_oracle"
                and (v.get("spark_rows") or 0) > 0
            ):
                last_pass[k] = rn
    return last_green, last_pass, latest


def test_no_oracle_row_staler_than_limit():
    from data_integration_est_spark import entry_queries as eq

    names = list(eq.queries())
    oracles = set(eq.oracle_sql())
    window = set(names[:50])
    last_green, last_pass, latest = _history()
    assert latest >= 10, "correctness history missing from the repo"

    stale = []
    for n in names:
        if n in window:
            continue  # re-gated this round by construction
        if n in oracles:
            seen = last_green.get(n)
        else:
            seen = last_pass.get(n)
        if seen is None or latest - seen > MAX_STALE_ROUNDS:
            stale.append((n, seen))
    assert not stale, (
        f"tail rows whose last gate record is >= {MAX_STALE_ROUNDS} rounds "
        f"old (latest recorded round: r{latest}) — rotate them into the "
        f"50-row window: {stale}"
    )


def test_window_is_exactly_fifty_and_oracle_backed():
    """The window size assumption the whole discipline rests on, plus:
    at most the documented rows-only set may lack an oracle in-window."""
    from data_integration_est_spark import entry_queries as eq

    names = list(eq.queries())
    assert len(names) >= 50
    oracles = set(eq.oracle_sql())
    no_oracle_in_window = [n for n in names[:50] if n not in oracles]
    # the seeded-study twins and the engine-hash diagnostics are the only
    # sanctioned rows-only registry members (README's rows-only table);
    # whichever of them rotate through the window may sit there without
    # an oracle
    allowed = {
        "mc_nmar_study", "mc_nmar_v2_study", "mc_contaminated_study",
        "mc_stratified_study", "minhash_lsh_pairs", "simhash_buckets",
        "embedding_neardup_lsh",
    }
    stray = set(no_oracle_in_window) - allowed
    assert not stray, f"unexpected rows-only rows in the gate window: {stray}"
