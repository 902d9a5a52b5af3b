"""Pin the committed strict-sweep artifacts.

The three STRICT files are the repo's cross-engine correctness ladder
(sf0.01 / sf1 / sf10). They are regenerated by real sweeps
(tools/strict_check.py at sf0.01 and sf1, tools/sf10_sweep.py), so a
red entry or a silently shrunken cohort in a committed artifact means a
sweep was run, failed, and the failure was committed anyway — this test
makes that loud. It also pins the sf10 exclusion list to the documented
set: an exclusion may only be ADDED alongside its measured evidence in
BASELINE.md, and retirements (the --retire path) shrink the set.
"""

import json
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# sf10's strict cohort is everything whose DuckDB twin is affordable on
# this host. Documented in BASELINE.md "Strict sweep at sf10". Pinned to
# the EXACT committed set (round-8 verdict item 4: the former looser pin
# allowed the two retired ann/ivf exclusions to silently regress back) —
# re-excluding anything requires measured evidence in BASELINE.md AND an
# entry here. Round 8 retired BOTH former exclusions (linearized basket
# pairs / row-local byte histogram — tests/test_oracle_linearization.py
# pins old==new); the one allowed absence is the NEW 153rd entry, whose
# L=8 oracle measures 451.6 s at sf1 and exceeds the 1800 s box at sf10.
SF10_ALLOWED_EXCLUSIONS = {
    "ann_lsh_multitable",  # oracle 451.6 s at sf1; > 1800 s box at sf10
}


def _load(name: str) -> dict:
    p = ROOT / name
    assert p.exists(), f"{name} missing — run its sweep tool"
    return json.loads(p.read_text())


def test_strict_sf001_all_green():
    art = _load("STRICT.json")
    red = [n for n, e in art["queries"].items() if not e["ok"]]
    assert not red, f"sf0.01 strict failures committed: {red}"
    assert art["n"] >= 153


def test_strict_sf1_all_green_zero_exclusions():
    art = _load("STRICT_sf1.json")
    red = [n for n, e in art["queries"].items() if not e["ok"]]
    assert not red, f"sf1 strict failures committed: {red}"
    assert art["n"] >= 153, "sf1 sweep must cover the full catalog"


def test_strict_sf10_green_with_documented_exclusions():
    art = _load("STRICT_sf10.json")
    red = [n for n, e in art["queries"].items() if not e["ok"]]
    assert not red, f"sf10 strict failures committed: {red}"
    excl = set(art["excluded"])
    undocumented = excl - SF10_ALLOWED_EXCLUSIONS
    assert not undocumented, (
        f"new sf10 exclusions without documented evidence: {undocumented}"
    )
    # cohort + exclusions must account for every oracle-paired query
    assert art["n"] + len(excl) >= 153


def test_sf10_exclusions_carry_measured_evidence():
    art = _load("STRICT_sf10.json")
    for name, reason in art["excluded"].items():
        assert any(
            k in reason
            for k in ("time box", "OutOfMemory", "No space left", "oracle error")
        ), f"{name}: exclusion reason is not measured evidence: {reason!r}"
