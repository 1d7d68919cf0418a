"""Non-vacuity guards (r8 verdict #1).

A hash-green oracle comparison on an EMPTY result proves only that Spark and
DuckDB agree on emptiness.  Three queries sat in that state for eight rounds:
``q07_nation_trade`` / ``q11_important_stock`` filtered ``n_name`` on TPC-H
names (``FRANCE``/``GERMANY``) while the driver corpus names nations
``NATION_0..24``, and ``q_lateral_explode`` demanded 12-char tokens from a
corpus whose longest token is 8 chars.  These tests pin the fixed predicates
to the corpus: each query must move real rows at the driver's correctness SF.

The registry-wide version of this guard is ``tools/vacuity.py``, which reads
the row-count sidecars the dual-SF selfchecks write and fails any oracle-gated
query that is 0-rows at BOTH SFs.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from tests.conftest import SF_CORRECT

REPO = Path(__file__).resolve().parents[1]


FIXED = [
    # (name, minimum rows at sf0.01 — the validated-at-fix counts, floored)
    ("q07_nation_trade", 1),
    ("q11_important_stock", 1),
    ("q_lateral_explode", 1),
    ("q08_market_share", 1),
]


@pytest.mark.parametrize("name,floor", FIXED)
def test_fixed_predicates_move_rows_at_correctness_sf(spark, name, floor):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_CORRECT)
    assert df.count() >= floor


def test_q08_conditional_arm_not_dead(spark):
    """q08's CASE arm was semi-vacuous (BRAZIL never matched → mkt_share
    identically 0).  With a corpus-real nation the share must be nonzero
    for at least one year."""
    import __spark_entry__ as entry

    rows = entry.queries()["q08_market_share"](spark, SF_CORRECT).collect()
    assert any(r["mkt_share"] and r["mkt_share"] > 0 for r in rows)


def test_vacuity_tool_flags_zero_at_both(tmp_path):
    """tools/vacuity.py exits 1 listing a query that is 0-rows in every
    sidecar, 0 when all queries move rows somewhere."""
    import json
    import subprocess
    import sys

    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({"good": 5, "dead": 0}))
    b.write_text(json.dumps({"good": 0, "dead": 0}))
    r = subprocess.run(
        [sys.executable, "tools/vacuity.py", str(a), str(b)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert r.returncode == 1
    assert "dead" in r.stdout and "good" not in r.stdout.replace("good: ", "")

    # r10 gate-SF tier: "dead" now moves rows at the SECOND sidecar but is
    # still 0 at the FIRST (the gate SF the driver's oracle compares at) —
    # that's a GATE-VACUOUS finding, failing by default and downgradable to
    # a warning only with an explicit --warn-ok
    b.write_text(json.dumps({"good": 0, "dead": 3}))
    r2 = subprocess.run(
        [sys.executable, "tools/vacuity.py", str(a), str(b)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert r2.returncode == 1
    assert "GATE-VACUOUS dead" in r2.stdout
    r3 = subprocess.run(
        [sys.executable, "tools/vacuity.py", "--warn-ok", str(a), str(b)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert r3.returncode == 0
    assert "GATE-VACUOUS dead" in r3.stdout

    # all rows moving at the gate SF: clean exit, no findings
    a.write_text(json.dumps({"good": 5, "dead": 2}))
    b.write_text(json.dumps({"good": 1, "dead": 3}))
    r4 = subprocess.run(
        [sys.executable, "tools/vacuity.py", str(a), str(b)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert r4.returncode == 0
    assert "VACUOUS" not in r4.stdout
