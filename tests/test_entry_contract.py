"""Driver-contract guards for __spark_entry__.py.

The driver's correctness harness checks exactly the FIRST 50 entries of
queries() in dict order (observed: CORRECTNESS_r01 had 47 rows for 47
queries, CORRECTNESS_r02 had the first 50 of 62).  The surface is kept
at or under 50 queries, so every query is inside that window every
round and dict order carries no meaning.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DRIVER_WINDOW = 50


def test_due_queries_inside_driver_window():
    """Every query is due every round: the whole surface fits the window."""
    import __spark_entry__ as m

    n = len(m.queries())
    assert n <= DRIVER_WINDOW, (
        f"{n} queries but the driver checks only the first {DRIVER_WINDOW}: "
        f"{list(m.queries())[DRIVER_WINDOW:]} would never be checked"
    )


def test_dark_tail_is_rotatable_only():
    """No query may be rotated out of the window, so the dark tail (the
    entries past the first 50) must be empty."""
    import __spark_entry__ as m

    tail = list(m.queries())[DRIVER_WINDOW:]
    assert not tail, f"queries past the driver's {DRIVER_WINDOW}-row window: {tail}"


def test_every_query_has_oracle_or_documented_fixture():
    """Each queries() entry carries an oracle (static SQL, ANN literal,
    or fixture) — rows-only degradation should never be silent."""
    import __spark_entry__ as m

    oracles = m.oracle_sql()
    missing = sorted(set(m.queries()) - set(oracles))
    assert not missing, f"queries without oracles: {missing}"
