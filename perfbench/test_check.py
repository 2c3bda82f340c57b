"""The output check must count a changed row and a dropped row as wrong.

    python3 -m pytest perfbench/test_check.py -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from check import canonical, mismatch  # noqa: E402

COLS = ["o_orderkey", "revenue", "status"]
TAGS = ["int64", "float64", "utf8"]
ROWS = [(1, 10.5, "F"), (2, 20.25, "O"), (3, float("nan"), "P")]
WANT = canonical(COLS, TAGS, ROWS)


def test_same_rows_in_another_order_and_column_order_agree():
    got = canonical(list(reversed(COLS)), list(reversed(TAGS)),
                    [tuple(reversed(r)) for r in reversed(ROWS)])
    assert mismatch(got, WANT) is None


def test_changed_row_is_wrong():
    rows = [ROWS[0], (2, 20.26, "O"), ROWS[2]]
    assert mismatch(canonical(COLS, TAGS, rows), WANT)


def test_dropped_row_is_wrong():
    assert mismatch(canonical(COLS, TAGS, ROWS[:2]), WANT)


def test_type_tag_difference_is_wrong():
    assert mismatch(canonical(COLS, ["int64", "decimal(38,0)", "utf8"], ROWS), WANT)


def test_wrong_timed_outputs_count_as_failed():
    from run import judge

    changed = canonical(COLS, TAGS, [ROWS[0], (2, 20.26, "O"), ROWS[2]])
    dropped = canonical(COLS, TAGS, ROWS[1:])
    same = canonical(COLS, TAGS, list(reversed(ROWS)))
    ops = [{"name": "q", "answer": a, "failed": False} for a in (changed, dropped, same)]
    ops.append({"name": "q", "answer": None, "failed": True})  # raised, not judged
    assert judge([{"ops": ops}], {"q": WANT}) == 2
    assert [o["failed"] for o in ops] == [True, True, False, True]
