"""Unit tests for tools/plan_lint.py's Window-node parser — the
mechanical guard behind the global-window and tiny-partition
invariants. Parser bugs here silently re-open the scale-killer
classes the lint exists to ban, so the recognition table is pinned
against realistic plan-line shapes."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(os.path.dirname(__file__), os.pardir, "tools", "plan_lint.py")
_spec = importlib.util.spec_from_file_location("plan_lint", _TOOL)
plan_lint = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_lint)

GLOBAL_WINDOW_WHITELIST = plan_lint.GLOBAL_WINDOW_WHITELIST
TINY_CARD_COLS = plan_lint.TINY_CARD_COLS
TINY_PARTITION_WHITELIST = plan_lint.TINY_PARTITION_WHITELIST
_window_nodes = plan_lint._window_nodes


def test_ordered_unpartitioned_window_is_flagged_shape():
    plan = (
        "+- Window [row_number() windowspecdefinition(x#1 ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#9], [x#1 ASC NULLS FIRST]"
    )
    assert _window_nodes(plan) == [(False, True, [])]


def test_unordered_unpartitioned_window_is_flagged_shape():
    # Window.partitionBy() with no args — whole-input running frame
    plan = "+- Window [sum(r#3) windowspecdefinition(...) AS total#7]"
    assert _window_nodes(plan) == [(False, False, [])]


def test_partitioned_forms_are_not_flagged():
    ordered = (
        "+- Window [row_number() ... AS rn#9], [grp#2], "
        "[x#1 ASC NULLS FIRST]"
    )
    running = "+- Window [sum(x#1) ... AS s#8], [grp#2]"
    assert _window_nodes(ordered) == [(True, True, ["grp"])]
    assert _window_nodes(running) == [(True, False, ["grp"])]


def test_window_group_limit_line_is_not_a_window_node():
    plan = (
        "+- WindowGroupLimit [grp#2], [x#1 ASC NULLS FIRST], "
        "row_number(), 5, Final"
    )
    assert _window_nodes(plan) == []


def test_multiline_plan_counts_every_node():
    plan = "\n".join(
        [
            "*(3) Project [a#1]",
            "+- Window [f() AS u#2], [k#3 ASC NULLS FIRST]",
            "   +- Window [g() AS v#4], [p#5], [k#3 DESC NULLS LAST]",
            "      +- Window [h() AS w#6]",
        ]
    )
    assert _window_nodes(plan) == [
        (False, True, []),
        (True, True, ["p"]),
        (False, False, []),
    ]


def test_asc_prefixed_column_name_is_not_an_order_spec():
    # r5 ADVICE: a partition spec whose second column is literally
    # named ASC_flag must parse as a PARTITION group (the old bare
    # " ASC" substring check misread it as an order spec and flagged
    # a correctly partitioned window)
    plan = "+- Window [sum(x#1) ... AS s#8], [a#1, ASC_flag#2]"
    assert _window_nodes(plan) == [(True, False, ["a", "ASC_flag"])]


def test_tiny_partition_spec_parses_column_names():
    # the r5-verdict class: partitioned ONLY by tiny corpus axes
    plan = (
        "+- Window [sum(n#4) ... AS c#9], [split#3], "
        "[doc_id#1 ASC NULLS FIRST]"
    )
    [(has_part, has_order, cols)] = _window_nodes(plan)
    assert has_part and has_order
    assert set(c.lower() for c in cols) <= TINY_CARD_COLS


def test_bucketed_partition_spec_is_not_tiny():
    # the prefix-scan rewrite shape: (group, __bucket) — the extra
    # bucket column takes the spec out of the tiny class
    plan = (
        "+- Window [row_number() ... AS rn#9], "
        "[source#3, __bucket#7], [k#1 ASC NULLS FIRST]"
    )
    [(_, _, cols)] = _window_nodes(plan)
    assert not (set(c.lower() for c in cols) <= TINY_CARD_COLS)


def test_whitelist_pins_positive_site_counts():
    for wl in (GLOBAL_WINDOW_WHITELIST, TINY_PARTITION_WHITELIST):
        for name, (count, reason) in wl.items():
            assert count >= 1, name
            assert isinstance(reason, str) and len(reason) > 20, name
