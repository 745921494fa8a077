"""Exchange-table semantics on a hand-built conversation — the
claimOrder / as-of / canonical-market-key contract, checked row by row
(the reference's table-driven transform-test style,
/root/reference/internal/transform/trade_test.go)."""

from __future__ import annotations

import datetime

from stellar_etl_spark.operators.exchange import exchanges

TS0 = datetime.datetime(2026, 1, 1, 0, 0, 0)


def _t(i):
    return TS0 + datetime.timedelta(seconds=i)


def test_exchange_semantics(spark):
    # conv c7: user(0) -> assistant(1, amount 500) -> tool(2) -> tool(3)
    #          -> user(4) -> tool(5); tool turn text embeds amount field
    rows = [
        ("c7", 0, "user", "user||c7|0|view|100", None, _t(0)),
        ("c7", 1, "assistant", "assistant||c7|1|click|500", None, _t(1)),
        ("c7", 2, "tool", "tool|tool_1|c7|2|purchase|42", "tool_1", _t(2)),
        ("c7", 3, "tool", "tool|tool_5|c7|3|error|43", "tool_5", _t(3)),
        ("c7", 4, "user", "user||c7|4|view|101", None, _t(4)),
        ("c7", 5, "tool", "tool|tool_2|c7|5|purchase|44", "tool_2", _t(5)),
        # conv c8: tool before any user turn -> no exchange row
        ("c8", 0, "tool", "tool|tool_3|c8|0|purchase|9", "tool_3", _t(0)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {r.tool_turn_idx: r for r in exchanges(df).collect()}

    # only c7's three tool turns produce exchanges
    assert set(got) == {2, 3, 5}

    # both consecutive tool turns claim user turn 0, in claim order
    assert (got[2].user_turn_idx, got[2].claim_order) == (0, 0)
    assert (got[3].user_turn_idx, got[3].claim_order) == (0, 1)
    # after the second user turn, the claim counter restarts
    assert (got[5].user_turn_idx, got[5].claim_order) == (4, 0)

    # as-of lookup: most recent strictly-earlier assistant amount (500)
    assert got[2].asof_assistant_amount == 500
    assert got[5].asof_assistant_amount == 500

    # amounts come from the turn's own text payload
    assert (got[2].amount, got[3].amount, got[5].amount) == (42, 43, 44)

    # canonical market key: first tool turn has no prior tool -> solo;
    # later ones sort the (tool, prev_tool) pair lexicographically
    assert got[2].market_key == "tool_1"
    assert got[3].market_key == "tool_1|tool_5"  # least|greatest
    assert got[5].market_key == "tool_2|tool_5"

    # TOID packing (toid/main.go field widths): conv << 32 | user_turn << 12 | claim
    assert got[3].exchange_id == (7 << 32) | (0 << 12) | 1
    assert got[5].exchange_id == (7 << 32) | (4 << 12) | 0


def test_exchange_id_range_guard(spark):
    """Out-of-range packed fields fail loudly instead of bleeding into
    the adjacent field (the silent-overflow bug class the TOID's fixed
    widths invite)."""
    import pytest

    rows = [
        # user turn index beyond the 20-bit user_turn field
        ("c9", 1 << 20, "user", "user||c9|0|view|1", None, _t(0)),
        ("c9", (1 << 20) + 1, "tool", "tool|tool_1|c9|x|purchase|2", "tool_1", _t(1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    with pytest.raises(Exception, match="capacity"):
        exchanges(df).collect()


def test_exchange_id_fails_on_conv_id_without_numeric_suffix(spark):
    """enrich_turns quarantines a digit-free conv_id with a NULL
    turn_id; exchanges, whose exchange_id has no NULL slot, still fails
    the batch, naming the field."""
    import pytest

    rows = [
        ("c9", 0, "user", "user||c9|0|view|1", None, _t(0)),
        ("__closer__", 0, "user", "user||x|0|view|1", None, _t(0)),
        ("__closer__", 1, "tool", "tool|tool_1|x|1|purchase|2", "tool_1", _t(1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    with pytest.raises(Exception, match="conv_num is NULL"):
        exchanges(df).collect()
