"""Giant-order skew cap for the shared graph pair-count build
(r7 VERDICT #4: the 100-TB skew handling was a docstring promise).

cap_order_lines bounds any single order's contribution to the
l_orderkey self-join at SKEW_LINE_CAP lines, so one pathological order
with L lines fans out CAP·(CAP−1) pair rows instead of L·(L−1).  The
cap must be (a) a real bound on synthetic giant orders, (b) the
identity on the fixtures (TPC-H baskets have ≤ 7 lines — so every
committed graph hash is unchanged), and (c) deterministic: the
survivor set is the (l_linenumber, l_partkey)-lowest lines, the same
rule the DuckDB oracles mirror.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from antidote_data_framework_spark.operators.graph import (
    SKEW_LINE_CAP,
    cap_distinct_items,
    cap_order_lines,
)
from antidote_data_framework_spark.sources import load_table


def _giant(spark):
    rows = [(1, 100 + i, i + 1) for i in range(100)]  # giant order, 100 lines
    rows += [(2, 7, 1), (2, 9, 2)]  # normal order
    return spark.createDataFrame(
        rows, "l_orderkey BIGINT, l_partkey BIGINT, l_linenumber INT"
    )


def test_giant_order_fanout_bounded(spark):
    li = cap_order_lines(_giant(spark))
    counts = {
        r["l_orderkey"]: r["c"]
        for r in li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert counts == {1: SKEW_LINE_CAP, 2: 2}
    # the pair fan-out for the giant key is CAP*(CAP-1), not 100*99
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    n = a.join(b, "k").filter("src <> dst AND k = 1").count()
    assert n == SKEW_LINE_CAP * (SKEW_LINE_CAP - 1)


def test_cap_survivors_are_deterministic_prefix(spark):
    """Survivors are exactly the SKEW_LINE_CAP lowest (l_linenumber,
    l_partkey) lines — the rule the oracle SQL mirrors."""
    surv = sorted(
        r["l_partkey"]
        for r in cap_order_lines(_giant(spark)).filter("l_orderkey = 1").collect()
    )
    assert surv == [100 + i for i in range(SKEW_LINE_CAP)]


def test_cap_handles_duplicate_linenumbers(spark):
    """The bound holds even when line numbers repeat (row_number, not a
    raw filter), and the l_partkey tiebreak keeps it deterministic."""
    rows = [(1, p, 1) for p in range(50)]  # 50 lines, ALL linenumber=1
    li = spark.createDataFrame(
        rows, "l_orderkey BIGINT, l_partkey BIGINT, l_linenumber INT"
    )
    got = sorted(r["l_partkey"] for r in cap_order_lines(li).collect())
    assert got == list(range(SKEW_LINE_CAP))


def test_distinct_items_cap_bounds_market_basket(spark):
    """The market-basket variant of the cap: a 100-distinct-item giant
    basket keeps its SKEW_LINE_CAP lowest item ids; normal baskets are
    untouched."""
    rows = [(1, 200 + i) for i in range(100)] + [(2, 7), (2, 9)]
    items = spark.createDataFrame(rows, "ok BIGINT, item BIGINT")
    capped = cap_distinct_items(items)
    counts = {
        r["ok"]: r["c"]
        for r in capped.groupBy("ok").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert counts == {1: SKEW_LINE_CAP, 2: 2}
    surv = sorted(r["item"] for r in capped.filter("ok = 1").collect())
    assert surv == [200 + i for i in range(SKEW_LINE_CAP)]


def test_pair_build_bounded_on_giant_orders(spark):
    """_build_pair_counts on an input with a mega-order (CAP x 6+
    lines) must (a) route through the window cap so no aggregation
    buffer ever holds more than CAP structs, and (b) emit EXACTLY the
    pair multiset of the always-window reference — the r12 VERDICT #5
    bounded-per-key-state guarantee."""
    from antidote_data_framework_spark.operators.graph import _build_pair_counts

    rows = [(1, 100 + i, i + 1) for i in range(SKEW_LINE_CAP * 6)]  # mega-order
    rows += [(2, 7, 1), (2, 9, 2), (3, 7, 1), (3, 9, 2), (3, 11, 3)]
    li = spark.createDataFrame(
        rows, "l_orderkey BIGINT, l_partkey BIGINT, l_linenumber INT"
    )
    got = sorted(
        (r["src"], r["dst"], r["w"]) for r in _build_pair_counts(li).collect()
    )
    # reference: the pre-r12 window-cap + self-join shape
    c = cap_order_lines(li)
    a = c.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = c.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    ref = sorted(
        (r["src"], r["dst"], r["w"])
        for r in a.join(b, "k")
        .filter("src <> dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    assert got == ref
    # the mega-order contributes exactly CAP*(CAP-1) directed pairs
    giant_pairs = sum(w for s, d, w in got if s >= 100 and d >= 100)
    assert giant_pairs == SKEW_LINE_CAP * (SKEW_LINE_CAP - 1)


def test_pair_build_fast_path_matches_window_path(spark):
    """On under-cap inputs (every fixture) the two paths are the same
    multiset too — the fast path is what the committed hashes ride.
    INT part ids too: the packed key must widen before the 32-bit
    shift, which Spark masks mod 32 on an INT."""
    from antidote_data_framework_spark.operators.graph import _build_pair_counts

    rows = [(1, 10, 1), (1, 20, 2), (1, 30, 3), (2, 10, 1), (2, 20, 2)]
    for id_type in ("BIGINT", "INT"):
        li = spark.createDataFrame(
            rows, f"l_orderkey BIGINT, l_partkey {id_type}, l_linenumber INT"
        )
        got = sorted(
            (r["src"], r["dst"], r["w"]) for r in _build_pair_counts(li).collect()
        )
        assert got == [
            (10, 20, 2), (10, 30, 1), (20, 10, 2), (20, 30, 1),
            (30, 10, 1), (30, 20, 1),
        ], id_type


def test_pair_build_unpackable_ids_fall_back(spark):
    """Part ids beyond 31 bits must take the struct-pair path and
    still produce the same multiset as the window reference — the
    packed-key fast path is a guarded physical choice, never a
    semantic one."""
    from antidote_data_framework_spark.operators.graph import _build_pair_counts

    big = 2**31  # one id past the pack guard
    rows = [(1, big + 7, 1), (1, big + 9, 2), (2, big + 7, 1), (2, big + 9, 2),
            (2, 5, 3), (3, big + 7, 1), (3, 5, 2)]
    li = spark.createDataFrame(
        rows, "l_orderkey BIGINT, l_partkey BIGINT, l_linenumber INT"
    )
    got = sorted(
        (r["src"], r["dst"], r["w"]) for r in _build_pair_counts(li).collect()
    )
    c = cap_order_lines(li)
    a = c.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = c.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    ref = sorted(
        (r["src"], r["dst"], r["w"])
        for r in a.join(b, "k").filter("src <> dst")
        .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w")).collect()
    )
    assert got == ref
    assert any(s >= big or d >= big for s, d, _w in got)


def test_cap_is_identity_on_fixture(spark, sf_dir):
    """Fixture baskets are under the cap, so the capped build equals
    the uncapped one — the committed graph hashes are unchanged."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    assert cap_order_lines(li).count() == li.count()
    mx = li.groupBy("l_orderkey").count().agg(F.max("count")).first()[0]
    assert mx <= SKEW_LINE_CAP
