"""Packed single-long pair keys must not change the pair model.

The item-CF pair aggregation groups the co-rating fan-out by
``(i << 32) | j`` when every item id fits 31 bits (r13 — 2x wall on
the 9x scale point).  The pack must be (a) bijective on the eligible
range so groups never merge, (b) value-identical to the two-column
key path, and (c) guarded: out-of-range ids must fall back to the
classic path.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from antidote_data_framework_spark.ml.neighbors_cf import (
    MIN_CO,
    _pair_agg,
    _pair_key_packable,
)


def _cells(spark, id_type="long"):
    # 4 users x overlapping items: pairs (1,2) co=4, (1,3) co=3,
    # (2,3) co=3, plus a below-floor pair (3,9) co=1
    rows = []
    for u in range(4):
        rows += [(u, 1, 2.0), (u, 2, 3.0)]
        if u < 3:
            rows.append((u, 3, 4.0))
    rows.append((3, 9, 5.0))
    return spark.createDataFrame(
        rows, f"user_id {id_type}, item_id {id_type}, r double"
    )


def _join(cells):
    a, b = cells.alias("a"), cells.alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.item_id") < F.col("b.item_id")),
    )


def test_packed_equals_plain_key_path(spark):
    # INT ids too: shiftleft on an INT masks the count mod 32, so an
    # unwidened pack would collapse (1,2), (1,3) and (2,3) into key 3.
    for id_type in ("long", "int"):
        cells = _cells(spark, id_type)
        args = (
            F.col("a.item_id"), F.col("b.item_id"), F.col("a.r") * F.col("b.r"), "dot"
        )
        packed = {
            (r["item_i"], r["item_j"]): (r["dot"], r["co"])
            for r in _pair_agg(_join(cells), *args, packable=True).collect()
        }
        plain = {
            (r["item_i"], r["item_j"]): (r["dot"], r["co"])
            for r in _pair_agg(_join(cells), *args, packable=False).collect()
        }
        assert packed == plain, id_type
        assert (1, 2) in packed and packed[(1, 2)][1] == 4
        assert all(co >= MIN_CO for _d, co in packed.values())
        assert (3, 9) not in packed  # MIN_CO floor applied on both paths


def test_pack_bijective_at_range_edges(spark):
    # ids at the 31-bit eligibility edges must round-trip exactly
    hi = 2**31 - 1
    rows = [(u, i, 1.0) for u in range(3) for i in (0, 1, hi - 1, hi)]
    cells = spark.createDataFrame(rows, "user_id long, item_id long, r double")
    args = (F.col("a.item_id"), F.col("b.item_id"), F.col("a.r") * F.col("b.r"), "dot")
    packed = sorted(
        (r["item_i"], r["item_j"], r["co"])
        for r in _pair_agg(_join(cells), *args, packable=True).collect()
    )
    plain = sorted(
        (r["item_i"], r["item_j"], r["co"])
        for r in _pair_agg(_join(cells), *args, packable=False).collect()
    )
    assert packed == plain
    assert (hi - 1, hi, 3) in packed


def test_packable_guard_reads_the_fixture(spark, sf_dir):
    from antidote_data_framework_spark.ml import neighbors_cf

    neighbors_cf._PACKABLE_CACHE.clear()
    assert _pair_key_packable(spark, sf_dir) is True  # fixture partkeys are small
    neighbors_cf._PACKABLE_CACHE.clear()


def test_pack_guard_bounds_match_ratings_item_ids(spark, sf_dir):
    """_pair_key_packable bounds lineitem.l_partkey, but the pack acts
    on the derived ratings/cells ``item_id``; the guard is only sound
    while ratings_df keeps item_id = l_partkey verbatim."""
    from antidote_data_framework_spark.ml.recsys_data import ratings_df
    from antidote_data_framework_spark.sources import load_table

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    items = ratings_df(spark, sf01).agg(
        F.min("item_id").alias("lo"), F.max("item_id").alias("hi")
    ).first()
    parts = load_table(spark, sf01, "lineitem").agg(
        F.min("l_partkey").alias("lo"), F.max("l_partkey").alias("hi")
    ).first()
    assert items["lo"] is not None
    assert (items["lo"], items["hi"]) == (parts["lo"], parts["hi"])
