"""CDF-maintained join views (VERDICT r9 item 4).

``apply_cdf_to_join_view`` is the retraction-capable sibling of
``apply_cdf_to_summary``: a fact change feed (insert/update/delete) is
folded into a materialized fact ⋈ dim view with one broadcast anti-join
plus one delta-sized dimension join. These tests pin the algebra against
from-scratch joins: all three event shapes, multi-transition feeds where
a key is deleted then re-inserted (latest event wins), idempotent
double-apply (at-least-once replay safety), left-join NULL padding, and
the inner/left-only contract.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.operators.views import apply_cdf_to_join_view


def _fact(spark, rows):
    return spark.createDataFrame(rows, "fk long, dk long, v long")


def _dim(spark):
    return spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "dk long, label string"
    )


def _view(fact, dim, how="inner"):
    return fact.join(dim, "dk", how).select("fk", "dk", "v", "label")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_insert_update_delete_match_scratch_join(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    dim = _dim(spark)
    f1 = _fact(spark, [(10, 1, 100), (11, 2, 110), (12, 3, 120), (13, 1, 130)])
    f2 = _fact(
        spark,
        [(10, 1, 999),            # update (value)
         (11, 3, 110),            # update (re-pointed to another dim key)
         (13, 1, 130),            # unchanged
         (14, 2, 140)],           # insert; fk=12 deleted
    )
    cat.write(f1, "f")
    cat.write(f2, "f", mode="overwrite", keep_versions=2)
    feed = cat.table_changes("f", from_version=1, key="fk")
    maintained = apply_cdf_to_join_view(
        _view(f1, dim), feed, dim, on="dk", fact_key="fk"
    )
    assert _rows(maintained) == _rows(_view(f2, dim))


def test_multi_transition_feed_latest_event_wins(spark):
    """A CdfTail micro-batch can span several transitions: a key deleted
    in v2 and re-inserted in v3 must LAND (the v3 insert is the latest
    event), and a key updated twice takes the newest post image."""
    dim = _dim(spark)
    f1 = _fact(spark, [(1, 1, 10), (2, 2, 20)])
    view = _view(f1, dim)
    feed = spark.createDataFrame(
        [
            # fk=1: updated in v2, updated again in v3 -> v3 image wins
            (1, 1, 10, "update_preimage", 2),
            (1, 1, 11, "update_postimage", 2),
            (1, 1, 10 + 2, "update_preimage", 3),
            (1, 2, 12, "update_postimage", 3),
            # fk=2: deleted in v2, re-inserted in v3 -> lands
            (2, 2, 20, "delete", 2),
            (2, 3, 21, "insert", 3),
            # fk=3: inserted in v2, deleted in v3 -> stays out
            (3, 1, 30, "insert", 2),
            (3, 1, 30, "delete", 3),
        ],
        "fk long, dk long, v long, _change_type string, _commit_version long",
    )
    maintained = apply_cdf_to_join_view(view, feed, dim, "dk", "fk")
    assert _rows(maintained) == _rows(
        _view(_fact(spark, [(1, 2, 12), (2, 3, 21)]), dim)
    )


def test_double_apply_is_idempotent(spark, tmp_path):
    """At-least-once replay: applying the same feed twice converges to
    the same view (unlike the additive summary, which needs the
    exactly-once marker) — re-dropping and re-joining identical images
    is a fixpoint."""
    cat = Catalog(spark, str(tmp_path))
    dim = _dim(spark)
    f1 = _fact(spark, [(1, 1, 10), (2, 2, 20), (3, 3, 30)])
    f2 = _fact(spark, [(1, 1, 99), (4, 2, 40)])  # upd, del x2, ins
    cat.write(f1, "f")
    cat.write(f2, "f", mode="overwrite", keep_versions=2)
    feed = cat.table_changes("f", from_version=1, key="fk")
    once = apply_cdf_to_join_view(_view(f1, dim), feed, dim, "dk", "fk")
    twice = apply_cdf_to_join_view(once, feed, dim, "dk", "fk")
    assert _rows(once) == _rows(twice) == _rows(_view(f2, dim))


def test_left_join_view_pads_unmatched_dims(spark):
    dim = _dim(spark)
    f1 = _fact(spark, [(1, 1, 10)])
    view = _view(f1, dim, how="left")
    feed = spark.createDataFrame(
        [(2, 77, 20, "insert")],  # dk=77 has no dim row
        "fk long, dk long, v long, _change_type string",
    )
    maintained = apply_cdf_to_join_view(
        view, feed, dim, "dk", "fk", how="left"
    )
    assert _rows(maintained) == [
        (1, 1, 10, "alpha"),
        (2, 77, 20, None),
    ]
    # inner view: the dim-less insert contributes nothing
    inner = apply_cdf_to_join_view(_view(f1, dim), feed, dim, "dk", "fk")
    assert _rows(inner) == [(1, 1, 10, "alpha")]


def test_unsupported_join_types_raise(spark):
    dim = _dim(spark)
    view = _view(_fact(spark, [(1, 1, 10)]), dim)
    feed = spark.createDataFrame(
        [(1, 1, 10, "delete")],
        "fk long, dk long, v long, _change_type string",
    )
    with pytest.raises(ValueError, match="inner/left"):
        apply_cdf_to_join_view(view, feed, dim, "dk", "fk", how="full")


def _bfact(spark, rows):
    return spark.createDataFrame(rows, "fk long, dk long, v long")


def _bdim(spark, rows):
    return spark.createDataFrame(rows, "dk long, label string")


def _bview(fact, dim, how="inner"):
    return fact.join(dim, "dk", how).select("fk", "dk", "v", "label")


def test_bilateral_both_sides_change_matches_scratch_join(spark, tmp_path):
    """Fact upsert/delete/insert + dim update/delete/insert in one
    maintenance pass must equal the from-scratch join of the two new
    snapshots — including fact rows ATTRACTED by a dim insert they had
    never matched."""
    from agol_pandas_spark.operators.views import (
        apply_cdf_to_join_view_bilateral,
    )

    cat = Catalog(spark, str(tmp_path))
    f1 = _bfact(spark, [(1, 1, 10), (2, 2, 20), (3, 3, 30), (4, 9, 40)])
    d1 = _bdim(spark, [(1, "alpha"), (2, "beta"), (3, "gamma")])
    # fact: update fk=1's value, DELETE fk=3, insert fk=5
    f2 = _bfact(spark, [(1, 1, 99), (2, 2, 20), (4, 9, 40), (5, 2, 50)])
    # dim: re-label dk=1, DELETE dk=2, INSERT dk=9 (attracts fk=4)
    d2 = _bdim(spark, [(1, "ALPHA2"), (3, "gamma"), (9, "nine")])
    cat.write(f1, "f")
    cat.write(d1, "d")
    cat.write(f2, "f", mode="overwrite", keep_versions=2)
    cat.write(d2, "d", mode="overwrite", keep_versions=2)
    ff = cat.table_changes("f", from_version=1, key="fk")
    df_ = cat.table_changes("d", from_version=1, key="dk")
    maintained = apply_cdf_to_join_view_bilateral(
        _bview(f1, d1), ff, df_, fact=cat.table("f"), dim=cat.table("d"),
        join_key="dk", fact_key="fk",
    )
    assert _rows(maintained) == _rows(_bview(f2, d2))
    # idempotent under replay
    again = apply_cdf_to_join_view_bilateral(
        maintained, ff, df_, fact=cat.table("f"), dim=cat.table("d"),
        join_key="dk", fact_key="fk",
    )
    assert _rows(again) == _rows(_bview(f2, d2))


def test_bilateral_dim_rekey_retracts_and_attracts(spark, tmp_path):
    """A dim UPDATE that changes nothing but the label must rewrite
    exactly its fact rows; deletes under inner drop them; under left
    they re-enter NULL-padded."""
    from agol_pandas_spark.operators.views import (
        apply_cdf_to_join_view_bilateral,
    )

    cat = Catalog(spark, str(tmp_path))
    f1 = _bfact(spark, [(1, 1, 10), (2, 2, 20)])
    d1 = _bdim(spark, [(1, "alpha"), (2, "beta")])
    d2 = _bdim(spark, [(1, "alpha9")])  # dk=1 relabeled, dk=2 deleted
    cat.write(d1, "d")
    cat.write(d2, "d", mode="overwrite", keep_versions=2)
    feed = cat.table_changes("d", from_version=1, key="dk")

    inner = apply_cdf_to_join_view_bilateral(
        _bview(f1, d1), None, feed, fact=f1, dim=d2,
        join_key="dk", fact_key="fk",
    )
    assert _rows(inner) == [(1, 1, 10, "alpha9")]
    left = apply_cdf_to_join_view_bilateral(
        _bview(f1, d1, "left"), None, feed, fact=f1, dim=d2,
        join_key="dk", fact_key="fk", how="left",
    )
    assert _rows(left) == [(1, 1, 10, "alpha9"), (2, 2, 20, None)]


def test_bilateral_fact_only_degrades_to_unilateral(spark, tmp_path):
    from agol_pandas_spark.operators.views import (
        apply_cdf_to_join_view,
        apply_cdf_to_join_view_bilateral,
    )

    cat = Catalog(spark, str(tmp_path))
    f1 = _bfact(spark, [(1, 1, 10), (2, 2, 20)])
    d1 = _bdim(spark, [(1, "alpha"), (2, "beta")])
    f2 = _bfact(spark, [(1, 1, 11), (3, 2, 30)])
    cat.write(f1, "f")
    cat.write(f2, "f", mode="overwrite", keep_versions=2)
    feed = cat.table_changes("f", from_version=1, key="fk")
    bi = apply_cdf_to_join_view_bilateral(
        _bview(f1, d1), feed, None, fact=cat.table("f"), dim=d1,
        join_key="dk", fact_key="fk",
    )
    uni = apply_cdf_to_join_view(_bview(f1, d1), feed, d1, "dk", "fk")
    assert _rows(bi) == _rows(uni) == _rows(_bview(f2, d1))
