"""Copy-on-write join-view commits, span-pruned TD-rescans, and
star-schema tailed refresh (VERDICT r10 items 1-3 + ADVICE r10).

Round 10's maintained join views had delta-sized ALGEBRA but table-sized
I/O: the tailed refresh committed with a full ``mode="overwrite"``
rewrite, and the bilateral TD-rescan streamed the whole fact snapshot
through its semi-join filter. These tests pin the physical fixes:

- untouched view files survive a refresh BY INODE (hard-link carryover —
  the ``merge_pruned_upsert`` proof pattern applied to views), with
  ``bytes_rewritten`` O(Δ);
- the TD-rescan's scan reads ONLY the fact files whose footer key spans
  intersect the touched dim keys (``inputFiles``-asserted);
- the N-way star generalization maintains fact ⋈ dim1 ⋈ dim2 from three
  tails and matches the from-scratch 3-way join after a dim1-rekey +
  dim2-delete + fact-upsert batch;
- a compact-then-refresh sequence never carries the housekeeping
  ``data_change: false`` declaration onto a row-changing refresh commit
  (ADVICE r10 — a CdfTail over the VIEW would skip the real delta).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from agol_pandas_spark.catalog import DATA_CHANGE_PROP, Catalog
from agol_pandas_spark.streaming.cdf_source import (
    CdfTail,
    refresh_join_view_from_tails,
    refresh_join_view_from_tails_star,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _clustered(df, n, key):
    return df.repartitionByRange(n, key).sortWithinPartitions(key)


def _fact(spark, keys, bump=0):
    return spark.createDataFrame(
        [(k, k % 8, k * 3 + bump) for k in keys], "fk long, dk long, v long"
    )


def _dim(spark):
    return spark.createDataFrame(
        [(d, f"seg{d}") for d in range(8)], "dk long, label string"
    )


def _inodes(cat, name):
    return {
        os.path.basename(f): os.stat(f).st_ino for f in cat.data_files(name)
    }


def test_tailed_refresh_carries_untouched_view_files_by_inode(
    spark, tmp_path
):
    """The headline r11 claim: a fact batch touching a narrow key range
    rewrites ONLY the view files whose spans intersect it — every other
    view file carries into the new snapshot as the same inode (hard
    link, zero copy), and bytes_rewritten is delta-sized."""
    cat = Catalog(spark, str(tmp_path))
    dim = _dim(spark)
    fact1 = _fact(spark, range(400))
    cat.write(_clustered(fact1, 8, "fk"), "f")
    cat.write(dim, "d")
    view0 = fact1.join(dim, "dk", "inner").select("fk", "dk", "v", "label")
    cat.write(_clustered(view0, 8, "fk"), "v")
    f_tail = CdfTail(cat, "f", key="fk")
    d_tail = CdfTail(cat, "d", key="dk")
    try:
        before = _inodes(cat, "v")
        total_bytes = sum(
            os.path.getsize(f) for f in cat.data_files("v")
        )
        # touch only fk < 30 (one range file's span) + insert fk >= 1000
        # (beyond every span — lands as fresh files, dirties nothing)
        fact2 = _fact(spark, range(30), bump=7).unionByName(
            _fact(spark, range(30, 400))
        ).unionByName(_fact(spark, range(1000, 1010)))
        cat.write(
            _clustered(fact2, 8, "fk"), "f", mode="overwrite",
            keep_versions=4,
        )
        out = refresh_join_view_from_tails(
            spark, cat, "v", f_tail, d_tail,
            join_key="dk", fact_key="fk",
        )
        assert out["committed"] and out["applied_fact"] >= 1
        stats = out["commit_stats"]
        assert stats["pruned"] is True
        assert stats["files_carried"] >= 5, stats
        assert stats["files_rewritten"] <= 3, stats
        after = _inodes(cat, "v")
        survived = {
            n for n, ino in before.items() if after.get(n) == ino
        }
        assert len(survived) == stats["files_carried"]
        # O(Δ) physically: the rewrite cost a fraction of the view
        assert stats["bytes_rewritten"] < total_bytes
        # and the maintained view equals the from-scratch join
        scratch = fact2.join(dim, "dk", "inner").select(
            "fk", "dk", "v", "label"
        )
        assert _rows(cat.table("v").select("fk", "dk", "v", "label")) == \
            _rows(scratch)
    finally:
        f_tail.close()
        d_tail.close()


def test_td_rescan_reads_only_span_intersecting_fact_files(spark, tmp_path):
    """VERDICT r10 item 2: a dim batch touching one join-key class must
    read only the fact files whose footer spans on the join key can
    contain it — asserted through the re-derive plan's inputFiles."""
    from agol_pandas_spark.operators.views import star_view_delta

    cat = Catalog(spark, str(tmp_path))
    fact = _fact(spark, range(400))
    # cluster the FACT by the join key: 8 files, ~one dk class each
    cat.write(_clustered(fact, 8, "dk"), "f")
    dim1 = _dim(spark)
    dim2 = dim1.select(
        "dk",
        F.when(F.col("dk") == 3, F.lit("MOVED"))
        .otherwise(F.col("label")).alias("label"),
    )
    cat.write(dim1, "d")
    cat.write(dim2, "d", mode="overwrite", keep_versions=2)
    d_feed = cat.table_changes("d", from_version=1, key="dk")

    fact_df = cat.table("f")
    _tf, _tds, added = star_view_delta(
        None, [(d_feed, cat.table("d"), "dk")], fact_df, "fk",
        fact_path=cat.path("f"), catalog=cat,
    )
    from urllib.parse import urlparse

    fact_dir = cat.path("f")
    read = {
        urlparse(f).path
        for f in added.inputFiles()
        if urlparse(f).path.startswith(fact_dir)
    }
    spans = cat.path_key_spans(fact_dir, ["dk"])
    expected = {
        s["path"] for s in spans
        if (not s["ok"]) or (s["min"]["dk"] <= 3 <= s["max"]["dk"])
    }
    assert read
    assert len(read) < len(cat.data_files("f"))
    assert read <= expected
    # pruning must not change the answer: same delta as the full scan
    _tf2, _tds2, added_full = star_view_delta(
        None, [(d_feed, cat.table("d"), "dk")], fact_df, "fk",
    )
    assert _rows(added) == _rows(added_full)


def test_star_three_tails_matches_scratch_three_way_join(spark, tmp_path):
    """VERDICT r10 item 3 end-to-end: fact ⋈ dim1 ⋈ dim2 maintained
    from three tails through one star refresh, with a dim1 re-key, a
    dim2 delete, and a fact upsert/insert in the same round — then a
    quiescent round that must not commit."""
    cat = Catalog(spark, str(tmp_path))
    fact1 = spark.createDataFrame(
        [(k, k % 5, k % 3, k * 2) for k in range(200)],
        "fk long, d1 long, d2 long, v long",
    )
    dim1a = spark.createDataFrame(
        [(d, f"a{d}") for d in range(5)], "d1 long, l1 string"
    )
    dim2a = spark.createDataFrame(
        [(d, f"b{d}") for d in range(3)], "d2 long, l2 string"
    )
    cat.write(fact1, "f")
    cat.write(dim1a, "d1")
    cat.write(dim2a, "d2")
    view0 = (
        fact1.join(dim1a, "d1", "inner").join(dim2a, "d2", "inner")
        .select("fk", "d1", "d2", "v", "l1", "l2")
    )
    cat.write(view0, "v")
    ft = CdfTail(cat, "f", key="fk")
    t1 = CdfTail(cat, "d1", key="d1")
    t2 = CdfTail(cat, "d2", key="d2")
    try:
        # the batch: fact upserts fk<20 and inserts fk 500-509; dim1
        # re-keys class 4 -> 14 (retract + nothing attracts under
        # inner); dim2 deletes class 2
        fact2 = spark.createDataFrame(
            [(k, k % 5, k % 3, k * 2 + 9) for k in range(20)]
            + [(k, k % 5, k % 3, k * 2) for k in range(20, 200)]
            + [(k, 1, 0, k) for k in range(500, 510)],
            "fk long, d1 long, d2 long, v long",
        )
        dim1b = spark.createDataFrame(
            [(d, f"a{d}") for d in range(4)] + [(14, "a4")],
            "d1 long, l1 string",
        )
        dim2b = spark.createDataFrame(
            [(d, f"b{d}") for d in range(2)], "d2 long, l2 string"
        )
        cat.write(fact2, "f", mode="overwrite", keep_versions=4)
        cat.write(dim1b, "d1", mode="overwrite", keep_versions=4)
        cat.write(dim2b, "d2", mode="overwrite", keep_versions=4)
        out = refresh_join_view_from_tails_star(
            spark, cat, "v", ft, [(t1, "d1"), (t2, "d2")], fact_key="fk",
        )
        assert out["committed"]
        assert out["applied_fact"] >= 1
        assert all(n >= 1 for n in out["applied_dims"])
        scratch = (
            fact2.join(dim1b, "d1", "inner").join(dim2b, "d2", "inner")
            .select("fk", "d1", "d2", "v", "l1", "l2")
        )
        assert _rows(
            cat.table("v").select("fk", "d1", "d2", "v", "l1", "l2")
        ) == _rows(scratch)
        # per-table watermarks landed under per-dim prop names
        props = cat.snapshot_props("v")
        assert props["jv_fact_through"] == out["fact_through"]
        assert props["jv_dim_d1_through"] == out["dim_throughs"][0]
        assert props["jv_dim_d2_through"] == out["dim_throughs"][1]
        # quiescent round: watermarks suppress all rework
        out2 = refresh_join_view_from_tails_star(
            spark, cat, "v", ft, [(t1, "d1"), (t2, "d2")], fact_key="fk",
        )
        assert out2["committed"] is False
    finally:
        ft.close()
        t1.close()
        t2.close()


def test_star_refresh_requires_distinct_dim_names(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.write(_fact(spark, range(10)), "f")
    cat.write(_dim(spark), "d")
    cat.write(_fact(spark, range(10)), "v")
    ft = CdfTail(cat, "f", key="fk")
    dt = CdfTail(cat, "d", key="dk")
    try:
        with pytest.raises(ValueError, match="distinct dim table names"):
            refresh_join_view_from_tails_star(
                spark, cat, "v", ft, [(dt, "dk"), (dt, "dk")],
                fact_key="fk",
            )
    finally:
        ft.close()
        dt.close()


def test_compact_then_refresh_never_carries_data_change(spark, tmp_path):
    """ADVICE r10 (medium): compacting the VIEW stamps
    ``data_change: false`` into its snapshot props; the next refresh is
    row-CHANGING and must strip that flag from the carried props — or a
    CdfTail over the view would treat the refresh as a declared no-op
    and silently skip its delta."""
    cat = Catalog(spark, str(tmp_path))
    dim = _dim(spark)
    fact1 = _fact(spark, range(100))
    cat.write(fact1.repartition(4), "f")
    cat.write(dim, "d")
    cat.write(
        fact1.join(dim, "dk", "inner").select("fk", "dk", "v", "label")
        .repartition(4),
        "v",
    )
    ft = CdfTail(cat, "f", key="fk")
    dt = CdfTail(cat, "d", key="dk")
    vt = CdfTail(cat, "v", key="fk")  # a consumer OF the view
    try:
        fact2 = _fact(spark, range(100), bump=1)
        cat.write(fact2, "f", mode="overwrite", keep_versions=4)
        out1 = refresh_join_view_from_tails(
            spark, cat, "v", ft, dt, join_key="dk", fact_key="fk",
            keep_versions=4,
        )
        assert out1["committed"]
        # housekeeping on the view: stamps data_change False + parent
        stats = cat.compact("v", keep_versions=4)
        assert cat.snapshot_props("v").get(DATA_CHANGE_PROP) is False
        assert vt.advance(include_current=True) >= 1  # pre-compact delta
        n_after_compact = vt.read_spool(spark).count()

        fact3 = _fact(spark, range(100), bump=2)
        cat.write(fact3, "f", mode="overwrite", keep_versions=4)
        out2 = refresh_join_view_from_tails(
            spark, cat, "v", ft, dt, join_key="dk", fact_key="fk",
            keep_versions=4,
        )
        assert out2["committed"]
        # the refresh commit must NOT re-declare the compaction's flag
        assert DATA_CHANGE_PROP not in cat.snapshot_props("v")
        # and a tail over the view SEES the refresh (no silent skip)
        vt.advance(include_current=True)
        assert vt.read_spool(spark).count() > n_after_compact
        del stats
    finally:
        ft.close()
        dt.close()
        vt.close()
