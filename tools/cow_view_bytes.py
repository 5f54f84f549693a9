"""Measure the copy-on-write join-view commit's physical O(Δ) claim
(VERDICT r10 items 1+6): seed a WIDE materialized fact ⋈ dim view from
the corpus, drive one tailed refresh whose fact batch touches a small
key range, and record bytes rewritten vs the view's total bytes — the
before/after comparison BASELINE.md cites. Pre-r11, the refresh
committed with ``mode="overwrite"``: bytes_rewritten == view_bytes by
construction, at every scale.

Usage::

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/cow_view_bytes.py

Prints ONE JSON line: ``{"sf_dir", "view_bytes", "view_files",
"bytes_rewritten", "files_rewritten", "files_carried", "pruned",
"rewrite_fraction", "touched_fraction"}``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.streaming.cdf_source import (
        CdfTail,
        refresh_join_view_from_tails,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("cow-view-bytes")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    src = Catalog(spark, sf_dir)
    # WIDE fact: every orders column + a quantized measure; clustered by
    # the fact key so view files carry compact spans (the layout a
    # maintained view would hold via optimize_zorder)
    fact1 = src.table("orders").withColumn(
        "price_scaled",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )
    dim = src.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment", "c_acctbal"
    )
    n_files = 16
    root = tempfile.mkdtemp(prefix="cow_bytes_")
    f_tail = d_tail = None
    try:
        cat = Catalog(spark, root)
        cat.write(
            fact1.repartitionByRange(n_files, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
            "f",
        )
        view_cols = [*fact1.columns, "c_mktsegment", "c_acctbal"]
        cat.write(dim, "d")
        cat.write(
            fact1.join(dim, "o_custkey", "inner").select(*view_cols)
            .repartitionByRange(n_files, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
            "v",
        )
        view_files = cat.data_files("v")
        view_bytes = sum(os.path.getsize(f) for f in view_files)
        f_tail = CdfTail(cat, "f", key="o_orderkey")
        d_tail = CdfTail(cat, "d", key="o_custkey")
        # the batch: bump ~1/64 of fact keys (a contiguous range — the
        # clustered-layout case span pruning exists for)
        hi = fact1.agg(F.max("o_orderkey")).first()[0]
        cut = hi // 64
        touched_fraction = (
            fact1.where(F.col("o_orderkey") <= cut).count()
            / fact1.count()
        )
        fact2 = fact1.withColumn(
            "price_scaled",
            F.when(
                F.col("o_orderkey") <= cut, F.col("price_scaled") + 1
            ).otherwise(F.col("price_scaled")),
        )
        cat.write(
            fact2.repartitionByRange(n_files, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
            "f", mode="overwrite", keep_versions=2,
        )
        out = refresh_join_view_from_tails(
            spark, cat, "v", f_tail, d_tail,
            join_key="o_custkey", fact_key="o_orderkey",
        )
        assert out["committed"], out
        stats = out["commit_stats"]
        print(json.dumps({
            "sf_dir": sf_dir,
            "view_bytes": view_bytes,
            "view_files": len(view_files),
            "bytes_rewritten": stats["bytes_rewritten"],
            "files_rewritten": stats["files_rewritten"],
            "files_carried": stats["files_carried"],
            "pruned": stats["pruned"],
            "rewrite_fraction": round(
                stats["bytes_rewritten"] / max(1, view_bytes), 4
            ),
            "touched_fraction": round(touched_fraction, 4),
        }))
    finally:
        for t in (f_tail, d_tail):
            if t is not None:
                t.close()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
