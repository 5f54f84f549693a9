"""Manifest layer at O(10^5)-file scale (VERDICT r9 item 1).

Round 8's snapshot manifest was ONE driver-side JSON naming every data
file, rewritten in full per commit — O(table) metadata even when the
data work was O(changed files). Round 9 splits it Iceberg-style: a
manifest LIST (``_manifest.json``, format 2) pointing at immutable
CHUNK manifests (``_manifest-<id>.json``), and a carryover commit
reuses every clean chunk BY REFERENCE (hard link), writing fresh chunk
bytes only for new/changed entries.

These tests prove the O(delta) claim structurally — counting manifest
bytes/chunks actually written per commit on a synthetic 10^5-file
snapshot — rather than by wall-clock alone (timing asserts go flaky
under load; byte counts cannot). A generous timing bound is still
asserted because "the commit stalls for minutes serializing JSON" is
exactly the failure mode being designed away.

No reference counterpart: ``src/agol_pandas.py`` delegates all file
bookkeeping to the hosted service; Iceberg's manifest-list design is
the public analogue.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from agol_pandas_spark.catalog import MANIFEST_NAME, Catalog

N_FILES = 100_000
DELTA = 20


def _mk_files(d: str, names) -> None:
    os.makedirs(d, exist_ok=True)
    for n in names:
        with open(os.path.join(d, n), "wb") as f:
            f.write(b"x")


def _chunk_stats(path: str) -> dict:
    """Per-snapshot manifest accounting: chunk inodes + byte totals."""
    with open(os.path.join(path, MANIFEST_NAME)) as fh:
        head = json.load(fh)
    assert head.get("format") == 2
    out = {"chunks": [], "bytes": 0, "list_bytes": os.path.getsize(
        os.path.join(path, MANIFEST_NAME))}
    for m in head["manifests"]:
        p = os.path.join(path, m["name"])
        st = os.stat(p)
        out["chunks"].append((m["name"], st.st_ino, m["count"]))
        out["bytes"] += st.st_size
    return out


@pytest.fixture(scope="module")
def big_snapshot(spark, tmp_path_factory):
    """A synthetic 10^5-file snapshot with its manifest written once.

    Files are 1-byte stand-ins: the manifest layer never reads data
    bytes (identity is (file_id, size) carried by reference), so tiny
    files exercise exactly the metadata path a 100 TB table would."""
    root = tmp_path_factory.mktemp("mscale")
    cat = Catalog(spark, str(root))
    a = str(root / "a")
    names = [f"part-{i:06d}.parquet" for i in range(N_FILES)]
    _mk_files(a, names)
    t0 = time.perf_counter()
    cat._write_manifest(a)
    full_secs = time.perf_counter() - t0
    return cat, a, names, full_secs


def test_delta_commit_writes_o_delta_manifest_bytes(big_snapshot, tmp_path):
    cat, a, names, full_secs = big_snapshot
    man_a = cat.snapshot_manifest(a)
    assert len(man_a) == N_FILES
    stats_a = _chunk_stats(a)

    # successor snapshot: DELTA files dropped, DELTA rewritten (new
    # inode, same name), DELTA brand new — everything else hard-linked,
    # the shape of a key-pruned merge at 100 TB
    b = str(tmp_path / "b")
    os.makedirs(b)
    dropped = set(names[:DELTA])
    rewritten = set(names[N_FILES // 2 : N_FILES // 2 + DELTA])
    for n in names:
        if n in dropped:
            continue
        if n in rewritten:
            with open(os.path.join(b, n), "wb") as f:
                f.write(b"yy")  # size change = new identity
        else:
            os.link(os.path.join(a, n), os.path.join(b, n))
    new = [f"part-n{i:06d}.parquet" for i in range(DELTA)]
    _mk_files(b, new)

    carried = {n: man_a[n] for n in names if n not in dropped}
    t0 = time.perf_counter()
    cat._write_manifest(b, carried, reuse_from=a)
    delta_secs = time.perf_counter() - t0

    man_b = cat.snapshot_manifest(b)
    assert len(man_b) == N_FILES + DELTA - DELTA  # -dropped +new
    # identity carried for clean files, fresh for rewritten/new
    clean = next(iter(set(names) - dropped - rewritten))
    assert man_b[clean] == man_a[clean]
    for n in rewritten:
        assert man_b[n]["file_id"] != man_a[n]["file_id"]

    stats_b = _chunk_stats(b)
    a_inodes = {ino for _, ino, _ in stats_a["chunks"]}
    reused = [c for c in stats_b["chunks"] if c[1] in a_inodes]
    fresh = [c for c in stats_b["chunks"] if c[1] not in a_inodes]
    # the reused chunks carry ~all entries; fresh chunks carry O(delta):
    # dropped+rewritten+new touch at most 4 chunks' worth of survivors
    chunk = cat._manifest_chunk_size()
    assert sum(c[2] for c in reused) >= N_FILES - 4 * chunk
    assert sum(c[2] for c in fresh) <= 4 * chunk
    # manifest BYTES written this commit are a small fraction of the
    # full manifest — the O(delta) metadata claim, in bytes
    fresh_bytes = sum(
        os.path.getsize(os.path.join(b, name)) for name, _, _ in fresh
    ) + stats_b["list_bytes"]
    assert fresh_bytes < stats_a["bytes"] / 10
    # and generously, in time (the full write serializes 10^5 entries;
    # the delta write must not): allow wide noise margins, the byte
    # assert above is the strict one
    assert delta_secs < max(full_secs, 1.0) * 2


def test_distributed_stat_path_matches_driver_path(
    spark, tmp_path, monkeypatch
):
    """Above AGOL_SPARK_DIST_LIST_THRESHOLD the per-file stat fans out
    over executors; the listing must be bit-identical either way."""
    cat = Catalog(spark, str(tmp_path))
    d = str(tmp_path / "snap")
    _mk_files(d, [f"f-{i:04d}.parquet" for i in range(300)])
    os.makedirs(os.path.join(d, "sub"))
    _mk_files(os.path.join(d, "sub"), ["g-0.parquet"])
    driver = cat._list_with_sizes(d)
    monkeypatch.setenv("AGOL_SPARK_DIST_LIST_THRESHOLD", "100")
    dist = cat._list_with_sizes(d)
    assert dist == driver
    assert ("sub/g-0.parquet", 1) in dict(driver).items()


def test_distributed_key_spans_match_driver_path(
    spark, tmp_path, monkeypatch
):
    """file_key_spans above the threshold reads footers on executors
    (a pruned merge at 10^6 files must not pay serial driver
    round-trips); spans must be identical either way, including the
    conservative ok=False rows, and the executor-failure fallback must
    land on the driver loop."""
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(600).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
        F.format_string("s%04d", F.col("id")).alias("s"),
    )
    cat.write(
        df.repartitionByRange(6, "k").sortWithinPartitions("k"), "t"
    )
    driver = cat.file_key_spans("t", ["k", "s"])
    assert len(driver) == 6 and all(e["ok"] for e in driver)
    monkeypatch.setenv("AGOL_SPARK_DIST_LIST_THRESHOLD", "2")
    dist = cat.file_key_spans("t", ["k", "s"])
    assert dist == driver
    # missing column: conservative ok=False on both paths
    assert all(
        not e["ok"] for e in cat.file_key_spans("t", ["nope"])
    )
    monkeypatch.delenv("AGOL_SPARK_DIST_LIST_THRESHOLD")
    assert all(
        not e["ok"] for e in cat.file_key_spans("t", ["nope"])
    )

    class _Boom:
        def parallelize(self, *a, **k):
            raise RuntimeError("no shared filesystem on executors")

    class _SparkShim:
        sparkContext = _Boom()

    monkeypatch.setenv("AGOL_SPARK_DIST_LIST_THRESHOLD", "2")
    shim = Catalog(spark, str(tmp_path))
    shim.spark = _SparkShim()
    # ADVICE r10: the silent fallback is now LOUD — a serial loop at
    # >=100k files looks like a hang, and the triggering error matters
    with pytest.warns(UserWarning, match="executor fan-out failed"):
        assert shim.file_key_spans("t", ["k", "s"]) == driver
    assert shim.last_fanout_error["op"] == "file_key_spans"
    assert "no shared filesystem" in shim.last_fanout_error["error"]


def test_distributed_stat_falls_back_to_driver_on_executor_failure(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: on a real cluster without the catalog root mounted at
    the same path, the executor-side stat job fails inside Spark — the
    listing must fall back to the driver loop (slower, never wrong)
    instead of surfacing FileNotFoundError from a metadata read."""
    cat = Catalog(spark, str(tmp_path))
    d = str(tmp_path / "snap")
    _mk_files(d, [f"f-{i:04d}.parquet" for i in range(150)])
    driver = cat._list_with_sizes(d)
    monkeypatch.setenv("AGOL_SPARK_DIST_LIST_THRESHOLD", "100")

    class _Boom:
        def parallelize(self, *a, **k):
            raise RuntimeError("no shared filesystem on executors")

    class _SparkShim:
        sparkContext = _Boom()

    shim = Catalog(spark, str(tmp_path))
    shim.spark = _SparkShim()  # plain attribute: swap in the failing SC
    with pytest.warns(UserWarning, match="executor fan-out failed"):
        assert shim._list_with_sizes(d) == driver
    assert shim.last_fanout_error["op"] == "_list_with_sizes"


def test_legacy_monolithic_manifest_upgrades_with_ids_carried(
    spark, tmp_path
):
    """A pre-r9 snapshot (format-1 monolith) reads as UNMANIFESTED: no
    file ids, so a change feed across it diffs unpruned and equals the
    ``prune_shared_files=False`` oracle. The next carryover commit over
    it writes a format-2 manifest list covering every data file (fresh
    ids — there are none to carry)."""
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    ).repartition(4, "k")
    cat.write(df, "t", keep_versions=3)
    p = cat.path("t")
    man = cat.snapshot_manifest(p)
    # rewrite the committed manifest as a format-1 monolith in place
    for f in os.listdir(p):
        if f.startswith("_manifest-"):
            os.remove(os.path.join(p, f))
    with open(os.path.join(p, MANIFEST_NAME), "w") as fh:
        json.dump({"files": man}, fh, sort_keys=True)
    assert cat.snapshot_manifest(p) is None  # format 1: no manifest

    extra = spark.range(200, 210).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    cat.write_with_carryover(
        extra, "t", carry_files=cat.data_files("t"), keep_versions=3,
    )
    legacy = cat.versions("t")[-1]
    assert cat._unshared_snapshot_files(
        cat._version_path("t", legacy), cat.path("t")
    ) == (None, None)
    feed = cat.table_changes("t", legacy, key="k")
    oracle = cat.table_changes("t", legacy, key="k", prune_shared_files=False)
    rows = sorted(tuple(r) for r in feed.collect())
    assert rows == sorted(tuple(r) for r in oracle.collect())
    assert [r[0] for r in rows] == list(range(200, 210))

    p2 = cat.path("t")
    with open(os.path.join(p2, MANIFEST_NAME)) as fh:
        assert json.load(fh).get("format") == 2  # upgraded layout
    man2 = cat.snapshot_manifest(p2)
    disk = {os.path.relpath(f, p2) for f in cat.data_files("t")}
    assert man2 is not None and set(man2) == disk
    assert set(man) < disk  # the carried files are covered too


def test_chunk_reuse_through_real_carryover_commits(
    spark, tmp_path, monkeypatch
):
    """End-to-end through write_with_carryover: a second commit that
    carries every prior file forward reuses the prior snapshot's chunk
    manifests by inode, and table_changes prunes to the new files."""
    monkeypatch.setenv("AGOL_SPARK_MANIFEST_CHUNK", "8")
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(32, "k")
    cat.write(df, "t", keep_versions=3)
    v1 = cat.path("t")
    stats_1 = _chunk_stats(v1)
    assert len(stats_1["chunks"]) >= 4  # multi-chunk layout in force

    extra = spark.range(400, 420).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(2)
    cat.write_with_carryover(
        extra, "t", carry_files=cat.data_files("t"), keep_versions=3,
    )
    stats_2 = _chunk_stats(cat.path("t"))
    old = {ino for _, ino, _ in stats_1["chunks"]}
    reused = [c for c in stats_2["chunks"] if c[1] in old]
    assert sum(c[2] for c in reused) == 32  # every clean chunk linked
    ch = cat.table_changes("t", from_version=1, key="k")
    assert ch.count() == 20  # pruning: only the 2 new files scanned
    assert sorted(r.k for r in ch.collect()) == list(range(400, 420))
