"""Snapshot-manifest identity (object-storage portability).

The catalog's shared-file pruning (``table_changes`` & friends)
historically proved two snapshot files identical by hard-link inode —
meaningless on S3/GCS/ABFS. Every commit now writes an Iceberg-style
manifest (``_manifest.json``: relpath → {file_id, size}); carryover /
tag / branch / clone commits carry each file's ``file_id`` forward, so
identity survives without a filesystem that has inodes. These tests pin:

- every commit path produces a complete manifest;
- carried files keep their id, rewritten files get a fresh one;
- pruned diffs are IDENTICAL to ``prune_shared_files=False`` (the
  unpruned oracle);
- manifest identity prunes exactly the files hard-link inode identity
  would (computed independently, from ``os.stat``);
- missing manifests / externally-added files degrade to unpruned reads,
  never to dropped rows.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import MANIFEST_NAME, Catalog
from agol_pandas_spark.operators.merge import merge_pruned


def _mk_table(spark, cat, name="t", n=400, files=4, keep_versions=5):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
    ).repartition(files, "k")
    cat.write(df, name, mode="error", keep_versions=keep_versions)
    return df


def _manifest(cat, path):
    man = cat.snapshot_manifest(path)
    assert man is not None, f"no readable manifest under {path}"
    return man


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_produces_complete_manifest(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t")
    p = cat.path("t")
    man = _manifest(cat, p)
    disk = {os.path.relpath(f, p) for f in cat.data_files("t")}
    assert set(man) == disk
    for rp, e in man.items():
        assert e["size"] == os.path.getsize(os.path.join(p, rp))
        assert isinstance(e["file_id"], str) and len(e["file_id"]) == 32


def test_carryover_preserves_file_ids(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t")
    before = _manifest(cat, cat.path("t"))
    src = spark.createDataFrame([(0, 99)], "k long, v long")
    res = merge_pruned(cat, src, "t", mode="upsert", key="k", keep_versions=5)
    assert res["pruned"] and res["files_carried"] >= 1
    after = _manifest(cat, cat.path("t"))
    before_ids = {e["file_id"]: rp for rp, e in before.items()}
    carried = [rp for rp, e in after.items() if e["file_id"] in before_ids]
    fresh = [rp for rp, e in after.items() if e["file_id"] not in before_ids]
    assert len(carried) == res["files_carried"]
    assert len(fresh) >= 1  # the rewritten dirty slice


def test_pruned_table_changes_equal_unpruned(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t")
    src = spark.createDataFrame(
        [(0, 99), (1000, 1)], "k long, v long"
    )
    merge_pruned(cat, src, "t", mode="upsert", key="k", keep_versions=5)
    pruned = cat.table_changes("t", 1, key="k")
    oracle = cat.table_changes("t", 1, key="k", prune_shared_files=False)
    assert _rows(pruned) == _rows(oracle)
    got = {
        (r["k"], r["_change_type"]) for r in pruned.collect()
    }
    assert (1000, "insert") in got
    assert (0, "update_postimage") in got and (0, "update_preimage") in got


def test_manifest_prunes_same_files_as_inode(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t")
    src = spark.createDataFrame([(0, 99)], "k long, v long")
    merge_pruned(cat, src, "t", mode="upsert", key="k", keep_versions=5)
    old_path = cat._version_path("t", 1)
    new_path = cat.path("t")
    m_old, m_new = cat._unshared_snapshot_files(old_path, new_path)

    # independent oracle: carried files are hard links, so two snapshots
    # share a file iff they share its (st_dev, st_ino)
    def _inodes(path):
        out = {}
        for f in os.listdir(path):
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(path, f))
                out[f] = (st.st_dev, st.st_ino)
        return out

    o_ino, n_ino = _inodes(old_path), _inodes(new_path)
    shared = set(o_ino.values()) & set(n_ino.values())
    assert sorted(os.path.basename(f) for f in m_old) == sorted(
        f for f, i in o_ino.items() if i not in shared
    )
    assert sorted(os.path.basename(f) for f in m_new) == sorted(
        f for f, i in n_ino.items() if i not in shared
    )
    # and pruning actually engaged: fewer files than the full snapshots
    assert len(m_old) < len(o_ino)
    assert len(m_new) < len(n_ino)


def test_tag_branch_clone_carry_identities(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t")
    base = _manifest(cat, cat.path("t"))
    ids = {e["file_id"] for e in base.values()}

    cat.tag_snapshot("t", "r1")
    assert {e["file_id"] for e in _manifest(cat, cat._tag_path("t", "r1")).values()} == ids

    bname = cat.branch_table("t", "dev")
    assert {e["file_id"] for e in _manifest(cat, cat.path(bname)).values()} == ids

    cat.clone("t", "t2")
    assert {e["file_id"] for e in _manifest(cat, cat.path("t2")).values()} == ids

    # tag diff: mutate the table, diff against the tag
    src = spark.createDataFrame([(3, 42)], "k long, v long")
    merge_pruned(cat, src, "t", mode="upsert", key="k", keep_versions=5)
    feed = cat.table_changes_between_tags("t", "r1", key="k")
    oracle = cat.table_changes_between_tags(
        "t", "r1", key="k", prune_shared_files=False
    )
    assert _rows(feed) == _rows(oracle)
    # the branch forked BEFORE the merge: branch_changes sees t's new rows
    # as staged-away deltas, identically with and without pruning
    bfeed = cat.branch_changes("t", "dev", key="k")
    boracle = cat.branch_changes("t", "dev", key="k", prune_shared_files=False)
    assert _rows(bfeed) == _rows(boracle)


def test_publish_branch_keeps_identities(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t")
    bname = cat.branch_table("t", "dev")
    src = spark.createDataFrame([(0, 123)], "k long, v long")
    merge_pruned(cat, src, bname, mode="upsert", key="k")
    branch_ids = {
        e["file_id"] for e in _manifest(cat, cat.path(bname)).values()
    }
    cat.publish_branch("t", "dev", keep_versions=5)
    pub_ids = {e["file_id"] for e in _manifest(cat, cat.path("t")).values()}
    assert pub_ids == branch_ids
    # diff published vs archived pre-publish state
    feed = cat.table_changes("t", 1, key="k")
    oracle = cat.table_changes("t", 1, key="k", prune_shared_files=False)
    assert _rows(feed) == _rows(oracle)


def test_missing_manifest_degrades_to_unpruned_not_wrong(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t")
    src = spark.createDataFrame([(0, 99)], "k long, v long")
    merge_pruned(cat, src, "t", mode="upsert", key="k", keep_versions=5)
    # simulate a pre-manifest snapshot: strip the archived manifest
    os.remove(os.path.join(cat._version_path("t", 1), MANIFEST_NAME))
    old, new = cat._unshared_snapshot_files(
        cat._version_path("t", 1), cat.path("t")
    )
    assert old is None and new is None  # no evidence, no pruning
    feed = cat.table_changes("t", 1, key="k")
    oracle = cat.table_changes("t", 1, key="k", prune_shared_files=False)
    assert _rows(feed) == _rows(oracle)


def test_external_file_never_pruned(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t", keep_versions=5)
    src = spark.createDataFrame([(0, 99)], "k long, v long")
    merge_pruned(cat, src, "t", mode="upsert", key="k", keep_versions=5)
    old_path, new_path = cat._version_path("t", 1), cat.path("t")
    _, unshared = cat._unshared_snapshot_files(old_path, new_path)
    carried = sorted(
        {os.path.basename(f) for f in cat.data_files("t")}
        - {os.path.basename(f) for f in unshared}
    )
    assert carried
    # drop a rogue data file (outside any commit) into the new snapshot:
    # a byte-copy of a CARRIED file, so only the manifest tells them apart
    import shutil

    rogue = os.path.join(new_path, "zz_rogue.parquet")
    shutil.copy2(os.path.join(new_path, carried[0]), rogue)
    _, unshared = cat._unshared_snapshot_files(old_path, new_path)
    names = {os.path.basename(f) for f in unshared}
    assert "zz_rogue.parquet" in names  # unidentified: always read
    assert carried[0] not in names


def test_cleanup_staging_reclaims_only_old_orphans(spark, tmp_path):
    """Crash-leaked staging dirs are reclaimed past the age threshold;
    younger (possibly in-flight) stages and live data are never touched."""
    import time

    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t")
    old = os.path.join(str(tmp_path), "t.parquet.__tmp_deadbeef")
    os.makedirs(old)
    os.utime(old, (time.time() - 7200, time.time() - 7200))
    young = os.path.join(str(tmp_path), "t.parquet.__tmp_cafebabe")
    os.makedirs(young)
    # crash-leaked staged FILE (the property-sidecar staging shape)
    stale_file = os.path.join(str(tmp_path), ".properties", "t.json.__tmp_1234")
    os.makedirs(os.path.dirname(stale_file), exist_ok=True)
    open(stale_file, "w").write("{}")
    os.utime(stale_file, (time.time() - 7200, time.time() - 7200))
    # a displaced-snapshot BACKUP whose sibling live table exists is
    # post-swap garbage, but its age is judged by CTIME (rename
    # preserves mtime — an in-flight backup inherits the old table's
    # days-old mtime): a young-ctime backup survives even with an
    # ancient mtime
    backup = os.path.join(str(tmp_path), "t.parquet.__old_feedface")
    os.makedirs(backup)
    os.utime(backup, (time.time() - 7200, time.time() - 7200))  # mtime only
    removed = cat.cleanup_staging(max_age_sec=3600)
    assert sorted(removed) == sorted([old, stale_file])
    assert not os.path.exists(old) and not os.path.exists(stale_file)
    assert os.path.exists(young)          # in-flight commit untouched
    assert os.path.exists(backup)         # young ctime: in-flight window
    assert cat.table("t").count() == 400  # live data untouched
    # idempotent; and the young one goes once it ages out
    os.utime(young, (time.time() - 7200, time.time() - 7200))
    assert cat.cleanup_staging(max_age_sec=3600) == [young]
    # code-review r8: with the sibling LIVE table present, an aged
    # backup is definitively garbage and IS reclaimed...
    assert cat.cleanup_staging(max_age_sec=-1) == [backup]
    assert not os.path.exists(backup)
    # ...but when the sibling target is MISSING (crash inside the swap
    # window), the backup can be the SOLE surviving copy of committed
    # data: never reclaimed, at any age
    orphan = os.path.join(str(tmp_path), "gone.parquet.__old_cafef00d")
    os.makedirs(orphan)
    assert cat.cleanup_staging(max_age_sec=-1) == []
    assert os.path.exists(orphan)


@pytest.mark.slow
def test_manifest_invariants_under_random_commit_sequences(spark, tmp_path):
    """Property test: under ARBITRARY sequences of commit operations
    (overwrite / pruned upsert / append / selective compaction / tag /
    branch+publish), two invariants must hold at every step:

    1. the live manifest is COMPLETE and size-consistent with disk;
    2. the change feed from every surviving archived version equals the
       unpruned diff (pruning by manifest identity never changes rows).

    Hypothesis drives the op sequence; the Spark work per step is tiny
    (hundreds of rows)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from agol_pandas_spark.operators.merge import merge_pruned

    ops = st.lists(
        st.sampled_from(
            ["overwrite", "upsert", "append", "compact", "tag", "publish"]
        ),
        min_size=2,
        max_size=5,
    )
    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(seq=ops)
    def run(seq):
        counter[0] += 1
        cat = Catalog(spark, str(tmp_path / f"prop{counter[0]}"))
        base = spark.range(300).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("v")
        ).repartition(3, "k")
        cat.write(base, "t", keep_versions=9)
        salt = 0
        for op in seq:
            salt += 1
            if op == "overwrite":
                cat.write(
                    base.withColumn("v", F.col("v") + salt),
                    "t", mode="overwrite", keep_versions=9,
                )
            elif op == "upsert":
                src = spark.createDataFrame(
                    [(salt, 100 + salt), (1000 + salt, salt)],
                    "k long, v long",
                )
                merge_pruned(cat, src, "t", mode="upsert", key="k",
                             keep_versions=9)
            elif op == "append":
                src = spark.createDataFrame(
                    [(2000 + salt, salt)], "k long, v long"
                )
                merge_pruned(cat, src, "t", mode="append", key="k",
                             keep_versions=9)
            elif op == "compact":
                cat.compact_selective(
                    "t", min_file_bytes=1 << 30, keep_versions=9
                )
            elif op == "tag":
                tag = f"tag{salt}"
                if tag not in cat.tags("t"):
                    cat.tag_snapshot("t", tag)
            elif op == "publish":
                bname = cat.branch_table("t", f"b{salt}")
                src = spark.createDataFrame(
                    [(0, 999 + salt)], "k long, v long"
                )
                merge_pruned(cat, src, bname, mode="upsert", key="k")
                cat.publish_branch("t", f"b{salt}", keep_versions=9)
            # invariant 1: live manifest complete + size-consistent
            p = cat.path("t")
            man = cat.snapshot_manifest(p)
            disk = {os.path.relpath(f, p) for f in cat.data_files("t")}
            assert man is not None and set(man) == disk
            for rp, e in man.items():
                assert e["size"] == os.path.getsize(os.path.join(p, rp))
        # invariant 2: pruned feed == unpruned feed from every archive
        for ver in cat.versions("t"):
            pruned = cat.table_changes("t", ver, key="k")
            oracle = cat.table_changes(
                "t", ver, key="k", prune_shared_files=False
            )
            assert _rows(pruned) == _rows(oracle)
        for tag in cat.tags("t"):
            pruned = cat.table_changes_between_tags("t", tag, key="k")
            oracle = cat.table_changes_between_tags(
                "t", tag, key="k", prune_shared_files=False
            )
            assert _rows(pruned) == _rows(oracle)

    run()


def test_manifest_pruning_shrinks_cdf_input_files(spark, tmp_path):
    """The point of manifest identity is that the CDF feed's SCAN (not
    just its rows) stays proportional to the rewritten file set on
    storage without inodes: the feed's input files must exclude every
    carried file."""
    cat = Catalog(spark, str(tmp_path))
    _mk_table(spark, cat, "t", n=400, files=4)
    before = {os.path.basename(f) for f in cat.data_files("t")}
    src = spark.createDataFrame([(0, 99)], "k long, v long")
    res = merge_pruned(cat, src, "t", mode="upsert", key="k", keep_versions=5)
    assert res["pruned"] and res["files_carried"] >= 2
    after_manifest = _manifest(cat, cat.path("t"))
    v1_manifest = _manifest(cat, cat._version_path("t", 1))
    v1_ids = {e["file_id"] for e in v1_manifest.values()}
    carried_names = {
        rp for rp, e in after_manifest.items() if e["file_id"] in v1_ids
    }
    assert len(carried_names) == res["files_carried"]
    feed = cat.table_changes("t", 1, key="k")
    scanned = {os.path.basename(f) for f in feed.inputFiles()}
    # no carried file is opened on either side of the diff
    assert not (scanned & carried_names)
    # and the unpruned oracle WOULD scan them (the pruning is real)
    full = cat.table_changes("t", 1, key="k", prune_shared_files=False)
    full_scanned = {os.path.basename(f) for f in full.inputFiles()}
    assert carried_names <= full_scanned
    assert before  # fixture sanity
