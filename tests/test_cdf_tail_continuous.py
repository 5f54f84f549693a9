"""CdfTail as a TRUE continuous tail (VERDICT r9 item 3).

Round 8 proved the CDF→IVM loop per-drain (availableNow). These tests
run the same loop under a ``processingTime`` trigger — the long-running
deployment shape — and prove it survives the three lifecycle events a
real tail meets:

1. new versions landing WHILE the query runs (live ``advance()``),
2. a stop + restart from checkpoint mid-history (no re-apply, no hole:
   the file-source checkpoint skips processed spool files and the
   snapshot-props batch marker makes re-executed batches no-ops),
3. a vacuum during downtime — the squashed-diff path (gap BETWEEN
   surviving archives composes the missing deltas) and the
   ``CdfGapError`` path (watermark itself vacuumed: fail loudly,
   never stream a silent hole).

The registry query ``stream_cdf_tail_summary`` is unchanged — these
exercise the same helpers (``CdfTail``, ``stream_cdf_into_summary``)
under the continuous trigger the driver can't run.
"""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.streaming.cdf_source import (
    CdfTail,
    stream_cdf_into_summary,
)


def _mk(spark, hi, bump):
    return spark.createDataFrame(
        [(k, f"g{k % 3}", k * 10 + bump) for k in range(hi)],
        "k long, g string, v long",
    )


def _summarize(df):
    return df.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("v_sum"),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _wait_until(pred, timeout=120.0, step=0.5) -> bool:
    deadline = time.time() + timeout
    last_err = None
    while time.time() < deadline:
        try:
            if pred():
                return True
        except Exception as ex:
            # the poller races the sink's atomic overwrite: a snapshot
            # listed just before the swap can vanish mid-read — that is
            # "not converged YET", not a failure; re-read next tick.
            # Keep the last error so a timeout caused by a genuinely
            # broken predicate is diagnosable, not a silent 120 s burn
            last_err = ex
        time.sleep(step)
    if last_err is not None:
        raise AssertionError(
            f"never converged within {timeout}s; last predicate error: "
            f"{last_err!r}"
        ) from last_err
    return False


def _summary_matches(cat, name="summary", table="t"):
    return _rows(cat.table(name)) == _rows(_summarize(cat.table(table)))


def test_processing_time_tail_applies_commits_landing_while_running(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 20, 0), "t")
    cat.write(_summarize(_mk(spark, 20, 0)), "summary")
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    q = stream_cdf_into_summary(
        tail, spark, cat, "summary",
        keys=["g"], sums={"v_sum": "v"},
        stream_id="live-1",
        checkpoint_dir=str(tmp_path / "cp"),
        processing_time="500 milliseconds",
    )
    try:
        # versions land while the query is RUNNING; advance() is the
        # per-commit hook a deployment calls
        cat.write(_mk(spark, 26, 0), "t", mode="overwrite", keep_versions=8)
        tail.advance()
        cat.write(_mk(spark, 26, 7), "t", mode="overwrite", keep_versions=8)
        tail.advance()
        tail.advance(include_current=True)
        assert _wait_until(lambda: _summary_matches(cat)), (
            "continuous tail never converged to the recompute"
        )
    finally:
        q.stop()
    tail.close()


def test_restart_from_checkpoint_mid_history(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 18, 0), "t")
    cat.write(_summarize(_mk(spark, 18, 0)), "summary")
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    cp = str(tmp_path / "cp")

    def start():
        return stream_cdf_into_summary(
            tail, spark, cat, "summary",
            keys=["g"], sums={"v_sum": "v"},
            stream_id="restart-1",  # SAME lineage across restarts
            checkpoint_dir=cp,
            processing_time="500 milliseconds",
        )

    q = start()
    try:
        cat.write(_mk(spark, 24, 0), "t", mode="overwrite", keep_versions=8)
        cat.write(_mk(spark, 24, 3), "t", mode="overwrite", keep_versions=8)
        tail.advance()  # spools v1->v2 (v2->v3 not yet: v3 is head)
        assert _wait_until(
            lambda: _rows(cat.table("summary"))
            == _rows(_summarize(cat.table_at("t", 2)))
        )
    finally:
        q.stop()

    # DOWNTIME: another commit lands and is spooled while no query runs
    cat.write(_mk(spark, 24, 9), "t", mode="overwrite", keep_versions=8)
    tail.advance()                      # v2 -> v3
    tail.advance(include_current=True)  # v3 -> HEAD
    marker_before = cat.snapshot_props("summary")

    q = start()  # resume from the SAME checkpoint
    try:
        assert _wait_until(lambda: _summary_matches(cat)), (
            "restarted tail never converged"
        )
    finally:
        q.stop()
    # the restart applied only NEW batches: the marker advanced, and the
    # already-applied transition was not re-applied (the converged
    # summary above would otherwise double-count)
    assert (
        cat.snapshot_props("summary")["cdf_last_batch_id"]
        > marker_before["cdf_last_batch_id"]
    )
    assert cat.snapshot_props("summary")["cdf_stream_id"] == "restart-1"
    tail.close()


def test_vacuum_during_downtime_squashes_then_converges(spark, tmp_path):
    """keep_versions=2 vacuums v2 while the query is down: the surviving
    archives are [v3, v4] with the v2 archive gone, and the tail emits
    the SQUASHED v?->v? diffs — an exact feed, never a hole — so the
    restarted query still converges to the recompute."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 15, 0), "t")
    cat.write(_summarize(_mk(spark, 15, 0)), "summary")
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    cp = str(tmp_path / "cp")

    def start():
        return stream_cdf_into_summary(
            tail, spark, cat, "summary",
            keys=["g"], sums={"v_sum": "v"},
            stream_id="vac-1", checkpoint_dir=cp,
            processing_time="500 milliseconds",
        )

    q = start()
    try:
        cat.write(_mk(spark, 21, 0), "t", mode="overwrite", keep_versions=9)
        cat.write(_mk(spark, 21, 5), "t", mode="overwrite", keep_versions=9)
        tail.advance()  # v1->v2 spooled and applied while running
        assert _wait_until(
            lambda: _rows(cat.table("summary"))
            == _rows(_summarize(cat.table_at("t", 2)))
        )
    finally:
        q.stop()

    # downtime: two more commits land, then a vacuum drops the MIDDLE
    # archive v3 — the watermark (v2) survives but the next survivor is
    # v4, a numeric gap the tail must squash, never hole
    import shutil

    cat.write(_mk(spark, 21, 8), "t", mode="overwrite", keep_versions=9)
    cat.write(_mk(spark, 27, 8), "t", mode="overwrite", keep_versions=9)
    shutil.rmtree(cat._version_path("t", 3))
    assert cat.versions("t") == [1, 2, 4]
    assert tail.advance() == 1          # squashed v2 -> v4, ONE transition
    tail.advance(include_current=True)  # v4 -> HEAD
    q = start()
    try:
        assert _wait_until(lambda: _summary_matches(cat)), (
            "squashed-diff restart never converged"
        )
    finally:
        q.stop()
    tail.close()


def test_vacuumed_watermark_during_downtime_raises_gap_error(
    spark, tmp_path
):
    """If the vacuum removed the watermark version itself (nothing left
    to diff FROM), the tail must refuse with CdfGapError at the next
    advance — the re-seed signal — rather than resume with a hole."""
    from agol_pandas_spark.errors import CdfGapError

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 12, 0), "t")
    cat.write(_summarize(_mk(spark, 12, 0)), "summary")
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    q = stream_cdf_into_summary(
        tail, spark, cat, "summary",
        keys=["g"], sums={"v_sum": "v"},
        stream_id="gap-1", checkpoint_dir=str(tmp_path / "cp"),
        processing_time="500 milliseconds",
    )
    try:
        cat.write(_mk(spark, 16, 0), "t", mode="overwrite", keep_versions=8)
        cat.write(_mk(spark, 16, 4), "t", mode="overwrite", keep_versions=8)
        tail.advance()
        assert _wait_until(
            lambda: _rows(cat.table("summary"))
            == _rows(_summarize(cat.table_at("t", 2)))
        )
    finally:
        q.stop()

    # downtime vacuum wipes every archive <= the watermark AND beyond:
    # keep_versions=1 keeps only the newest archive (v3's state), so the
    # watermark version 2 no longer survives
    last_consistent = _rows(_summarize(cat.table_at("t", 2)))
    cat.write(_mk(spark, 16, 6), "t", mode="overwrite", keep_versions=1)
    assert cat.versions("t") == [3]
    with pytest.raises(CdfGapError):
        tail.advance()
    # the summary is untouched — still the last consistent state, ready
    # for an explicit re-seed rather than a silent divergence
    assert _rows(cat.table("summary")) == last_consistent
    tail.close()


def test_tail_recreated_over_same_spool_never_reemits(spark, tmp_path):
    """PROCESS restart (review r9): the tail object dies, a new CdfTail
    over the same spool resumes the persisted watermark — already-
    spooled transitions are not re-emitted under new file names (a
    file-source checkpoint could not dedup those)."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 12, 0), "t")
    spool = str(tmp_path / "spool")
    tail = CdfTail(cat, "t", key="k", spool_dir=spool)
    cat.write(_mk(spark, 16, 0), "t", mode="overwrite", keep_versions=8)
    cat.write(_mk(spark, 16, 4), "t", mode="overwrite", keep_versions=8)
    assert tail.advance() == 1
    n_rows_before = tail.read_spool(spark).count()
    del tail

    tail2 = CdfTail(cat, "t", key="k", spool_dir=spool)  # "new process"
    assert tail2.advance() == 0  # nothing new landed: nothing re-spooled
    assert tail2.read_spool(spark).count() == n_rows_before
    # and it keeps tailing from where the dead process left off
    cat.write(_mk(spark, 16, 9), "t", mode="overwrite", keep_versions=8)
    assert tail2.advance() == 1
    tail2.close()


def test_crash_between_spool_and_state_write_recovers_exactly_once(
    spark, tmp_path
):
    """The narrowest crash window: the transition directory landed but
    the state write didn't. Recovery must advance the watermark WITHOUT
    re-emitting (the spool directory itself is the emit record)."""
    import os

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    spool = str(tmp_path / "spool")
    tail = CdfTail(cat, "t", key="k", spool_dir=spool)
    cat.write(_mk(spark, 14, 0), "t", mode="overwrite", keep_versions=8)
    cat.write(_mk(spark, 14, 2), "t", mode="overwrite", keep_versions=8)
    assert tail.advance() == 1
    n_before = tail.read_spool(spark).count()
    os.remove(os.path.join(spool, CdfTail.STATE_NAME))  # "crash" here
    del tail  # the crashed object is gone (frees the in-process slot)

    tail2 = CdfTail(cat, "t", key="k", spool_dir=spool)
    assert tail2.advance() == 0  # dir-existence guard, not the state
    assert tail2.read_spool(spark).count() == n_before

    # same window for a HEAD spool: the recorded _head_commit restores
    # the head bookkeeping, so a later archive of that state is
    # recognized rather than re-emitted
    assert tail2.advance(include_current=True) == 1
    n_head = tail2.read_spool(spark).count()
    os.remove(os.path.join(spool, CdfTail.STATE_NAME))
    del tail2  # crash again
    tail3 = CdfTail(cat, "t", key="k", spool_dir=spool)
    assert tail3.advance(include_current=True) == 0
    assert tail3.read_spool(spark).count() == n_head
    cat.write(_mk(spark, 14, 6), "t", mode="overwrite", keep_versions=8)
    assert tail3.advance(include_current=True) == 1  # only the NEW delta
    assert sorted(
        r._commit_version
        for r in tail3.read_spool(spark)
        .select("_commit_version").distinct().collect()
    ) == [2, 3, 4]
    tail3.close()


def test_full_process_restart_ivm_converges(spark, tmp_path):
    """The deployment story end-to-end: query AND tail both die; a new
    process re-creates the tail over the same spool and the query over
    the same checkpoint + stream_id; the summary converges without
    double-counting."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 12, 0), "t")
    cat.write(_summarize(_mk(spark, 12, 0)), "summary")
    spool, cp = str(tmp_path / "spool"), str(tmp_path / "cp")

    def boot():
        tail = CdfTail(cat, "t", key="k", spool_dir=spool)
        q = stream_cdf_into_summary(
            tail, spark, cat, "summary",
            keys=["g"], sums={"v_sum": "v"},
            stream_id="proc-1", checkpoint_dir=cp,
            processing_time="500 milliseconds",
        )
        return tail, q

    tail, q = boot()
    try:
        cat.write(_mk(spark, 18, 0), "t", mode="overwrite", keep_versions=8)
        cat.write(_mk(spark, 18, 3), "t", mode="overwrite", keep_versions=8)
        tail.advance()
        assert _wait_until(
            lambda: _rows(cat.table("summary"))
            == _rows(_summarize(cat.table_at("t", 2)))
        )
    finally:
        q.stop()
    del tail  # the whole process dies

    tail, q = boot()  # new process: same spool, checkpoint, stream_id
    try:
        cat.write(_mk(spark, 22, 5), "t", mode="overwrite", keep_versions=8)
        tail.advance()
        tail.advance(include_current=True)
        assert _wait_until(lambda: _summary_matches(cat)), (
            "post-restart IVM never converged (double-count or hole)"
        )
    finally:
        q.stop()
    tail.close()


def test_crashed_head_spool_for_displaced_state_raises_not_skips(
    spark, tmp_path
):
    """Review r9 pass 2: a crashed head-spool directory at version N must
    NOT satisfy a later pair transition into N when the archive at N is
    a DIFFERENT state (the captured head was displaced unarchived) —
    that would silently swallow the displaced delta. The recorded
    head-commit makes the mismatch detectable: CdfGapError."""
    import os

    from agol_pandas_spark.errors import CdfGapError

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    cat.write(_mk(spark, 12, 0), "t", mode="overwrite", keep_versions=8)
    spool = str(tmp_path / "spool")
    tail = CdfTail(cat, "t", key="k", spool_dir=spool)
    assert tail.advance(include_current=True) == 1  # head capture (X)
    os.remove(os.path.join(spool, CdfTail.STATE_NAME))  # crash
    del tail  # the crashed object is gone (frees the in-process slot)

    # X is displaced UNARCHIVED, then the new state Y archives as v2
    cat.write(_mk(spark, 12, 5), "t", mode="overwrite", keep_versions=0)
    cat.write(_mk(spark, 12, 9), "t", mode="overwrite", keep_versions=8)
    assert cat.versions("t") == [1, 2]

    tail2 = CdfTail(cat, "t", key="k", spool_dir=spool)
    with pytest.raises(CdfGapError):
        tail2.advance()
    tail2.close()


def test_spool_lock_refuses_concurrent_live_process(spark, tmp_path):
    """ADVICE r10: two live tails over one spool can each miss the
    other's just-renamed transition and double-spool it. The spool lock
    refuses a second live PROCESS; a dead holder's lock is stale and
    reclaimed; detach() hands the spool off cleanly."""
    import os
    import subprocess

    from agol_pandas_spark.errors import TailLockError

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    spool = str(tmp_path / "spool")
    os.makedirs(spool)

    # a LIVE foreign process holds the lock
    other = subprocess.Popen(["sleep", "60"])
    try:
        with open(os.path.join(spool, CdfTail.LOCK_NAME), "w") as f:
            f.write(str(other.pid))
        with pytest.raises(TailLockError):
            CdfTail(cat, "t", key="k", spool_dir=spool)
    finally:
        other.kill()
        other.wait()
    # the holder is now DEAD: the lock is stale, attach reclaims it
    tail = CdfTail(cat, "t", key="k", spool_dir=spool)
    assert os.path.exists(os.path.join(spool, CdfTail.LOCK_NAME))
    # detach releases the lock but keeps the spool (handoff)
    tail.detach()
    assert not os.path.exists(os.path.join(spool, CdfTail.LOCK_NAME))
    tail2 = CdfTail(cat, "t", key="k", spool_dir=spool)
    tail2.close()
    assert not os.path.exists(spool)


def test_refused_attach_releases_lock(spark, tmp_path):
    """A refused attach (legacy flat spool) must not leave the lock
    behind — the caller never got a tail, so nothing would release it."""
    import os

    from agol_pandas_spark.errors import CdfGapError

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    with open(os.path.join(spool, "v000002_part-0.parquet"), "wb") as f:
        f.write(b"legacy")
    with pytest.raises(CdfGapError):
        CdfTail(cat, "t", key="k", spool_dir=spool)
    assert not os.path.exists(os.path.join(spool, CdfTail.LOCK_NAME))


def test_attach_sweeps_orphaned_stage_dirs_and_tmp_state(spark, tmp_path):
    """ADVICE r10: a crash between the staging write and the rename in
    _spool_one leaves .__stage_* dirs (and _save_state leaves
    _state.json.__tmp_* files). They were never visible to the stream,
    so attach deletes them — unbounded crash-loop debris otherwise."""
    import os

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    spool = str(tmp_path / "spool")
    tail = CdfTail(cat, "t", key="k", spool_dir=spool)
    cat.write(_mk(spark, 12, 0), "t", mode="overwrite", keep_versions=8)
    cat.write(_mk(spark, 12, 3), "t", mode="overwrite", keep_versions=8)
    assert tail.advance() == 1
    n_before = tail.read_spool(spark).count()
    del tail  # crash

    # debris from two crash loops
    stage = os.path.join(spool, ".__stage_deadbeef")
    os.makedirs(os.path.join(stage, "sub"))
    with open(os.path.join(stage, "part-0.parquet"), "wb") as f:
        f.write(b"partial")
    tmp_state = os.path.join(spool, "_state.json.__tmp_cafe")
    with open(tmp_state, "w") as f:
        f.write("{")

    tail2 = CdfTail(cat, "t", key="k", spool_dir=spool)
    assert not os.path.exists(stage)
    assert not os.path.exists(tmp_state)
    # the real spool content and watermark are untouched
    assert tail2.advance() == 0
    assert tail2.read_spool(spark).count() == n_before
    tail2.close()


def test_restart_without_stream_id_keeps_checkpoint_lineage(
    spark, tmp_path
):
    """ADVICE r9 (medium): a restart from checkpoint_dir that OMITS
    stream_id must resume the original lineage — the persisted
    _cdf_stream_id marker — so the exactly-once marker still suppresses
    a re-executed post-commit micro-batch. A contradictory explicit id
    raises instead of silently forking the lineage."""
    import os

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 12, 0), "t")
    cat.write(_summarize(_mk(spark, 12, 0)), "summary")
    spool, cp = str(tmp_path / "spool"), str(tmp_path / "cp")

    tail = CdfTail(cat, "t", key="k", spool_dir=spool)
    cat.write(_mk(spark, 16, 0), "t", mode="overwrite", keep_versions=8)
    cat.write(_mk(spark, 16, 4), "t", mode="overwrite", keep_versions=8)
    tail.advance()
    q = stream_cdf_into_summary(
        tail, spark, cat, "summary",
        keys=["g"], sums={"v_sum": "v"}, checkpoint_dir=cp,
    )
    q.awaitTermination()
    lineage = cat.snapshot_props("summary")["cdf_stream_id"]
    assert os.path.exists(os.path.join(cp, "_cdf_stream_id"))
    marker = cat.snapshot_props("summary")["cdf_last_batch_id"]

    # restart WITHOUT stream_id: same lineage resumes, and a re-executed
    # batch at/below the marker is a no-op (summary rows unchanged even
    # though the spool still holds the processed transition)
    tail.advance(include_current=True)
    q = stream_cdf_into_summary(
        tail, spark, cat, "summary",
        keys=["g"], sums={"v_sum": "v"}, checkpoint_dir=cp,
    )
    q.awaitTermination()
    props = cat.snapshot_props("summary")
    assert props["cdf_stream_id"] == lineage  # not a fresh random id
    assert props["cdf_last_batch_id"] > marker
    assert _summary_matches(cat)

    with pytest.raises(ValueError, match="lineage"):
        stream_cdf_into_summary(
            tail, spark, cat, "summary",
            keys=["g"], sums={"v_sum": "v"},
            stream_id="some-other-lineage", checkpoint_dir=cp,
        )
    tail.close()


def test_compaction_midstream_emits_zero_deltas_and_zero_reads(
    spark, tmp_path, monkeypatch
):
    """VERDICT r9 item 3: a row-preserving housekeeping commit
    (compact_selective / optimize_zorder) declares data_change=False
    with a parent pointer; the tail must skip its transition with ZERO
    deltas spooled and ZERO data-file reads — not even a pruned diff
    plan — while the IVM summary stays converged."""
    import os

    cat = Catalog(spark, str(tmp_path / "cat"))
    # many small files so selective compaction genuinely rewrites some
    cat.write(_mk(spark, 40, 0).repartition(8), "t")
    cat.write(_summarize(_mk(spark, 40, 0)), "summary")
    spool = str(tmp_path / "spool")
    tail = CdfTail(cat, "t", key="k", spool_dir=spool)

    cat.write(
        _mk(spark, 48, 0).repartition(8), "t",
        mode="overwrite", keep_versions=9,
    )
    cat.write(
        _mk(spark, 48, 5).repartition(8), "t",
        mode="overwrite", keep_versions=9,
    )
    # drain fully: v1->v2 plus a head capture of the current state, so
    # every pre-housekeeping data delta is already spooled
    assert tail.advance(include_current=True) == 2

    # mid-stream housekeeping: selective compaction (rewrites the small
    # files, carries none/all by size) and a z-order rewrite
    stats = cat.compact_selective(
        "t", min_file_bytes=1 << 30, keep_versions=9
    )
    assert stats["rewritten"] > 0
    zpath = cat.optimize_zorder("t", ["k"], num_files=2, keep_versions=9)
    assert zpath
    # both commits archived their predecessors
    assert cat.versions("t") == [1, 2, 3, 4]
    assert cat.snapshot_props("t")["data_change"] is False

    def _boom(*a, **k):
        raise AssertionError(
            "table_changes was invoked for a declared no-op transition"
        )

    spooled_before = sorted(os.listdir(spool))
    monkeypatch.setattr(cat, "table_changes", _boom)
    # v2->v3 (compaction) and v3->v4 (z-order) + head (z-order output is
    # the current table): all declared no-ops — zero spools, zero diffs
    assert tail.advance(include_current=True) == 0
    assert sorted(os.listdir(spool)) == spooled_before
    monkeypatch.undo()

    # the feed still works for the NEXT real commit, diffed against the
    # compacted+reordered state
    cat.write(
        _mk(spark, 52, 7).repartition(4), "t",
        mode="overwrite", keep_versions=9,
    )
    assert tail.advance(include_current=True) == 1
    q = stream_cdf_into_summary(
        tail, spark, cat, "summary",
        keys=["g"], sums={"v_sum": "v"},
    )
    q.awaitTermination()
    assert _summary_matches(cat)
    tail.close()


def test_legacy_flat_spool_refuses_reattach(spark, tmp_path):
    """Pre-r9 spools landed FLAT v-prefixed files with no durable tail
    state. Reattaching would re-spool every transition as directories
    while the stream still reads the flat files — double emission — so
    the tail must REFUSE (review r9 pass 3), and a fresh spool must
    work as usual."""
    import os

    from agol_pandas_spark.errors import CdfGapError

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    with open(os.path.join(spool, "v000002_part-0.parquet"), "wb") as f:
        f.write(b"legacy")  # flat r8-style spool file
    with pytest.raises(CdfGapError):
        CdfTail(cat, "t", key="k", spool_dir=spool)
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "fresh"))
    cat.write(_mk(spark, 12, 0), "t", mode="overwrite", keep_versions=8)
    cat.write(_mk(spark, 12, 3), "t", mode="overwrite", keep_versions=8)
    assert tail.advance() == 1
    tail.close()


def _jv_seed(spark, cat):
    fact = spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20), (3, 3, 30)], "fk long, dk long, v long"
    )
    dim = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "dk long, label string"
    )
    cat.write(fact, "f")
    cat.write(dim, "d")
    cat.write(
        fact.join(dim, "dk", "inner").select("fk", "dk", "v", "label"),
        "v",
    )
    return fact, dim


def _scratch_view(cat):
    return sorted(
        map(tuple, cat.table("f").join(cat.table("d"), "dk", "inner")
            .select("fk", "dk", "v", "label").collect())
    )


def test_tailed_refresh_converges_and_suppresses_rework(spark, tmp_path):
    from agol_pandas_spark.streaming.cdf_source import (
        refresh_join_view_from_tails,
    )

    cat = Catalog(spark, str(tmp_path / "cat"))
    _jv_seed(spark, cat)
    ft = CdfTail(cat, "f", key="fk", spool_dir=str(tmp_path / "fs"))
    dt = CdfTail(cat, "d", key="dk", spool_dir=str(tmp_path / "ds"))

    def refresh():
        return refresh_join_view_from_tails(
            spark, cat, "v", ft, dt, join_key="dk", fact_key="fk"
        )

    # fact and dim batches across separate refreshes
    cat.write(
        spark.createDataFrame(
            [(1, 1, 99), (4, 2, 40)], "fk long, dk long, v long"
        ),
        "f", mode="overwrite", keep_versions=4,
    )
    s1 = refresh()
    assert s1["committed"] and s1["applied_fact"] >= 1
    assert sorted(map(tuple, cat.table("v").collect())) == _scratch_view(cat)

    cat.write(
        spark.createDataFrame(
            [(1, "A2"), (3, "c"), (9, "nine")], "dk long, label string"
        ),
        "d", mode="overwrite", keep_versions=4,
    )
    s2 = refresh()
    assert s2["committed"] and s2["applied_dim"] >= 1
    assert sorted(map(tuple, cat.table("v").collect())) == _scratch_view(cat)

    # quiescent round: watermarks suppress rework entirely
    s3 = refresh()
    assert not s3["committed"]
    ft.close()
    dt.close()


def test_tailed_refresh_replays_safely_after_marker_loss(spark, tmp_path):
    """Crash between the view commit and anything downstream, or a
    re-executed refresh with a stale marker: re-applying already-applied
    spool batches must land the SAME view (the bilateral algebra is a
    fixpoint) — the watermark marker is a rework optimization, not a
    correctness guard."""
    from agol_pandas_spark.streaming.cdf_source import (
        refresh_join_view_from_tails,
    )

    cat = Catalog(spark, str(tmp_path / "cat"))
    _jv_seed(spark, cat)
    ft = CdfTail(cat, "f", key="fk", spool_dir=str(tmp_path / "fs"))
    dt = CdfTail(cat, "d", key="dk", spool_dir=str(tmp_path / "ds"))
    cat.write(
        spark.createDataFrame(
            [(1, 1, 99), (2, 2, 20)], "fk long, dk long, v long"
        ),
        "f", mode="overwrite", keep_versions=4,
    )
    s1 = refresh_join_view_from_tails(
        spark, cat, "v", ft, dt, join_key="dk", fact_key="fk"
    )
    assert s1["committed"]
    rows = sorted(map(tuple, cat.table("v").collect()))
    # simulate the marker being lost: rewrite the view WITHOUT props
    cat.write(cat.table("v"), "v", mode="overwrite")
    s2 = refresh_join_view_from_tails(
        spark, cat, "v", ft, dt, join_key="dk", fact_key="fk"
    )
    assert s2["committed"]  # replayed the whole spool...
    assert sorted(map(tuple, cat.table("v").collect())) == rows  # ...same view
    ft.close()
    dt.close()


def test_tailed_refresh_uses_feed_aligned_snapshots(spark, tmp_path):
    """A commit racing BETWEEN advance() and the view commit must not
    leak into the re-derived rows (mixed view): re-derivation joins the
    tails' spooled_snapshot — the state their feeds have reached — so
    the racer lands whole on the NEXT refresh."""
    from agol_pandas_spark.streaming.cdf_source import (
        CdfTail as _T,
        refresh_join_view_from_tails,
    )

    cat = Catalog(spark, str(tmp_path / "cat"))
    _jv_seed(spark, cat)
    ft = CdfTail(cat, "f", key="fk", spool_dir=str(tmp_path / "fs"))
    dt = CdfTail(cat, "d", key="dk", spool_dir=str(tmp_path / "ds"))
    cat.write(
        spark.createDataFrame(
            [(1, 1, 99), (2, 2, 20), (3, 3, 30)], "fk long, dk long, v long"
        ),
        "f", mode="overwrite", keep_versions=4,
    )
    # the racer: a dim commit lands AFTER the tails advance — inject by
    # wrapping advance so the dim write happens post-advance, pre-read
    orig_advance = _T.advance
    raced = {"done": False}

    def racing_advance(self, include_current=False):
        n = orig_advance(self, include_current=include_current)
        if self.name == "d" and not raced["done"]:
            raced["done"] = True
            cat.write(
                spark.createDataFrame(
                    [(1, "RACED"), (2, "b"), (3, "c")],
                    "dk long, label string",
                ),
                "d", mode="overwrite", keep_versions=4,
            )
        return n

    try:
        _T.advance = racing_advance
        s1 = refresh_join_view_from_tails(
            spark, cat, "v", ft, dt, join_key="dk", fact_key="fk"
        )
    finally:
        _T.advance = orig_advance
    assert s1["committed"]
    # the racer's label must NOT appear yet (feed-aligned snapshots)
    labels = {r["label"] for r in cat.table("v").collect()}
    assert "RACED" not in labels
    # the next refresh picks the racer up whole and converges
    s2 = refresh_join_view_from_tails(
        spark, cat, "v", ft, dt, join_key="dk", fact_key="fk"
    )
    assert s2["committed"] and s2["applied_dim"] >= 1
    assert sorted(map(tuple, cat.table("v").collect())) == _scratch_view(cat)
    ft.close()
    dt.close()


def test_spooled_snapshot_serves_captured_head_despite_racer(
    spark, tmp_path
):
    """spooled_snapshot after a HEAD capture must serve the CAPTURED
    state even when a commit raced in afterwards (served from the
    archive carrying the captured commit id), and must raise CdfGapError
    when the captured state was displaced unarchived."""
    from agol_pandas_spark.errors import CdfGapError

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    cat.write(_mk(spark, 12, 0), "t", mode="overwrite", keep_versions=8)
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    assert tail.advance(include_current=True) == 1  # head = 12-row state
    captured = _rows(cat.table("t"))

    # racer displaces the captured head (archived)
    cat.write(_mk(spark, 20, 5), "t", mode="overwrite", keep_versions=8)
    snap = tail.spooled_snapshot(spark)
    assert _rows(snap) == captured  # NOT the racer's 20 rows

    # next advance recognizes the archived head and catches up whole
    assert tail.advance(include_current=True) >= 1
    assert _rows(tail.spooled_snapshot(spark)) == _rows(cat.table("t"))
    tail.close()

    # unarchived displacement: captured state unrecoverable -> gap
    cat2 = Catalog(spark, str(tmp_path / "cat2"))
    cat2.write(_mk(spark, 8, 0), "t")
    cat2.write(_mk(spark, 9, 0), "t", mode="overwrite", keep_versions=8)
    tail2 = CdfTail(cat2, "t", key="k", spool_dir=str(tmp_path / "spool2"))
    assert tail2.advance(include_current=True) == 1
    cat2.write(_mk(spark, 30, 1), "t", mode="overwrite", keep_versions=0)
    with pytest.raises(CdfGapError):
        tail2.spooled_snapshot(spark)
    tail2.close()


def test_vacuum_spool_reclaims_only_consumed_transitions(spark, tmp_path):
    """Spool housekeeping: directories at or below the consumer's
    applied watermark reclaim; anything above the tail's durable
    watermark (incl. a live head capture) is never touched; recovery
    and later tailing survive the vacuum."""
    import os

    from agol_pandas_spark.streaming.cdf_source import (
        refresh_join_view_from_tails,
    )

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    spool = str(tmp_path / "spool")
    tail = CdfTail(cat, "t", key="k", spool_dir=spool)
    cat.write(_mk(spark, 12, 0), "t", mode="overwrite", keep_versions=8)
    cat.write(_mk(spark, 14, 1), "t", mode="overwrite", keep_versions=8)
    assert tail.advance(include_current=True) == 2  # v2 pair + head(v3)
    dirs = sorted(tail._spooled_dirs())
    assert dirs == [2, 3]

    # consumer processed only v2; the head capture (above the durable
    # watermark) must survive ANY through value
    assert len(tail.vacuum_spool(99)) == 1
    assert sorted(tail._spooled_dirs()) == [3]
    # the stream/batch surface still serves the surviving content
    assert tail.read_spool(spark).count() > 0

    # restart over the vacuumed spool: durable watermark, no re-emission
    tail.detach()
    tail2 = CdfTail(cat, "t", key="k", spool_dir=spool)
    assert tail2.advance() == 0
    cat.write(_mk(spark, 16, 2), "t", mode="overwrite", keep_versions=8)
    assert tail2.advance(include_current=True) >= 1
    tail2.close()

    # refresh-loop integration: vacuum_spools=True reclaims applied dirs
    cat2 = Catalog(spark, str(tmp_path / "cat2"))
    fact = spark.createDataFrame([(1, 1, 10)], "fk long, dk long, v long")
    dim = spark.createDataFrame([(1, "a")], "dk long, label string")
    cat2.write(fact, "f")
    cat2.write(dim, "d")
    cat2.write(
        fact.join(dim, "dk").select("fk", "dk", "v", "label"), "v"
    )
    ft = CdfTail(cat2, "f", key="fk", spool_dir=str(tmp_path / "fs"))
    dt = CdfTail(cat2, "d", key="dk", spool_dir=str(tmp_path / "ds"))
    cat2.write(
        spark.createDataFrame([(1, 1, 99)], "fk long, dk long, v long"),
        "f", mode="overwrite", keep_versions=4,
    )
    s = refresh_join_view_from_tails(
        spark, cat2, "v", ft, dt, join_key="dk", fact_key="fk",
        vacuum_spools=True,
    )
    assert s["committed"]
    # the applied head capture stays (above the durable watermark) but
    # once archived + applied, a later refresh's vacuum reclaims it
    cat2.write(
        spark.createDataFrame([(2, 1, 20)], "fk long, dk long, v long"),
        "f", mode="overwrite", keep_versions=4,
    )
    s2 = refresh_join_view_from_tails(
        spark, cat2, "v", ft, dt, join_key="dk", fact_key="fk",
        vacuum_spools=True,
    )
    assert s2["committed"]
    assert sorted(map(tuple, cat2.table("v").collect())) == sorted(
        map(tuple, cat2.table("f").join(cat2.table("d"), "dk")
            .select("fk", "dk", "v", "label").collect())
    )
    ft.close()
    dt.close()


def test_vacuum_honors_live_tail_pin(spark, tmp_path):
    """VERDICT r10 item 5: a live tail registers its watermark as a
    PROTECTED version, so routine ``Catalog.vacuum`` keeps the archives
    the tail still needs (its watermark snapshot + everything after)
    instead of creating the hole ``CdfGapError`` can only report after
    the fact. close()/detach() unpin — an unregistered spool reclaims
    as before."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    cat.write(_mk(spark, 12, 0), "t", mode="overwrite", keep_versions=8)
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    cat.write(_mk(spark, 14, 0), "t", mode="overwrite", keep_versions=8)
    cat.write(_mk(spark, 16, 0), "t", mode="overwrite", keep_versions=8)
    assert cat.versions("t") == [1, 2, 3]
    assert cat.pinned_versions("t")  # the live tail registered itself

    # the tail sits at watermark 1 (nothing advanced): vacuum must keep
    # EVERYTHING it still needs — versions >= 1
    assert cat.vacuum("t", keep_last=0) == []
    assert cat.versions("t") == [1, 2, 3]

    # advancing moves the pin: everything below the new watermark frees
    assert tail.advance() == 2  # spooled 1->2, 2->3; watermark 3
    assert cat.vacuum("t", keep_last=0) == [1, 2]
    assert cat.versions("t") == [3]
    # and the tail keeps working from its protected base
    cat.write(_mk(spark, 18, 0), "t", mode="overwrite", keep_versions=8)
    assert tail.advance() == 1

    # close() unpins: the next vacuum reclaims everything
    tail.close()
    assert cat.pinned_versions("t") == {}
    assert cat.vacuum("t", keep_last=0) != []
    assert cat.versions("t") == []


def test_tail_pin_survives_process_restart(spark, tmp_path):
    """The pin id persists in the spool state: a tail re-created over
    the same spool re-asserts ONE pin (not a leak of stale ones), and
    detach() releases it for a successor."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    cat.write(_mk(spark, 12, 0), "t", mode="overwrite", keep_versions=8)
    spool = str(tmp_path / "spool")
    tail = CdfTail(cat, "t", key="k", spool_dir=spool)
    pins1 = cat.pinned_versions("t")
    assert len(pins1) == 1
    tail.detach()
    assert cat.pinned_versions("t") == {}

    tail2 = CdfTail(cat, "t", key="k", spool_dir=spool)
    pins2 = cat.pinned_versions("t")
    assert list(pins2) == list(pins1)  # same durable pin id, no leak
    tail2.close()
    assert cat.pinned_versions("t") == {}


def test_spool_consumer_watermarks_clamp_vacuum(spark, tmp_path):
    """VERDICT r10 item 4 (unit): vacuum_spool never reclaims past the
    minimum registered consumer watermark, and version-level claims via
    set_consumer_watermark release exactly the drained prefix."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    for i in range(3):
        cat.write(
            _mk(spark, 12 + i, 0), "t", mode="overwrite", keep_versions=8
        )
    assert tail.advance() == 2  # dirs v2, v3 (watermark 3)
    tail.register_consumer("dash")
    # a registered-but-idle consumer protects everything
    assert tail.vacuum_spool() == []
    tail.set_consumer_watermark("dash", 2)
    removed = tail.vacuum_spool()
    assert len(removed) == 1 and "v000002" in removed[0]
    # dropping the consumer releases the rest up to the tail watermark
    tail.drop_consumer("dash")
    removed = tail.vacuum_spool()
    assert len(removed) == 1 and "v000003" in removed[0]
    tail.close()


def test_file_level_consumer_tracking_requires_complete_transitions(
    spark, tmp_path
):
    """record_consumer_files must NOT advance past a half-drained
    transition: a maxFilesPerTrigger stream sees one file per batch,
    and a version-level claim from its first file would let vacuum
    destroy the directory's remaining files."""
    import os as _os

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 10, 0), "t")
    cat.write(
        _mk(spark, 12, 0), "t", mode="overwrite", keep_versions=8
    )
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    cat.write(
        _mk(spark, 40, 1).repartition(3), "t", mode="overwrite",
        keep_versions=8,
    )
    assert tail.advance() == 1
    (v, d), = tail._spooled_dirs().items()
    files = sorted(
        _os.path.join(d, e) for e in _os.listdir(d)
        if not e.startswith(("_", "."))
    )
    if len(files) < 2:
        # AQE may coalesce the diff to one file; the tracking logic
        # compares file NAMES against the directory listing, so a
        # second data file makes the multi-file shape without touching
        # semantics the test cares about
        import shutil as _sh

        extra = _os.path.join(d, "part-00001-extra.snappy.parquet")
        _sh.copy2(files[0], extra)
        files.append(extra)
    assert len(files) >= 2  # the multi-file transition the test needs
    tail.register_consumer("s1")
    # first file only: watermark must stay put, spool must survive
    assert tail.record_consumer_files("s1", files[:1]) < v
    assert tail.vacuum_spool() == []
    # remaining files: transition complete, watermark advances
    assert tail.record_consumer_files("s1", files[1:]) == v
    removed = tail.vacuum_spool()
    assert len(removed) == 1
    tail.close()


def test_streamed_consumer_vacuum_is_lossless_and_bounded(spark, tmp_path):
    """VERDICT r10 item 4 end-to-end: a file-source IVM stream registered
    as a spool consumer + periodic vacuum_spool — the summary stays
    exact across every commit and the spool directory count stays
    bounded (old transitions reclaimed only after the stream drained
    them)."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 20, 0), "t")
    cat.write(_summarize(_mk(spark, 20, 0)), "summary")
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    q = stream_cdf_into_summary(
        tail, spark, cat, "summary",
        keys=["g"], sums={"v_sum": "v"},
        stream_id="consumer-e2e",
        checkpoint_dir=str(tmp_path / "cp"),
        processing_time="300 milliseconds",
        consumer_id="s1",
    )
    try:
        for i in (1, 2, 3, 4):
            cat.write(
                _mk(spark, 20 + i * 3, i), "t", mode="overwrite",
                keep_versions=8,
            )
            tail.advance(include_current=True)
            assert _wait_until(lambda: _summary_matches(cat))
            tail.vacuum_spool()
        # every drained transition was reclaimed: at most the newest
        # could still be in flight between drain and vacuum
        assert len(tail._spooled_dirs()) <= 1
        assert _summary_matches(cat)
    finally:
        q.stop()
        tail.close()
