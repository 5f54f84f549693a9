"""``cdc_merge``: a seeded stream of CDC batches merged into a keyed,
key-ordered, versioned ``orders`` table, each commit followed by three
reads: an aggregate over the current snapshot, a read-back of the batch's
key range (pruned by file statistics), and the change feed since the
previous version. Loads ``catalog`` and ``merge``; runs no operator
kernel; puts reads right beside writes.

Timed writes call ``operators.merge.merge_pruned``, the key-pruned
copy-on-write path that ``write_table(prune=True)`` delegates to, because
only it takes ``keep_versions`` and ``table_changes`` needs the displaced
snapshot archived. ``write_table`` builds the table during set-up.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.operators.merge import merge_pruned, write_table
from perfbench.gen import order_rows, recent_keys, rng_for
from perfbench.harness import check, dir_bytes, materialize

KEY = "o_orderkey"
TABLE = "orders"
N_BASE = 150_000
KEEP_VERSIONS = 4
#: every round commits the same mix, two upserts and then one batch of
#: the next of these modes, so a round's wall time and the latency
#: medians do not depend on how many rounds a run fits
OTHER_MODES = ("update", "insert", "append")
EXISTING_FRAC = 0.01  # existing keys an upsert/update batch touches
FRESH_FRAC = 0.002  # fresh keys a batch inserts
WARMUP_MODES = ("upsert", "update", "upsert")


def _changes_of(pre: pd.DataFrame, post: pd.DataFrame, keys) -> pd.DataFrame:
    """The change feed a commit from ``pre`` to ``post`` must emit,
    restricted to the batch's ``keys`` (no other key can change)."""
    keys = pd.Index(keys)
    was = keys[keys.isin(pre.index)]
    now = keys[keys.isin(post.index)]
    ins = post.loc[now.difference(was)].assign(_change_type="insert")
    both = now.intersection(was)
    a, b = pre.loc[both], post.loc[both]
    moved = ~(a == b).all(axis=1)
    return pd.concat(
        [
            ins,
            a[moved].assign(_change_type="update_preimage"),
            b[moved].assign(_change_type="update_postimage"),
        ]
    )


def _same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Order-insensitive equality of two frames of table rows (the key
    may be the index); timestamps compare as epoch microseconds."""

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        out = df.reset_index() if KEY not in df.columns else df.copy()
        out["o_orderdate"] = (
            out["o_orderdate"] - pd.Timestamp(0, tz="UTC")
        ) // pd.Timedelta(microseconds=1)
        cols = sorted(out.columns)
        return out[cols].sort_values(cols).reset_index(drop=True)

    ca, cb = canon(a), canon(b)
    return list(ca.columns) == list(cb.columns) and ca.shape == cb.shape and bool(
        (ca.to_numpy() == cb.to_numpy()).all()
    )


def _to_pandas(table: pa.Table) -> pd.DataFrame:
    return table.to_pandas().set_index(KEY)


class CdcMerge:
    name = "cdc_merge"
    period = len(OTHER_MODES)
    min_rounds = 2

    def setup(self, ctx) -> None:
        self.root = os.path.join(ctx.work, "catalog")
        self.inputs = os.path.join(ctx.work, "in")
        os.makedirs(self.inputs, exist_ok=True)
        self.cat = Catalog(ctx.spark, self.root)
        base = order_rows(rng_for(ctx.seed, 1), np.arange(1, N_BASE + 1))
        base_path = os.path.join(self.inputs, "base.parquet")
        pq.write_table(base, base_path, row_group_size=N_BASE // 8)
        self.expected = _to_pandas(base)
        self.max_key = N_BASE
        self.batch_no = 0
        self.bytes_written: list[int] = []
        self.user_bytes = 0
        self.written = 0
        with ctx.span("merge.write_table"):
            write_table(
                self.cat, ctx.spark.read.parquet(base_path), TABLE,
                mode="upsert", key=KEY,
            )
        self._live_inodes = dir_bytes(self.cat.path(TABLE))[1]
        for mode in WARMUP_MODES:
            self._batch(ctx, mode)

    # -- stream ------------------------------------------------------------

    def _next_batch(self, seed: int, mode: str) -> pa.Table:
        b = self.batch_no
        self.batch_no += 1
        rng = rng_for(seed, 2, b)
        n_old = int(EXISTING_FRAC * self.max_key)
        n_new = int(FRESH_FRAC * self.max_key)
        fresh = np.arange(self.max_key + 1, self.max_key + 1 + n_new)
        if mode == "upsert":
            keys = np.concatenate([recent_keys(rng, self.max_key, n_old), fresh])
        elif mode == "update":  # fresh keys match nothing and are ignored
            keys = np.concatenate(
                [recent_keys(rng, self.max_key, n_old), fresh[: n_new // 4]]
            )
        elif mode == "insert":  # existing keys pass through untouched
            keys = np.concatenate([recent_keys(rng, self.max_key, n_new // 2), fresh])
        else:
            keys = fresh
        return order_rows(rng, keys)

    def _apply_expected(self, mode: str, rows: pd.DataFrame) -> None:
        exp = self.expected
        hit = rows.index.isin(exp.index)
        if mode == "upsert":
            exp = pd.concat([exp.drop(index=rows.index[hit]), rows])
        elif mode == "update":
            exp = pd.concat([exp.drop(index=rows.index[hit]), rows[hit]])
        else:  # insert / append: only new keys land
            exp = pd.concat([exp, rows[~hit]])
        self.expected = exp
        self.max_key = int(exp.index.max())

    def _batch(self, ctx, mode: str) -> None:
        delta = self._next_batch(ctx.seed, mode)
        path = os.path.join(self.inputs, f"batch{self.batch_no}.parquet")
        pq.write_table(delta, path)
        rows = _to_pandas(delta)
        pre = self.expected
        src = ctx.spark.read.parquet(path)
        with ctx.op("write", f"merge.{mode}", len(rows)):
            with ctx.span("merge.merge_pruned"):
                merge_pruned(
                    self.cat, src, TABLE, mode, key=KEY,
                    keep_versions=KEEP_VERSIONS,
                )
        self._apply_expected(mode, rows)
        written, self._live_inodes = self._new_bytes()
        if ctx.recording:
            self.bytes_written.append(written)
            if ctx.round_no == 0:  # amplification over a fixed prefix
                self.user_bytes += delta.nbytes
                self.written += written
        with ctx.op("read", "catalog.aggregate", len(self.expected)):
            with ctx.span("catalog.table"):
                agg = self.cat.table(TABLE).groupBy("o_orderstatus").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("o_totalprice").alias("total"),
                    F.max("o_orderdate").alias("latest"),
                )
                with ctx.span("catalog.table.action"):
                    materialize(agg)
        lo, hi = int(rows.index.min()), int(rows.index.max())
        n_range = int(((self.expected.index >= lo) & (self.expected.index <= hi)).sum())
        with ctx.op("read", "catalog.range", n_range):
            with ctx.span("catalog.table"):
                back = self.cat.table(TABLE).filter(F.col(KEY).between(lo, hi))
                with ctx.span("catalog.table.action"):
                    materialize(back)
        prev = self.cat.versions(TABLE)[-1]
        with ctx.op("read", "catalog.changes", len(rows)):
            with ctx.span("catalog.table_changes"):
                feed = self.cat.table_changes(TABLE, from_version=prev, key=KEY)
                with ctx.span("catalog.table_changes.action"):
                    feed = feed.persist()  # the check reads the same rows
                    materialize(feed)
        with ctx.untimed():
            check(
                back.count() == n_range,
                f"key-range read after batch {self.batch_no} differs from the replay",
            )
            got = feed.toArrow().to_pandas()
            want = _changes_of(pre, self.expected, rows.index)
            check(
                _same_rows(got, want),
                f"table_changes after batch {self.batch_no} ({mode}) differs "
                f"from the replay: {len(got)} rows vs {len(want)} expected",
            )
        feed.unpersist()

    def _new_bytes(self) -> tuple[int, dict]:
        """Bytes of files the last commit created in the live snapshot
        (carried files keep their inode and do not count)."""
        _, now = dir_bytes(self.cat.path(TABLE))
        new = sum(sz for ino, sz in now.items() if ino not in self._live_inodes)
        return new, now

    def round(self, ctx, r: int) -> None:
        for mode in ("upsert", "upsert", OTHER_MODES[r % len(OTHER_MODES)]):
            self._batch(ctx, mode)
        if r == 0:
            with ctx.untimed():
                self.space_amp = self._space_amp()

    def _space_amp(self) -> float:
        """Unique-inode catalog bytes on disk ÷ bytes of the live
        snapshot's data files."""
        on_disk, _ = dir_bytes(self.root)
        live = self.cat.path(TABLE)
        return on_disk / sum(
            os.path.getsize(os.path.join(live, f))
            for f in os.listdir(live) if f.endswith(".parquet")
        )

    # -- checks --------------------------------------------------------------

    def finish(self, ctx) -> dict:
        got = self.cat.table(TABLE).toArrow().to_pandas()
        check(
            _same_rows(got, self.expected),
            f"final table differs from the replay: {len(got)} rows vs "
            f"{len(self.expected)} expected",
        )
        agg = (
            self.cat.table(TABLE).groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n")).toPandas()
            .set_index("o_orderstatus")["n"].sort_index()
        )
        want = self.expected.groupby("o_orderstatus").size().sort_index()
        check(agg.tolist() == want.tolist(), "aggregate read differs from the replay")
        live_files = [
            f for f in os.listdir(self.cat.path(TABLE)) if f.endswith(".parquet")
        ]
        return {
            "write_amp": self.written / self.user_bytes,
            "space_amp": self.space_amp,
            "counters": {
                "catalog.bytes_written": float(np.median(self.bytes_written)),
                "catalog.files_live": float(len(live_files)),
            },
        }

    def close(self) -> None:
        pass
