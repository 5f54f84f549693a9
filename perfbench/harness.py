"""Run loop shared by every workload: set-up, timed rounds, checks and the
metric record.

A workload object provides ``setup(ctx)`` (fixture build and warm-up),
``round(ctx, r)`` (one fixed operation sequence, seeded by ``r``),
``min_rounds`` (rounds every run measures, whatever ``--seconds`` says),
``period`` (rounds in one cycle of its operation mix),
``finish(ctx)`` (final output checks; returns its amplification figures
and domain counters) and ``close()``. Each operation runs inside
``ctx.op(kind, name, rows)``; a check or capture that must not count
as workload time runs inside ``ctx.untimed()``.
"""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import latency_summary
from perfbench.tracing import STAGE_FIELDS, Tracer


class CheckFailed(AssertionError):
    """A workload output disagrees with its independent computation."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    kind: str  # "write" | "read"
    name: str
    s: float
    rows: int
    round_no: int


@dataclass
class Ctx:
    spark: object
    seed: int
    cpus: int
    work: str
    tracer: Tracer
    recording: bool = False
    round_no: int = -1
    ops: list[Op] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    paused_s: float = 0.0

    @contextmanager
    def op(self, kind: str, name: str, rows: int):
        """One write or read. A write ends when its commit or upload
        returns; a read ends when its result is materialized."""
        self.tracer.op_id = self.attempted if self.recording else None
        t0 = time.perf_counter()
        if self.recording:
            self.attempted += 1
        try:
            yield
        except Exception:
            if self.recording:
                self.failed += 1
            raise
        finally:
            self.tracer.op_id = None
        if self.recording:
            self.ops.append(
                Op(kind, name, time.perf_counter() - t0, rows, self.round_no)
            )

    @contextmanager
    def untimed(self):
        """Work excluded from the round's wall time (output captures)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.paused_s += time.perf_counter() - t0

    def span(self, name: str):
        return self.tracer.span(name)


def materialize(df) -> None:
    """Run a read to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


@dataclass
class RunResult:
    setup_s: float
    round_walls: list[float]
    ctx: Ctx
    finish: dict


def run_rounds(ctx: Ctx, workload, seconds: float, trace: bool) -> tuple[list, list]:
    """Timed region: whole rounds until ``seconds`` have elapsed, at least
    ``workload.min_rounds``, so a slow run still medians over as many
    rounds as a fast one. With
    ``trace`` on, blocks of ``workload.period`` rounds (one cycle of the
    workload's operation mix) alternate untraced and traced, at least one
    block each, so one run yields per-layer spans and the tracing
    overhead from like-for-like rounds."""
    walls: list[float] = []
    traced: list[float] = []
    period = workload.period
    min_rounds = max(workload.min_rounds, 2 * period if trace else 1)
    ctx.recording = True
    t_start = time.perf_counter()
    r = 0
    while r < min_rounds or time.perf_counter() - t_start < seconds:
        ctx.tracer.enabled = trace and (r // period) % 2 == 1
        ctx.round_no = r
        ctx.paused_s = 0.0
        t0 = time.perf_counter()
        workload.round(ctx, r)
        wall = time.perf_counter() - t0 - ctx.paused_s
        (traced if ctx.tracer.enabled else walls).append(wall)
        r += 1
    ctx.tracer.enabled = False
    ctx.recording = False
    return walls, traced


def end_to_end(res: RunResult, spark) -> tuple[dict, dict]:
    """The end-to-end metric values, and the write and read latency
    summaries behind them."""
    ctx = res.ctx
    writes = [o.s for o in ctx.ops if o.kind == "write"]
    reads = [o.s for o in ctx.ops if o.kind == "read"]
    w, rd = latency_summary(writes), latency_summary(reads)
    rows = sum(o.rows for o in ctx.ops)
    return {
        "setup_s": res.setup_s,
        "wall_s": statistics.median(res.round_walls),
        "write_s.p50": w["p50"],
        "write_s.tail": w["tail"],
        "read_s.p50": rd["p50"],
        "read_s.tail": rd["tail"],
        "rows_per_s": rows / sum(res.round_walls),
        "write_amp": res.finish["write_amp"],
        "space_amp": res.finish["space_amp"],
        "peak_rss_mb": peak_rss_mb(spark),
    }, {"write": w, "read": rd}


def per_layer(res: RunResult) -> dict:
    """Per-call medians of every span field, by span name; action child
    spans (``<name>.action``) report as ``<name>.action_s``. Calls made in
    the timed region win over warm-up calls of the same function; spans
    that only set-up opens (the session, the fixture build) report their
    set-up calls."""
    tr = res.ctx.tracer
    by_name: dict[str, list] = {}
    for sp in tr.spans:
        by_name.setdefault(sp.name, []).append(sp)
    out: dict[str, float] = {}
    for name, spans in by_name.items():
        spans = [sp for sp in spans if sp.op_id is not None] or spans
        if name.endswith(".action"):
            out[f"{name}_s"] = statistics.median(sp.s for sp in spans)
            continue
        vals = {
            "s": [sp.s for sp in spans],
            "driver_s": [tr.driver_s(sp) for sp in spans],
            "jobs": [len(sp.jobs) for sp in spans],
        }
        for f in STAGE_FIELDS:
            vals[f] = [sp.stage.get(f, 0.0) for sp in spans]
        for f, xs in vals.items():
            out[f"{name}.{f}"] = statistics.median(xs)
    return out


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def log_exception() -> None:
    traceback.print_exc(file=sys.stderr)


def dir_bytes(root: str) -> tuple[int, dict]:
    """Unique-inode bytes under ``root`` and the ``{inode: size}`` map."""
    seen: dict = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            seen[(st.st_dev, st.st_ino)] = st.st_size
    return sum(seen.values()), seen
