"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 10 --trace 0

Runs one workload against the engine in this checkout through its public
functions, in one process with Spark ``local[N]`` (N = min(4, nproc)).
Prints every metric with its unit, the run's settings (live cores, nproc,
load, seed, versions), then one JSON record as the last line of standard
output: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end set; with ``--trace 1`` the per-layer set,
and the spans are written to ``perfbench/.out/``. Exits 1 when an output
check fails or an operation raises, 2 when the engine is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("cdc_merge", "curation")


def _load(name: str):
    if name == "cdc_merge":
        from perfbench.workloads.cdc_merge import CdcMerge

        return CdcMerge()
    from perfbench.workloads.curation import Curation

    return Curation()


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "agol_pandas_spark", "__init__.py")):
        print(f"no agol_pandas_spark package under {ROOT}", file=sys.stderr)
        return 2

    t_setup = time.perf_counter()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine (datasource readers, UDF modules)
    # from this checkout, never from an installed copy
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from perfbench import harness
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.tracing import Tracer

    import pyarrow

    import agol_pandas_spark

    if os.path.dirname(os.path.abspath(agol_pandas_spark.__file__)) != os.path.join(
        ROOT, "agol_pandas_spark"
    ):
        print("agol_pandas_spark imported from outside the checkout", file=sys.stderr)
        return 2
    from agol_pandas_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    cpus = min(4, nproc)
    tracer = Tracer(enabled=bool(args.trace))
    workload = _load(args.workload)
    spark = ctx = None
    result = None
    code = 0
    try:
        with tracer.span("session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{cpus}]",
                shuffle_partitions=cpus,
                extra_conf={
                    "spark.driver.memory": "1g",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
                    + os.path.join(work, "tmp"),
                },
            )
        tracer.attach(spark)
        ctx = harness.Ctx(
            spark=spark, seed=args.seed, cpus=cpus, work=work, tracer=tracer
        )
        workload.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        walls, traced = harness.run_rounds(ctx, workload, args.seconds, bool(args.trace))
        fin = workload.finish(ctx)
        res = harness.RunResult(setup_s, walls, ctx, fin)
        e2e, lat = harness.end_to_end(res, spark)
        run_info = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": int(spark.sparkContext.defaultParallelism),
            "nproc": nproc,
            "loadavg_1m": os.getloadavg()[0],
            "spark": spark.version,
            "pyarrow": pyarrow.__version__,
            "rounds": len(walls) + len(traced),
            "write_tail_pct": lat["write"]["tail_pct"],
            "write_n": lat["write"]["n"],
            "read_tail_pct": lat["read"]["tail_pct"],
            "read_n": lat["read"]["n"],
        }
        if args.trace:
            layer = harness.per_layer(res)
            layer.update(fin["counters"])
            overhead = statistics.median(traced) - statistics.median(walls)
            layer["trace.overhead_s"] = overhead
            harness.log(
                f"tracing overhead: {overhead:+.4f} s per round "
                f"(traced median {statistics.median(traced):.4f} s over "
                f"{len(traced)} rounds, untraced {statistics.median(walls):.4f} s "
                f"over {len(walls)})"
            )
            out_dir = os.path.join(HERE, ".out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(span_file)
            harness.log(f"spans written to {span_file}")
            metrics = {
                n: {"value": float(layer.get(n, 0.0)), "unit": u}
                for n, u in PER_LAYER.items()
            }
        else:
            metrics = {
                n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()
            }
        for n, m in metrics.items():
            print(f"{n:48s} {m['value']:>16.6g} {m['unit']}")
        for kind in ("write", "read"):
            print(
                f"{kind}_s.tail is p{lat[kind]['tail_pct']:g} over "
                f"{lat[kind]['n']} {kind}s"
            )
        print("run " + json.dumps(run_info))
        result = {
            "correct": True,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }
    except harness.CheckFailed as e:
        harness.log(f"WRONG OUTPUT: {e}")
        result = {
            "correct": False,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {},
        }
        code = 1
    except Exception:
        harness.log_exception()
        code = 1
    finally:
        workload.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if result is not None:
        print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
