"""End-to-end and per-layer benchmark for ``agol_pandas_spark``.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>``; see ``perfbench/README.md``.
"""
