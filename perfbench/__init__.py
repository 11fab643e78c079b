"""Seeded end-to-end benchmark of the library warehouse engine.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``run.py`` for the workloads and the
output contract.
"""
