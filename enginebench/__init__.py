"""Seeded end-to-end benchmark of the beavers_spark engine.

Run ``python3 enginebench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``enginebench/README.md``.
"""
