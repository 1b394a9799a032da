"""Seeded end-to-end and per-layer benchmark for cloudfabric_eventsourcing_spark.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` (see run.py).
"""
