"""Ingest / search / curate benchmark for the CLP-on-Spark engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``perfbench/METRICS.md`` lists
every metric with its unit, layer and the end-to-end metric it should move.
"""
