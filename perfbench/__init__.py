"""Repository benchmark: three seeded Spark workloads with layer tracing.

Run ``python3 perfbench/run.py --help`` from the repository root; see
``perfbench/README.md`` for the workloads, metrics and host note.
"""
