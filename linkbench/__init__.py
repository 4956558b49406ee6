"""linkbench — end-to-end and per-stage benchmark of the linkage pipeline.

`python3 linkbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>` from the repository root.  See `run.py` for the workloads
and metrics, `trace.py` for how a traced run attributes time to stages.
"""
