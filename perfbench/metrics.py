"""Metric definitions: names, units, and the predicted links between them.

``END_TO_END`` is what a user of the engine sees; each is measured on
every workload, with tracing off. ``PER_LAYER`` is measured by the
traced run. Each per-layer entry names the end-to-end metric and the
workloads it should move; on every other workload the prediction is no
change. A per-layer metric that a workload never exercises reads 0
there (``kernel.features_s``, ``asof.join_s``, ``checkpoint.*`` and
``run_pipeline.s`` off ``backfill_resume``, ``query.*`` off
``operator_suite``).

What one *pass* and one *operation* are, per workload:

- ``backfill_resume``: a pass is ``pit_features`` -> parquet, then
  ``asof_join_union`` -> parquet, then the checkpointed job on the same
  input: the first attempt (killed after half the buckets) and the
  resume through ``run_pipeline.main``, up to the complete result. Its
  four operations are the two sink calls and the two attempts.
- ``operator_suite``: a pass is every suite key once, noop sink; each key
  is an operation.

``setup_s`` is the median of three set-ups in one process, each a
session start plus input generation; the first also pays the JVM launch.
The untimed warm-up is reported apart, as ``warmup.s``.
"""

from __future__ import annotations

WORKLOADS = ("backfill_resume", "operator_suite")

# These keys cover the layers the suite is for: plan build, Catalyst, job
# scheduling (the plain window and aggregate keys), the as-of operator,
# the Python boundary (cogrouped pandas, pandas UDF, mapInPandas decode,
# BLAS) and the shared dedup cache. Every other key would lengthen each of
# the benchmark's runs, and their total must stay within its time limit.
SUITE_KEYS = (
    "asof_join",
    "asof_join_pandas",
    "feature_vector_udf",
    "rolling_agg",
    "sessionize_gaps",
    "target_encode_pit",
    "multimodal_decode_png",
    "topk_blas",
    "dedup_minhash_lsh",
    "grouped_count",
)

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
}

_ALL = WORKLOADS
_BACKFILL = ("backfill_resume",)
_SUITE = ("operator_suite",)

# name -> (unit, better, end-to-end metric it should move, workloads)
PER_LAYER = {
    "mem.peak_rss_mb": ("MB", "lower", "none (JVM heap sizing varies run to run)", _ALL),
    "session.start_s": ("s", "lower", "setup_s", _ALL),
    "datagen.s": ("s", "lower", "setup_s", _BACKFILL),
    "warmup.s": ("s", "lower", "none (untimed warm-up)", _ALL),
    "plans.build_s": ("s", "lower", "op_p50_s, pass_s", _SUITE),
    "catalyst.analysis_s": ("s", "lower", "op_p50_s", _SUITE),
    "catalyst.optimization_s": ("s", "lower", "op_p50_s", _SUITE),
    "catalyst.planning_s": ("s", "lower", "op_p50_s", _SUITE),
    "exec.jobs": ("count", "lower", "pass_s, op_p50_s", _BACKFILL),
    "exec.stages": ("count", "lower", "pass_s", _BACKFILL),
    "exec.tasks": ("count", "lower", "pass_s, op_p50_s", _BACKFILL),
    "exec.run_s": ("s", "lower", "pass_s", _BACKFILL),
    "exec.cpu_s": ("s", "lower", "pass_s", _BACKFILL),
    "exec.gc_s": ("s", "lower", "pass_s", _BACKFILL),
    "exec.input_bytes": ("B", "lower", "pass_s", _BACKFILL),
    "exec.shuffle_read_bytes": ("B", "lower", "pass_s", _BACKFILL),
    "exec.shuffle_write_bytes": ("B", "lower", "pass_s", _BACKFILL),
    "exec.spill_bytes": ("B", "lower", "pass_s", _BACKFILL),
    "exec.output_bytes": ("B", "lower", "pass_s", _BACKFILL),
    "kernel.features_s": ("s", "lower", "pass_s, op_p50_s", _BACKFILL),
    "asof.join_s": ("s", "lower", "pass_s, op_p50_s", _BACKFILL),
    "python.run_s": ("s", "lower", "pass_s", _SUITE),
    "python.start_s": ("s", "lower", "pass_s", _SUITE),
    "python.init_s": ("s", "lower", "pass_s", _SUITE),
    "python.bytes_sent": ("B", "lower", "pass_s", _SUITE),
    "python.bytes_returned": ("B", "lower", "pass_s", _SUITE),
    "checkpoint.buckets_computed": ("count", "lower", "op_p50_s", _BACKFILL),
    "checkpoint.bucket_s_p50": ("s", "lower", "pass_s, op_p50_s", _BACKFILL),
    "checkpoint.overhead_s": ("s", "lower", "pass_s, op_p50_s", _BACKFILL),
    "checkpoint.jobs_per_bucket": ("count", "lower", "op_p50_s", _BACKFILL),
    "checkpoint.files_written": ("count", "lower", "pass_s", _BACKFILL),
    "run_pipeline.s": ("s", "lower", "op_p50_s, pass_s", _BACKFILL),
    "cache.persisted_rdds": ("count", "lower", "pass_s", _SUITE),
    "cache.storage_bytes": ("B", "lower", "pass_s", _SUITE),
    **{
        f"query.{key}_s": ("s", "lower", "pass_s", _SUITE)
        for key in SUITE_KEYS
    },
    "trace.overhead_s": ("s", "lower", "none (traced minus untraced pass)", _ALL),
}
