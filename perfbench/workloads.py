"""The benchmark's two workloads.

Each workload generates or locates its inputs in ``prepare`` (part of
set-up), runs one untimed ``warmup``, then repeats ``run_pass`` for the
measured window, and finally checks the engine's outputs in ``check``,
outside every timed pass. A pass returns its wall time, the wall times
of the operations it is made of, and its per-layer metrics (only when
the pass is traced). ``readings`` gives the workload's own figures
(turns/s, resume time, suite time) from the untraced passes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time

import pyspark.sql.functions as F

from perfbench import trace
from perfbench.metrics import SUITE_KEYS

HERE = os.path.dirname(os.path.abspath(__file__))
SUITE_DATA = os.path.join(HERE, "suite_data")

# Flagship input shape: avg 50 turns per conversation, 2 hot conversations
# at 50x (the gen_transcripts defaults), anchors at 4 per conversation.
BACKFILL_CONVS = 1000
# The checkpointed job's buckets; the first attempt is killed after half.
RESUME_BUCKETS = 2
# Fixed file count, so the same seed writes the same parquet at any
# local[N] (the scaling reference compares local[1] with local[nproc]).
DATAGEN_PARTITIONS = 8
# 1 conversation in SAMPLE_MOD is re-computed by the pandas kernel.
SAMPLE_MOD = 40


def _pass_s(timed: list[dict]) -> float:
    return statistics.median(p["wall_s"] for p in timed)


class PassResult:
    def __init__(self, wall_s: float, ops_s: list[float], layers: dict) -> None:
        self.wall_s = wall_s
        self.ops_s = ops_s
        self.layers = layers


def _write_transcripts(spark, work: str, n_convs: int, seed: int):
    from dane_visual_feature_extraction_worker_spark.datagen import gen_transcripts

    path = os.path.join(work, "transcripts")
    gen_transcripts(
        spark, n_convs=n_convs, avg_turns=50, seed=seed,
        partitions=DATAGEN_PARTITIONS,
    ).write.mode("overwrite").parquet(path)
    return path


def _files_under(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


class BackfillResume:
    """The production job: the flagship backfill (features and as-of
    join to parquet), then the checkpointed job on the same input, killed
    half way and resumed."""

    name = "backfill_resume"

    def __init__(self, work: str, seed: int, tracer: trace.Tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.features = os.path.join(work, "features")
        self.out = os.path.join(work, "out")
        self.cps = os.path.join(work, "checkpoints")
        self.resumed: list[int] = []

    def prepare(self, spark) -> None:
        from dane_visual_feature_extraction_worker_spark.datagen import gen_anchors

        self.src = _write_transcripts(spark, self.work, BACKFILL_CONVS, self.seed)
        self.anchors = os.path.join(self.work, "anchors")
        gen_anchors(
            spark, spark.read.parquet(self.src), per_conv=4, seed=self.seed
        ).write.mode("overwrite").parquet(self.anchors)
        self.turns = spark.read.parquet(self.src).count()

    def warmup(self, spark) -> None:
        """The backfill once, and a checkpointed attempt killed after
        its first bucket, so every code path of a pass has run."""
        self._backfill(spark)
        self._first_attempt(spark, fail_after=1)

    def _backfill(self, spark) -> tuple[list, list[float]]:
        """``pit_features`` -> parquet, then ``asof_join_union`` ->
        parquet; returns the two DataFrames and the two sink-call times."""
        from dane_visual_feature_extraction_worker_spark.operators.asof import (
            asof_join_union,
        )
        from dane_visual_feature_extraction_worker_spark.plans.pipeline import (
            pit_features,
        )

        sp, ops = self.tracer.span, []
        t0 = time.monotonic()
        with sp("plans.build"):
            tr = spark.read.parquet(self.src)
            feats = pit_features(tr)
        with sp("sink.features"):
            feats.write.mode("overwrite").parquet(self.features)
        t1 = time.monotonic()
        with sp("plans.build"):
            asof = asof_join_union(
                spark.read.parquet(self.anchors),
                tr.select("conv_id", "ts", "turn_idx", "role"),
                on="conv_id",
                left_ts="anchor_ts",
                right_order="turn_idx",
            )
        with sp("sink.asof"):
            asof.write.mode("overwrite").parquet(os.path.join(self.work, "asof"))
        return [feats, asof], [t1 - t0, time.monotonic() - t1]

    def _first_attempt(self, spark, fail_after: int) -> None:
        """A fresh checkpointed run, killed after ``fail_after`` buckets."""
        from dane_visual_feature_extraction_worker_spark.checkpoint import (
            CheckpointedRunner,
        )
        from dane_visual_feature_extraction_worker_spark.plans.pipeline import (
            pit_features,
        )

        for d in (self.out, self.cps):
            shutil.rmtree(d, ignore_errors=True)
        runner = CheckpointedRunner(spark, self.out, self.cps, n_buckets=RESUME_BUCKETS)
        try:
            runner.run(spark.read.parquet(self.src), pit_features, fail_after=fail_after)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the first attempt was not killed")

    def run_pass(self, spark, traced: bool) -> PassResult:
        """The backfill, then the checkpointed first attempt (killed after
        half the buckets) and its resume through ``run_pipeline.main``."""
        from jobs import run_pipeline

        sp, pid = self.tracer.span, self.tracer.pass_id
        sc = spark.sparkContext
        t0 = time.monotonic()
        dfs, ops = self._backfill(spark)
        # a second tag isolates the checkpointed job's Spark jobs
        ckpt_tag = f"{pid}-checkpointed"
        sc.addJobTag(ckpt_tag)
        try:
            t1 = time.monotonic()
            with sp("checkpoint.run"):
                self._first_attempt(spark, fail_after=RESUME_BUCKETS // 2)
            t2 = time.monotonic()
            printed = io.StringIO()
            with sp("run_pipeline.main"), contextlib.redirect_stdout(printed):
                run_pipeline.main(
                    [
                        "--input", self.src,
                        "--output", self.out,
                        "--checkpoints", self.cps,
                        "--n-buckets", str(RESUME_BUCKETS),
                    ]
                )
            t3 = time.monotonic()
        finally:
            sc.removeJobTag(ckpt_tag)
        ops += [t2 - t1, t3 - t2]
        summary = json.loads(printed.getvalue().strip().splitlines()[-1])
        self.resumed.append(summary["computed"])
        layers = {}
        if traced:
            layers["kernel.features_s"] = self.tracer.total("sink.features", pid)
            layers["asof.join_s"] = self.tracer.total("sink.asof", pid)
            for df in dfs:
                for k, v in trace.catalyst_phases(df).items():
                    layers[k] = layers.get(k, 0.0) + v
            bucket_s = [
                ms / 1e3
                for ms in spark.read.parquet(self.cps).select("ms").toPandas()["ms"]
            ]
            trace.drain_listener_bus(spark)
            jobs = trace.exec_counters(spark, ckpt_tag)["exec.jobs"]
            layers.update(
                {
                    "checkpoint.buckets_computed": float(summary["computed"]),
                    "checkpoint.jobs_per_bucket": jobs / RESUME_BUCKETS,
                    "checkpoint.bucket_s_p50": statistics.median(bucket_s),
                    "checkpoint.overhead_s": t3 - t1 - sum(bucket_s),
                    "checkpoint.files_written": float(
                        _files_under(self.out) + _files_under(self.cps)
                    ),
                    "run_pipeline.s": t3 - t2,
                }
            )
        return PassResult(t3 - t0, ops, layers)

    def readings(self, timed: list[dict]) -> dict:
        """This workload's own figures, read from the untraced passes
        and printed beside the end-to-end metrics: name -> (value, unit)."""
        med = statistics.median
        return {
            "turns": (self.turns, "turns"),
            "turns_per_s": (
                self.turns / med(p["ops_s"][0] + p["ops_s"][1] for p in timed),
                "turns/s",
            ),
            "pipeline_s": (med(p["ops_s"][2] + p["ops_s"][3] for p in timed), "s"),
            "resume_s": (med(p["ops_s"][3] for p in timed), "s"),
        }

    def check(self, spark) -> list[tuple[str, bool]]:
        import duckdb
        import numpy as np

        from dane_visual_feature_extraction_worker_spark.plans.pipeline import (
            pit_features,
        )
        from scripts.check_correctness import canon, value_hash

        feats = spark.read.parquet(self.features)
        cols = ", ".join(feats.columns)

        con = duckdb.connect()
        try:
            src = f"read_parquet('{self.src}/*.parquet')"

            def one(sql: str):
                return con.execute(sql).fetchone()[0]

            checks = [
                (
                    "features.rows == turns",
                    one(f"SELECT count(*) FROM '{self.features}/*.parquet'")
                    == self.turns,
                )
            ]
            done = sorted(
                r[0]
                for r in con.execute(
                    f"SELECT bucket FROM '{self.cps}/*.parquet' WHERE status = 'done'"
                ).fetchall()
            )
            checks.append(
                (
                    f"{RESUME_BUCKETS} done checkpoint rows",
                    done == list(range(RESUME_BUCKETS)),
                )
            )
            # exact multiset equality, both ways
            a = f"SELECT {cols} FROM '{self.out}/bucket=*/*.parquet'"
            b = f"SELECT {cols} FROM '{self.features}/*.parquet'"
            checks.append(
                (
                    "resumed result == one-shot pit_features",
                    one(f"SELECT count(*) FROM ({a})") == self.turns
                    and one(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})") == 0
                    and one(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})") == 0,
                )
            )
            left = RESUME_BUCKETS - RESUME_BUCKETS // 2
            checks += [
                (f"resume computed {left} buckets", n == left) for n in self.resumed
            ]
            got = con.execute(
                "SELECT conv_id, anchor_ts, matched_ts, turn_idx, role "
                f"FROM read_parquet('{self.work}/asof/*.parquet')"
            ).fetchdf()
            # ties on ts resolve to the greatest turn_idx
            want = con.execute(
                f"""
                WITH r AS (
                    SELECT conv_id, ts, turn_idx, role FROM (
                        SELECT *, row_number() OVER (
                            PARTITION BY conv_id, ts ORDER BY turn_idx DESC) AS rn
                        FROM {src}) WHERE rn = 1)
                SELECT a.conv_id, a.anchor_ts, r.ts AS matched_ts, r.turn_idx, r.role
                FROM read_parquet('{self.anchors}/*.parquet') a
                ASOF LEFT JOIN r ON a.conv_id = r.conv_id AND a.anchor_ts >= r.ts
                """
            ).fetchdf()
        finally:
            con.close()
        checks.append(
            (
                "asof == duckdb ASOF JOIN",
                len(got) == len(want)
                and value_hash(canon(got)) == value_hash(canon(want)),
            )
        )

        # the pandas kernel recomputes a deterministic conversation sample
        in_sample = (
            F.pmod(F.xxhash64(F.lit(self.seed), "conv_id"), F.lit(SAMPLE_MOD)) == 0
        )
        sample = spark.read.parquet(self.src).where(in_sample)
        keys = ["conv_id", "turn_idx"]
        ref = pit_features(sample, strategy="pandas").toPandas()
        got = feats.where(in_sample).toPandas()[list(ref.columns)]
        ref = ref.sort_values(keys).reset_index(drop=True)
        got = got.sort_values(keys).reset_index(drop=True)
        same = len(ref) > 0 and len(ref) == len(got)
        for c in ref.columns if same else ():
            if ref[c].dtype.kind == "f":
                same &= bool(
                    np.allclose(ref[c], got[c], rtol=1e-6, atol=1e-9, equal_nan=True)
                )
            else:
                same &= bool(ref[c].equals(got[c]))
        checks.append(("features sample == pandas kernel", same))
        return checks


class OperatorSuite:
    """Fixed-order operator keys over committed read-only tables."""

    name = "operator_suite"

    def __init__(self, work: str, seed: int, tracer: trace.Tracer) -> None:
        # the suite reads committed tables, so the seed has no effect
        self.tracer = tracer

    def prepare(self, spark) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.input_rows = sum(
            spark.read.parquet(os.path.join(SUITE_DATA, t)).count()
            for t in sorted(os.listdir(SUITE_DATA))
        )

    def warmup(self, spark) -> None:
        """The warm-up pass is the correctness pass: every key is
        collected and compared with its DuckDB oracle."""
        import duckdb

        from dane_visual_feature_extraction_worker_spark.functions import cacheutil
        from scripts.check_correctness import canon, value_hash

        cacheutil.release()
        self.checks = []
        con = duckdb.connect()
        try:
            for t in sorted(os.listdir(SUITE_DATA)):
                con.execute(
                    f"CREATE VIEW {t.split('.')[0]} AS "
                    f"SELECT * FROM read_parquet('{SUITE_DATA}/{t}')"
                )
            for key in SUITE_KEYS:
                got = canon(self.queries[key](spark, SUITE_DATA).toPandas())
                want = canon(con.execute(self.oracles[key]).fetchdf())
                self.checks.append(
                    (
                        f"{key} == oracle",
                        list(got.columns) == list(want.columns)
                        and len(got) == len(want)
                        and value_hash(got) == value_hash(want),
                    )
                )
        finally:
            con.close()

    def run_pass(self, spark, traced: bool) -> PassResult:
        from dane_visual_feature_extraction_worker_spark.functions import cacheutil

        cacheutil.release()
        sp = self.tracer.span
        layers, ops = {}, []
        t0 = time.monotonic()
        for key in SUITE_KEYS:
            tk = time.monotonic()
            with sp(f"query.{key}"):
                with sp("plans.build"):
                    df = self.queries[key](spark, SUITE_DATA)
                with sp("sink.noop"):
                    df.write.format("noop").mode("overwrite").save()
            ops.append(time.monotonic() - tk)
            if traced:
                layers[f"query.{key}_s"] = ops[-1]
                for k, v in trace.catalyst_phases(df).items():
                    layers[k] = layers.get(k, 0.0) + v
        return PassResult(time.monotonic() - t0, ops, layers)

    def readings(self, timed: list[dict]) -> dict:
        return {
            "input_rows": (self.input_rows, "rows"),
            "suite_s": (_pass_s(timed), "s"),
            "query_p50_s": (
                statistics.median(statistics.median(p["ops_s"]) for p in timed),
                "s",
            ),
        }

    def check(self, spark) -> list[tuple[str, bool]]:
        return self.checks


WORKLOAD_CLASSES = {
    cls.name: cls for cls in (BackfillResume, OperatorSuite)
}
