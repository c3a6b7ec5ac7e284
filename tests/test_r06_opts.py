"""Focused tests for the round-6 optimization internals: the
scale-adaptive `_fan` scan widener, the memoized-schema parquet reader,
and the lean transcript projection's ordering invariant.  Each pins the
*result-identity* claim the optimization rests on, so a later refactor
can't silently turn a plan-shape change into a value change."""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_fan_widens_narrow_scan_and_preserves_rows(spark):
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    e = dq._read_parquet(spark, f"{SF}/events.parquet")
    assert e.rdd.getNumPartitions() == 1, "sf0.001 events should be one split"
    fanned = dq._fan(e, "event_id")
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # Row multiset is untouched — the fan is a pure repartition.
    a = sorted(r["event_id"] for r in e.select("event_id").collect())
    b = sorted(r["event_id"] for r in fanned.select("event_id").collect())
    assert a == b


def test_fan_is_identity_when_scan_is_wide_enough(spark):
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    e = dq._read_parquet(spark, f"{SF}/events.parquet")
    wide = e.repartition(spark.sparkContext.defaultParallelism + 4)
    # inputFiles is the same parquet, but the memo key is probed on the
    # df handed in — a wide frame must come back unchanged (no extra
    # exchange at production split counts).
    # The key is shared with the narrow scan of the same file, so the
    # prior entry is restored: later tests must see the real split count.
    key = (tuple(sorted(wide.inputFiles())), spark.sparkContext.defaultParallelism)
    prior = dq._SCAN_PARTS.pop(key, None)
    dq._SCAN_PARTS[key] = wide.rdd.getNumPartitions()
    try:
        assert dq._fan(wide) is wide
    finally:
        if prior is None:
            dq._SCAN_PARTS.pop(key, None)
        else:
            dq._SCAN_PARTS[key] = prior


def test_fan_off_switch_restores_plain_scan(spark):
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    e = dq._read_parquet(spark, f"{SF}/events.parquet")
    dq._FAN_OFF = True
    try:
        assert dq._fan(e, "event_id") is e
    finally:
        dq._FAN_OFF = False


def test_read_parquet_memoized_schema_matches_inference(spark):
    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    path = f"{SF}/events.parquet"
    direct = spark.read.parquet(path)
    memo = dq._read_parquet(spark, path)
    assert memo.schema == direct.schema
    assert memo.count() == direct.count()
    # Second call serves the schema from the memo (no new entry churn).
    assert path in dq._SCHEMAS
    again = dq._read_parquet(spark, path)
    assert again.schema == direct.schema


def test_textstats_has_no_eager_collect():
    """VERDICT r5 #4 done-criterion: the LM scorers route their corpus
    totals through lazy broadcast scalars — no `.collect()` barrier
    anywhere in operators/textstats.py.  Scans the AST for action calls
    (``x.collect()``, ``toPandas``, ``first``, ``head``), so prose that
    mentions them does not count; ``F.first`` is a lazy aggregate."""
    import ast
    import inspect

    from dane_visual_feature_extraction_worker_spark.operators import textstats

    tree = ast.parse(inspect.getsource(textstats))
    actions = [
        (node.lineno, node.func.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in {"collect", "toPandas", "first", "head"}
        and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "F")
    ]
    assert actions == []


def test_lean_projection_order_matches_turn_idx(spark):
    """The `_tr_proj_lean` contract: within a conversation, ordering by
    (ts, turn_ord=event_id) is exactly the full projection's turn_idx
    order — so operators that only ORDER by turn_idx are result-
    identical on the lean frame (no corpus rank window).  Checked row by
    row: the full projection is re-derived here with ``event_id`` kept
    (and pinned to ``_tr_proj``), then joined on (conv_id, ts, event_id)."""
    from pyspark.sql import Window

    from dane_visual_feature_extraction_worker_spark.plans import driver_queries as dq

    cols = ["conv_id", "turn_idx", "ts"]
    w_full = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = dq._events(spark, SF).select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w_full) - 1).cast("int").alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    ref = dq._tr_proj(spark, SF).select(*cols)
    assert full.select(*cols).exceptAll(ref).count() == 0
    assert ref.exceptAll(full.select(*cols)).count() == 0

    lean = dq._tr_proj_lean(spark, SF)
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_ord")
    rederived = lean.select(
        "conv_id",
        "ts",
        F.col("turn_ord").alias("event_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx2"),
    )
    joined = full.join(rederived, on=["conv_id", "ts", "event_id"], how="full_outer")
    assert joined.count() == ref.count() > 0
    bad = joined.where(
        F.col("turn_idx").isNull()
        | F.col("turn_idx2").isNull()
        | (F.col("turn_idx") != F.col("turn_idx2"))
    ).count()
    assert bad == 0
    # and the lean plan really has no Window node
    plan = lean._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
