"""Vectorized feature kernel — the Spark analogue of ``apply_model``.

The reference's kernel consumes deterministic batches of 256 items in
key order, runs a vectorized forward pass, and emits a positional row
``[timestamp, shot_start, shot_end, features...]`` per item
(reference: feature_extraction.py:17-32 ``apply_model``; batch iteration
:75-81; batch size 256 data_handling.py:111-112; output layout confirmed
by tests/unit/feature_extraction_test.py:56-60).

Ours replaces the torch forward pass with deterministic, model-free
numpy feature math (FIXTURES.md §5) so golden fixtures reproduce on any
machine, while keeping the *execution shape* identical:

- grouped ``applyInPandas`` over the entity key → each conversation
  arrives as one Arrow-backed pandas frame (the reference's
  one-entity-per-job unit, worker.py:66-90, becomes one *group* per
  task),
- rows sorted by (ts, turn_idx) inside the kernel (reference sorts its
  key list, data_handling.py:33),
- all features at row i read ONLY rows [0..i] — prefix sums / cumulative
  stats — the zero-temporal-leakage contract,
- absent inputs zero-filled (reference: data_handling.py:93-99).

Two physical strategies compute the same float32 features bit-for-bit:
``feature_vectors`` (the grouped-pandas kernel above, also the fixture
oracle) and ``feature_vectors_windows`` (the default scale path: pure
Catalyst window aggregates, narrow packed shuffle, no Python stage).
Both build their JVM-side text features from SQL expression text, one
``selectExpr`` per stage, so a plan costs a few hundred Py4J calls to
build rather than one per expression node.

Feature vector (D = 32 float32), per (conv_id, ts) anchor, from history
rows with ts <= anchor:
  f0  n_turns_so_far            f1  cum_text_chars
  f2  mean_text_chars           f3  text_chars_this_turn
  f4  gap_seconds_from_prev     f5  mean_gap_seconds (exact: the
      telescoping sum of gaps is ts_i - ts_0, accumulated in integer
      microseconds — order-independent, so every engine and the SQL
      oracle agree bit-for-bit; same trick as integer cents in
      salted_running_sum)
  f6  max_gap_seconds           f7  session_idx (gap>1800 boundaries)
  f8..f11   role one-hot counts so far (user/assistant/tool/system)
  f12 tool_calls_so_far         f13 turns_in_current_session
  f14 seconds_since_session_start
  f15 words_this_turn
  f16..f31  16-dim hashed token bag of current turn text (token ->
            bucket = crc32(utf8(token)) mod 16, count, l2-normalized;
            crc32 because the JVM computes it ~30% cheaper than md5 on
            the flagship (measured, BENCH/BASELINE.md r5) — the DuckDB
            oracle replays the SAME CRC-32 with a table-driven
            list_reduce over the token bytes, so the bag is fully
            hash-gated anyway (driver_queries._CRC32_SQL))
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dane_visual_feature_extraction_worker_spark.functions import ts_seconds_pd

FEATURE_DIM = 32
SESSION_GAP_S = 1800.0
# default entity-bucket count for grouped-pandas kernels: bounds per-task
# pandas memory and amortizes per-group overhead; ~4-15k rows/bucket at
# the bench scales measured best (buckets with no data cost nothing)
DEFAULT_KERNEL_BUCKETS = 2048
_ROLE_IDX = {"user": 0, "assistant": 1, "tool": 2, "system": 3}
_HASH_BUCKETS = 16
# small odd multiplier polynomial-hash; deterministic across platforms
_POLY = 1_000_003
_MOD = 2**31 - 1

FEATURE_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, "
    "session_id bigint, features array<float>"
)

# numeric engine path: flat f0..f31 feature columns + per-session bounds
# (computed inside the kernel — whole conversation in memory, no extra
# shuffle). Flat columns instead of array<float>: parquet encodes flat
# floats ~3x faster and downstream readers can prune single features;
# use ``with_feature_array`` to recover the array form.
_FCOLS = ", ".join(f"f{i} float" for i in range(FEATURE_DIM))
FEATURE_SCHEMA_FULL = (
    "conv_id string, turn_idx int, ts timestamp, session_id bigint, "
    f"session_start timestamp, session_end timestamp, {_FCOLS}"
)


_TOKEN_CACHE: dict[str, int] = {}


def _token_hash_bucket(tok: str) -> int:
    """Token -> bag bucket: crc32(utf8(token)) mod 16. The JVM
    (F.crc32), Python (zlib.crc32) and the DuckDB oracle (table-driven
    CRC-32 list_reduce, driver_queries._CRC32_SQL) agree bit-for-bit —
    and crc32 beats md5 by ~30% of flagship wall (r5 interleaved A/B,
    220M tokens: 14.06s vs 18.17s at 32 threads)."""
    import zlib

    b = _TOKEN_CACHE.get(tok)
    if b is None:
        b = zlib.crc32(tok.encode("utf-8")) % _HASH_BUCKETS
        if len(_TOKEN_CACHE) < 1_000_000:  # bound worker memory
            _TOKEN_CACHE[tok] = b
    return b


# Plan text. Every stage below is ONE ``selectExpr`` over SQL expression
# strings: Python builds the text and the JVM parses it, so a stage costs
# one Py4J round trip per expression string, where the Column API pays
# one per expression node (~9,000 per flagship plan, ~1 s of build
# time). The select boundaries are the ones the plans have always had,
# so CollapseProject sees the same tree and the optimized plan is
# unchanged.
#
# Literals are spelled so parsing never depends on session conf: typed
# doubles (``0.0D``) rather than decimal ``0.0``, and no backslash in any
# string literal — ``spark.sql.parser.escapedStringLiterals`` changes how
# backslashes unescape (and mis-parses raw ``r'...'`` literals on Spark
# 4.1), so the tokenizer's ``\s`` is spelled ``chr(92)``, which constant
# folding turns back into the literal regex ``(?U)\s+``.
_ROLE_CODE_SQL = (
    "CASE "
    + " ".join(f"WHEN role = '{r}' THEN {j}" for r, j in _ROLE_IDX.items())
    + " ELSE -1 END"
)
# (?U): Unicode-aware \s so the JVM tokenizer agrees with the Python
# oracle's str.split() on NBSP & friends (ADVICE r1). (Residual edge:
# U+001C..1F separators — Python isspace() true, Unicode White_Space
# false — are not treated as spaces here.)
_TOKENS_SQL = (
    "filter(split(coalesce(text, ''), concat('(?U)', chr(92), 's+')), "
    "t -> t != '')"
)
_TOKEN_BUCKET_SQL = f"t -> pmod(crc32(t), {_HASH_BUCKETS})"
_CHARS_SQL = "length(coalesce(text, ''))"
_BAGS = [f"bag{b}" for b in range(_HASH_BUCKETS)]


def _bucket_count_sql(b: int) -> str:
    """Tokens of the row's ``__h`` bucket list that landed in bucket b."""
    return f"size(filter(__h, h -> h = {b}))"


def _l2_bag(counts: DataFrame, keep: list[str]) -> DataFrame:
    """``keep`` + bag0..bag15: the ``__c0..__c15`` bucket counts
    l2-normalized (all-zero rows stay zero)."""
    norm_sq = " + ".join(f"__c{b} * __c{b}" for b in range(_HASH_BUCKETS))
    normed = counts.selectExpr("*", f"sqrt({norm_sq}) AS __norm")
    return normed.selectExpr(
        *keep,
        *[
            f"CASE WHEN __norm > 0 THEN __c{b} / __norm ELSE 0.0D END AS bag{b}"
            for b in range(_HASH_BUCKETS)
        ],
    )


def with_text_features(transcripts: DataFrame) -> DataFrame:
    """JVM-side text features: chars, words, l2-normalized 16-bucket
    token bag (bag0..bag15), role_code, has_tool.

    Whole-stage-codegen'd column expressions — Python never touches the
    text, which is what keeps the kernel memory-light and scalable (text
    handling in the Python workers was the measured scaling ceiling).
    Staged selects materialize the token hashes so project-collapse
    cannot re-inline the regex split / crc32 per reference (see
    dedup.py)."""
    keep = ["conv_id", "turn_idx", "ts", "role_code", "has_tool", "chars"]
    s1 = transcripts.selectExpr(
        "conv_id",
        "turn_idx",
        "ts",
        f"{_ROLE_CODE_SQL} AS role_code",
        "CAST(tool IS NOT NULL AS INT) AS has_tool",
        f"CAST({_CHARS_SQL} AS DOUBLE) AS chars",
        f"{_TOKENS_SQL} AS __toks",
    )
    s2 = s1.selectExpr(
        *keep,
        "CAST(size(__toks) AS DOUBLE) AS words",
        f"transform(__toks, {_TOKEN_BUCKET_SQL}) AS __h",
    )
    s3 = s2.selectExpr(
        *keep,
        "words",
        *[
            f"CAST({_bucket_count_sql(b)} AS DOUBLE) AS __c{b}"
            for b in range(_HASH_BUCKETS)
        ],
    )
    return _l2_bag(s3, [*keep, "words"])


def compute_features_numeric(pdf: pd.DataFrame) -> pd.DataFrame:
    """Numeric-only bucket kernel over ``with_text_features`` output:
    pure float prefix ops per conversation slice — no strings cross the
    Arrow boundary."""
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )
    n = len(pdf)
    if n == 0:
        empty = {
            "conv_id": pd.Series(dtype=object),
            "turn_idx": pd.Series(dtype="int32"),
            "ts": pd.Series(dtype="datetime64[us]"),
            "session_id": pd.Series(dtype="int64"),
            "session_start": pd.Series(dtype="datetime64[us]"),
            "session_end": pd.Series(dtype="datetime64[us]"),
        }
        for i in range(FEATURE_DIM):
            empty[f"f{i}"] = pd.Series(dtype="float32")
        return pd.DataFrame(empty)
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    ts_s = ts_us / 1e6
    chars = pdf["chars"].to_numpy()
    words = pdf["words"].to_numpy()
    role_code = pdf["role_code"].to_numpy()
    has_tool = pdf["has_tool"].to_numpy(dtype=np.float64)
    bag = np.column_stack([pdf[f"bag{b}"].to_numpy() for b in range(_HASH_BUCKETS)])

    codes, _ = pd.factorize(pdf["conv_id"], sort=False)
    starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    ends = np.r_[starts[1:], n]

    feats = np.empty((n, FEATURE_DIM), dtype=np.float64)
    sess_all = np.empty(n, dtype=np.int64)
    sess_start_us = np.empty(n, dtype=np.int64)
    sess_end_us = np.empty(n, dtype=np.int64)
    role_eq = {r: (role_code == j).astype(np.float64) for r, j in _ROLE_IDX.items()}
    for a, b in zip(starts, ends):
        m = b - a
        tss = ts_s[a:b]
        gaps = np.diff(tss, prepend=tss[0])
        gaps[0] = 0.0
        idx1 = np.arange(1, m + 1, dtype=np.float64)
        cum_chars = np.cumsum(chars[a:b])
        # exact mean gap: sum of gaps telescopes to ts_i - ts_0, kept in
        # integer microseconds (order-independent -> oracle-gateable)
        cum_gap_s = (ts_us[a:b] - ts_us[a]).astype(np.float64) / 1e6
        new_sess = (gaps > SESSION_GAP_S).astype(np.int64)
        new_sess[0] = 1
        sess_id = np.cumsum(new_sess) - 1
        idx = np.arange(m)
        sess_start = np.maximum.accumulate(np.where(new_sess == 1, idx, 0))
        out = feats[a:b]
        out[:, 0] = idx1
        out[:, 1] = cum_chars
        out[:, 2] = cum_chars / idx1
        out[:, 3] = chars[a:b]
        out[:, 4] = gaps
        out[:, 5] = cum_gap_s / idx1
        out[:, 6] = np.maximum.accumulate(gaps)
        out[:, 7] = sess_id
        for _r, j in _ROLE_IDX.items():
            out[:, 8 + j] = np.cumsum(role_eq[_r][a:b])
        out[:, 12] = np.cumsum(has_tool[a:b])
        out[:, 13] = idx - sess_start + 1
        out[:, 14] = tss - tss[sess_start]
        out[:, 15] = words[a:b]
        out[:, 16:] = bag[a:b]
        sess_all[a:b] = sess_id
        # per-session bounds (exact int64 µs, no float roundtrip)
        s_idx = np.flatnonzero(new_sess)
        s_end = np.r_[s_idx[1:] - 1, m - 1]
        sess_start_us[a:b] = ts_us[a:b][s_idx[sess_id]]
        sess_end_us[a:b] = ts_us[a:b][s_end[sess_id]]

    f32 = feats.astype(np.float32)
    cols = {
        "conv_id": pdf["conv_id"],
        "turn_idx": pdf["turn_idx"].astype("int32"),
        "ts": pdf["ts"],
        "session_id": sess_all,
        "session_start": pd.Series(sess_start_us).astype("datetime64[us]"),
        "session_end": pd.Series(sess_end_us).astype("datetime64[us]"),
    }
    for i in range(FEATURE_DIM):
        cols[f"f{i}"] = f32[:, i]
    return pd.DataFrame(cols)


def compute_features_pd(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pure-pandas kernel for ONE conversation (also the test oracle's
    building block — tests/reference_impl.py wraps the same math in a
    plain pandas groupby to produce golden fixtures)."""
    pdf = pdf.sort_values(["ts", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )
    n = len(pdf)
    text = pdf["text"].fillna("").to_numpy(dtype=object)
    role = pdf["role"].fillna("").to_numpy(dtype=object)
    tool = pdf["tool"].to_numpy(dtype=object)
    ts_s = ts_seconds_pd(pdf["ts"]).to_numpy()  # epoch seconds

    chars = np.array([len(t) for t in text], dtype=np.float64)
    words = np.array([len(t.split()) if t else 0 for t in text], dtype=np.float64)
    gaps = np.diff(ts_s, prepend=ts_s[0] if n else 0.0)
    if n:
        gaps[0] = 0.0

    idx1 = np.arange(1, n + 1, dtype=np.float64)
    cum_chars = np.cumsum(chars)
    mean_chars = cum_chars / idx1
    # exact mean gap: telescoping sum in integer microseconds
    ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    cum_gap_s = (
        (ts_us - (ts_us[0] if n else 0)).astype(np.float64) / 1e6
        if n
        else np.zeros(0)
    )
    mean_gap = cum_gap_s / idx1
    max_gap = np.maximum.accumulate(gaps)

    new_sess = (gaps > SESSION_GAP_S).astype(np.int64)
    if n:
        new_sess[0] = 1
    sess_id = np.cumsum(new_sess) - 1  # 0-based
    # turns in current session / seconds since session start (vectorized:
    # propagate the index of the last session boundary forward)
    idx = np.arange(n)
    sess_start_turn = np.maximum.accumulate(np.where(new_sess == 1, idx, 0))
    sess_start_ts = ts_s[sess_start_turn] if n else np.zeros(0)
    turns_in_sess = idx - sess_start_turn + 1
    sec_in_sess = ts_s - sess_start_ts

    role_oh = np.zeros((n, 4), dtype=np.float64)
    for r, j in _ROLE_IDX.items():
        role_oh[:, j] = np.cumsum(role == r)
    cum_tools = np.cumsum(pd.notna(tool).astype(np.float64))

    bag = np.zeros((n, _HASH_BUCKETS), dtype=np.float64)
    for i, t in enumerate(text):
        if not t:
            continue
        for tok in t.split():
            bag[i, _token_hash_bucket(tok)] += 1.0
        norm = np.sqrt((bag[i] ** 2).sum())
        if norm > 0:
            bag[i] /= norm

    feats = np.column_stack(
        [
            idx1,
            cum_chars,
            mean_chars,
            chars,
            gaps,
            mean_gap,
            max_gap,
            sess_id.astype(np.float64),
            role_oh,
            cum_tools,
            turns_in_sess.astype(np.float64),
            sec_in_sess,
            words,
            bag,
        ]
    ).astype(np.float32)
    assert feats.shape[1] == FEATURE_DIM

    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"],
            "turn_idx": pdf["turn_idx"].astype("int32"),
            "ts": pdf["ts"],
            "session_id": sess_id,
            "features": list(feats),
        }
    )


def with_feature_array(df: DataFrame) -> DataFrame:
    """Collapse flat f0..f31 back into ``features array<float>``
    (fixture/golden-comparison form, FIXTURES.md §5)."""
    arr = F.array(*[F.col(f"f{i}") for i in range(FEATURE_DIM)]).alias("features")
    keep = [c for c in df.columns if not (c.startswith("f") and c[1:].isdigit())]
    return df.select(*keep, arr)


def feature_vectors(transcripts: DataFrame, n_buckets: int | None = None) -> DataFrame:
    """Distributed kernel: bucket-grouped applyInPandas.

    One shuffle on bucket(conv_id); per bucket the kernel iterates
    conversations with a pandas groupby (sub-millisecond per group)
    instead of one Spark group per conversation (~20-50 ms per group of
    grouped-pandas overhead — ruinous at millions of conversations).
    Bucket count bounds per-task memory and scales with the corpus;
    conversations never split across buckets.
    """
    if n_buckets is None:
        # parallelism-derived default (see asof_join_sorted): fixed 2048
        # buckets over-paid per-group setup at small SF; explicit counts
        # bound per-task memory at corpus scale
        sp = int(
            transcripts.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        n_buckets = max(4 * sp, DEFAULT_KERNEL_BUCKETS // 8)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return compute_features_numeric(pdf)

    b = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets))
    return (
        with_text_features(transcripts.select(*cols))
        .withColumn("__b", b)
        .groupBy("__b")
        .applyInPandas(per_bucket, schema=FEATURE_SCHEMA_FULL)
    )


def _packed_text_features(transcripts: DataFrame) -> DataFrame:
    """Map-side projection for the narrow-shuffle window plan: every
    per-row text derivation reduced to 10 fixed-width bigints BEFORE
    the exchange, so the shuffle + sort move ~96 fixed bytes/row
    instead of the raw text/role/tool strings (~2.5x fewer sorted
    bytes — the 32-thread phase of the scaling gate is memory-bus
    bound, so bytes through the exchange are the lever, VERDICT r4).

    - ``__p0..__p7``: the 16 bag counts, two 32-bit lanes per bigint
      (counts are exact small ints; a turn would need 2^31 tokens in
      one bucket to overflow a lane).
    - ``__meta``: chars*256 + (role_code+1)*32 + (has_tool+1) — single
      bigint; chars < 2^45 stays exact.
    - ``words`` is NOT shipped: every token lands in exactly one
      bucket, so words == sum of the 16 counts, recovered lane-side.
    l2 normalization happens post-shuffle from the exact integer
    counts — bit-identical to normalizing map-side."""
    s1 = transcripts.selectExpr(
        "xxhash64(conv_id) AS __ck",
        "conv_id",
        "turn_idx",
        "ts",
        f"CAST({_CHARS_SQL} AS BIGINT) * 256"
        f" + CAST(({_ROLE_CODE_SQL}) + 1 AS BIGINT) * 32"
        " + CAST(tool IS NOT NULL AS BIGINT) + 1 AS __meta",
        f"transform({_TOKENS_SQL}, {_TOKEN_BUCKET_SQL}) AS __h",
    )
    packs = [
        f"CAST({_bucket_count_sql(2 * k)} AS BIGINT) * {1 << 32}"
        f" + CAST({_bucket_count_sql(2 * k + 1)} AS BIGINT) AS __p{k}"
        for k in range(_HASH_BUCKETS // 2)
    ]
    return s1.selectExpr("__ck", "conv_id", "turn_idx", "ts", "__meta", *packs)


def _unpack_text_features(df: DataFrame) -> DataFrame:
    """Inverse of ``_packed_text_features`` (post-shuffle): rebuild
    role_code/has_tool/chars/words and the l2-normalized bag columns
    with the exact expressions ``with_text_features`` uses, from the
    exact integer counts."""
    cs = []
    for k in range(_HASH_BUCKETS // 2):
        hi = f"shiftright(__p{k}, 32)"
        cs += [f"CAST({hi} AS DOUBLE)", f"CAST(__p{k} - {hi} * {1 << 32} AS DOUBLE)"]
    counts = df.selectExpr(
        "__ck",
        "conv_id",
        "turn_idx",
        "ts",
        "CAST(shiftright(__meta, 8) AS DOUBLE) AS chars",
        "CAST(shiftright(__meta - shiftright(__meta, 8) * 256, 5) - 1 AS INT)"
        " AS role_code",
        "CAST(__meta - shiftright(__meta, 5) * 32 - 1 AS INT) AS has_tool",
        f"{' + '.join(cs)} AS words",
        *[f"{c} AS __c{b}" for b, c in enumerate(cs)],
    )
    return _l2_bag(
        counts,
        ["__ck", "conv_id", "turn_idx", "ts", "role_code", "has_tool", "chars", "words"],
    )


# the flagship windows: running prefix per conversation, and whole session
_W_CONV = "PARTITION BY __ck, conv_id ORDER BY ts, turn_idx"
_W_RUN = f"{_W_CONV} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
_W_SESS = (
    "PARTITION BY __ck, conv_id, session_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
)
# epoch micros / 1e6 as double, same value path as the numpy kernel
# (via TIMESTAMP: parquet reads give TIMESTAMP_NTZ, which cannot cast
# to double directly — functions.epoch_seconds)
_TS_S = "CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)"
_LAG_TS_S = f"lag({_TS_S}, 1) OVER ({_W_CONV})"


def feature_vectors_windows(transcripts: DataFrame) -> DataFrame:
    """Pure-Catalyst physical strategy: the same 32 features as window
    expressions — NO Python stage at all.

    Every f0..f15 is a per-conversation prefix op (cumsum / running
    max / last-ignorenulls) over rows sorted by (ts, turn_idx); the bag
    columns f16..f31 are already JVM-side. A running-frame window
    aggregate accumulates rows one at a time in sort order — the SAME
    sequential double arithmetic as the numpy kernel's cumsum — so the
    float32 outputs are bit-identical to ``compute_features_numeric``
    (asserted in tests/test_kernel.py).

    Plan: ONE shuffle (hash on conv_id) + one sort for the main window;
    the session-bounds window partitions on (conv_id, session_id),
    which hash(conv_id) already clusters, so Catalyst adds only a
    partition-local re-sort, no second exchange. Removing the Arrow
    transfer + Python workers is what lifts multi-core scaling
    efficiency (BENCH/BASELINE.md): whole-stage codegen end to end.

    Narrow shuffle (r5): text is tokenized and counted map-side, and
    10 packed bigints per row move through the exchange + sort instead
    of the raw text/role/tool strings (``_packed_text_features``) —
    bytes through the shuffle and the sort working set are the
    memory-bus lever the r4 scaling analysis identified.

    Each stage is one ``selectExpr`` over SQL text with shared window
    specs (see the plan-text note above ``with_text_features``): the
    whole plan costs ~300 Py4J calls to build instead of ~9,000.

    ``__ck`` = xxhash64(conv_id) leads every sort key: string conv_ids
    share long prefixes, which defeats the radix/prefix comparator — a
    distinct 8-byte numeric prefix restores it. conv_id stays in the
    partition spec, so a (astronomically unlikely) hash collision
    still cannot merge two conversations.
    """
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    packed = _packed_text_features(transcripts.select(*cols))
    shuffled = packed.repartition("__ck").sortWithinPartitions(
        "__ck", "conv_id", "ts", "turn_idx"
    )
    tf = _unpack_text_features(shuffled)

    s1 = tf.selectExpr(
        "__ck",
        "conv_id",
        "turn_idx",
        "ts",
        "role_code",
        "has_tool",
        "chars",
        "words",
        *_BAGS,
        f"{_TS_S} AS __ts_s",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS __ts_us",
        f"coalesce({_TS_S} - {_LAG_TS_S}, 0.0D) AS __gap",
        f"CAST(row_number() OVER ({_W_CONV}) AS DOUBLE) AS __rn",
        # new-session flag: first row of the conv, or gap > threshold
        f"CASE WHEN {_LAG_TS_S} IS NULL OR {_TS_S} - {_LAG_TS_S} > {SESSION_GAP_S}D"
        " THEN 1 ELSE 0 END AS __new",
    )
    s2 = s1.selectExpr(
        "*",
        f"CAST(sum(__new) OVER ({_W_RUN}) - 1 AS BIGINT) AS session_id",
        # index/ts of the most recent session boundary (running last)
        f"last(CASE WHEN __new = 1 THEN __rn END, true) OVER ({_W_RUN})"
        " AS __sess_rn",
        f"last(CASE WHEN __new = 1 THEN __ts_s END, true) OVER ({_W_RUN})"
        " AS __sess_ts",
        f"sum(chars) OVER ({_W_RUN}) AS __cum_chars",
        # f5 numerator: exact telescoping gap sum in integer micros
        f"first(__ts_us) OVER ({_W_RUN}) AS __ts0_us",
        f"max(__gap) OVER ({_W_RUN}) AS __max_gap",
        *[
            f"sum(CAST(role_code = {j} AS DOUBLE)) OVER ({_W_RUN}) AS __r{j}"
            for j in range(4)
        ],
        f"sum(CAST(has_tool AS DOUBLE)) OVER ({_W_RUN}) AS __cum_tool",
    )
    feats = [
        "__rn",
        "__cum_chars",
        "__cum_chars / __rn",
        "chars",
        "__gap",
        "CAST(__ts_us - __ts0_us AS DOUBLE) / 1000000.0D / __rn",
        "__max_gap",
        "session_id",
        *[f"__r{j}" for j in range(4)],
        "__cum_tool",
        "__rn - __sess_rn + 1",
        "__ts_s - __sess_ts",
        "words",
        *_BAGS,
    ]
    return s2.selectExpr(
        "conv_id",
        "CAST(turn_idx AS INT) AS turn_idx",
        "ts",
        "session_id",
        f"min(ts) OVER ({_W_SESS}) AS session_start",
        f"max(ts) OVER ({_W_SESS}) AS session_end",
        *[f"CAST({e} AS FLOAT) AS f{i}" for i, e in enumerate(feats)],
    )
