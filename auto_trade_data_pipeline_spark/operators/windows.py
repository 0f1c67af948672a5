"""Native Spark window / expression operators for the stage-3
enrichment surface that does NOT need recursion: typical price (W1),
Bollinger bands (W6), trend labels (W8), volume spikes (W10), session
flags (W12), gap detection (W13), running daily extrema (A7), NY
local-time derivation.

All of these stay inside whole-stage codegen — plain column
expressions or SQL window functions partitioned by symbol (and NY
local date where the semantics are daily). No Python in the hot path.

Per-symbol ordered windows mean per-symbol serial order within the
partition; at scale we parallelize across symbols (SURVEY §4). Frames
are ROWS-based and bounded except the daily running extrema, which is
unbounded-preceding within a (symbol, day) partition — bounded state
either way.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NY_TZ = "America/New_York"


#: The per-symbol event-time window clause of the SQL-text families.
_SYMBOL_SPEC = "PARTITION BY symbol ORDER BY timestamp"


def symbol_window(order_cols: tuple[str, ...] = ("timestamp",)) -> Window:
    return Window.partitionBy("symbol").orderBy(*order_cols)


def with_local_time(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """NY wall-clock derivation (``src/candle_to_calcs.py:642-645``):
    local_timestamp/local_date/local_hour/local_minute.

    One ``selectExpr`` call: the Column-object chain cost ~15 py4j
    round trips of driver build latency per query; the string form
    parses to the identical expressions in a single call (round-10
    build-latency pass; semantics pinned by the existing oracles)."""
    local = f"from_utc_timestamp({ts_col}, '{NY_TZ}')"
    return df.selectExpr(
        "*",
        f"{local} AS local_timestamp",
        f"to_date({local}) AS local_date",
        f"hour({local}) AS local_hour",
        f"minute({local}) AS local_minute",
    )


def with_typical_price(df: DataFrame) -> DataFrame:
    """W1 (``src/candle_to_calcs.py:386``)."""
    return df.withColumn(
        "typical_price", (F.col("high") + F.col("low") + F.col("close")) / 3
    )


SESSION_FLAGS = [
    "is_overnight_early",
    "is_overnight_late",
    "is_early_morning",
    "is_premarket_early",
    "is_premarket_morn",
    "is_morning",
    "is_late_morning",
    "is_midday",
    "is_early_afternoon",
    "is_late_afternoon",
    "is_closing",
    "is_afterhours",
]


#: (flag, predicate) in reference order
#: (``src/candle_to_calcs.py:366-377``); {h} = NY hour, {m} = NY
#: minute. SQL text, parsed in one selectExpr call instead of ~80 py4j
#: expression-construction round trips.
_SESSION_PRED_SQL = [
    ("is_overnight_early", "{h} >= 0 AND {h} < 2"),
    ("is_overnight_late", "{h} >= 2 AND {h} < 4"),
    ("is_early_morning", "{h} >= 4 AND {h} < 8"),
    ("is_premarket_early", "{h} >= 8 AND {h} < 9"),
    ("is_premarket_morn", "{h} = 9 AND {m} < 30"),
    ("is_morning", "({h} = 9 AND {m} >= 30) OR {h} = 10"),
    ("is_late_morning", "{h} = 11 OR ({h} = 12 AND {m} < 30)"),
    ("is_midday", "({h} = 12 AND {m} >= 30) OR {h} = 13"),
    ("is_early_afternoon", "{h} = 14 OR ({h} = 15 AND {m} < 30)"),
    ("is_late_afternoon", "({h} = 15 AND {m} >= 30) OR ({h} = 16 AND {m} < 30)"),
    ("is_closing", "({h} = 16 AND {m} >= 30) OR ({h} = 17 AND {m} < 1)"),
    ("is_afterhours", "({h} = 17 AND {m} >= 1) OR {h} >= 18"),
]


def with_session_flags(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """W12: 12 mutually-exclusive NY-session flags
    (``src/candle_to_calcs.py:352-379``). The buckets partition the
    24h day — exactly one flag is 1 per row (FIXTURES.md §C.5)."""
    local = f"from_utc_timestamp({ts_col}, '{NY_TZ}')"
    h, m = f"hour({local})", f"minute({local})"
    return df.selectExpr(
        "*",
        *[
            f"CAST(({pred.format(h=h, m=m)}) AS INT) AS {name}"
            for name, pred in _SESSION_PRED_SQL
        ],
    )


def with_running_daily_extrema(df: DataFrame) -> DataFrame:
    """A7: running day-high/low per (symbol, NY date) in event-time
    order (``src/candle_to_calcs.py:301-311`` tracks these row-by-row;
    here it is one cumulative window, no Python loop).

    The NY date is materialized as a named column before the window:
    partitioning two window specs by the raw *expression* makes
    Catalyst mint a fresh attribute per spec, so the max and min land
    in two Window operators with two Exchange+Sort passes on the same
    key. Named, both specs are identical and collapse into ONE Window
    (one exchange, one sort — measured 2 Exchange -> 1 on
    rolling_window_features)."""
    day = F.to_date(F.from_utc_timestamp(F.col("timestamp"), NY_TZ))
    w = (
        Window.partitionBy("symbol", "__ny_day")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__ny_day", day)
        .withColumns(
            {
                "running_day_high": F.max("high").over(w),
                "running_day_low": F.min("low").over(w),
            }
        )
        .drop("__ny_day")
    )


def _bollinger_sql(df: DataFrame, spec: str, period: int, nbdev: float) -> DataFrame:
    """Bollinger columns over the window ``spec`` (a ``PARTITION BY
    … ORDER BY …`` clause), with a trailing ``period``-row frame.

    Each window aggregate is evaluated ONCE into a named column:
    referencing the raw window expressions from bb_upper/bb_lower as
    well as bb_mid makes the Window operator carry count/avg three
    times and stddev twice (Catalyst does not dedup window
    expressions) — named columns cut the per-row window work from 10
    running aggregates to 3. SQL text ships in 4 py4j calls, where
    Column objects take ~60 (measured ~0.15 s more per build)."""
    over = f"OVER ({spec} ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW)"
    nb = f"CAST({nbdev!r} AS DOUBLE)"
    mid = f"CASE WHEN __bb_cnt >= {period} THEN __bb_avg ELSE close END"
    dev = f"CASE WHEN __bb_cnt >= {period} THEN __bb_sd ELSE CAST(0.0 AS DOUBLE) END"
    out = (
        df.selectExpr(
            "*",
            f"count(close) {over} AS __bb_cnt",
            f"avg(close) {over} AS __bb_avg",
            f"stddev_pop(close) {over} AS __bb_sd",
        )
        .selectExpr(
            "*",
            f"{mid} AS bb_mid",
            f"{mid} + {nb} * {dev} AS bb_upper",
            f"{mid} - {nb} * {dev} AS bb_lower",
        )
        .drop("__bb_cnt", "__bb_avg", "__bb_sd")
    )
    return out.selectExpr(
        "*",
        "bb_upper - bb_lower AS bb_width",
        "CASE WHEN (bb_upper - bb_lower) != 0 THEN (close - bb_lower) / "
        "(bb_upper - bb_lower) ELSE CAST(0.0 AS DOUBLE) END AS bb_pos",
        "CAST((close > bb_upper OR close < bb_lower) AS INT) AS bb_breakout",
    )


def with_bollinger(df: DataFrame, period: int = 20, nbdev: float = 2.0) -> DataFrame:
    """W6: Bollinger(20,2) + width/pos/breakout
    (``src/candle_to_calcs.py:419-425``).

    Spec (pinned, talib-compatible): mid = SMA(period) over the
    trailing ROWS frame, bands = mid ± nbdev·stddev_pop (population
    σ, like talib BBANDS), warm-up rows (<period) fall back to
    ``close`` (the reference's ``fillna(df["close"])``).  The
    reference's div-by-zero guard on bb_pos is a no-op bug
    (``.replace(0,nan).fillna(0)`` round-trips); we implement the
    intent: bb_pos = 0 when the band width is 0.
    """
    return _bollinger_sql(df, _SYMBOL_SPEC, period, nbdev)


def _volume_spike_sql(
    df: DataFrame, spec: str, window: int, spike_multiplier: float
) -> DataFrame:
    """Volume-spike columns over the window ``spec`` (as in
    :func:`_bollinger_sql`), with a trailing ``window``-row frame."""
    over = f"OVER ({spec} ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW)"
    return df.selectExpr(
        "*", f"avg(volume) {over} AS rolling_avg_volume"
    ).selectExpr(
        "*",
        f"CAST((volume > rolling_avg_volume * CAST({spike_multiplier!r} AS DOUBLE))"
        " AS INT) AS is_volume_spike",
    )


def with_volume_spike(
    df: DataFrame, window: int = 60, spike_multiplier: float = 1.5
) -> DataFrame:
    """W10 (``src/candle_to_calcs.py:517-526``): trailing mean volume
    (min_periods=1) and spike flag."""
    return _volume_spike_sql(df, _SYMBOL_SPEC, window, spike_multiplier)


def with_rolling_features_blocked(
    df: DataFrame,
    bb_period: int = 20,
    nbdev: float = 2.0,
    vol_window: int = 60,
    spike_multiplier: float = 1.5,
) -> DataFrame:
    """Bollinger + volume spike in ONE blocked pass (operators/blocked.py:
    block-level parallelism with overlap carry, identical results to
    :func:`with_bollinger` + :func:`with_volume_spike`): both frame
    families share a single sequence/overlap computation and a single
    window exchange (lookback = the larger frame). Chaining two
    blocked calls would rebuild the block machinery — and rescan the
    upstream plan — twice."""
    from auto_trade_data_pipeline_spark.operators.blocked import blocked_rows_window

    def _both(u, spec):
        u = _bollinger_sql(u, spec, bb_period, nbdev)
        return _volume_spike_sql(u, spec, vol_window, spike_multiplier)

    return blocked_rows_window(df, max(bb_period, vol_window) - 1, _both)


def with_trend_labels(
    df: DataFrame, slope_col: str = "t3_slope", slope_threshold: float = 0.2
) -> DataFrame:
    """W8 (``src/candle_to_calcs.py:440-452``): threshold the slope into
    is_uptrend / is_downtrend / is_no_trend (complement)."""
    s = F.col(slope_col)
    return (
        df.withColumn("is_uptrend", (s > slope_threshold).cast("int"))
        .withColumn("is_downtrend", (s < -slope_threshold).cast("int"))
        .withColumn(
            "is_no_trend",
            (~((s > slope_threshold) | (s < -slope_threshold))).cast("int"),
        )
    )


def gap_report(df: DataFrame, gap_seconds: float = 1.5, top_n: int = 5) -> DataFrame:
    """W13 + O2 (``src/candle_to_calcs.py:113-128``): per-symbol gap
    count, max gap, and the first ``top_n`` gap-start timestamps joined
    into one comma-separated string (scalar output — list-typed columns
    are not canonicalizable downstream).

    Scale shape: the top-``n`` list is bounded *before* aggregation via
    ``row_number() <= n`` on the filtered gap rows, so per-group state
    is O(top_n), not O(gaps) — no unbounded ``collect_list``.
    """
    w = symbol_window()
    gap = F.unix_micros(F.col("timestamp")) - F.unix_micros(F.lag("timestamp").over(w))
    gaps = df.withColumn("gap_s", gap / 1_000_000.0).filter(F.col("gap_s") > gap_seconds)
    rn = F.row_number().over(symbol_window())
    ranked = gaps.select("symbol", "timestamp", "gap_s").withColumn("__rn", rn)
    # collect_list drops nulls, so the when() keeps only the first top_n
    # per group while count/max still see every gap row.
    top = F.when(
        F.col("__rn") <= top_n, F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    return ranked.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("gap_count"),
        F.max("gap_s").alias("max_gap_seconds"),
        F.array_join(F.array_sort(F.collect_list(top)), ",").alias("gap_starts"),
    )


def with_pattern_sum(df: DataFrame, pattern_cols: list[str]) -> DataFrame:
    """A8 (``src/candle_to_calcs.py:509-515``): horizontal sum of the
    CDL* pattern columns, null-safe."""
    if not pattern_cols:
        return df.withColumn("candle_pattern_sum", F.lit(0.0))
    total = reduce(add, [F.coalesce(F.col(c), F.lit(0)).cast("double") for c in pattern_cols])
    return df.withColumn("candle_pattern_sum", total)
