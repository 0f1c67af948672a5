"""Output checks against the corpus's DuckDB oracles, run outside the
timed region.

The generated ``events.parquet`` is registered in DuckDB as an
``events`` view restricted to ``tick_valid_predicate``'s rule, so the
registered oracles (``candles_1s``, ``full_enrichment``,
``anchored_vwap_filled``) compute over exactly the ticks the pipeline
keeps. Each sink is projected the way the matching corpus query
projects its frame and written to parquet; both sides are then reduced
by DuckDB to (row count, order-insensitive digest), where the digest
sums a 64-bit hash of each row's canonical text over columns sorted by
name; a floating-point zero is written without its sign.

Cost bounds what is checked in full. The ``full_enrichment`` oracle is
quadratic in candles per symbol (its recursive indicators are list
reductions over each row's prefix), so it runs on a time prefix of one
seeded symbol and compares the columns whose value depends only on
earlier rows (every column but the six peak flags, which look ahead).
Oracle results are cached per (workload, seed).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.corpus import load_all
from auto_trade_data_pipeline_spark.corpus.trade import TS_FMT_SPARK
from auto_trade_data_pipeline_spark.operators.indicators import (
    FAMILY_COLUMNS,
    INDICATOR_COLUMNS,
)
from auto_trade_data_pipeline_spark.operators.windows import SESSION_FLAGS

SINKS = ("invalid_ticks", "candles_1s", "candles_1s_calculated", "anchored_vwap_points_1s")

#: Enrichment columns whose value at a row depends only on rows before
#: it: all but the peak flags.
PEAK_COLUMNS = tuple(name for name, _t in FAMILY_COLUMNS["peaks"])

#: ``tick_valid_predicate`` over ``ticks_from_events``' mapping: price
#: and volume non-NULL, price > 0, volume >= 0, timestamp non-NULL.
_VOLUME = "CASE WHEN event_id % 10 = 0 THEN 0.0 ELSE round(abs(value) * 100, 0) END"
VALID_TICK_SQL = (
    f"value IS NOT NULL AND ({_VOLUME}) IS NOT NULL AND value > 0"
    f" AND ({_VOLUME}) >= 0 AND ts IS NOT NULL"
)


def parquet_rows(path: str) -> int:
    """Row count of a parquet table directory, from its footers."""
    files = glob.glob(f"{path}/*.parquet")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


#: Floating-point column types, whose zero is written without its sign.
FLOAT_TYPES = ("DOUBLE", "FLOAT")
#: Version of the digest's canonical text, part of the oracle-cache key.
DIGEST_FORM = 2


def digest_sql(relation: str, columns: dict[str, str]) -> str:
    """(rows, digest) of ``relation`` over ``columns`` (name -> DuckDB
    type). A floating-point zero is digested as ``0.0`` whatever its
    sign: ``-0.0 = 0.0``, and Spark's ``round`` (BigDecimal, which has
    no signed zero) turns a tiny negative into ``0.0`` where DuckDB's
    gives ``-0.0``."""

    def text(c: str) -> str:
        col = f'"{c}"'
        if columns[c] in FLOAT_TYPES:
            col = f"CASE WHEN {col} = 0 THEN 0.0::DOUBLE ELSE {col} END"
        return f"coalesce(CAST({col} AS VARCHAR), '<null>')"

    parts = ", ".join(text(c) for c in sorted(columns))
    return (
        "SELECT count(*)::BIGINT,"
        f" coalesce(sum(hash(concat_ws('|', {parts}))::HUGEINT), 0)::VARCHAR"
        f" FROM ({relation})"
    )


def duck_digest(con, relation: str) -> tuple[int, str]:
    head = con.sql(f"SELECT * FROM ({relation}) LIMIT 0")
    cols = dict(zip(head.columns, (str(t) for t in head.types)))
    n, h = con.sql(digest_sql(relation, cols)).fetchone()
    return int(n), f"{sorted(cols)}:{h}"


# ---------------------------------------------------------------------------
# Spark-side projections, mirroring the corpus queries
# ---------------------------------------------------------------------------


def project_candles(df: DataFrame) -> DataFrame:
    """``candles_1s``'s projection, without its ``first_tick_ts``
    column (the pipeline's candles do not carry it)."""
    return df.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
        "number_of_trades",
        F.round("vwap", 4).alias("vwap"),
    )


def project_enrichment(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """``full_enrichment``'s projection: formatted timestamps, doubles
    rounded to 6 places; ``columns`` limits it to a subset."""
    candle_cols = [
        "symbol", "timestamp", "open", "high", "low", "close",
        "volume", "number_of_trades", "vwap",
    ]
    native_cols = (
        ["local_timestamp", "local_date", "local_hour", "local_minute"]
        + SESSION_FLAGS
        + ["bb_mid", "bb_upper", "bb_lower", "bb_width", "bb_pos", "bb_breakout"]
        + ["rolling_avg_volume", "is_volume_spike"]
    )
    ordered = candle_cols + native_cols + [name for name, _t in INDICATOR_COLUMNS]
    if columns is not None:
        ordered = [c for c in ordered if c in columns]
    doubles = {f.name for f in df.schema.fields if f.dataType.typeName() == "double"}
    sel = []
    for name in ordered:
        if name in ("timestamp", "local_timestamp"):
            sel.append(f"date_format({name}, '{TS_FMT_SPARK}') AS {name}")
        elif name in doubles:
            sel.append(f"round({name}, 6) AS {name}")
        else:
            sel.append(name)
    return df.selectExpr(*sel)


def project_anchors(df: DataFrame) -> DataFrame:
    """``anchored_vwap_filled``'s projection."""
    return df.select(
        "symbol",
        "anchor_type",
        F.date_format("anchor_timestamp", TS_FMT_SPARK).alias("anchor_ts"),
        F.date_format("current_snapshot_timestamp", TS_FMT_SPARK).alias("snapshot_ts"),
        F.round("price_at_anchor", 4).alias("price_at_anchor"),
        F.round("anchored_vwap", 4).alias("anchored_vwap"),
    )


# ---------------------------------------------------------------------------
# Oracle side
# ---------------------------------------------------------------------------


class Oracles:
    """The registered oracles over one tape. Results are cached on disk
    per (workload, seed), keyed by the tape's bytes and the query's
    text. Each digest runs on its own in-memory DuckDB database, so
    several can run at once."""

    def __init__(self, tape_dir: str, cache_dir: str, workload: str, seed: int):
        self.events = f"{tape_dir}/events.parquet"
        with open(self.events, "rb") as f:
            self.tape_sha = hashlib.sha256(f.read()).hexdigest()
        self.cache_path = f"{cache_dir}/{workload}-{seed}.json"
        os.makedirs(cache_dir, exist_ok=True)
        self.cache = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        self.registry = load_all()
        self._lock = threading.Lock()

    def _connect(self, where: str):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.events}')"
            f" WHERE {VALID_TICK_SQL}{' AND ' + where if where else ''}"
        )
        return con

    def digest(self, query: str, where: str = "", columns: list[str] | None = None,
               drop: tuple[str, ...] = ()) -> tuple[int, str]:
        """(rows, digest) of a registered oracle over the valid ticks
        matching ``where``, keeping ``columns`` (or dropping ``drop``)."""
        sql = self.registry[query].oracle
        key_src = json.dumps([DIGEST_FORM, self.tape_sha, sql, where, columns, list(drop)])
        key = f"{query}:{hashlib.sha256(key_src.encode()).hexdigest()[:16]}"
        with self._lock:
            if key in self.cache:
                n, h = self.cache[key]
                return n, h
        if columns is not None:
            rel = f"SELECT {', '.join(chr(34) + c + chr(34) for c in columns)} FROM ({sql})"
        elif drop:
            rel = f"SELECT * EXCLUDE ({', '.join(drop)}) FROM ({sql})"
        else:
            rel = sql
        con = self._connect(where)
        try:
            n, h = duck_digest(con, rel)
        finally:
            con.close()
        with self._lock:
            self.cache[key] = [n, h]
            tmp = f"{self.cache_path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)
        return n, h

    def first_candles_bound(self, symbol: str, n: int) -> str:
        """Exclusive upper bound (UTC, as text) of ``symbol``'s first
        ``n`` one-second candles over valid ticks."""
        con = self._connect(f"event_type = '{symbol}'")
        try:
            (bound,) = con.sql(
                "SELECT strftime(max(b) + INTERVAL 1 SECOND, '%Y-%m-%d %H:%M:%S') FROM ("
                " SELECT DISTINCT date_trunc('second', CAST(ts AS TIMESTAMP)) AS b"
                f" FROM events ORDER BY b LIMIT {n})"
            ).fetchone()
        finally:
            con.close()
        return bound


def spark_digest(con, df: DataFrame, path: str) -> tuple[int, str]:
    """Write ``df`` to parquet at ``path`` and digest it in DuckDB."""
    df.write.mode("overwrite").parquet(path)
    return duck_digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


# ---------------------------------------------------------------------------
# Check plans
# ---------------------------------------------------------------------------


class Result:
    def __init__(self):
        self.items: list[tuple[str, bool, str]] = []

    def add(self, name: str, ok: bool, detail: str = "") -> bool:
        self.items.append((name, ok, detail))
        return ok

    def compare(self, name: str, got: tuple[int, str], want: tuple[int, str]) -> bool:
        ok = got == want
        detail = "" if ok else f"rows {got[0]} vs oracle {want[0]}" + (
            "" if got[0] != want[0] else ", digest differs"
        )
        return self.add(name, ok, detail)

    @property
    def failed(self) -> int:
        return sum(1 for _n, ok, _d in self.items if not ok)


def compare_with_oracles(spark_side: dict, oracles: Oracles, oracle_side: dict,
                         check_dir: str, result: Result,
                         same: tuple[tuple[str, str], ...] = ()) -> None:
    """Digest each Spark frame of ``spark_side``; compare it with the
    oracle digest of the same name (``oracle_side`` holds the keyword
    arguments of :meth:`Oracles.digest`), and each ``same`` pair of
    frames with each other. The oracles run on their own threads while
    Spark computes its side; DuckDB releases the GIL."""
    with ThreadPoolExecutor(max_workers=len(oracle_side)) as pool:
        futures = {k: pool.submit(oracles.digest, **q) for k, q in oracle_side.items()}
        con = duckdb.connect()
        try:
            got = {
                k: spark_digest(con, df, f"{check_dir}/{i}")
                for i, (k, df) in enumerate(spark_side.items())
            }
        finally:
            con.close()
        want = {k: f.result() for k, f in futures.items()}
    for k, w in want.items():
        result.compare(k, got[k], w)
    for a, b in same:
        result.compare(f"{a}={b}", got[a], got[b])


def check_batch_sinks(spark, oracles: Oracles, out_dir: str, check_dir: str,
                      invalid_expected: int, symbol: str, prefix_candles: int,
                      result: Result) -> dict[str, int]:
    """Check the four sinks of one pipeline run against the oracles and
    return their row counts. ``full_enrichment`` is compared on the
    first ``prefix_candles`` candles of the seeded ``symbol``, on the
    look-back-only columns."""
    counts = {name: parquet_rows(f"{out_dir}/{name}") for name in SINKS}
    result.add(
        "invalid_ticks.count",
        counts["invalid_ticks"] == invalid_expected,
        f"{counts['invalid_ticks']} quarantined vs {invalid_expected} injected",
    )
    read = spark.read.parquet
    bound = oracles.first_candles_bound(symbol, prefix_candles)
    where = f"event_type = '{symbol}' AND CAST(ts AS TIMESTAMP) < TIMESTAMP '{bound}'"
    calc = read(f"{out_dir}/candles_1s_calculated").filter(
        (F.col("symbol") == symbol) & (F.col("timestamp") < F.lit(bound).cast("timestamp"))
    )
    columns = [c for c in project_enrichment(calc).columns if c not in PEAK_COLUMNS]
    label = f"full_enrichment[{symbol},first {prefix_candles},look-back columns]"
    compare_with_oracles(
        {
            "candles_1s": project_candles(read(f"{out_dir}/candles_1s")),
            "anchored_vwap_filled": project_anchors(read(f"{out_dir}/anchored_vwap_points_1s")),
            label: project_enrichment(calc, columns),
        },
        oracles,
        {
            "candles_1s": {"query": "candles_1s", "drop": ("first_tick_ts",)},
            "anchored_vwap_filled": {"query": "anchored_vwap_filled"},
            label: {"query": "full_enrichment", "where": where, "columns": columns},
        },
        check_dir,
        result,
    )
    return counts
