"""Trade-pipeline benchmark: the paper's tick -> 1 s candle -> enrichment
ETL, end to end, on seeded tapes, with every output checked against
the corpus's DuckDB oracles.

    python3 perfbench/run.py --workload batch_dense --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --all        # every workload, timed and traced

Workloads (``local[nproc]``, inputs generated by ``tape.py``) are
described in README.md. Timed runs (``--trace 0``) report the
end-to-end metrics:

- ``setup_s``: process start until the session is up, plus the first
  parquet footer read (tape generation is not counted).
- ``cold_s``: the first unit of work in the process. Batch: the first
  ``run_batch_pipeline(ticks, output_dir=...)`` with its four sinks.
  Stream: query start to the end of the back-fill micro-batch and the
  ``STREAM_WARMUP_BATCHES`` warm-up batches after it.
- ``warm_s``: median of the later units. Batch: pipeline runs to fresh
  output dirs, repeated until ``--seconds`` have passed (at least
  ``MIN_WARM_RUNS``). Stream: the ``triggerExecution`` of the
  micro-batches after the back-fill and ``STREAM_WARMUP_BATCHES``
  warm-up batches; the replay's length is fixed by its input.

Operations are pipeline runs or micro-batches, plus output checks; a
run whose check fails counts as failed. Traced runs (``--trace 1``)
are separate processes and report the per-layer metrics.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}``. Without the library beside this directory the
program exits with status 2 and prints no result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402

import host  # noqa: E402
import tape  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "auto_trade_data_pipeline_spark"
WORK = os.path.join(REPO, ".perfbench")

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}

PER_LAYER = {
    "pipeline.build_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "codegen.compile_ms": "ms",
    "codegen.classes": "count",
    "sources.scan_ms": "ms",
    "sources.bytes_read": "bytes",
    "sources.rows_read": "count",
    "sources.scans": "count",
    "validation.s": "s",
    "validation.invalid_rows": "count",
    "candles.s": "s",
    "candles.rows_in": "count",
    "candles.rows_out": "count",
    "candles.aggregations": "count",
    "exchange.bytes": "bytes",
    "exchange.records": "count",
    "spill.bytes": "bytes",
    "windows.s": "s",
    "indicators.s": "s",
    "pyworker.run_ms": "ms",
    "pyworker.start_ms": "ms",
    "pyworker.init_ms": "ms",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_returned": "bytes",
    "anchors.s": "s",
    "anchors.points": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "jvm.gc_ms": "ms",
    "jvm.peak_rss_mb": "MiB",
    "stream.rows_per_s": "rows/s",
    "stream.batch_max_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "state.rows": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "sink.upsert_ms": "ms",
    "sink.batches_skipped": "count",
    "trace.wall_s": "s",
    "trace.explained_share": "ratio",
}

#: Batch layers whose spans partition a traced run's wall time.
BATCH_LAYERS = (
    "pipeline.build", "sources", "validation", "candles",
    "windows", "indicators", "anchors", "sinks",
)

#: Workload -> tape shape (tape.SHAPES).
WORKLOADS = {"batch_dense": "dense", "stream_replay": "stream"}

MIN_WARM_RUNS = 2
#: Candles of the sampled symbol checked against the ``full_enrichment``
#: oracle (it is quadratic in candles per symbol).
ENRICH_CHECK_CANDLES = 300
#: Repetitions of the staged run in a batch traced run.
TRACE_REPEATS = 3
MAX_WARM_RUNS = 20
STREAM_BUFFER_ROWS = 10_000
STREAM_FILES_AFTER_BACKFILL = 24
#: Micro-batches after the back-fill that warm the JVM up (each is
#: faster than the one before); warm_s and the stream's per-layer
#: medians leave them out.
STREAM_WARMUP_BATCHES = 8
#: Stream rows checked against the DuckDB oracle: the sampled symbol's
#: first candles.
STREAM_ORACLE_PREFIX = 600
STREAM_KEYS = ["symbol", "timestamp"]

CANDLE_DDL = (
    "symbol string, timestamp timestamp, open double, high double, low double,"
    " close double, volume double, number_of_trades long, vwap double"
)


def metrics_block(values: dict[str, float], units: dict[str, str]) -> dict:
    """The ``metrics`` object of the result line; refuses a metric set
    that differs from the declared one."""
    missing = sorted(set(units) - set(values))
    extra = sorted(set(values) - set(units))
    if missing or extra:
        raise RuntimeError(f"metric set drift: missing {missing}, unexpected {extra}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


class Run:
    """Bookkeeping of one benchmark process: its scratch dir, operation
    counts and phase timeline."""

    def __init__(self, args):
        self.args = args
        self.shape = WORKLOADS[args.workload]
        self.dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tape_dir = os.path.join(self.dir, "tape")
        self.check_dir = os.path.join(self.dir, "check")
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.timeline: list[tuple[str, float]] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)

    def record_checks(self, result) -> bool:
        for name, ok, detail in result.items:
            self.op(ok, f"check {name}: {detail}")
        return result.failed == 0

    def mark(self, phase: str) -> None:
        """Note the end of a phase, for the timeline printed to stderr."""
        self.timeline.append((phase, time.perf_counter() - T_START))

    def oracles(self):
        import checks

        return checks.Oracles(
            self.tape_dir, os.path.join(WORK, "oracle-cache"), self.args.workload, self.args.seed
        )

    def sample_symbol(self, symbols: int) -> str:
        """The seeded symbol whose enrichment is checked against the oracle."""
        return f"SYM{self.args.seed % symbols:02d}"


def report_canary(canary: host.Canary) -> None:
    verdict = canary.verdict()
    print(f"perfbench canary {json.dumps(verdict)}", file=sys.stderr)
    if not verdict["clean"]:
        print(f"perfbench: DIRTY run, host load above the canary gates {json.dumps(verdict)}",
              flush=True)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------


def batch_checks(run: Run, spark, meta: dict, out: str) -> tuple[dict[str, int], bool]:
    """Oracle checks of one run's sinks: (their row counts, all passed)."""
    import checks

    result = checks.Result()
    counts = checks.check_batch_sinks(
        spark, run.oracles(), out, run.check_dir, meta["invalid_ticks"],
        run.sample_symbol(meta["symbols"]), ENRICH_CHECK_CANDLES, result,
    )
    return counts, run.record_checks(result)


def batch_timed(run: Run, spark, ticks, meta: dict) -> dict[str, float]:
    import checks
    from auto_trade_data_pipeline_spark.pipeline import run_batch_pipeline

    canary = host.Canary()
    times: list[float | None] = []
    outs: list[str] = []

    def one() -> None:
        out = os.path.join(run.dir, f"out{len(outs)}")
        outs.append(out)
        canary.sample()
        t = time.perf_counter()
        try:
            run_batch_pipeline(ticks, output_dir=out)
        except Exception:
            traceback.print_exc()
            times.append(None)
            return
        times.append(time.perf_counter() - t)

    one()
    t_warm = time.perf_counter()
    while len(times) - 1 < MIN_WARM_RUNS or (
        time.perf_counter() - t_warm < run.args.seconds and len(times) - 1 < MAX_WARM_RUNS
    ):
        one()
    run.mark("measure")
    report_canary(canary)

    # The cold run's sinks get the oracle checks; every later run's
    # sinks must hold the same row counts.
    if times[0] is None:
        raise RuntimeError("the cold pipeline run failed")
    counts, cold_ok = batch_checks(run, spark, meta, outs[0])
    run.mark("checks")
    run.op(cold_ok, "pipeline run 0")
    for i, (out, dt) in enumerate(zip(outs[1:], times[1:]), start=1):
        ok = dt is not None and all(
            checks.parquet_rows(f"{out}/{name}") == n for name, n in counts.items()
        )
        run.op(ok, f"pipeline run {i}")
    warm = [t for t in times[1:] if t is not None]
    if not warm:
        raise RuntimeError("no successful warm pipeline run")
    return {"cold_s": times[0], "warm_s": statistics.median(warm)}


def batch_traced(run: Run, spark, ticks, meta: dict) -> dict[str, float]:
    from auto_trade_data_pipeline_spark import sinks
    from auto_trade_data_pipeline_spark.operators.anchors import (
        anchored_vwap_points,
        fill_anchored_vwap,
    )
    from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
    from auto_trade_data_pipeline_spark.operators.indicators import enrich_indicators
    from auto_trade_data_pipeline_spark.operators.validation import (
        tick_valid_predicate,
        validate_split,
    )
    from auto_trade_data_pipeline_spark.operators.windows import (
        with_bollinger,
        with_local_time,
        with_session_flags,
        with_volume_spike,
    )
    from auto_trade_data_pipeline_spark.pipeline import run_batch_pipeline

    sc = spark.sparkContext
    store = tracing.StatusStore(spark)
    jvm = tracing.JvmCounters(spark)
    sampler = host.RssSampler(jvm_pid(spark)).start()

    # One plain pipeline run first, outside the traced wall: it pays
    # the process's cold costs (codegen, Python worker start), and its
    # executions show what a real run does (scans, aggregations,
    # shuffle), which staging hides.
    sc.setJobGroup("pipeline", "perfbench pipeline")
    before = set(store.execution_ids())
    c0 = jvm.read()
    run_batch_pipeline(ticks, output_dir=os.path.join(run.dir, "out-plain"))
    cold = jvm.delta(c0, jvm.read())
    per_run = store.nodes([e for e in store.execution_ids() if e not in before])

    def staged(tracer: tracing.Tracer, out: str) -> None:
        """The pipeline in stages, inside one ``run`` span."""

        def stage(name: str, build):
            """Build a layer's frame, persist it and materialise it with
            a noop write under job group ``name``: Spark is lazy, so the
            layer's work runs here, in pipeline order, on its persisted
            input."""
            sc.setJobGroup(name, f"perfbench {name}")
            with tracer.span(name):
                df = build().persist()
                df.write.format("noop").mode("overwrite").save()
            return df

        with tracer.span("run"):
            with tracer.span("pipeline.build"):
                run_batch_pipeline(ticks)
            ticks_p = stage("sources", lambda: ticks)
            split = validate_split(ticks_p, tick_valid_predicate())
            valid_p = stage("validation", lambda: split.valid)
            invalid_p = stage("validation", lambda: split.invalid)
            candles_p = stage("candles", lambda: aggregate_candles(valid_p, 1))
            windowed_p = stage("windows", lambda: with_volume_spike(
                with_bollinger(with_session_flags(with_local_time(candles_p)))
            ))
            calc_p = stage("indicators", lambda: enrich_indicators(windowed_p))
            anchors_p = stage("anchors", lambda: fill_anchored_vwap(
                anchored_vwap_points(candles_p, "1s", 300), candles_p
            ))
            sc.setJobGroup("sinks", "perfbench sinks")
            with tracer.span("sinks"):
                # The pipeline's own sink calls (pipeline.run_batch_pipeline).
                sinks.write_append(invalid_p, f"{out}/invalid_ticks")
                for name, df in (
                    ("candles_1s", candles_p),
                    ("candles_1s_calculated", calc_p),
                    ("anchored_vwap_points_1s", anchors_p),
                ):
                    df.write.mode("overwrite").parquet(f"{out}/{name}")
        spark.catalog.clearCache()

    # The staged run is repeated and each layer reports its median.
    tracers = []
    j0 = jvm.read()
    for rep in range(TRACE_REPEATS):
        tracers.append(tracing.Tracer(f"{run.args.workload}-{run.args.seed}-{rep}"))
        staged(tracers[-1], os.path.join(run.dir, f"out-traced{rep}"))
    gc_ms = jvm.delta(j0, jvm.read())["jvm.gc_ms"] / TRACE_REPEATS
    peak = sampler.stop()
    out = os.path.join(run.dir, "out-traced0")

    def layer(name: str) -> float:
        return statistics.median(t.self_time(name) for t in tracers)

    wall = statistics.median(t.duration("run") for t in tracers)
    explained = statistics.median(
        sum(t.self_time(name) for name in BATCH_LAYERS) / t.duration("run") for t in tracers
    )

    res = run_batch_pipeline(ticks)
    phases = {"plan.analysis_ms": 0.0, "plan.optimization_ms": 0.0, "plan.planning_ms": 0.0}
    for df in (res.invalid_ticks, res.candles, res.calculated, res.anchors):
        for k, v in tracing.plan_phases(df).items():
            phases[k] += v
    run.mark("measure")

    sc.setJobGroup("checks", "perfbench checks")
    counts, ok = batch_checks(run, spark, meta, out)
    run.mark("checks")
    run.op(ok, "traced pipeline run")

    tracing.check_nodes(per_run)
    tracing.require_present(per_run, ("Scan parquet", "Exchange", "Aggregate", "InPandas"))
    tracing.dump(tracers, os.path.join(WORK, f"spans-{run.args.workload}-{run.args.seed}.jsonl"))
    written = [
        os.path.join(d, f) for d, _s, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    ]

    def plain(kind: str, metric: str) -> float:
        return tracing.node_sum(per_run, kind, metric)

    values = {
        "pipeline.build_s": layer("pipeline.build"),
        **phases,
        "codegen.compile_ms": cold["codegen.compile_ms"],
        "codegen.classes": cold["codegen.classes"],
        "jvm.gc_ms": gc_ms,
        "jvm.peak_rss_mb": peak / 2**20,
        "sources.scan_ms": plain("Scan parquet", "scan time"),
        "sources.bytes_read": plain("Scan parquet", "size of files read"),
        "sources.rows_read": plain("Scan parquet", "number of output rows"),
        "sources.scans": tracing.node_count(per_run, "Scan parquet"),
        "validation.s": layer("validation"),
        "validation.invalid_rows": counts["invalid_ticks"],
        "candles.s": layer("candles"),
        "candles.rows_in": meta["ticks"] - counts["invalid_ticks"],
        "candles.rows_out": counts["candles_1s"],
        "candles.aggregations": tracing.node_count(per_run, "Aggregate"),
        "exchange.bytes": plain("Exchange", "shuffle bytes written"),
        "exchange.records": plain("Exchange", "shuffle records written"),
        "spill.bytes": tracing.spill_bytes(per_run),
        "windows.s": layer("windows"),
        "indicators.s": layer("indicators"),
        "pyworker.run_ms": plain("InPandas", "time to run Python workers"),
        "pyworker.start_ms": plain("InPandas", "time to start Python workers"),
        "pyworker.init_ms": plain("InPandas", "time to initialize Python workers"),
        "pyworker.bytes_sent": plain("InPandas", "data sent to Python workers"),
        "pyworker.bytes_returned": plain("InPandas", "data returned from Python workers"),
        "anchors.s": layer("anchors"),
        "anchors.points": counts["anchored_vwap_points_1s"],
        "sinks.write_s": layer("sinks"),
        "sinks.bytes_written": sum(os.path.getsize(f) for f in written),
        "sinks.files_written": len(written),
        "trace.wall_s": wall,
        "trace.explained_share": explained,
    }
    print(
        f"perfbench trace: wall {wall:.2f} s, layer self-times explain"
        f" {100 * explained:.1f}%; compare with warm_s of the timed runs",
        flush=True,
    )
    return {**{k: 0.0 for k in PER_LAYER}, **values}


# ---------------------------------------------------------------------------
# Stream workload
# ---------------------------------------------------------------------------


def stream_inputs(tape_dir: str, src: str) -> list[int]:
    """Cut the tape's candles (the oracles' candle SQL over the valid
    ticks) into time-ordered files: one back-fill file that carries
    every symbol to the tail cap, then equal slices. Returns each
    file's candle count."""
    import checks
    import duckdb
    import pyarrow.parquet as pq

    from auto_trade_data_pipeline_spark.corpus.trade import CANDLES_CTE

    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{tape_dir}/events.parquet')"
            f" WHERE {checks.VALID_TICK_SQL}"
        )
        table = con.sql(
            f"WITH {CANDLES_CTE} SELECT symbol, timestamp, open, high, low, close, volume,"
            " CAST(number_of_trades AS BIGINT) AS number_of_trades, vwap FROM candles"
            " ORDER BY timestamp, symbol"
        ).arrow()
        (backfill,) = con.sql(
            f"WITH {CANDLES_CTE}, r AS (SELECT timestamp, row_number() OVER"
            " (PARTITION BY symbol ORDER BY timestamp) AS k FROM candles),"
            f" cut AS (SELECT max(timestamp) AS t FROM r WHERE k = {STREAM_BUFFER_ROWS})"
            " SELECT count(*) FROM candles, cut WHERE timestamp <= cut.t"
        ).fetchone()
    finally:
        con.close()
    per = (table.num_rows - backfill) // STREAM_FILES_AFTER_BACKFILL
    if per < 1:
        raise RuntimeError("stream tape too short for its replay")
    bounds = [0] + [backfill + per * i for i in range(STREAM_FILES_AFTER_BACKFILL)]
    bounds.append(table.num_rows)
    os.makedirs(src)
    sizes = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        path = f"{src}/part-{i:05d}.parquet"
        pq.write_table(table.slice(lo, hi - lo), path)
        # The file source replays files in modification-time order.
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
        sizes.append(hi - lo)
    return sizes


def stream_replay(run: Run, spark, src: str, sink: str, tracer: tracing.Tracer | None):
    """Replay ``src`` one file per micro-batch into the upsert sink.
    Returns (checked progress records, wall seconds, wall-clock start,
    per-batch applied flags)."""
    from auto_trade_data_pipeline_spark.streaming.indicators import streaming_indicators
    from auto_trade_data_pipeline_spark.streaming.sink import apply_upsert_batch

    applied: list[bool] = []

    def write(batch_df, batch_id):
        # stream_upsert_writer's body, wrapped to time each apply.
        if tracer is None:
            applied.append(apply_upsert_batch(batch_df, batch_id, sink, STREAM_KEYS, "timestamp"))
            return
        with tracer.span("sink.upsert"):
            applied.append(apply_upsert_batch(batch_df, batch_id, sink, STREAM_KEYS, "timestamp"))

    stream = streaming_indicators(
        spark.readStream.format("parquet").schema(CANDLE_DDL)
        .option("maxFilesPerTrigger", 1).load(src),
        buffer_rows=STREAM_BUFFER_ROWS,
    )
    wall_start = time.time()
    t = time.perf_counter()
    q = (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(run.dir, "checkpoint"))
        .trigger(availableNow=True)
        .foreachBatch(write)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    wall = time.perf_counter() - t
    return tracing.progress_records(q.recentProgress), wall, wall_start, applied


def _epoch(ts: str) -> float:
    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def stream_checks(run: Run, spark, src: str, sink: str, sizes: list[int]) -> None:
    """Keys unique; one row per input candle; the rows whose history
    the tail covered equal the batch kernel over the whole input; the
    sampled symbol's first candles equal the DuckDB oracle. Rows are
    compared on every column that looks only backwards (a streamed row
    cannot see the later rows the peak flags look at)."""
    import checks
    import duckdb
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from auto_trade_data_pipeline_spark.operators.indicators import (
        INDICATOR_COLUMNS,
        enrich_indicators,
    )

    result = checks.Result()
    con = duckdb.connect()
    try:
        n, n_keys = con.sql(
            f"SELECT count(*), count(DISTINCT ({', '.join(STREAM_KEYS)}))"
            f" FROM read_parquet('{sink}/*.parquet')"
        ).fetchone()
    finally:
        con.close()
    result.add("stream.keys_unique", n == n_keys, f"{n} rows, {n_keys} keys")
    result.add("stream.rows", n == sum(sizes), f"{n} rows vs {sum(sizes)} input candles")

    # Micro-batch b holds file b; a row's history is covered when its
    # symbol had at most STREAM_BUFFER_ROWS rows before its batch.
    files = spark.read.schema(CANDLE_DDL).parquet(src).withColumn(
        "batch", F.regexp_extract(F.input_file_name(), r"part-(\d+)", 1).cast("int")
    )
    earlier = Window.partitionBy("symbol").orderBy("batch").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prior = files.groupBy("symbol", "batch").agg(F.count(F.lit(1)).alias("n")).withColumn(
        "prior", F.coalesce(F.sum("n").over(earlier), F.lit(0))
    )
    covered = files.join(prior, ["symbol", "batch"]).filter(
        F.col("prior") <= STREAM_BUFFER_ROWS
    ).select(*STREAM_KEYS)
    cols = STREAM_KEYS + [
        name for name, _t in INDICATOR_COLUMNS if name not in checks.PEAK_COLUMNS
    ]
    batch = enrich_indicators(spark.read.schema(CANDLE_DDL).parquet(src))

    out = spark.read.parquet(sink)
    symbol = run.sample_symbol(tape.SHAPES["stream"].symbols)
    oracles = run.oracles()
    bound = oracles.first_candles_bound(symbol, STREAM_ORACLE_PREFIX)
    prefix = out.filter(
        (F.col("symbol") == symbol) & (F.col("timestamp") < F.lit(bound).cast("timestamp"))
    )
    label = f"stream.full_enrichment[{symbol},first {STREAM_ORACLE_PREFIX}]"
    checks.compare_with_oracles(
        {
            "stream.covered_rows": checks.project_enrichment(out.join(covered, STREAM_KEYS), cols),
            "batch_kernel.covered_rows": checks.project_enrichment(
                batch.join(covered, STREAM_KEYS), cols
            ),
            label: checks.project_enrichment(prefix, cols),
        },
        oracles,
        {
            label: {
                "query": "full_enrichment",
                "where": f"event_type = '{symbol}' AND CAST(ts AS TIMESTAMP) < TIMESTAMP '{bound}'",
                "columns": cols,
            },
        },
        run.check_dir,
        result,
        same=(("stream.covered_rows", "batch_kernel.covered_rows"),),
    )
    run.record_checks(result)


def stream_workload(run: Run, spark, t_session: float) -> dict[str, float]:
    src = os.path.join(run.dir, "src")
    sink = os.path.join(run.dir, "sink")
    sizes = stream_inputs(run.tape_dir, src)
    t = time.perf_counter()
    spark.read.parquet(f"{src}/part-00000.parquet").schema  # the first footer read
    setup = (t_session - T_START) + (time.perf_counter() - t)

    tracer = tracing.Tracer(f"{run.args.workload}-{run.args.seed}") if run.args.trace else None
    store = tracing.StatusStore(spark)
    jvm = tracing.JvmCounters(spark)
    canary = host.Canary()
    canary.sample()
    sampler = host.RssSampler(jvm_pid(spark)).start() if tracer else None
    before = set(store.execution_ids())
    j0 = jvm.read()
    if tracer is None:
        progress, wall, wall_start, applied = stream_replay(run, spark, src, sink, None)
    else:
        with tracer.span("stream.replay"):
            progress, wall, wall_start, applied = stream_replay(run, spark, src, sink, tracer)
    jvm_delta = jvm.delta(j0, jvm.read())
    peak = sampler.stop() if sampler else 0
    run.mark("measure")
    report_canary(canary)

    for i in range(len(sizes)):
        run.op(i < len(progress) and i < len(applied), f"micro-batch {i}")
    run.op(len(progress) == len(sizes), f"{len(progress)} micro-batches for {len(sizes)} files")
    stream_checks(run, spark, src, sink, sizes)
    run.mark("checks")

    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    steady_from = 1 + STREAM_WARMUP_BATCHES
    print(f"perfbench micro-batch triggerExecution ms {trig}", file=sys.stderr)
    if tracer is None:
        # Cold: the back-fill and the warm-up batches, up to the end of
        # the last of them.
        cold_end = _epoch(progress[steady_from - 1]["timestamp"]) + trig[steady_from - 1] / 1000
        return {
            "setup_s": setup,
            "cold_s": cold_end - wall_start,
            "warm_s": statistics.median(trig[steady_from:]) / 1000,
        }

    steady = progress[steady_from:]

    def phase(key: str) -> float:
        return statistics.median(p["durationMs"][key] for p in steady)

    def state(key: str) -> float:
        return statistics.median(sum(op[key] for op in p["stateOperators"]) for p in steady)

    nodes = store.nodes([e for e in store.execution_ids() if e not in before])
    tracing.check_nodes(nodes)
    tracing.require_present(nodes, ("InPandas",))
    upserts = [s.end - s.start for s in tracer.spans if s.name == "sink.upsert"][steady_from:]
    tracing.dump([tracer], os.path.join(WORK, f"spans-{run.args.workload}-{run.args.seed}.jsonl"))
    last = progress[-1]["stateOperators"]
    replay = tracer.duration("stream.replay")

    def node(kind: str, metric: str) -> float:
        return tracing.node_sum(nodes, kind, metric)

    values = {
        **jvm_delta,
        "jvm.peak_rss_mb": peak / 2**20,
        "exchange.bytes": node("Exchange", "shuffle bytes written"),
        "exchange.records": node("Exchange", "shuffle records written"),
        "spill.bytes": tracing.spill_bytes(nodes),
        "pyworker.run_ms": node("InPandas", "time to run Python workers"),
        "pyworker.start_ms": node("InPandas", "time to start Python workers"),
        "pyworker.init_ms": node("InPandas", "time to initialize Python workers"),
        "pyworker.bytes_sent": node("InPandas", "data sent to Python workers"),
        "pyworker.bytes_returned": node("InPandas", "data returned from Python workers"),
        "stream.rows_per_s": sum(sizes) / wall,
        "stream.batch_max_ms": max(trig[steady_from:]),
        "stream.add_batch_ms": phase("addBatch"),
        "stream.planning_ms": phase("queryPlanning"),
        "stream.get_batch_ms": phase("getBatch"),
        "stream.wal_commit_ms": phase("walCommit"),
        "state.rows": sum(op["numRowsTotal"] for op in last),
        "state.memory_bytes": sum(op["memoryUsedBytes"] for op in last),
        "state.commit_ms": state("commitTimeMs"),
        "state.update_ms": state("allUpdatesTimeMs"),
        "sink.upsert_ms": 1000 * statistics.median(upserts),
        "sink.batches_skipped": sum(1 for a in applied if not a),
        "trace.wall_s": replay,
        "trace.explained_share": (replay - tracer.self_time("stream.replay")) / replay,
    }
    return {**{k: 0.0 for k in PER_LAYER}, **values}


# ---------------------------------------------------------------------------
# Entry points
# ---------------------------------------------------------------------------


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/; run it from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    run = Run(args)
    extra = host.fit_session_env(os.path.join(run.dir, "spark-local"))
    from auto_trade_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter()
    run.mark("session")
    try:
        meta = tape.write_tape(run.shape, args.seed, run.tape_dir)
        run.mark("tape")
        if args.workload == "stream_replay":
            values = stream_workload(run, spark, t_session)
        else:
            from auto_trade_data_pipeline_spark.sources import ticks_from_events

            t = time.perf_counter()
            ticks = ticks_from_events(spark, run.tape_dir)
            setup = (t_session - T_START) + (time.perf_counter() - t)
            if args.trace:
                values = batch_traced(run, spark, ticks, meta)
            else:
                values = {"setup_s": setup, **batch_timed(run, spark, ticks, meta)}
    finally:
        host.stop_spark(spark)
        shutil.rmtree(run.dir, ignore_errors=True)
    run.mark("stop")
    print("perfbench timeline " + json.dumps({k: round(v, 2) for k, v in run.timeline}),
          file=sys.stderr)
    for note in run.notes:
        print(f"perfbench FAILED {note}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics_block(values, PER_LAYER if args.trace else END_TO_END),
    }), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload, timed then traced, each in its own process; a
    table of every metric with its unit, and the failed-operation
    ratio."""
    ok = True
    for workload in WORKLOADS:
        for traced in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(traced)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr)
                print(f"{workload} trace={traced}: exit {proc.returncode}")
                return 1
            res = json.loads(lines[-1])
            ok = ok and res["failed"] == 0
            print(f"\n{workload} ({'traced' if traced else 'timed'}): failed_ratio "
                  f"{res['failed'] / res['attempted']:.3f} ({res['failed']}/{res['attempted']})")
            for line in lines[:-1]:
                print(f"  {line}")
            for name, m in res["metrics"].items():
                print(f"  {name:26s} {m['value']:16.4f} {m['unit']}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, timed and traced")
    args = ap.parse_args(argv)
    if args.all:
        return run_all(args)
    if args.workload is None:
        ap.error("--workload or --all is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
