"""Pure-JVM chunked scan fold: a per-key left-to-right recursion
expressed as Catalyst ``aggregate()`` higher-order expressions over a
per-key ``collect_list`` array, with no Python worker or Arrow hop.
Its caller is the doc-atomic sequence packing (``packing_scan_sql``;
corpus ``sequence_packing`` / ``sequence_packing_sharded``), whose
DuckDB oracle replays the same fold as a prefix ``list_reduce``.

The EMA-class TA recursions (EMA, Wilder ATR, Kalman, Holt,
Heikin-Ashi open) do not run here: they run only as the numpy kernels
(``operators/indicators.py:ta_scan_by_key``). Catalyst evaluates
higher-order-function lambdas interpreted, about 10x slower per
element than the kernels' CPython float loop, and the corpus tapes
(about 2,000 rows per symbol at sf0.01, 20,000 at sf0.1) are long
enough for that to dominate.

**Chunked scan, not a naive appending fold.** A scan accumulator that
``array_append``s every output copies the whole output array per
element — O(n²), a scale-killer on million-row tapes. Instead the
input array is sliced into ``CHUNK``-sized blocks and ONE outer fold
walks the blocks: per block, an inner fold advances the state
element-by-element and appends to a block-local output (O(CHUNK)
copies per element), and the outer accumulator appends one block
reference. Total work O(n·CHUNK) with identical element order. SQL
has no let-binding, so the single-evaluation of a sub-expression is
done with the ``transform(array(<expr>), v -> <body>)[0]`` idiom.

A recursion is declared as (state type, init, update(st, x),
emit(new_st)) and compiled by :func:`_scan_sql`; emit always derives
from the POST-update state. Catalyst evaluates ``named_struct``
fields against the old accumulator (no DuckDB-style in-place update),
so coupled recursions are safe with the new-state expression inlined.

Scale shape: one ``collect_list`` per key — parallelism is key
cardinality, state O(tape length) per task; the blocked output keeps
array copying linear-per-element.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Output-block size for the chunked scan. Copies per element are
#: O(CHUNK); per-chunk lambda-dispatch overhead is O(n / CHUNK).
#: 1024 keeps both far from mattering (~8 KB block copies).
CHUNK = 1024


def _scan_sql(
    arr: str,
    init: str,
    update: str,
    emit: str,
    out_type: str,
    chunk: int = CHUNK,
) -> str:
    """Compile a recursion into a chunked O(n·chunk) scan expression.

    ``update`` uses ``st`` (pre-state) and ``x`` (element); ``emit``
    uses ``ns`` (post-state). Input elements are wrapped as
    ``named_struct('v', e)``, so ``update`` reads the element as
    ``x.v``. Returns SQL producing ``array<out_type>`` with one element
    per input element, in order.
    """
    empty_out = f"CAST(array() AS ARRAY<{out_type}>)"
    empty_chunks = f"CAST(array() AS ARRAY<ARRAY<{out_type}>>)"
    # inner per-element step: bind the post-update state once as ns
    inner_step = f"""(a2, x) -> transform(
        array({update.replace("st.", "a2.st.")}),
        ns -> named_struct('st', ns, 'o', array_append(a2.o, {emit}))
    )[0]"""
    # outer per-chunk step: run the inner fold once, bind as r.
    # The input-array expression {arr} (often itself a transform() /
    # zip_with over the collected tape) is bound ONCE as s0 via the
    # module's single-evaluation idiom — splicing it into the
    # per-chunk slice() would make Catalyst re-evaluate the O(n)
    # expression per chunk, O(n²/CHUNK) element work on long tapes.
    body = f"""aggregate(
      CASE WHEN size(s0) = 0 THEN CAST(array() AS ARRAY<ARRAY<STRUCT<v: DOUBLE>>>)
           ELSE transform(
             sequence(0, (size(s0) - 1) div {chunk}),
             c -> transform(slice(s0, c * {chunk} + 1, {chunk}),
                            e -> named_struct('v', e)))
      END,
      named_struct('st', {init}, 'out', {empty_chunks}),
      (acc, ch) -> transform(
        array(aggregate(ch,
                        named_struct('st', acc.st, 'o', {empty_out}),
                        {inner_step})),
        r -> named_struct('st', r.st, 'out', array_append(acc.out, r.o))
      )[0],
      acc -> flatten(acc.out)
    )"""
    return f"transform(array({arr}), s0 -> {body})[0]"


def packing_scan_sql(arr: str, capacity: int, chunk: int = CHUNK) -> str:
    """``array<double> -> array<bigint>`` greedy contiguous
    sequence-packing scan (LLM context-window prep): items arrive in
    tape order carrying their token counts; the current bin absorbs an
    item while its fill stays <= ``capacity``, otherwise a new bin
    opens with the item (an item longer than ``capacity`` still gets
    its own bin). Emits the 1-based bin id per item. Integer-exact:
    counts ride the fold as doubles (exact below 2^53) and the state
    is BIGINT, so there is no FP-order concern — the DuckDB oracle
    replays the same recursion with a LIST accumulator."""
    c = f"CAST({capacity} AS BIGINT)"
    init = "named_struct('bin', CAST(0 AS BIGINT), 'fill', CAST(0 AS BIGINT))"
    update = f"""CASE
        WHEN st.bin = 0 OR st.fill + CAST(x.v AS BIGINT) > {c} THEN named_struct(
          'bin', st.bin + CAST(1 AS BIGINT), 'fill', CAST(x.v AS BIGINT))
        ELSE named_struct('bin', st.bin, 'fill', st.fill + CAST(x.v AS BIGINT))
      END"""
    return _scan_sql(arr, init, update, "ns.bin", "BIGINT", chunk)


def scan_by_key(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
    scans: dict[str, Column | str],
) -> DataFrame:
    """Collect ``payload_cols`` per key ordered by ``order_col``, apply
    each scan expression (referring to the collected array as ``s``,
    whose elements expose the order + payload fields), and explode back
    to one row per input row carrying every scan output.

    Output columns: ``key_cols`` + ``order_col`` + ``payload_cols`` +
    one column per ``scans`` entry (element type of the scan's output
    array). Scans must return arrays the same length as ``s``.

    CONTRACT: ``(key_cols, order_col)`` must be UNIQUE per row. The
    tape is ordered by ``array_sort`` over ``struct(order_col,
    payload...)``, which breaks order ties by comparing payload values,
    so duplicate order values would feed the recursion in payload
    order rather than arrival order.
    """
    lists = df.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list(F.struct(order_col, *payload_cols))).alias("s")
    )
    for name, expr in scans.items():
        lists = lists.withColumn(name, F.expr(expr) if isinstance(expr, str) else expr)
    scan_names = list(scans)
    # Zip input + scan arrays into ONE array and explode only that:
    # GenerateExec copies the parent row per output row, so exploding
    # while the row still holds the full arrays (e.g. posexplode +
    # arr[pos] indexing) is O(n^2) BYTES per key — measured 2.4x
    # end-to-end slowdown at 16k rows/symbol before this zip.
    zipped = lists.select(
        *key_cols, F.explode(F.arrays_zip("s", *scan_names)).alias("z")
    )
    return zipped.select(
        *key_cols,
        F.col(f"z.s.{order_col}").alias(order_col),
        *[F.col(f"z.s.{c}").alias(c) for c in payload_cols],
        *[F.col(f"z.{n}").alias(n) for n in scan_names],
    )
