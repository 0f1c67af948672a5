"""The pure-JVM chunked scan fold (operators/jvm_folds.py) on its one
recursion, greedy sequence packing: bin ids against a Python reference
recursion across CHUNK boundaries, the empty tape, and the compiled
SQL's single evaluation of its input array.
"""

from __future__ import annotations

import pytest

from auto_trade_data_pipeline_spark.operators import jvm_folds as jf

pytestmark = pytest.mark.usefixtures("spark")


def test_scan_sql_binds_input_array_once():
    """Round-5 advice: the input-array expression must appear exactly
    once in the compiled scan SQL — spliced into the per-chunk slice()
    it would be re-evaluated per chunk, O(n²/CHUNK) element work when
    the input is itself an O(n) transform/zip_with."""
    arr = "transform(s, e -> e.n_toks)"
    sql = jf.packing_scan_sql(arr, 256)
    assert sql.count(arr) == 1, "input array expression evaluated per chunk"


def test_packing_scan_greedy_bins(spark):
    """Greedy contiguous packing: bin absorbs while fill <= capacity,
    oversize items get their own bin, bin ids are 1-based. Python
    reference recursion vs the JVM fold, including a tape longer than
    one CHUNK so the blocked scan's carry is exercised."""
    import random

    rng = random.Random(7)
    counts = [rng.randint(1, 40) for _ in range(jf.CHUNK * 2 + 17)]
    counts[5] = 300  # oversize: > capacity, must sit alone in its bin
    cap = 100

    def ref(cs):
        out, b, fill = [], 0, 0
        for c in cs:
            if b == 0 or fill + c > cap:
                b, fill = b + 1, c
            else:
                fill += c
            out.append(b)
        return out

    df = spark.createDataFrame(
        [("K", i, float(c)) for i, c in enumerate(counts)], "k string, i int, n double"
    )
    out = jf.scan_by_key(
        df, ["k"], "i", ["n"],
        {"bin": jf.packing_scan_sql("transform(s, e -> e.n)", cap)},
    )
    got = [r["bin"] for r in out.orderBy("i").collect()]
    assert got == ref(counts)
    # The oversize item is alone: no neighbor shares its bin.
    assert got.count(got[5]) == 1


def test_packing_scan_empty_tape(spark):
    df = spark.createDataFrame([], "k string, i int, n double")
    out = jf.scan_by_key(
        df, ["k"], "i", ["n"],
        {"bin": jf.packing_scan_sql("transform(s, e -> e.n)", 100)},
    )
    assert out.count() == 0
