"""Self-tests of the benchmark's own code, at tiny size and without a
Spark session:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import run  # noqa: E402
import tape  # noqa: E402
import tracing  # noqa: E402


def _tape_sha(shape: str, seed: int, tmp_path) -> str:
    out = tmp_path / f"{shape}-{seed}-{len(os.listdir(tmp_path))}"
    tape.write_tape(shape, seed, str(out))
    return hashlib.sha256((out / "events.parquet").read_bytes()).hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _tape_sha("stream", 5, tmp_path)
    assert _tape_sha("stream", 5, tmp_path) == a
    assert _tape_sha("stream", 6, tmp_path) != a


def test_generator_records_its_invalid_ticks(tmp_path):
    meta = tape.write_tape("stream", 3, str(tmp_path))
    t = pq.read_table(tmp_path / "events.parquet")
    value = t.column("value")
    invalid = pc.sum(pc.or_kleene(pc.is_null(value), pc.less_equal(value, 0.0))).as_py()
    assert meta["invalid_ticks"] == invalid > 0
    assert meta["ticks"] == t.num_rows


def test_every_named_metric_is_emitted_with_its_unit():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for section, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[section]}
        assert declared == units, section
        block = run.metrics_block({k: 1.0 for k in units}, units)
        assert {k: v["unit"] for k, v in block.items()} == declared
    with pytest.raises(RuntimeError, match="missing"):
        run.metrics_block({}, run.END_TO_END)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


def test_status_store_values_parse():
    assert tracing.parse_metric("22,128") == 22128
    assert tracing.parse_metric("692 ms") == 692
    multi_task = "total (min, med, max (stageId: taskId))\n2.5 s (1 ms, 2 ms)"
    assert tracing.parse_metric(multi_task) == 2500
    assert tracing.parse_metric("10.0 MiB") == 10 * 2**20


def _node(name, metrics):
    return tracing.Node(0, name, frozenset(metrics), dict(metrics))


def test_renamed_sql_metric_fails_loudly():
    scan = {"scan time": 5.0, "size of files read": 10.0, "number of output rows": 3.0}
    assert tracing.node_sum([_node("Scan parquet", scan)], "Scan parquet", "scan time") == 5.0
    renamed = dict(scan)
    del renamed["scan time"]
    renamed["scan duration"] = 5.0
    with pytest.raises(tracing.MissingMetric, match="scan time"):
        tracing.node_sum([_node("Scan parquet", renamed)], "Scan parquet", "scan time")
    with pytest.raises(tracing.MissingMetric, match="InPandas"):
        tracing.require_present([_node("Scan parquet", scan)], ("InPandas",))


class _Progress:
    def __init__(self, rec):
        self.json = json.dumps(rec)


def test_renamed_progress_key_fails_loudly():
    state = {k: 1 for k in tracing.REQUIRED_STATE}
    good = {
        "batchId": 0,
        "durationMs": {k: 1 for k in tracing.REQUIRED_DURATIONS},
        "stateOperators": [state],
    }
    assert tracing.progress_records([_Progress(good)])[0]["batchId"] == 0
    bad = json.loads(json.dumps(good))
    del bad["durationMs"]["addBatch"]
    with pytest.raises(tracing.MissingMetric, match="addBatch"):
        tracing.progress_records([_Progress(bad)])
    bad = json.loads(json.dumps(good))
    del bad["stateOperators"][0]["memoryUsedBytes"]
    with pytest.raises(tracing.MissingMetric, match="memoryUsedBytes"):
        tracing.progress_records([_Progress(bad)])


def test_self_time_subtracts_children():
    t = tracing.Tracer("t")
    with t.span("run") as outer:
        with t.span("a") as a:
            pass
    assert t.self_time("run") == pytest.approx(
        (outer.end - outer.start) - (a.end - a.start)
    )


def test_digest_ignores_the_sign_of_zero_only():
    import duckdb

    con = duckdb.connect()

    def digest(values):
        rows = ", ".join(f"({v}::DOUBLE, 'a')" for v in values)
        return checks.duck_digest(con, f"SELECT * FROM (VALUES {rows}) t(x, s)")

    assert digest(["-0.0", "1.5"]) == digest(["0.0", "1.5"])
    assert digest(["0.0", "1.5"]) != digest(["0.0", "-1.5"])
    assert digest(["0.0", "1.5"]) != digest(["0.000001", "1.5"])
