"""Tests of the benchmark's own machinery; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from argparse import Namespace
from datetime import datetime

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from pyspark.sql import Row  # noqa: E402
from sqlstore import parse_value  # noqa: E402
from workloads import BatchAgg, Rep, Workload  # noqa: E402


@pytest.fixture()
def flagship(tmp_path):
    src = str(tmp_path / "src")
    inputs.write_transcripts(7, 3_000, src, 2)
    con = oracle.connect(1, str(tmp_path / "duck"))
    yield con, oracle.flagship_expected(con, src)
    con.close()


def _rows_of(exp: oracle.FlagshipExpected) -> list[Row]:
    return [
        Row(route=r, role=ro, tool=t, hour=datetime.strptime(h, "%Y-%m-%d %H:%M:%S"), n=n)
        for r, ro, t, h, n in exp.table
    ]


def _corrupt_route_count(rows: list[Row], sink: str) -> list[Row]:
    i = next(i for i, r in enumerate(rows) if r["route"] == sink)
    bad = rows[i].asDict()
    bad["n"] += 1
    return rows[:i] + [Row(**bad)] + rows[i + 1:]


def test_correct_aggregate_passes(flagship):
    _, exp = flagship
    assert oracle.check_aggregate(_rows_of(exp), exp) == exp.sinks
    assert sum(exp.sinks.values()) == exp.rows_in == 3_000


def test_corrupted_route_count_is_a_failed_run(flagship, tmp_path):
    """One sink count off by one: the checker rejects it, the window
    counts the rep as failed and the run's result is not correct."""
    _, exp = flagship
    bad = _corrupt_route_count(_rows_of(exp), "sink_errors")
    with pytest.raises(oracle.Mismatch):
        oracle.check_aggregate(bad, exp)

    class Corrupted(Workload):
        name = "corrupted"

        def rep(self, spark, i):
            oracle.check_aggregate(bad, exp)
            return Rep({}, 1, [1000.0])

    args = Namespace(workload="batch_agg", seed=7, seconds=0.0, trace=0)
    bench = run.Bench(args, str(tmp_path / "work"))
    try:
        win = bench.window(0.0, trace=False, workload=Corrupted(bench))
    finally:
        bench.duck.close()
    assert (bench.attempted, bench.failed, win["reps"]) == (1, 1, [])


def test_sink_and_ledger_checks_reject_off_by_one(flagship):
    _, exp = flagship
    sinks = dict(exp.sinks)
    oracle.check_sinks(sinks, exp, "write")
    sinks["sink_user"] += 1
    with pytest.raises(oracle.Mismatch):
        oracle.check_sinks(sinks, exp, "write")
    ledger = {
        "rows_in": exp.rows_in,
        "rows_parsed": exp.rows_parsed,
        "rows_discarded": exp.rows_in - exp.rows_parsed,
        **{f"routed_{k}": v for k, v in exp.sinks.items()},
    }
    oracle.check_ledger(ledger, exp)
    ledger["routed_sink_tool"] -= 1
    with pytest.raises(oracle.Mismatch):
        oracle.check_ledger(ledger, exp)


def test_inputs_are_a_function_of_the_seed():
    a = inputs.transcripts_table(3, 500)
    assert a.equals(inputs.transcripts_table(3, 500))
    assert not a.equals(inputs.transcripts_table(4, 500))
    shapes = {inputs.transcript_shape(s) for s in range(10)}
    assert len(shapes) > 1
    for s in shapes:
        assert 0.05 <= s.hot_share <= 0.15 and 0.01 <= s.malformed_share <= 0.03


def test_split_sums_only_timers_that_do_not_overlap(tmp_path):
    """The jvm regex stage already holds the scan feeding it and the
    fused aggregate, and the python workers' run holds their scan: those
    inner timers, and the reused workers' start and init, are not added."""
    wl = BatchAgg(Namespace(slots=4, work=str(tmp_path)))
    rep = Rep({"jvm": (0.0, 1.0, 0.0), "arrow": (1.0, 3.0, 0.0)}, 10, [])
    inner = {"scan.time_ms": 400.0, "aggregate.build_ms": 300.0,
             "skew.shuffle_write_ms": 50.0, "enrich.broadcast_collect_ms": 100.0}
    out = wl._split(rep, {
        "jvm": {**inner, "parser.codegen_ms.jvm": 2000.0},
        "arrow": {**inner, "parser.python_run_ms": 4000.0, "parser.python_init_ms": 9000.0},
    })
    assert out["split.wall_ms"] == pytest.approx(3000.0)
    assert out["split.explained_ms"] == pytest.approx((2000 / 4 + 100) + (4000 / 4 + 100))
    assert out["split.unexplained_ms"] == pytest.approx(3000.0 - 1700.0)


def test_core_levels_above_nproc_are_refused():
    n = run.nproc()
    assert run.check_cores(n, n) == n
    for bad in (0, n + 1):
        with pytest.raises(ValueError):
            run.check_cores(bad, n)


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize(
    "text, want",
    [
        ("total (min, med, max (stageId: taskId))\n12.1 s (3.0 s, 3.0 s, 3.1 s (stage 3.0: task 5))",
         (12100, 3000, 3000, 3100)),
        ("total (min, med, max (stageId: taskId))\n153.1 KiB (74.7 KiB, 78.3 KiB, 78.3 KiB (driver))",
         (153.1 * 1024, 74.7 * 1024, 78.3 * 1024, 78.3 * 1024)),
        ("1,792", (1792, 1792, 1792, 1792)),
        ("64.0 MiB", (64 * 2**20,) * 4),
        ("(min, med, max (stageId: taskId)):\n(1, 2, 5 (stage 5.0: task 8))", (2, 1, 2, 5)),
    ],
)
def test_parse_value(text, want):
    v = parse_value(text)
    assert (v.total, v.min, v.med, v.max) == pytest.approx(want)


def test_result_digest_is_order_free_and_type_strict():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    assert oracle.result_digest(a) == oracle.result_digest(a.iloc[::-1][["v", "k"]])
    assert oracle.result_digest(a) != oracle.result_digest(a.astype({"k": float}))
