"""The benchmark's own tests: generator determinism, span arithmetic,
the oracle comparator, metric naming, and the OTLP/JSON trace output
read back by the engine.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import gen  # noqa: E402
import knee  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_generator_is_deterministic_per_seed(tmp_path):
    for make, n in ((gen.make_logs, 300), (gen.make_traces, 300),
                    (gen.make_metrics, 50)):
        a, b, c = make(7, n, 100), make(7, n, 100), make(8, n, 100)
        assert a == b
        assert a != c
    env = gen.make_logs(7, 300, 300)[0]
    assert gen.encode_pb(env) == gen.encode_pb(env)
    assert gen.encode_otap(env) == gen.encode_otap(env)
    assert gen.http_body(env, False) == gen.http_body(env, False)

    import pyarrow.parquet as pq
    gen.write_query_tables(tmp_path / "a", 7, scale=0.1)
    gen.write_query_tables(tmp_path / "b", 7, scale=0.1)
    gen.write_query_tables(tmp_path / "c", 8, scale=0.1)
    for t in gen.QUERY_TABLES:
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet"))


def test_pb_encoding_matches_engine_decoder():
    """The generator's own encoder and the engine's decoder agree."""
    from duckdb_otlp_spark.sources import otlp_proto

    env, = gen.make_logs(3, 40, per_env=40)
    got = otlp_proto.decode_logs(gen.encode_pb(env))
    want = [r for rl in env["resourceLogs"] for s in rl["scopeLogs"]
            for r in s["logRecords"]]
    have = [r for rl in got["resourceLogs"] for s in rl["scopeLogs"]
            for r in s["logRecords"]]
    assert [r["body"] for r in have] == [r["body"] for r in want]
    assert [r["traceId"].lower() for r in have] == [r["traceId"] for r in want]
    assert [int(r["timeUnixNano"]) for r in have] == [int(r["timeUnixNano"]) for r in want]


def _span(name, sid, parent, start, end):
    return spans.Span(name, "t" * 32, sid, parent, start, end)


def test_self_time_of_nested_spans():
    ss = [_span("op", "a", None, 0, 100),
          _span("queries.build", "b", "a", 10, 40),
          _span("spark.collect", "c", "a", 40, 90),
          _span("spark.planning", "d", "c", 45, 55),
          _span("spark.optimization", "e", "c", 50, 60)]  # overlaps d
    own = spans.self_times_ms(ss)
    assert own["a"] == pytest.approx((100 - 80) / 1e6)
    assert own["b"] == pytest.approx(30 / 1e6)
    assert own["c"] == pytest.approx((50 - 15) / 1e6)   # union of d and e is 15
    layers = spans.layer_self_ms(ss, lambda n: n.split(".")[0])
    assert layers["spark"] == pytest.approx((35 + 10 + 10) / 1e6)
    # self times add up to the root's wall, except where siblings overlap
    # (d and e share 5 units, which both of them own)
    assert sum(layers.values()) == pytest.approx((100 + 5) / 1e6)


def test_child_outside_parent_is_clipped():
    ss = [_span("op", "a", None, 0, 10), _span("x.y", "b", "a", 5, 50)]
    assert spans.self_times_ms(ss)["a"] == pytest.approx(5 / 1e6)


def test_knee_reads_the_backlog_trend_through_seal_lumps():
    # a backlog that seals in lumps every 5 s but grows 100 records/s
    saw = [(t, 100 * t + 4000 * (t % 5)) for t in range(30, 60)]
    assert knee._trend(saw) == pytest.approx(100)
    row = {"offered_records_per_s": 1000, "accepted_records_per_s": 1000,
           "late_p99_ms": 5, "failed": 0, "backlog_growth_share": 0.1}
    assert knee.held(row)
    assert not knee.held({**row, "backlog_growth_share": 0.5})
    assert not knee.held({**row, "failed": 3})
    at = {r: {**row, "offered_records_per_s": r, "accepted_records_per_s": r}
          for r in (2000, 4000)}
    assert knee.knee([row, at[2000], {**at[4000], "failed": 1}]) == 2000
    assert knee.knee([row, {**at[2000], "accepted_records_per_s": 1500}]) == 1000


def test_oracle_comparator():
    want = (["k", "v"], checks.rows_to_set([(1, 2.5), (2, None)]))
    assert checks.compare_to_oracle(["k", "v"], [(2, None), (1, 2.5)], want)[0] == "ok"
    assert checks.compare_to_oracle(["k", "x"], [(1, 2.5), (2, None)], want)[0] == "fail"
    assert checks.compare_to_oracle(["k", "v"], [(1, 2.5)], want)[0] == "fail"
    assert checks.compare_to_oracle(["k", "v"], [], want)[0] == "fail"
    assert checks.compare_to_oracle(["k", "v"], [(1, 2.6), (2, None)], want)[0] == "fail"
    money = (["k", "v"], checks.rows_to_set([(1, 339271.87)]))
    assert checks.compare_to_oracle(["k", "v"], [(1, 339271.88)], money)[0] == "tie"
    assert checks.compare_to_oracle(["k", "v"], [(2, 339271.88)], money)[0] == "fail"
    # the test suite's normalization: floats to 9 places, NaN as text
    nan = (["v"], checks.rows_to_set([(float("nan"),)]))
    assert checks.compare_to_oracle(["v"], [(float("nan"),)], nan)[0] == "ok"
    assert checks.compare_to_oracle(["k", "v"], [(1, 2.5 + 1e-12), (2, None)],
                                    want)[0] == "ok"


def test_metric_names_units_and_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layer_units = run.per_layer_units()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E
    assert per == layer_units
    names = list(e2e) + list(per) + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    import workloads
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_trace_output_loads_with_read_otlp_traces(tmp_path):
    from duckdb_otlp_spark.session import get_spark
    from duckdb_otlp_spark.sources.otlp_json import read_otlp_traces

    tr = spans.Tracer(enabled=True)
    with tr.span("op", query="q1"):
        with tr.span("queries.build"):
            pass
        with tr.span("spark.collect") as c:
            tr.add("spark.planning", c, c.start_ns, c.start_ns + 1000)
    with tr.span("op", query="q2"):
        pass
    path = tmp_path / "trace.json"
    tr.write_otlp_json(path, "perfbench.test")
    spark = get_spark("perfbench-tests", cpus=2)
    rows = read_otlp_traces(spark, str(path)).collect()
    assert len(rows) == 5
    by_id = {r["span_id"]: r for r in rows}
    roots = [r for r in rows if not r["parent_span_id"]]
    assert sorted(r["name"] for r in roots) == ["op", "op"]
    for r in rows:
        if r["parent_span_id"]:
            parent = by_id[r["parent_span_id"]]
            assert parent["trace_id"] == r["trace_id"]
    assert {r["service_name"] for r in rows} == {"perfbench.test"}
    planning = next(r for r in rows if r["name"] == "spark.planning")
    assert planning["duration_time_unix_nano"] == 1000
