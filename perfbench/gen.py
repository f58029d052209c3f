"""Seeded input generator for the benchmark.

Everything the workloads feed the engine comes from here and from a
``--seed``: the query dataset (ten parquet tables shaped like the
repository's oracle dataset), the HTTP bodies of the ingest workload
(gzip OTLP/JSON logs and metrics, protobuf traces), and the protobuf and
OTAP (``BatchArrowRecords``) samples the decoder probes time.

The generator carries its own protobuf and OTAP encoders instead of the
package's, so a change to the engine cannot change the benchmark's
inputs.
"""

from __future__ import annotations

import gzip
import io
import json
import struct
from pathlib import Path

import numpy as np

BASE_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z

# ---------------------------------------------------------------------------
# Query dataset: the ten tables the registry queries read
# ---------------------------------------------------------------------------

QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings")

_WORDS = ("key agg row scan slow fast table value part hash a the line sort "
          "window batch spark order data column join small customer query "
          "merge big stream group filter vector").split()


def write_query_tables(out_dir: Path, seed: int, scale: float = 1.0) -> dict:
    """Write the ten query tables as parquet under ``out_dir``; returns
    row counts. ``scale=1`` matches the oracle dataset's sf0.01 sizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li, n_ev, n_doc = (int(15000 * scale), int(60000 * scale),
                                int(10000 * scale), int(500 * scale))
    out_dir.mkdir(parents=True, exist_ok=True)
    day = 86_400_000_000  # µs

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts_days(start_us, days, n):
        return pa.array(start_us + rng.integers(0, days, n) * day,
                        pa.timestamp("us"))

    y1995 = 788_918_400_000_000  # 1995-01-01 in µs
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())},
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                        "HOUSEHOLD", "BUILDING"], n_cust)},
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "red", "blue", "hot", "old", "big", "new",
                            "cold"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "nut",
                            "pipe", "valve"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                                  "MEDIUM", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)},
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 400000, n_ord),
            "o_orderdate": ts_days(y1995, 2404, n_ord),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": money(900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": ts_days(y1995 + day, 2499, n_li)},
        "events": {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(1_704_067_200_000_000
                           + np.sort(rng.integers(0, 30 * day, n_ev)),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(["click", "signup", "error", "view",
                                      "purchase"], n_ev),
            "value": money(0.01, 490.02, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
    }
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.15:
            # a near-duplicate of an earlier document, so the dedup
            # queries have pairs to find
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 100)))))
    tables["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "de", "fr", "es"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    emb = rng.normal(0, 0.15, (n_doc, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())}
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, out_dir / f"{name}.parquet")
        counts[name] = t.num_rows
    return counts


# ---------------------------------------------------------------------------
# OTLP records (proto3-JSON dicts)
# ---------------------------------------------------------------------------

_SERVICES = ("checkout", "cart", "payment", "frontend", "inventory", "auth",
             "search", "shipping")
_ROUTES = ("/api/v1/cart", "/api/v1/items/{id}", "/api/v1/checkout",
           "/healthz", "/api/v1/users/{id}", "/api/v1/search")
_SEVERITY = ((5, "DEBUG"), (9, "INFO"), (9, "INFO"), (9, "INFO"),
             (13, "WARN"), (17, "ERROR"))
_METHODS = ("GET", "GET", "POST", "PUT", "DELETE")


def _kv(key: str, v) -> dict:
    if isinstance(v, bool):
        return {"key": key, "value": {"boolValue": v}}
    if isinstance(v, int):
        return {"key": key, "value": {"intValue": str(v)}}
    if isinstance(v, float):
        return {"key": key, "value": {"doubleValue": v}}
    return {"key": key, "value": {"stringValue": v}}


def _resource(svc: str, inst: int) -> dict:
    return {"attributes": [
        _kv("service.name", svc), _kv("service.namespace", "shop"),
        _kv("service.instance.id", f"{svc}-{inst}"),
        _kv("host.name", f"node-{inst % 5}"),
        _kv("deployment.environment", "prod")]}


def _body(rng, method: str, route: str, status: int, ms: float) -> str:
    k = int(rng.integers(0, 4))
    if k == 0:
        return f"{method} {route} {status} in {ms}ms"
    if k == 1:
        return (f"connection to db-{int(rng.integers(0, 9))}:5432 reset after "
                f"{int(rng.integers(1, 6))} retries")
    if k == 2:
        return f"cache miss for key user:{int(rng.integers(0, 100000))}"
    return " ".join(rng.choice(_WORDS, int(rng.integers(5, 25))))


def _ts(rng, n: int, step_ns: int = 1_000_000) -> list[int]:
    # microsecond-exact: the engine stores timestamps at µs precision
    return [BASE_NS + int(i) * step_ns + int(j) * 1000
            for i, j in zip(range(n), rng.integers(0, 1000, n))]


def _group(records: list[tuple[str, int, dict]], per_env: int, list_key: str,
           scope_key: str, rec_key: str, scope: str) -> list[dict]:
    """(service, instance, record) -> envelopes of ``per_env`` records,
    one resource entry per service instance within each envelope."""
    envs = []
    for lo in range(0, len(records), per_env):
        by_res: dict[tuple[str, int], list[dict]] = {}
        for svc, inst, rec in records[lo:lo + per_env]:
            by_res.setdefault((svc, inst), []).append(rec)
        envs.append({list_key: [
            {"resource": _resource(svc, inst),
             scope_key: [{"scope": {"name": scope, "version": "1.4.0"},
                          rec_key: recs}]}
            for (svc, inst), recs in by_res.items()]})
    return envs


def make_logs(seed: int, n: int, per_env: int) -> list[dict]:
    rng = np.random.default_rng([seed, 1])
    times = _ts(rng, n)
    recs = []
    for i in range(n):
        svc = _SERVICES[int(rng.integers(0, len(_SERVICES)))]
        inst = int(rng.integers(0, 3))
        sev_n, sev_t = _SEVERITY[int(rng.integers(0, len(_SEVERITY)))]
        method = _METHODS[int(rng.integers(0, len(_METHODS)))]
        route = _ROUTES[int(rng.integers(0, len(_ROUTES)))]
        status = 500 if sev_n == 17 else int(rng.choice([200, 200, 201, 404]))
        ms = int(rng.integers(1, 8000)) / 4
        tid, sid = rng.bytes(16).hex(), rng.bytes(8).hex()
        body = _body(rng, method, route, status, ms)
        recs.append((svc, inst, {
            "timeUnixNano": str(times[i]), "observedTimeUnixNano": str(times[i]),
            "severityNumber": sev_n, "severityText": sev_t,
            "body": {"stringValue": body}, "traceId": tid, "spanId": sid,
            "attributes": [
                _kv("http.method", method), _kv("http.route", route),
                _kv("http.status_code", status),
                _kv("net.peer.ip", f"10.{int(rng.integers(0, 4))}."
                                   f"{int(rng.integers(0, 256))}.{i % 256}"),
                _kv("user.id", f"u{int(rng.integers(0, 5000))}"),
                _kv("duration_ms", ms),
                _kv("thread.name", f"worker-{int(rng.integers(0, 16))}"),
                _kv("code.function", f"handle_{route.split('/')[-1] or 'root'}"),
                _kv("retry", bool(rng.integers(0, 2))),
                _kv("cloud.region", ("eu-west-1", "us-east-1")[i % 2])]}))
    return _group(recs, per_env, "resourceLogs", "scopeLogs", "logRecords",
                  "perfbench.logs")


_SPAN_NAMES = ("GET /api/v1/cart", "POST /api/v1/checkout", "SELECT orders",
               "redis GET", "charge card", "render page", "publish event")


def make_traces(seed: int, n: int, per_env: int) -> list[dict]:
    rng = np.random.default_rng([seed, 2])
    starts = _ts(rng, n)
    recs = []
    tid, parent = rng.bytes(16).hex(), None
    for i in range(n):
        if i % 5 == 0:  # five spans per trace: a root and its children
            tid, parent = rng.bytes(16).hex(), None
        sid = rng.bytes(8).hex()
        svc = _SERVICES[int(rng.integers(0, len(_SERVICES)))]
        inst = int(rng.integers(0, 3))
        name = _SPAN_NAMES[int(rng.integers(0, len(_SPAN_NAMES)))]
        kind = int(rng.integers(1, 6))
        code = int(rng.choice([0, 1, 1, 1, 2]))
        dur = int(rng.integers(1, 2_000_000)) * 1000
        span = {"traceId": tid, "spanId": sid, "name": name, "kind": kind,
                "startTimeUnixNano": str(starts[i]),
                "endTimeUnixNano": str(starts[i] + dur),
                "status": {"code": code},
                "attributes": [
                    _kv("http.method", _METHODS[i % len(_METHODS)]),
                    _kv("http.route", _ROUTES[i % len(_ROUTES)]),
                    _kv("http.status_code", 500 if code == 2 else 200),
                    _kv("net.peer.name", f"svc-{int(rng.integers(0, 20))}"),
                    _kv("db.system", ("postgresql", "redis")[i % 2]),
                    _kv("rpc.attempt", int(rng.integers(1, 4))),
                    _kv("sampled", True),
                    _kv("payload.kb", int(rng.integers(0, 4000)) / 4)]}
        if parent:
            span["parentSpanId"] = parent
        recs.append((svc, inst, span))
        parent = parent or sid
    return _group(recs, per_env, "resourceSpans", "scopeSpans", "spans",
                  "perfbench.traces")


_BOUNDS = [5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0, 1000.0]


def make_metrics(seed: int, n_per_shape: int, per_env: int) -> list[dict]:
    """Gauge, sum, histogram and exponential-histogram points, mixed in
    every envelope; one metric per (shape, envelope, service)."""
    rng = np.random.default_rng([seed, 3])
    times = _ts(rng, 4 * n_per_shape)
    shapes = ("metrics_gauge", "metrics_sum", "metrics_histogram",
              "metrics_exp_histogram")
    names = {"metrics_gauge": ("system.cpu.utilization", "1"),
             "metrics_sum": ("http.server.requests", "{request}"),
             "metrics_histogram": ("http.server.duration", "ms"),
             "metrics_exp_histogram": ("rpc.client.latency", "ms")}
    envs = []
    t = 0
    for lo in range(0, n_per_shape, per_env):
        hi = min(n_per_shape, lo + per_env)
        by_svc: dict[str, list[dict]] = {}
        for shape in shapes:
            pts_by_svc: dict[str, list[dict]] = {}
            for _ in range(lo, hi):
                svc = _SERVICES[int(rng.integers(0, len(_SERVICES)))]
                ts = times[t]
                t += 1
                p = {"timeUnixNano": str(ts), "startTimeUnixNano": str(BASE_NS),
                     "attributes": [_kv("http.route", _ROUTES[t % len(_ROUTES)]),
                                    _kv("cloud.region", ("eu", "us")[t % 2])]}
                if shape in ("metrics_gauge", "metrics_sum"):
                    if t % 2:
                        p["asInt"] = str(int(rng.integers(0, 100000)))
                    else:
                        p["asDouble"] = int(rng.integers(0, 400000)) / 4
                elif shape == "metrics_histogram":
                    counts = [int(c) for c in rng.integers(0, 50, len(_BOUNDS) + 1)]
                    q = int(rng.integers(0, 4_000_000))
                    p.update(count=str(sum(counts)), sum=q / 4,
                             bucketCounts=[str(c) for c in counts],
                             explicitBounds=_BOUNDS, min=0.25, max=2000.0)
                else:
                    counts = [int(c) for c in rng.integers(0, 30, 6)]
                    zero = int(rng.integers(0, 5))
                    q = int(rng.integers(0, 4_000_000))
                    p.update(count=str(sum(counts) + zero), sum=q / 4, scale=2,
                             zeroCount=str(zero),
                             positive={"offset": int(rng.integers(0, 8)),
                                       "bucketCounts": [str(c) for c in counts]},
                             min=0.5, max=900.0)
                pts_by_svc.setdefault(svc, []).append(p)
            for svc, pts in pts_by_svc.items():
                name, unit = names[shape]
                m = {"name": name, "unit": unit, "description": f"{name} ({svc})"}
                if shape == "metrics_gauge":
                    m["gauge"] = {"dataPoints": pts}
                elif shape == "metrics_sum":
                    m["sum"] = {"dataPoints": pts, "isMonotonic": True,
                                "aggregationTemporality": 2}
                elif shape == "metrics_histogram":
                    m["histogram"] = {"dataPoints": pts,
                                      "aggregationTemporality": 2}
                else:
                    m["exponentialHistogram"] = {"dataPoints": pts,
                                                 "aggregationTemporality": 2}
                by_svc.setdefault(svc, []).append(m)
        envs.append({"resourceMetrics": [
            {"resource": _resource(svc, 0),
             "scopeMetrics": [{"scope": {"name": "perfbench.metrics"},
                               "metrics": ms}]}
            for svc, ms in by_svc.items()]})
    return envs


# ---------------------------------------------------------------------------
# Protobuf encoder (opentelemetry-proto v1 field numbers)
# ---------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(f: int, payload: bytes) -> bytes:
    return _varint(f << 3 | 2) + _varint(len(payload)) + payload


def _vi(f: int, n: int) -> bytes:
    return _varint(f << 3) + _varint(n if n >= 0 else n + (1 << 64))


def _zz(f: int, n: int) -> bytes:
    return _varint(f << 3) + _varint((n << 1) ^ (n >> 63))


def _f64(f: int, n: int) -> bytes:
    return _varint(f << 3 | 1) + struct.pack("<Q", n)


def _dbl(f: int, x: float) -> bytes:
    return _varint(f << 3 | 1) + struct.pack("<d", x)


def _pb_any(v: dict) -> bytes:
    if "stringValue" in v:
        return _ld(1, v["stringValue"].encode())
    if "boolValue" in v:
        return _vi(2, int(v["boolValue"]))
    if "intValue" in v:
        return _vi(3, int(v["intValue"]))
    return _dbl(4, v["doubleValue"])


def _pb_kvs(f: int, kvs: list[dict]) -> bytes:
    return b"".join(_ld(f, _ld(1, kv["key"].encode()) + _ld(2, _pb_any(kv["value"])))
                    for kv in kvs)


def _pb_scope(s: dict) -> bytes:
    out = _ld(1, s["name"].encode())
    if "version" in s:
        out += _ld(2, s["version"].encode())
    return out


def _pb_log(r: dict) -> bytes:
    return (_f64(1, int(r["timeUnixNano"])) + _vi(2, r["severityNumber"])
            + _ld(3, r["severityText"].encode())
            + _ld(5, _pb_any(r["body"])) + _pb_kvs(6, r["attributes"])
            + _ld(9, bytes.fromhex(r["traceId"]))
            + _ld(10, bytes.fromhex(r["spanId"]))
            + _f64(11, int(r["observedTimeUnixNano"])))


def _pb_span(s: dict) -> bytes:
    out = _ld(1, bytes.fromhex(s["traceId"])) + _ld(2, bytes.fromhex(s["spanId"]))
    if "parentSpanId" in s:
        out += _ld(4, bytes.fromhex(s["parentSpanId"]))
    return (out + _ld(5, s["name"].encode()) + _vi(6, s["kind"])
            + _f64(7, int(s["startTimeUnixNano"]))
            + _f64(8, int(s["endTimeUnixNano"]))
            + _pb_kvs(9, s["attributes"])
            + _ld(15, _vi(3, s["status"]["code"])))


def _pb_number_dp(p: dict) -> bytes:
    out = (_f64(2, int(p["startTimeUnixNano"])) + _f64(3, int(p["timeUnixNano"]))
           + _pb_kvs(7, p["attributes"]))
    if "asInt" in p:
        return out + _varint(6 << 3 | 1) + struct.pack("<q", int(p["asInt"]))
    return out + _dbl(4, p["asDouble"])


def _pb_hist_dp(p: dict) -> bytes:
    return (_f64(2, int(p["startTimeUnixNano"])) + _f64(3, int(p["timeUnixNano"]))
            + _f64(4, int(p["count"])) + _dbl(5, p["sum"])
            + _ld(6, b"".join(struct.pack("<Q", int(c)) for c in p["bucketCounts"]))
            + _ld(7, b"".join(struct.pack("<d", b) for b in p["explicitBounds"]))
            + _pb_kvs(9, p["attributes"]) + _dbl(11, p["min"]) + _dbl(12, p["max"]))


def _pb_exp_dp(p: dict) -> bytes:
    pos = p["positive"]
    return (_pb_kvs(1, p["attributes"]) + _f64(2, int(p["startTimeUnixNano"]))
            + _f64(3, int(p["timeUnixNano"])) + _f64(4, int(p["count"]))
            + _dbl(5, p["sum"]) + _zz(6, p["scale"]) + _f64(7, int(p["zeroCount"]))
            + _ld(8, _zz(1, pos["offset"]) + _ld(2, b"".join(
                _varint(int(c)) for c in pos["bucketCounts"])))
            + _dbl(12, p["min"]) + _dbl(13, p["max"]))


def _pb_metric(m: dict) -> bytes:
    out = (_ld(1, m["name"].encode()) + _ld(2, m["description"].encode())
           + _ld(3, m["unit"].encode()))
    if "gauge" in m:
        return out + _ld(5, b"".join(_ld(1, _pb_number_dp(p))
                                     for p in m["gauge"]["dataPoints"]))
    if "sum" in m:
        s = m["sum"]
        return out + _ld(7, b"".join(_ld(1, _pb_number_dp(p)) for p in s["dataPoints"])
                         + _vi(2, s["aggregationTemporality"])
                         + _vi(3, int(s["isMonotonic"])))
    if "histogram" in m:
        h = m["histogram"]
        return out + _ld(9, b"".join(_ld(1, _pb_hist_dp(p)) for p in h["dataPoints"])
                         + _vi(2, h["aggregationTemporality"]))
    h = m["exponentialHistogram"]
    return out + _ld(10, b"".join(_ld(1, _pb_exp_dp(p)) for p in h["dataPoints"])
                     + _vi(2, h["aggregationTemporality"]))


_PB_LAYOUT = {  # resource list key -> (scope list key, record key, encoder)
    "resourceLogs": ("scopeLogs", "logRecords", _pb_log),
    "resourceSpans": ("scopeSpans", "spans", _pb_span),
    "resourceMetrics": ("scopeMetrics", "metrics", _pb_metric),
}


def encode_pb(env: dict) -> bytes:
    """proto3-JSON envelope dict -> OTLP protobuf bytes."""
    (res_key, resources), = env.items()
    scope_key, rec_key, enc = _PB_LAYOUT[res_key]
    out = b""
    for r in resources:
        body = _ld(1, _pb_kvs(1, r["resource"]["attributes"]))
        for s in r[scope_key]:
            body += _ld(2, _ld(1, _pb_scope(s["scope"]))
                        + b"".join(_ld(2, enc(x)) for x in s[rec_key]))
        out += _ld(1, body)
    return out


# ---------------------------------------------------------------------------
# OTAP encoder (BatchArrowRecords, plain ids, logs and traces)
# ---------------------------------------------------------------------------

_OTAP_TYPES = {"stringValue": 1, "intValue": 2, "doubleValue": 3, "boolValue": 4}


def _attr_table(rows: list[tuple[int, dict]]):
    import pyarrow as pa
    cols = {"parent_id": [], "key": [], "type": [], "str": [], "int": [],
            "double": [], "bool": []}
    for parent, kv in rows:
        (kind, v), = kv["value"].items()
        cols["parent_id"].append(parent)
        cols["key"].append(kv["key"])
        cols["type"].append(_OTAP_TYPES[kind])
        cols["str"].append(v if kind == "stringValue" else None)
        cols["int"].append(int(v) if kind == "intValue" else None)
        cols["double"].append(v if kind == "doubleValue" else None)
        cols["bool"].append(v if kind == "boolValue" else None)
    return pa.table({
        "parent_id": pa.array(cols["parent_id"], pa.uint32()),
        "key": pa.array(cols["key"], pa.string()),
        "type": pa.array(cols["type"], pa.uint8()),
        "str": pa.array(cols["str"], pa.string()),
        "int": pa.array(cols["int"], pa.int64()),
        "double": pa.array(cols["double"], pa.float64()),
        "bool": pa.array(cols["bool"], pa.bool_())})


def _ipc(table) -> bytes:
    import pyarrow.ipc as ipc
    sink = io.BytesIO()
    with ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def encode_otap(env: dict) -> bytes:
    """proto3-JSON logs or traces envelope -> one BatchArrowRecords message."""
    import pyarrow as pa
    (res_key, resources), = env.items()
    scope_key, rec_key, _ = _PB_LAYOUT[res_key]
    res_rows, res_attrs, scope_rows, rec_attrs = [], [], [], []
    recs = []
    for rid, r in enumerate(resources):
        res_attrs += [(rid, kv) for kv in r["resource"]["attributes"]]
        for s in r[scope_key]:
            sid = len(scope_rows)
            scope_rows.append(s["scope"])
            for x in s[rec_key]:
                rec_attrs += [(len(recs), kv) for kv in x["attributes"]]
                recs.append(x)
                res_rows.append((rid, sid))
    n = len(recs)
    idref = pa.struct([("id", pa.uint16())])
    common = {
        "id": pa.array(range(n), pa.uint32()),
        "resource": pa.array([{"id": r} for r, _ in res_rows], idref),
        "scope": pa.array(
            [{"id": s, "name": scope_rows[s]["name"],
              "version": scope_rows[s].get("version")} for _, s in res_rows],
            pa.struct([("id", pa.uint16()), ("name", pa.string()),
                       ("version", pa.string())])),
        "trace_id": pa.array([bytes.fromhex(x["traceId"]) for x in recs],
                             pa.binary(16)),
        "span_id": pa.array([bytes.fromhex(x["spanId"]) for x in recs],
                            pa.binary(8)),
    }
    if res_key == "resourceLogs":
        main_type, attr_type = 30, 31
        main = pa.table({
            **common,
            "time_unix_nano": pa.array([int(x["timeUnixNano"]) for x in recs],
                                       pa.timestamp("ns")),
            "observed_time_unix_nano": pa.array(
                [int(x["observedTimeUnixNano"]) for x in recs], pa.timestamp("ns")),
            "severity_number": pa.array([x["severityNumber"] for x in recs],
                                        pa.int32()),
            "severity_text": pa.array([x["severityText"] for x in recs]),
            "body": pa.array([{"type": 1, "str": x["body"]["stringValue"]}
                              for x in recs],
                             pa.struct([("type", pa.uint8()), ("str", pa.string())])),
        })
    else:
        main_type, attr_type = 40, 41
        starts = [int(x["startTimeUnixNano"]) for x in recs]
        main = pa.table({
            **common,
            "parent_span_id": pa.array(
                [bytes.fromhex(x["parentSpanId"]) if "parentSpanId" in x else None
                 for x in recs], pa.binary(8)),
            "start_time_unix_nano": pa.array(starts, pa.timestamp("ns")),
            "duration_time_unix_nano": pa.array(
                [int(x["endTimeUnixNano"]) - s for x, s in zip(recs, starts)],
                pa.duration("ns")),
            "name": pa.array([x["name"] for x in recs]),
            "kind": pa.array([x["kind"] for x in recs], pa.int32()),
            "status": pa.array([{"code": x["status"]["code"]} for x in recs],
                               pa.struct([("code", pa.int32())])),
        })
    payloads = [(main_type, main), (attr_type, _attr_table(rec_attrs)),
                (1, _attr_table(res_attrs))]
    return _ld(1, _vi(1, 0)) + b"".join(
        _ld(2, _vi(2, ptype) + _ld(3, _ipc(t))) for ptype, t in payloads)


# ---------------------------------------------------------------------------
# HTTP bodies
# ---------------------------------------------------------------------------

def http_body(env: dict, protobuf: bool) -> bytes:
    """An ingest request body: protobuf, or gzip-compressed OTLP/JSON."""
    if protobuf:
        return encode_pb(env)
    return gzip.compress(json.dumps(env, separators=(",", ":")).encode(), 6, mtime=0)


def count_records(env: dict) -> int:
    (key, resources), = env.items()
    scope_key, rec_key, _ = _PB_LAYOUT[key]
    if key != "resourceMetrics":
        return sum(len(s[rec_key]) for r in resources for s in r[scope_key])
    n = 0
    for r in resources:
        for s in r[scope_key]:
            for m in s["metrics"]:
                (body,) = (v for k, v in m.items()
                           if k in ("gauge", "sum", "histogram",
                                    "exponentialHistogram"))
                n += len(body["dataPoints"])
    return n


def count_errors(env: dict) -> int:
    """ERROR-severity log records in a logs envelope."""
    return sum(1 for r in env["resourceLogs"] for s in r["scopeLogs"]
               for x in s["logRecords"] if x["severityNumber"] >= 17)
