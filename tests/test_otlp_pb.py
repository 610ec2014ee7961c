"""S8: OTLP .pb dataset loader (pure-Python wire format + Spark binaryFile
-> mapInPandas plumbing). Round-trip against our own capture writer, plus
error-not-crash on malformed frames."""

import pytest


SAMPLE = [
    {
        "res_idx": 0,
        "scope_name": "svc.a",
        "time_unix_nano": 1_700_000_000_000_000_000,
        "observed_time_unix_nano": 1_700_000_000_000_000_500,
        "severity_number": 9,
        "severity_text": "INFO",
        "body": "hello world",
        "attrs": {"k1": "v1", "k2": "v2"},
        "res_attrs": {"host": "h0"},
        "trace_id": "0102030405060708090a0b0c0d0e0f10",
        "span_id": "0102030405060708",
    },
    {
        "res_idx": 0,
        "scope_name": "svc.a",
        "severity_number": 17,
        "severity_text": "ERROR",
        "body": "boom",
        "attrs": {},
        "res_attrs": {"host": "h0"},
    },
    {"res_idx": 1, "body": "other resource", "attrs": {"x": "1"}},
]


def test_pb_roundtrip_pure_python():
    from otel_arrow_adapter_spark.sources import (
        decode_export_logs_request,
        encode_export_logs_request,
    )

    rows = decode_export_logs_request(encode_export_logs_request(SAMPLE))
    assert len(rows) == 3
    r0 = next(r for r in rows if r["severity_text"] == "INFO")
    assert r0["body"] == "hello world"
    assert r0["time_unix_nano"] == 1_700_000_000_000_000_000
    assert r0["observed_time_unix_nano"] == 1_700_000_000_000_000_500
    assert r0["trace_id"] == "0102030405060708090a0b0c0d0e0f10"
    assert r0["span_id"] == "0102030405060708"
    assert r0["n_attrs"] == 2 and r0["n_res_attrs"] == 1
    assert r0["scope_name"] == "svc.a"
    r2 = next(r for r in rows if r["res_idx"] == 1)
    assert r2["body"] == "other resource" and r2["n_attrs"] == 1


def test_pb_writer_validates_ids():
    from otel_arrow_adapter_spark.sources import encode_export_logs_request

    with pytest.raises(ValueError, match="trace_id"):
        encode_export_logs_request([{"res_idx": 0, "trace_id": "0102"}])
    with pytest.raises(ValueError, match="span_id"):
        encode_export_logs_request([{"res_idx": 0, "span_id": "01"}])


def test_pb_spark_reader(spark, tmp_path):
    from otel_arrow_adapter_spark.sources import (
        encode_export_logs_request,
        read_pb_logs,
    )

    d = tmp_path / "captures"
    d.mkdir()
    (d / "a.pb").write_bytes(encode_export_logs_request(SAMPLE))
    (d / "b.pb").write_bytes(encode_export_logs_request(SAMPLE[:1]))
    (d / "bad.pb").write_bytes(b"\xff\xff\xff\xff\xff\xff")  # malformed
    (d / "ignored.txt").write_bytes(b"not a capture")

    df = read_pb_logs(spark, str(d))
    rows = df.collect()
    good = [r for r in rows if r["res_idx"] >= 0]
    bad = [r for r in rows if r["res_idx"] == -1]
    assert len(good) == 4  # 3 from a.pb + 1 from b.pb
    assert len(bad) == 1 and "__decode_error__" in bad[0]["body"]
    assert bad[0]["path"].endswith("bad.pb")
    # typed columns survive the Arrow transfer
    infos = [r for r in good if r["severity_text"] == "INFO"]
    assert len(infos) == 2
    assert all(r["time_unix_nano"] == 1_700_000_000_000_000_000 for r in infos)


def test_pb_wire_roundtrip_property():
    """Property form: arbitrary record sets (unicode text, optional fields
    absent at random, extreme timestamps) survive encode∘decode exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from otel_arrow_adapter_spark.sources import (
        decode_export_logs_request,
        encode_export_logs_request,
    )

    text = st.one_of(st.none(), st.text(max_size=40))
    record = st.fixed_dictionaries(
        {
            "res_idx": st.integers(min_value=0, max_value=3),
            "scope_name": text,
            "severity_text": text,
            "severity_number": st.one_of(st.none(), st.integers(0, 24)),
            "body": text,
            "time_unix_nano": st.one_of(
                st.none(), st.integers(0, 2**63 - 1)
            ),
            "attrs": st.dictionaries(st.text(min_size=1, max_size=8), st.text(max_size=8), max_size=3),
        }
    )

    @given(st.lists(record, max_size=12))
    @settings(max_examples=150, deadline=None)
    def check(records):
        out = decode_export_logs_request(encode_export_logs_request(records))
        assert len(out) == len(records)
        by_res_in: dict = {}
        for r in records:
            by_res_in.setdefault(r["res_idx"], []).append(r)
        by_res_out: dict = {}
        for r in out:
            by_res_out.setdefault(r["res_idx"], []).append(r)
        # res_idx relabels densely (0..n-1 in input-res order)
        assert sorted(len(v) for v in by_res_in.values()) == sorted(
            len(v) for v in by_res_out.values()
        )
        for rs_in, rs_out in zip(
            (by_res_in[k] for k in sorted(by_res_in)),
            (by_res_out[k] for k in sorted(by_res_out)),
        ):
            for a, b in zip(rs_in, rs_out):
                # severity_text/scope_name are truthiness-elided by the
                # writer ('' -> absent -> None); body and the numerics
                # round-trip exactly whenever present (0 and '' included)
                assert (a["severity_text"] or None) == b["severity_text"], (a, b)
                assert a["body"] == b["body"], (a, b)
                assert a["severity_number"] == b["severity_number"], (a, b)
                assert a["time_unix_nano"] == b["time_unix_nano"], (a, b)
                assert len(a["attrs"]) == b["n_attrs"]

    check()


def test_exp2_lower_bound_property():
    """lo = exp2_lower_bound(i, s) is EXACTLY ceil(2^(i/2^s)): checked in
    pure integer arithmetic ((lo-1)^(2^s) < 2^i <= lo^(2^s)) — no floats."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from otel_arrow_adapter_spark.operators.metrics_dp import exp2_lower_bound

    @given(st.integers(0, 200), st.integers(-4, 6))
    @settings(max_examples=300, deadline=None)
    def check(i, s):
        lo = exp2_lower_bound(i, s)
        if s < 0:
            assert lo == 1 << (i * (1 << -s))
            return
        p = 1 << s
        assert lo**p >= (1 << i) > (lo - 1) ** p
        # smallest such integer: lo-1 must fail the >= condition unless lo==1
        assert lo == 1 or (lo - 1) ** p < (1 << i)

    check()


SPAN_SAMPLE = [
    {
        "res_idx": 0,
        "scope_name": "tracer.a",
        "trace_id": "0102030405060708090a0b0c0d0e0f10",
        "span_id": "0102030405060708",
        "parent_span_id": "1112131415161718",
        "name": "GET /x",
        "kind": 2,
        "start_time_unix_nano": 1_700_000_000_000_000_000,
        "end_time_unix_nano": 1_700_000_000_000_005_000,
        "status_code": 1,
        "attrs": {"http.method": "GET"},
        "events": [
            {"time_unix_nano": 1_700_000_000_000_001_000, "name": "start"},
            {"time_unix_nano": 1_700_000_000_000_004_000, "name": "end"},
        ],
        "links": [
            {"trace_id": "202122232425262728292a2b2c2d2e2f", "span_id": "3132333435363738"}
        ],
    },
    {
        "res_idx": 1,
        "trace_id": "0102030405060708090a0b0c0d0e0f10",
        "span_id": "2122232425262728",
        "name": "child",
        "kind": 1,
    },
]


def test_pb_trace_roundtrip_pure_python():
    from otel_arrow_adapter_spark.sources import (
        decode_export_trace_request,
        encode_export_trace_request,
    )

    rows = decode_export_trace_request(encode_export_trace_request(SPAN_SAMPLE))
    assert len(rows) == 2
    r0 = next(r for r in rows if r["name"] == "GET /x")
    assert r0["trace_id"] == "0102030405060708090a0b0c0d0e0f10"
    assert r0["span_id"] == "0102030405060708"
    assert r0["parent_span_id"] == "1112131415161718"
    assert r0["kind"] == 2 and r0["status_code"] == 1
    assert r0["start_time_unix_nano"] == 1_700_000_000_000_000_000
    assert r0["end_time_unix_nano"] == 1_700_000_000_000_005_000
    assert r0["n_attrs"] == 1 and r0["n_events"] == 2 and r0["n_links"] == 1
    assert r0["scope_name"] == "tracer.a"
    r1 = next(r for r in rows if r["name"] == "child")
    assert r1["res_idx"] == 1 and r1["parent_span_id"] is None


def test_pb_trace_writer_validates_ids():
    from otel_arrow_adapter_spark.sources import encode_export_trace_request

    with pytest.raises(ValueError, match="trace_id"):
        encode_export_trace_request([{"trace_id": "0102"}])
    with pytest.raises(ValueError, match="parent_span_id"):
        encode_export_trace_request([{"parent_span_id": "01"}])


def test_pb_trace_spark_reader(spark, tmp_path):
    from otel_arrow_adapter_spark.sources import (
        encode_export_trace_request,
        read_pb_spans,
    )

    d = tmp_path / "trace_captures"
    d.mkdir()
    (d / "a.pb").write_bytes(encode_export_trace_request(SPAN_SAMPLE))
    (d / "bad.pb").write_bytes(b"\x9a\xff\x01garbage")

    rows = read_pb_spans(spark, str(d)).collect()
    good = [r for r in rows if r["res_idx"] >= 0]
    bad = [r for r in rows if r["res_idx"] == -1]
    assert len(good) == 2
    assert {r["span_id"] for r in good} == {"0102030405060708", "2122232425262728"}
    assert len(bad) == 1 and "__decode_error__" in bad[0]["name"]


METRIC_SAMPLE = [
    {
        "res_idx": 0, "scope_name": None, "metric_name": "cpu_pct",
        "metric_unit": "%", "metric_type": "gauge",
        "time_unix_nano": 1_700_000_000_000_000_000,
        "value_double": 0.93, "attrs": {"core": "0"},
    },
    {
        "res_idx": 0, "metric_name": "requests", "metric_type": "sum",
        "temporality": 2, "is_monotonic": True,
        "start_time_unix_nano": 1_699_999_000_000_000_000,
        "time_unix_nano": 1_700_000_000_000_000_000,
        "value_int": 12345, "attrs": {},
    },
    {
        "res_idx": 1, "metric_name": "latency_ms", "metric_unit": "ms",
        "metric_type": "histogram", "temporality": 1,
        "time_unix_nano": 1_700_000_000_000_000_000,
        "count": 10, "sum": 123.5,
        "bucket_counts": "1,4,5", "explicit_bounds": "10.0,100.0",
        "attrs": {"route": "/x"},
    },
]


def test_pb_metrics_roundtrip_pure_python():
    from otel_arrow_adapter_spark.sources import (
        decode_export_metrics_request,
        encode_export_metrics_request,
    )

    rows = decode_export_metrics_request(encode_export_metrics_request(METRIC_SAMPLE))
    assert len(rows) == 3
    g = next(r for r in rows if r["metric_name"] == "cpu_pct")
    assert g["metric_type"] == "gauge" and g["metric_unit"] == "%"
    assert g["value_double"] == 0.93 and g["n_attrs"] == 1
    assert g["attrs"] == {"core": "0"}
    s = next(r for r in rows if r["metric_name"] == "requests")
    assert s["metric_type"] == "sum" and s["temporality"] == 2
    assert s["is_monotonic"] is True and s["value_int"] == 12345
    assert s["start_time_unix_nano"] == 1_699_999_000_000_000_000
    h = next(r for r in rows if r["metric_name"] == "latency_ms")
    assert h["metric_type"] == "histogram" and h["temporality"] == 1
    assert h["count"] == 10 and h["sum"] == 123.5
    assert h["bucket_counts"] == "1,4,5"
    assert h["attrs"] == {"route": "/x"}
    assert [float(x) for x in h["explicit_bounds"].split(",")] == [10.0, 100.0]
    assert h["res_idx"] != g["res_idx"]


EXP_HIST_SAMPLE = [
    {
        # latency-in-ns shape: sparse buckets starting at a LARGE offset —
        # the case the r4 NumberDP-layout fallthrough silently garbled
        "res_idx": 0, "metric_name": "rpc_latency_ns",
        "metric_type": "exponential_histogram", "temporality": 2,
        "time_unix_nano": 1_700_000_000_000_000_000,
        "count": 10, "sum": 12345.5, "scale": 0, "zero_count": 1,
        "positive_offset": 30, "positive_bucket_counts": "3,0,4",
        "negative_offset": -2, "negative_bucket_counts": "2",
        "attrs": {"svc": "a"},
    },
    {
        "res_idx": 0, "metric_name": "q_delay",
        "metric_type": "summary",
        "time_unix_nano": 1_700_000_000_000_000_000,
        "count": 100, "sum": 5000.0,
        "quantiles": "0.5:12.0,0.99:130.5",
        "attrs": {"svc": "b"},
    },
]


def test_pb_exp_hist_and_summary_roundtrip():
    """Dedicated ExpHistogramDP / SummaryDP decoders (ADVICE r4: these
    metric types previously fell through to the NumberDP field layout —
    count reinterpreted as double bits, scale landing in value_int, and a
    summary's quantile_values crashing the whole file into quarantine)."""
    from otel_arrow_adapter_spark.sources import (
        decode_export_metrics_request,
        encode_export_metrics_request,
    )

    rows = decode_export_metrics_request(
        encode_export_metrics_request(EXP_HIST_SAMPLE)
    )
    assert len(rows) == 2
    e = next(r for r in rows if r["metric_type"] == "exponential_histogram")
    assert e["count"] == 10 and e["sum"] == 12345.5
    assert e["scale"] == 0 and e["zero_count"] == 1
    assert e["positive_offset"] == 30
    assert e["positive_bucket_counts"] == "3,0,4"
    assert e["negative_offset"] == -2
    assert e["negative_bucket_counts"] == "2"
    assert e["temporality"] == 2 and e["n_attrs"] == 1
    assert e["attrs"] == {"svc": "a"}
    # NumberDP fields stay clean — no field-layout bleed-through
    assert e["value_double"] is None and e["value_int"] is None
    s = next(r for r in rows if r["metric_type"] == "summary")
    assert s["count"] == 100 and s["sum"] == 5000.0
    assert s["quantiles"] == "0.5:12.0,0.99:130.5"
    assert s["n_attrs"] == 1 and s["attrs"] == {"svc": "b"}
    assert s["value_double"] is None and s["value_int"] is None


def test_pb_exp_hist_negative_scale_zigzag():
    from otel_arrow_adapter_spark.sources import (
        decode_export_metrics_request,
        encode_export_metrics_request,
    )

    rows = decode_export_metrics_request(
        encode_export_metrics_request(
            [{"res_idx": 0, "metric_name": "m",
              "metric_type": "exponential_histogram", "scale": -3,
              "positive_offset": -7, "positive_bucket_counts": "1,2"}]
        )
    )
    assert rows[0]["scale"] == -3 and rows[0]["positive_offset"] == -7


def test_pb_summary_does_not_quarantine_file(spark, tmp_path):
    """A capture mixing all five metric types loads fully — one summary
    metric no longer quarantines the whole file (ADVICE r4 failure mode)."""
    from otel_arrow_adapter_spark.sources import (
        encode_export_metrics_request,
        read_pb_metrics,
    )

    d = tmp_path / "mixed_captures"
    d.mkdir()
    (d / "a.pb").write_bytes(
        encode_export_metrics_request(METRIC_SAMPLE + EXP_HIST_SAMPLE)
    )
    rows = read_pb_metrics(spark, str(d)).collect()
    assert all(r["res_idx"] >= 0 for r in rows)
    assert {r["metric_type"] for r in rows} == {
        "gauge", "sum", "histogram", "exponential_histogram", "summary"
    }
    e = next(r for r in rows if r["metric_type"] == "exponential_histogram")
    assert e["positive_offset"] == 30 and e["scale"] == 0
    # DP attr key/values surface through the Spark map column
    assert dict(e["attrs"]) == {"svc": "a"}
    g = next(r for r in rows if r["metric_type"] == "gauge")
    assert dict(g["attrs"]) == {"core": "0"}


def test_pb_log_attr_values_roundtrip():
    """S8 fidelity: the log reader surfaces attribute key/VALUES (not just
    counts) for both record and resource attrs."""
    from otel_arrow_adapter_spark.sources import (
        decode_export_logs_request,
        encode_export_logs_request,
    )

    rows = decode_export_logs_request(encode_export_logs_request(SAMPLE))
    r0 = next(r for r in rows if r["severity_text"] == "INFO")
    assert r0["attrs"] == {"k1": "v1", "k2": "v2"}
    assert r0["res_attrs"] == {"host": "h0"}
    r2 = next(r for r in rows if r["res_idx"] == 1)
    assert r2["attrs"] == {"x": "1"} and r2["res_attrs"] == {}


def test_pb_trace_event_link_values_roundtrip():
    """Span events (name, time) and link ids decode as values, so a .pb
    capture can feed wire_span_children directly (reference ER model,
    docs/data_model.md:310-413)."""
    from otel_arrow_adapter_spark.sources import (
        decode_export_trace_request,
        encode_export_trace_request,
    )

    rows = decode_export_trace_request(encode_export_trace_request(SPAN_SAMPLE))
    r0 = next(r for r in rows if r["name"] == "GET /x")
    assert [e["name"] for e in r0["events"]] == ["start", "end"]
    assert r0["events"][0]["time_unix_nano"] == 1_700_000_000_000_001_000
    assert r0["links"] == [
        {"trace_id": "202122232425262728292a2b2c2d2e2f",
         "span_id": "3132333435363738"}
    ]
    assert r0["attrs"] == {"http.method": "GET"}


def test_pb_capture_feeds_span_star_schema(spark, tmp_path):
    """End-to-end: .pb trace capture -> read_pb_spans -> explode events /
    links into related records -> wire_span_children re-attaches them
    (the decode-side J3 join over a REAL capture, not synthesized rows)."""
    from pyspark.sql import functions as F

    from otel_arrow_adapter_spark.operators.span_records import (
        wire_span_children,
    )
    from otel_arrow_adapter_spark.sources import (
        encode_export_trace_request,
        read_pb_spans,
    )

    d = tmp_path / "star_captures"
    d.mkdir()
    (d / "a.pb").write_bytes(encode_export_trace_request(SPAN_SAMPLE))

    spans = read_pb_spans(spark, str(d)).withColumns(
        {"conv_id": F.col("trace_id"), "turn_idx": F.lit(0),
         "span_hex": F.col("span_id")}
    )
    key = ["conv_id", "turn_idx", "span_hex"]
    events = spans.select(*key, F.explode("events").alias("e")).select(
        *key,
        F.col("e.name").alias("event_name"),
        (F.col("e.time_unix_nano") / 1000).cast("long").alias("event_ts_us"),
    )
    links = spans.select(*key, F.explode("links").alias("l")).select(
        *key,
        F.col("l.trace_id").alias("link_trace_hex"),
        F.col("l.span_id").alias("link_span_hex"),
    )
    wired = wire_span_children(
        spans.drop("events", "links", "n_events", "n_links"), events, links
    )
    w0 = next(r for r in wired.collect() if r["name"] == "GET /x")
    assert w0["n_events"] == 2 and w0["n_links"] == 1
    assert w0["last_event_ts_us"] - w0["first_event_ts_us"] == 3  # 3000 ns
    w1 = next(r for r in wired.collect() if r["name"] == "child")
    assert w1["n_events"] == 0 and w1["n_links"] == 0


def test_pb_metrics_spark_reader(spark, tmp_path):
    from otel_arrow_adapter_spark.sources import (
        encode_export_metrics_request,
        read_pb_metrics,
    )

    d = tmp_path / "metric_captures"
    d.mkdir()
    (d / "a.pb").write_bytes(encode_export_metrics_request(METRIC_SAMPLE))
    (d / "bad.pb").write_bytes(b"\x0a\xff\xff\x7fgarbage")

    rows = read_pb_metrics(spark, str(d)).collect()
    good = [r for r in rows if r["res_idx"] >= 0]
    bad = [r for r in rows if r["res_idx"] == -1]
    assert {r["metric_type"] for r in good} == {"gauge", "sum", "histogram"}
    assert len(bad) == 1 and "__decode_error__" in bad[0]["metric_name"]


# ---------------------------------------------------------------------------
# write_pb_* differential: input builder + capture writer against the
# per-query mapInPandas closures they replaced (kept here as the reference)
# ---------------------------------------------------------------------------

def _closure_capture(df, out, to_record, encode):
    """The replaced form: mapInPandas, pandas NaN -> None, per-field record
    coercion in Python, one part-<partitionId>.pb file per non-empty
    partition."""
    import os
    import sys

    from pyspark import cloudpickle
    from pyspark.sql import functions as F

    # the record builders below live in this test module, which workers
    # cannot import: ship them by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    os.makedirs(out, exist_ok=True)

    def write_pb(batches):
        import os

        import pandas as pd
        from pyspark import TaskContext

        recs = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            clean = pdf.astype(object).where(pdf.notna(), None)
            recs.extend(to_record(r) for r in clean.to_dict("records"))
        if recs:
            pid = TaskContext.get().partitionId()
            with open(os.path.join(out, f"part-{pid:05d}.pb"), "wb") as f:
                f.write(encode(recs))
        yield pd.DataFrame({"n": [len(recs)]})

    df.mapInPandas(write_pb, "n long").agg(F.sum("n")).collect()


def _old_log_record(r):
    return {
        "res_idx": 0,
        "severity_text": r["severity_text"],
        "severity_number": None
        if r["severity_number"] is None
        else int(r["severity_number"]),
        "body": r["body"],
        "time_unix_nano": None
        if r["time_unix_nano"] is None
        else int(r["time_unix_nano"]),
    }


def _old_exp_hist_record(r):
    return {
        "res_idx": 0,
        "metric_name": r["metric_name"],
        "metric_unit": r["metric_unit"],
        "metric_type": "exponential_histogram",
        "time_unix_nano": 1_700_000_000_000_000_000,
        "count": int(r["count"]),
        "sum": float(r["sum"]),
        "scale": int(r["scale"]),
        "zero_count": int(r["zero_count"]),
        "positive_offset": int(r["positive_offset"]),
        "positive_bucket_counts": r["pos_csv"] or None,
        "negative_offset": int(r["negative_offset"]),
        "negative_bucket_counts": r["neg_csv"] or None,
        "attrs": {"unit": r["metric_unit"] or ""},
    }


def _old_span_record(r):
    start_ns = int(r["start_ns"])
    dur = None if r["dur_ms"] is None else int(r["dur_ms"])
    events = [{"time_unix_nano": start_ns, "name": "span.start"}]
    end_ns = None
    status = None
    if dur is not None:
        end_ns = start_ns + dur * 1_000_000
        events.append({"time_unix_nano": end_ns, "name": "span.end"})
        status = dur % 3
    links = (
        []
        if r["parent16"] is None
        else [{"trace_id": r["trace_hex"], "span_id": r["parent16"]}]
    )
    return {
        "res_idx": 0,
        "trace_id": r["trace_hex"],
        "span_id": r["span_hex"],
        "parent_span_id": r["parent16"],
        "name": r["name"],
        "kind": int(r["kind"]),
        "start_time_unix_nano": start_ns,
        "end_time_unix_nano": end_ns,
        "status_code": status,
        "attrs": {"conv": r["conv_id"]},
        "events": events,
        "links": links,
    }


def _bag(rows, drop=("path", "res_idx")):
    """Order-insensitive multiset of decoded rows, minus positional fields."""
    import json

    return sorted(
        json.dumps({k: v for k, v in r.items() if k not in drop}, sort_keys=True)
        for r in rows
    )


def _files(d):
    import os

    return sorted(f for f in os.listdir(d) if f.endswith(".pb"))


def _check_writer(spark, tmp_path, old_in, new_in, to_record, encode, decode,
                  write, read, drop=("path", "res_idx")):
    """write+read of ``new_in`` == decode of the closure form's files over
    ``old_in``; same file names; one file per non-empty partition; a second
    write into the same dir clears it and reproduces names and rows."""
    ref, out = str(tmp_path / "ref"), str(tmp_path / "out")
    _closure_capture(old_in, ref, to_record, encode)
    n = write(new_in, out)
    got = [r.asDict(recursive=True) for r in read(spark, out).collect()]
    want = []
    for f in _files(ref):
        with open(f"{ref}/{f}", "rb") as fh:
            want.extend(decode(fh.read(), f))
    assert n == new_in.count() == len(got)
    assert all(r["res_idx"] >= 0 for r in got)
    assert _bag(got, drop) == _bag(want, drop)
    assert _files(out) == _files(ref)
    sizes = new_in.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert len(_files(out)) == sum(1 for s in sizes if s) < len(sizes)

    (tmp_path / "out" / "part-99999.pb").write_bytes(b"stale")
    assert write(new_in, out) == n
    assert _files(out) == _files(ref)
    again = [r.asDict(recursive=True) for r in read(spark, out).collect()]
    assert _bag(again, ()) == _bag(got, ())
    return got


def test_write_pb_logs_matches_closure_form(spark, tmp_path):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from otel_arrow_adapter_spark.sources import (
        decode_export_logs_request,
        encode_export_logs_request,
        read_pb_logs,
        write_pb_logs,
    )

    parsed = spark.createDataFrame(
        [
            ("log", "conv-1", 1_700_000_000_000_000, 9, "INFO", "hello", "grep"),
            ("log", "conv-2", None, None, "WARN", None, None),
            ("log", "conv-3", 1_700_000_000_000_001, 17, "ERROR", "boom", None),
            ("log", "conv-4", 5, 13, None, "", "ls"),
            ("metric", "conv-5", 7, 9, "INFO", "not a log", None),
        ],
        "signal_type string, conv_id string, log_ts_us long, "
        "severity_number int, severity_text string, msg string, tool string",
    ).repartition(6, "conv_id")
    old_in = parsed.where(F.col("signal_type") == "log").select(
        "severity_text",
        "severity_number",
        F.col("msg").alias("body"),
        (F.col("log_ts_us") * 1000).alias("time_unix_nano"),
    )
    got = _check_writer(
        spark, tmp_path, old_in, entry._capture_logs(parsed), _old_log_record,
        encode_export_logs_request, decode_export_logs_request,
        write_pb_logs, read_pb_logs, drop=("path", "res_idx", "attrs", "n_attrs"),
    )
    # the tool attribute is the one field the closure form did not carry;
    # a null tool is a null map and decodes as no attributes
    assert sorted((r["body"] or "", r["n_attrs"], r["attrs"]) for r in got) == [
        ("", 0, {}), ("", 1, {"tool": "ls"}), ("boom", 0, {}),
        ("hello", 1, {"tool": "grep"}),
    ]


def test_write_pb_metrics_matches_closure_form(spark, tmp_path):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from otel_arrow_adapter_spark.operators.metrics_dp import exp_histogram_rollup
    from otel_arrow_adapter_spark.sources import (
        decode_export_metrics_request,
        encode_export_metrics_request,
        read_pb_metrics,
        write_pb_metrics,
    )

    pts = spark.createDataFrame(
        [
            ("lat", "ms", 1500), ("lat", "ms", 700), ("lat", "ms", 1000),
            ("q", None, 3000), ("q", None, 5), ("up", "1", 1001),
        ],
        "metric_name string, metric_unit string, metric_value long",
    )
    old_in = exp_histogram_rollup(
        pts.withColumn("value_delta", F.col("metric_value") - F.lit(1000)),
        max_buckets=18, value_col="value_delta",
    ).select(
        "metric_name", "metric_unit", "count", "sum", "scale", "zero_count",
        "positive_offset",
        F.array_join("positive_bucket_counts", ",").alias("pos_csv"),
        "negative_offset",
        F.array_join("negative_bucket_counts", ",").alias("neg_csv"),
    ).repartition(6, "metric_name")
    new_in = entry._capture_exp_hists(pts).repartition(6, "metric_name")
    got = _check_writer(
        spark, tmp_path, old_in, new_in, _old_exp_hist_record,
        encode_export_metrics_request, decode_export_metrics_request,
        write_pb_metrics, read_pb_metrics,
    )
    assert {r["metric_name"]: r["attrs"] for r in got} == {
        "lat": {"unit": "ms"}, "q": {"unit": ""}, "up": {"unit": "1"},
    }
    assert {r["metric_name"]: r["negative_bucket_counts"] for r in got}["lat"] == "1"


def test_write_pb_spans_matches_closure_form(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from otel_arrow_adapter_spark.sources import (
        decode_export_trace_request,
        encode_export_trace_request,
        read_pb_spans,
        write_pb_spans,
    )

    t0 = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    tp = spark.createDataFrame(
        [
            ("conv-1", "00000000000000a1", None, 0, t0, 120),
            ("conv-1", "00000000000000a2", "a1", 1, t0 + dt.timedelta(seconds=1), None),
            ("conv-2", "00000000000000b1", "b0", 2, t0 + dt.timedelta(minutes=5), 7),
            ("conv-3", "00000000000000c1", None, 3, t0 + dt.timedelta(hours=1), None),
        ],
        "conv_id string, span_hex string, parent_hex string, turn_idx int, "
        "ts timestamp_ntz, dur_ms long",
    ).repartition(6, "conv_id")
    old_in = tp.select(
        "conv_id",
        F.md5(F.col("conv_id")).alias("trace_hex"),
        F.col("span_hex"),
        F.when(
            F.col("parent_hex").isNotNull(), F.lpad("parent_hex", 16, "0")
        ).alias("parent16"),
        F.concat(F.lit("op-"), F.col("conv_id")).alias("name"),
        (F.col("turn_idx") % 4 + 1).cast("int").alias("kind"),
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("start_ns"),
        F.col("dur_ms").cast("long").alias("dur_ms"),
    )
    got = _check_writer(
        spark, tmp_path, old_in, entry._capture_spans(tp), _old_span_record,
        encode_export_trace_request, decode_export_trace_request,
        write_pb_spans, read_pb_spans,
    )
    by_span = {r["span_id"]: r for r in got}
    assert [e["name"] for e in by_span["00000000000000a1"]["events"]] == [
        "span.start", "span.end"
    ]
    assert by_span["00000000000000a1"]["links"] == []
    assert by_span["00000000000000a2"]["end_time_unix_nano"] is None
    assert by_span["00000000000000a2"]["status_code"] is None
    assert by_span["00000000000000a2"]["links"][0]["span_id"] == "00000000000000a1"


# ---------------------------------------------------------------------------
# Oracle gate for the six capture round trips (.pb and protojson, per signal)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def duck():
    import duckdb

    from conftest import SF_DIR
    from tools.oracle_check import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", [
    "pipeline_pb_capture_roundtrip",
    "pipeline_otlp_json_roundtrip",
    "pipeline_pb_metrics_roundtrip",
    "pipeline_otlp_json_metrics_roundtrip",
    "pipeline_pb_traces_roundtrip",
    "pipeline_otlp_json_traces_roundtrip",
])
def test_capture_roundtrip_matches_oracle(spark, duck, name):
    """Row count, column names and the order-insensitive value hash agree
    with the DuckDB oracle, the same comparison tools/oracle_check.py runs."""
    import __spark_entry__ as entry
    from conftest import SF_DIR
    from tools.oracle_check import norm_rows

    sdf = entry.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entry.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert srows
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert norm_rows(sdf.columns, srows) == norm_rows(dcols, drows)
