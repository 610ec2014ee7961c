"""Parse + classify + melt tests — mirrors the reference's builder unit tests
(pkg/otel/logs/arrow/all_test.go) re-expressed for the text grammar."""

from pyspark.sql import functions as F

from otel_arrow_adapter_spark.operators import melt_attributes, parse_turns
from otel_arrow_adapter_spark.operators.enrich import enrich_with_catalog
from otel_arrow_adapter_spark.operators.melt import ATTR_BOOL, ATTR_INT, ATTR_STR
from otel_arrow_adapter_spark.operators.normalize import assign_surrogate_ids
from otel_arrow_adapter_spark.operators.parse import CANONICAL
from otel_arrow_adapter_spark.operators.route import label_sinks, suppress_rebuildable_text


def test_classification_partition(spark, transcripts):
    parsed = parse_turns(transcripts)
    by_type = dict(parsed.groupBy("signal_type").count().collect())
    assert set(by_type) == {"log", "metric", "trace", "quarantine"}
    assert sum(by_type.values()) == transcripts.count()


def test_log_fields(spark):
    df = spark.createDataFrame(
        [("c-1", 0, "system", 'ts_us=1704067200000000 level=ERROR msg="boom" code=42 retry=true', None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    row = parse_turns(df).collect()[0]
    assert row.signal_type == "log"
    assert row.log_ts_us == 1704067200000000
    assert row.severity_text == "ERROR"
    assert row.severity_number == 17
    assert row.msg == "boom"
    assert row.code == 42
    assert row.retry is True
    assert row.body.str == "boom"


def test_metric_and_trace_fields(spark):
    df = spark.createDataFrame(
        [
            ("c", 0, "user", "name=view_latency value=123 unit=ms", "tool-1", None),
            ("c", 1, "tool", "span=00000000000000ab parent=000000cd dur_ms=7", "tool-2", None),
            ("c", 2, "user", "!!corrupt payload 9", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = {r.turn_idx: r for r in parse_turns(df).collect()}
    assert rows[0].signal_type == "metric" and rows[0].metric_value == 123 and rows[0].metric_unit == "ms"
    assert rows[1].signal_type == "trace" and rows[1].dur_ms == 7
    assert rows[1].span_hex == "00000000000000ab" and rows[1].parent_hex == "000000cd"
    assert rows[2].signal_type == "quarantine"


def test_optional_fields_are_null_not_empty(spark):
    """P6 non-default suppression: missing keys -> null (never '')."""
    df = spark.createDataFrame(
        [("c", 0, "system", 'ts_us=1 level=INFO msg="x" code=5', None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    row = parse_turns(df).collect()[0]
    assert row.retry is None
    assert row.metric_name is None and row.span_hex is None


def test_canonical_covers_every_rebuildable_row(synth_transcripts, catalog):
    """Every row whose text the typed columns rebuild byte-exactly is a
    canonical line, so it takes parse's by-position fast path. The
    differential tests cannot see a CANONICAL that matches too little: the
    tokenizer would then parse every row, correctly and slowly."""
    labeled = label_sinks(enrich_with_catalog(
        assign_surrogate_ids(parse_turns(synth_transcripts), mode="hash"), catalog
    )).withColumn("raw", F.col("text"))
    rebuildable = suppress_rebuildable_text(labeled).where(
        F.col("text").isNull() & F.col("raw").isNotNull()
    )
    assert rebuildable.count() > 0
    assert rebuildable.where(~F.col("raw").rlike(CANONICAL)).count() == 0


def test_melt_shape_and_union_invariant(spark, transcripts):
    parsed = parse_turns(transcripts)
    attrs = melt_attributes(parsed)
    # exactly one typed value column non-null per row (AnyValue union invariant)
    from otel_arrow_adapter_spark.operators.melt import VALUE_COLS

    n_set = sum(F.col(c).isNotNull().cast("int") for c in VALUE_COLS)
    assert attrs.where(n_set != 1).count() == 0
    # type tag matches the non-null column
    assert attrs.where((F.col("type") == ATTR_STR) & F.col("str").isNull()).count() == 0
    assert attrs.where((F.col("type") == ATTR_INT) & F.col("int").isNull()).count() == 0
    assert attrs.where((F.col("type") == ATTR_BOOL) & F.col("bool").isNull()).count() == 0
    # no empty keys (attributes.go:237-239 skip-empty semantics)
    assert attrs.where(F.col("key") == "").count() == 0


def test_capture_roundtrip_json_compressed(spark, transcripts, tmp_path):
    """S6/S7: capture as zstd JSON lines, replay, per-turn equality."""
    from otel_arrow_adapter_spark.sources.readers import read_capture, write_capture

    path = str(tmp_path / "capture")
    write_capture(transcripts, path, fmt="json")
    import glob
    assert glob.glob(f"{path}/*.gz"), "capture files not compressed"
    back = read_capture(
        spark, path,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz",
    ).select("conv_id", "turn_idx", "role", "text", "tool")
    orig = transcripts.select("conv_id", "turn_idx", "role", "text", "tool")
    assert orig.exceptAll(back).count() == 0
    assert back.exceptAll(orig).count() == 0


def test_melt_full_anyvalue_union(spark, transcripts):
    """P4/P8: the melt covers all 6 union arms (str/int/double/bool/bytes/
    ser), exactly one value column non-null per row, and ser round-trips
    through from_json (the CBOR escape-hatch analog, cbor.go:42-66)."""
    import pyspark.sql.functions as F
    from otel_arrow_adapter_spark.operators.melt import (
        VALUE_COLS,
        decode_ser,
        melt_attributes,
    )
    from otel_arrow_adapter_spark.operators.parse import parse_turns

    parsed = parse_turns(transcripts).cache()
    attrs = melt_attributes(parsed).cache()
    tags = {r[0] for r in attrs.select("type").distinct().collect()}
    assert tags == {1, 2, 3, 4, 5, 6}
    n_set = sum(F.col(c).isNotNull().cast("int") for c in VALUE_COLS)
    assert attrs.where(n_set != 1).count() == 0
    # P8 decode: the nested link value reconstructs (parent_hex, dur_ms)
    dec = attrs.where(F.col("key") == "link").select(
        "conv_id", "turn_idx", decode_ser(F.col("ser"), "parent string, dur long").alias("v")
    ).select("conv_id", "turn_idx", "v.parent", "v.dur")
    orig = parsed.where(
        F.col("parent_hex").isNotNull() & F.col("dur_ms").isNotNull()
    ).select("conv_id", "turn_idx", F.col("parent_hex").alias("parent"), F.col("dur_ms").alias("dur"))
    assert dec.exceptAll(orig).count() == 0 and orig.exceptAll(dec).count() == 0
    # bytes arm is the binary span id
    sb = attrs.where(F.col("key") == "span_bytes").select(F.lower(F.hex("bytes")).alias("h"))
    sp = parsed.where(F.col("span_hex").isNotNull()).select(F.col("span_hex").alias("h"))
    assert sb.exceptAll(sp).count() == 0 and sp.exceptAll(sb).count() == 0


def test_body_union_all_arms_roundtrip(spark):
    """P5: typed bodies flow through the full union shape and decode back
    via the tag dispatch (logs.go:289-400 encode / logs.go:165-228 decode)."""
    from otel_arrow_adapter_spark.operators.parse import BODY_ARMS, body_value, make_body

    df = spark.createDataFrame(
        [("abc", 7, 1.5, True, "0a0b", '{"k":1}')],
        "s string, i long, d double, b boolean, hx string, j string",
    )
    src = {
        "str": F.col("s"),
        "int": F.col("i"),
        "double": F.col("d"),
        "bool": F.col("b"),
        "bytes": F.unhex("hx"),
        "ser": F.col("j"),
    }
    bodies = df.select(*[make_body(src[k], k).alias(f"body_{k}") for k in BODY_ARMS])
    row = bodies.select(
        *[body_value(F.col(f"body_{k}"), k).alias(k) for k in BODY_ARMS],
        # cross-arm dispatch must null out (tag mismatch)
        body_value(F.col("body_int"), "str").alias("wrong"),
    ).collect()[0]
    assert row["str"] == "abc" and row["int"] == 7 and row["double"] == 1.5
    assert row["bool"] is True and row["bytes"] == b"\x0a\x0b" and row["ser"] == '{"k":1}'
    assert row["wrong"] is None


def test_field_frequencies_topk_ties(spark):
    """A2 analyzer depth: exact top-k per column, ties broken by value asc,
    nulls excluded, k bound respected."""
    from otel_arrow_adapter_spark.operators.aggregate import field_frequencies

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "y"), ("b", None), ("c", "z")],
        "u string, v string",
    )
    rows = {(r["column"], r["value"]): r["n"] for r in field_frequencies(df, ["u", "v"], k=2).collect()}
    assert rows == {("u", "a"): 2, ("u", "b"): 2, ("v", "y"): 2, ("v", "x"): 1}


def test_enrich_asof_picks_version_at_timestamp(spark):
    """As-of enrichment: the newest version with valid_from <= ts wins;
    rows before every version get null; no fact-side shuffle (broadcast +
    array lookup only)."""
    from otel_arrow_adapter_spark.operators.enrich import enrich_asof

    facts = spark.createDataFrame(
        [("t1", "2024-01-01 00:00:00"), ("t1", "2024-02-01 00:00:00"),
         ("t1", "2023-01-01 00:00:00"), ("t2", "2024-02-01 00:00:00")],
        "tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    vers = spark.createDataFrame(
        [("t1", 1704067200000000, "svc-a"), ("t1", 1705276800000000, "svc-b"),
         ("t2", 1704067200000000, "svc-c")],
        "tool string, valid_from_us long, service_name string",
    )
    out = enrich_asof(facts, vers)
    rows = [(r.tool, str(r.ts), r.service_name) for r in out.collect()]
    assert ("t1", "2024-01-01 00:00:00", "svc-a") in rows
    assert ("t1", "2024-02-01 00:00:00", "svc-b") in rows
    assert ("t1", "2023-01-01 00:00:00", None) in rows  # predates all versions
    assert ("t2", "2024-02-01 00:00:00", "svc-c") in rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_distinct_sketch_merges(spark, transcripts):
    """HLL sketch distinct counts: per-group estimates within 5% of exact,
    and the GLOBAL estimate obtained purely by merging per-group sketches
    (no rescan) matches the exact global distinct within 5% — the
    mergeability property exact countDistinct partials lack."""
    from otel_arrow_adapter_spark.operators.aggregate import distinct_sketch_counts

    per, glob = distinct_sketch_counts(transcripts, "role", "conv_id")
    exact = {
        r.role: r.n
        for r in transcripts.groupBy("role")
        .agg(F.countDistinct("conv_id").alias("n"))
        .collect()
    }
    for r in per.collect():
        assert abs(r.n_distinct_est - exact[r.role]) <= max(1, 0.05 * exact[r.role])
    exact_glob = transcripts.select("conv_id").distinct().count()
    est_glob = glob.collect()[0].n_distinct_est
    assert abs(est_glob - exact_glob) <= max(1, 0.05 * exact_glob)
