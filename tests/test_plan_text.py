"""The write path's expressions are SQL text; this keeps the Column-API forms
they replaced as the reference and checks that both build the same schema
(names and types) and the same rows, as multisets, on adversarial input."""

import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_arrow_adapter_spark.operators import parse as parse_mod
from otel_arrow_adapter_spark.operators.enrich import enrich_with_catalog
from otel_arrow_adapter_spark.operators.normalize import assign_surrogate_ids
from otel_arrow_adapter_spark.operators.parse import classify_signal, make_body, parse_turns
from otel_arrow_adapter_spark.operators.route import (
    label_sinks,
    rebuild_text,
    restore_text,
    sink_label,
    suppress_rebuildable_text,
)

# ---------------------------------------------------------------------------
# Reference: the Column-API builders as they were before the SQL-text form.
# ---------------------------------------------------------------------------
_SEV = {"TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}
_ARMS = {"str": "string", "int": "long", "double": "double",
         "bool": "boolean", "bytes": "binary", "ser": "string"}
_GRAMMAR = {"ts_us": r"[0-9]+", "level": r"[A-Z]+", "code": r"[0-9]+",
            "retry": r"true|false", "name": r"[a-z_]+", "value": r"-?[0-9]+",
            "unit": r"[a-z%]+", "span": r"[0-9a-f]{16}", "parent": r"[0-9a-f]{8}",
            "dur_ms": r"[0-9]+"}
_TOKENIZE = """
transform(split(regexp_replace(text, ' msg="[^"]*"', ''), ' '),
          s -> struct(substring_index(s, '=', 1) AS k,
                      CASE WHEN instr(s, '=') > 0
                           THEN nullif(substring(s, instr(s, '=') + 1), '')
                      END AS v))
"""


_TAG = {"str": 1, "int": 2, "double": 3, "bool": 4, "bytes": 5, "ser": 6}


def _ref_make_body(value: Column, kind: str) -> Column:
    fields = [F.lit(_TAG[kind]).cast("tinyint").alias("body_type")]
    for arm, t in _ARMS.items():
        v = value.cast(t) if arm == kind else F.lit(None).cast(t)
        fields.append(v.alias(arm))
    return F.struct(*fields)


def _ref_classify(t: Column) -> Column:
    return (
        F.when(t.rlike(r"^ts_us=[0-9]+ level="), F.lit("log"))
        .when(t.rlike(r"^name=[a-z_]+ value="), F.lit("metric"))
        .when(t.rlike(r"^span=[0-9a-f]{16} parent="), F.lit("trace"))
        .otherwise(F.lit("quarantine"))
    )


def _ref_sink() -> Column:
    return F.when(
        (F.col("signal_type") == "quarantine")
        | F.coalesce(F.col("tool_known") == False, F.lit(False)),  # noqa: E712
        F.lit("quarantine"),
    ).otherwise(F.concat(F.col("signal_type"), F.lit("s")))


def _ref_vfield(kv: Column, key: str) -> Column:
    first = F.try_element_at(F.filter(kv, lambda p: p["k"] == key), F.lit(1))["v"]
    return F.nullif(F.regexp_extract(first, f"^({_GRAMMAR[key]})", 1), F.lit(""))


def ref_parse_turns(df: DataFrame) -> DataFrame:
    t, sig, kv = F.col("text"), F.col("signal_type"), F.col("__kv")

    def when_sig(s, col):
        return F.when(sig == s, col)

    sev_text = when_sig("log", _ref_vfield(kv, "level"))
    sev_num = F.element_at(
        F.create_map(*[y for k, v in _SEV.items() for y in (F.lit(k), F.lit(v))]), sev_text
    )
    msg = when_sig("log", F.nullif(F.regexp_extract(t, r' msg="([^"]*)"', 1), F.lit("")))
    retry_v = when_sig("log", _ref_vfield(kv, "retry"))
    return (
        df.withColumn("signal_type", _ref_classify(t))
        .withColumn("__kv", F.expr(_TOKENIZE))
        .select(
            "conv_id", "turn_idx", "role", "tool", "ts", "text", "signal_type",
            when_sig("log", _ref_vfield(kv, "ts_us")).try_cast("long").alias("log_ts_us"),
            sev_text.alias("severity_text"),
            sev_num.cast("int").alias("severity_number"),
            msg.alias("msg"),
            when_sig("log", _ref_vfield(kv, "code")).try_cast("long").alias("code"),
            F.when(retry_v == "true", F.lit(True))
            .when(retry_v == "false", F.lit(False)).alias("retry"),
            when_sig("metric", _ref_vfield(kv, "name")).alias("metric_name"),
            when_sig("metric", _ref_vfield(kv, "value")).try_cast("long").alias("metric_value"),
            when_sig("metric", _ref_vfield(kv, "unit")).alias("metric_unit"),
            when_sig("trace", _ref_vfield(kv, "span")).alias("span_hex"),
            when_sig("trace", _ref_vfield(kv, "parent")).alias("parent_hex"),
            when_sig("trace", _ref_vfield(kv, "dur_ms")).try_cast("long").alias("dur_ms"),
            _ref_make_body(msg, "str").alias("body"),
        )
    )


def ref_hash_ids(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "res_id", F.xxhash64(F.coalesce(F.col("tool"), F.lit("")))
    ).withColumn("scope_id", F.xxhash64(F.coalesce(F.col("role"), F.lit(""))))


def ref_enrich(df: DataFrame, catalog: DataFrame) -> DataFrame:
    out = df.join(F.broadcast(catalog.withColumn("tool_known", F.lit(True))), on="tool", how="left")
    return out.withColumn(
        "tool_known",
        F.when(F.col("tool").isNull(), F.lit(None).cast("boolean")).otherwise(
            F.coalesce(F.col("tool_known"), F.lit(False))
        ),
    )


def ref_label_sinks(parsed: DataFrame) -> DataFrame:
    df = parsed
    if "tool_known" not in df.columns:
        df = df.withColumn("tool_known", F.lit(None).cast("boolean"))
    df = df.withColumn("sink", _ref_sink())
    return df.withColumn("error", F.when(
        F.col("sink") == "quarantine",
        F.when(F.col("signal_type") == "quarantine", F.lit("unparseable_text"))
        .otherwise(F.lit("unknown_tool")),
    ))


def _ref_rebuild_text() -> Column:
    c = F.col
    log = F.concat(
        F.lit("ts_us="), c("log_ts_us").cast("string"), F.lit(" level="), c("severity_text"),
        F.lit(' msg="'), c("msg"), F.lit('"'), F.lit(" code="), c("code").cast("string"),
        F.coalesce(F.concat(F.lit(" retry="), c("retry").cast("string")), F.lit("")),
    )
    metric = F.concat(
        F.lit("name="), c("metric_name"), F.lit(" value="), c("metric_value").cast("string"),
        F.coalesce(F.concat(F.lit(" unit="), c("metric_unit")), F.lit("")),
    )
    trace = F.concat(
        F.lit("span="), c("span_hex"), F.lit(" parent="), c("parent_hex"),
        F.lit(" dur_ms="), c("dur_ms").cast("string"),
    )
    sink = c("sink")
    return F.when(sink == "logs", log).when(sink == "metrics", metric).when(sink == "traces", trace)


def ref_suppress(df: DataFrame) -> DataFrame:
    return df.withColumn("text", F.when(~_ref_rebuild_text().eqNullSafe(F.col("text")), F.col("text")))


def ref_restore(df: DataFrame) -> DataFrame:
    return df.withColumn("text", F.coalesce(F.col("text"), _ref_rebuild_text()))


# ---------------------------------------------------------------------------

BIG_MSG = "x" * (3 << 20)

ADVERSARIAL = [
    # the malformed values of test_parse_paths_agree_on_malformed_values
    ("c-0", 0, "u", None, 'ts_us=1 level=info msg="m" code=7 retry=true'),
    ("c-1", 1, "u", None, 'ts_us=2 level=INFOX msg="m" code=9x retry=truex'),
    ("c-2", 2, "u", None, "name=cpu value=-12x unit=MS"),
    ("c-3", 3, "u", None, "span=0123456789abcdef parent=zzz dur_ms=5"),
    ("c-4", 4, "u", None, "span=0123456789abcdef parent=0123456789 dur_ms=5"),
    ("c-5", 5, "u", None, 'ts_us=3 level= msg="" code='),
    # null text, tool and role
    ("c-6", 0, None, None, None),
    ("c-6", 1, None, "tool-1", 'ts_us=4 level=WARN msg="ok" code=1'),
    ("c-6", 2, "user", None, "name=q value=3"),
    # tokens without '=', empty values, a duplicate key outside msg
    ("c-7", 0, "u", "tool-2", 'ts_us=5 level=ERROR bare msg="a b" code= retry= junk'),
    ("c-7", 1, "u", "tool-2", "name=cpu value=1 value=2 unit=ms unit=s"),
    ("c-7", 2, "u", "tool-3", "span=00000000000000ab parent=000000cd dur_ms= extra"),
    # key=value inside a quoted msg
    ("c-8", 0, "u", "tool-4", 'ts_us=6 level=INFO msg="code=99 retry=false level=FATAL" code=2'),
    # keys that belong to other signals: per-signal fields stay null
    ("c-8", 1, "u", "tool-4", 'ts_us=6 level=INFO msg="m" code=2 unit=ms span=0123456789abcdef'),
    ("c-8", 2, "u", "tool-4", "name=cpu value=1 level=ERROR dur_ms=4"),
    # a negative turn_idx
    ("c-9", -3, "u", "tool-5", 'ts_us=7 level=DEBUG msg="neg" code=3 retry=false'),
    # a tool the catalog does not know, and well-formed rows of each signal
    ("c-10", 0, "tool", "no-such-tool", 'ts_us=8 level=TRACE msg="t" code=4'),
    ("c-10", 1, "tool", "tool-1", "span=0123456789abcdef parent=01234567 dur_ms=9"),
    ("c-10", 2, "tool", "tool-1", "name=view_latency value=-5 unit=%"),
    ("c-10", 3, "tool", "tool-2", "!!corrupt payload 9"),
    # one multi-MB text
    ("c-11", 0, "u", "tool-1", f'ts_us=9 level=INFO msg="{BIG_MSG}" code=5'),
    # the canonical-line boundary: rows just inside and just outside
    # parse.CANONICAL, where fields are read by token position
    # a trailing newline, and a newline inside a token
    ("c-12", 0, "u", "tool-1", 'ts_us=10 level=INFO msg="nl" code=1 retry=true\n'),
    ("c-12", 1, "u", "tool-1", "name=cpu value=1 unit=ms\n"),
    ("c-12", 2, "u", "tool-1", "span=0123456789abcdef parent=0123\n4567 dur_ms=3"),
    ("c-12", 3, "u", "tool-1", 'ts_us=10 level=IN\nFO msg="nl" code=1'),
    # optional retry/unit present and absent
    ("c-13", 0, "u", "tool-1", 'ts_us=11 level=WARN msg="r" code=2 retry=false'),
    ("c-13", 1, "u", "tool-1", 'ts_us=11 level=WARN msg="r" code=2'),
    ("c-13", 2, "u", "tool-1", "name=mem value=7 unit=mb"),
    ("c-13", 3, "u", "tool-1", "name=mem value=7"),
    # a canonical line plus one token, a repeated key after a canonical line,
    # a trailing space
    ("c-14", 0, "u", "tool-1", 'ts_us=12 level=INFO msg="e" code=3 retry=true extra'),
    ("c-14", 1, "u", "tool-1", "name=cpu value=1 unit=ms value=9"),
    ("c-14", 2, "u", "tool-1", "span=0123456789abcdef parent=01234567 dur_ms=1 dur_ms=2"),
    ("c-14", 3, "u", "tool-1", 'ts_us=12 level=INFO msg="e" code=3 code=4'),
    ("c-14", 4, "u", "tool-1", "name=cpu value=1 "),
    # values whose text a cast does not give back, an empty msg, a ts_us
    # past BIGINT
    ("c-15", 0, "u", "tool-1", 'ts_us=13 level=INFO msg="z" code=007'),
    ("c-15", 1, "u", "tool-1", "name=cpu value=-0 unit=%"),
    ("c-15", 2, "u", "tool-1", 'ts_us=13 level=INFO msg="" code=1'),
    ("c-15", 3, "u", "tool-1", 'ts_us=99999999999999999999 level=INFO msg="o" code=1'),
    # a msg that holds ' msg=', bare keys before their key=value token
    ("c-16", 0, "u", "tool-1", 'ts_us=14 level=INFO msg="x msg=" code=1'),
    ("c-16", 1, "u", "tool-1", 'ts_us=14 level level=INFO msg="b" code=1'),
    ("c-16", 2, "u", "tool-1", 'ts_us=14 level=INFO msg="b" code code=1'),
    # non-ASCII inside msg
    ("c-17", 0, "u", "tool-1", 'ts_us=15 level=INFO msg="héllo ✓ 日本語" code=4 retry=false'),
]


@pytest.fixture(scope="module")
def adversarial(spark):
    return spark.createDataFrame(
        ADVERSARIAL, "conv_id string, turn_idx int, role string, tool string, text string"
    ).withColumn("ts", F.current_timestamp())


@pytest.fixture(scope="module")
def tiny_catalog(spark):
    return spark.createDataFrame(
        [(f"tool-{i}", f"svc-{i}") for i in range(1, 5)], "tool string, service_name string"
    )


def _assert_same(ref: DataFrame, got: DataFrame) -> None:
    assert [(f.name, f.dataType) for f in ref.schema] == [(f.name, f.dataType) for f in got.schema]
    assert ref.exceptAll(got).count() == 0
    assert got.exceptAll(ref).count() == 0


def test_parse_turns_matches_column_api(adversarial, synth_transcripts):
    _assert_same(ref_parse_turns(adversarial), parse_turns(adversarial))
    _assert_same(adversarial.select(_ref_classify(F.col("text")).alias("s")),
                 adversarial.select(classify_signal().alias("s")))
    _assert_same(ref_parse_turns(synth_transcripts), parse_turns(synth_transcripts))
    big = parse_turns(adversarial).where(F.col("conv_id") == "c-11").select("msg", "body").first()
    assert big["msg"] == BIG_MSG and big["body"]["str"] == BIG_MSG


def test_make_body_matches_column_api(spark):
    df = spark.createDataFrame(
        [("abc", 7, 1.5, True, "0a0b", '{"k":1}'), (None, None, None, None, None, None)],
        "s string, i long, d double, b boolean, hx string, j string",
    )
    src = {"str": "s", "int": "i", "double": "d", "bool": "b", "bytes": "unhex(hx)", "ser": "j"}
    for kind, sql in src.items():
        ref = df.select(_ref_make_body(F.expr(sql), kind).alias("body"))
        _assert_same(ref, df.select(make_body(F.expr(sql), kind).alias("body")))
        _assert_same(ref, df.select(make_body(sql, kind).alias("body")))


def test_ids_enrich_and_labels_match_column_api(adversarial, tiny_catalog):
    ref = ref_hash_ids(ref_parse_turns(adversarial))
    got = assign_surrogate_ids(parse_turns(adversarial), mode="hash")
    _assert_same(ref, got)
    # without a catalog label_sinks adds a null tool_known itself
    _assert_same(ref_label_sinks(ref), label_sinks(got))
    ref, got = ref_enrich(ref, tiny_catalog), enrich_with_catalog(got, tiny_catalog)
    _assert_same(ref, got)
    _assert_same(ref_label_sinks(ref), label_sinks(got))
    sinks = {r["sink"] for r in label_sinks(got).select("sink").collect()}
    assert sinks == {"logs", "metrics", "traces", "quarantine"}


def test_label_sinks_every_signal_and_tool_state(spark):
    df = spark.createDataFrame(
        [(s, k) for s in (None, "log", "metric", "trace", "quarantine") for k in (None, True, False)],
        "signal_type string, tool_known boolean",
    )
    _assert_same(ref_label_sinks(df), label_sinks(df))
    _assert_same(df.select(_ref_sink().alias("s")), df.select(sink_label().alias("s")))


def test_text_suppression_matches_column_api(adversarial, tiny_catalog):
    labeled = label_sinks(enrich_with_catalog(
        assign_surrogate_ids(parse_turns(adversarial), mode="hash"), tiny_catalog
    ))
    _assert_same(labeled.select(_ref_rebuild_text().alias("t")),
                 labeled.select(rebuild_text().alias("t")))
    _assert_same(ref_suppress(labeled), suppress_rebuildable_text(labeled))
    stored = suppress_rebuildable_text(labeled)
    _assert_same(ref_restore(stored), restore_text(stored))
    # the round trip gives back every payload, and suppression did happen
    _assert_same(labeled, restore_text(stored))
    assert stored.where(F.col("text").isNull() & F.col("conv_id").isin("c-10", "c-11")).count() > 0


def test_sql_embedded_patterns_are_literal_safe():
    """Every regex/grammar constant reaching SQL text is quote- and
    backslash-free, so the SQL parser reads it verbatim; the import-time
    check refuses one that is not."""
    assert parse_mod.RE_LOG_MSG in parse_mod.SQL_EMBEDDED_PATTERNS
    assert set(parse_mod.FIELD_VALUE_GRAMMAR.values()) <= set(parse_mod.SQL_EMBEDDED_PATTERNS)
    for p in parse_mod.SQL_EMBEDDED_PATTERNS:
        assert "'" not in p and "\\" not in p, p
        assert parse_mod._sql_lit(p) == f"'{p}'"
    for bad in (r"a\d+", "it's"):
        with pytest.raises(ValueError, match="SQL text"):
            parse_mod._sql_lit(bad)
