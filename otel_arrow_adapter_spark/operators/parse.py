"""P1-P6 + R1 classifier: vectorized parse of turn text into OTEL-style columns.

Reference behavior being re-expressed (not ported):
- flatten + per-record typed columns: /root/reference/pkg/otel/logs/arrow/logs.go:38-62
  (LogsSchema: time ns, observed ns, trace/span id, severity number/text, body union)
- non-default suppression: AppendNonEmpty/AppendNonZero
  /root/reference/pkg/otel/common/schema/builder/string.go:78-105 — here
  ``nullif``/``when`` so defaults become nulls (Parquet then elides them).
- body union encoding (type tag + per-type column):
  /root/reference/pkg/otel/logs/arrow/logs.go:289-400.
- ID validation (16/8 byte checks, error-not-crash):
  /root/reference/pkg/otel/logs/otlp/logs.go:145-154 — malformed rows are
  routed to quarantine instead of raising.

Everything is built-in column expressions (JVM). The grammar is
``key=value`` tokens (only ``msg="..."`` may contain spaces), so the parse
tokenizes ONCE (split + substring_index) and reads fields from the token
array — 2 regex passes per row (msg extract + msg strip) instead of one
regexp_extract scan per field, which measured ~2x end-to-end and cut the
per-row allocation rate that capped thread scaling at local[32].
Classification stays on anchored rlike so malformed shapes quarantine
exactly like the DuckDB oracles. All casts/lookups are try_* forms: Spark 4
runs ANSI mode, and a malformed value must quarantine, never raise
(error-not-crash, /root/reference/pkg/otel/logs/otlp/logs.go:145-154).

Canonical fast path: the tokenizer's ``transform``/``filter`` lambdas are
higher-order functions, which Spark evaluates interpreted
(``CodegenFallback``), so both projections that use them fall out of
whole-stage codegen. A JFR profile of a warm noop parse put 52% of the
executor samples (1,303 of 2,487) in ``SimpleHigherOrderFunction.eval``,
and 33% (517 of 1,555) across a whole pipeline write. A CANONICAL line —
every field once, in grammar order, each value whole in its grammar — has
its first-match answer at a fixed token position, so ``parse_turns`` reads
canonical rows by position and builds the key/value array only for the
rest. Canonical rows are 90.0% of the perfbench ``pipeline`` input and
79.8% of the 10,000 sf0.01 transcripts; the classification, the canonical
check and the split stay in codegen.

The expressions are SQL text, handed to ``selectExpr`` (or one ``F.expr``
per Column-returning helper): the JVM parses a whole projection in one
call, where the Column API pays a py4j round trip per expression node
(most ``F.*`` builders ~10 more, to record their Python call site, unless
``session.get_spark`` turned that off). Built with the Column API,
``parse_turns`` sent 1,498 py4j commands and took ~210 ms of driver time;
as three ``selectExpr`` calls it sends 46 and takes ~60 ms (4-core host,
90k-turn input). Regex and grammar constants are embedded as SQL string
literals, so ``_sql_lit`` refuses (checked at import) any that holds a
quote or a backslash: the SQL parser would end the literal there or
unescape it into a different pattern.

A pandas-UDF grok fallback lives in functions/grok.py for grammars that
need real Python.

Field-value grammar parity: every token value is gated through the SAME
value pattern the oracles use (prefix extraction — oracle
`' parent=([0-9a-f]{8})'` on `parent=zzz` yields null and on
`parent=0123456789` yields the 8-char prefix; the gated tokenizer
reproduces both). The three paths (JVM tokenizer, Arrow per-field RE2,
DuckDB oracle) agree on any input where each key occurs at most once
outside the quoted msg — the grammar's invariant; inputs violating it
differ only in which occurrence wins (documented, not generated).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Regexes shared with the DuckDB oracles in __spark_entry__.py — keep RE2-safe
# (no lookbehind) so both engines accept them.
RE_LOG_TS = r"ts_us=([0-9]+)"
RE_LOG_LEVEL = r" level=([A-Z]+)"
RE_LOG_MSG = r' msg="([^"]*)"'
RE_LOG_CODE = r" code=([0-9]+)"
RE_LOG_RETRY = r" retry=(true|false)"
RE_METRIC_NAME = r"^name=([a-z_]+)"
RE_METRIC_VALUE = r" value=(-?[0-9]+)"
RE_METRIC_UNIT = r" unit=([a-z%]+)"
RE_TRACE_SPAN = r"^span=([0-9a-f]{16})"
RE_TRACE_PARENT = r" parent=([0-9a-f]{8})"
RE_TRACE_DUR = r" dur_ms=([0-9]+)"

# Signal classification by grammar shape (anchored); parse_arrow applies the
# same three patterns, so both implementations quarantine identically.
CLASSIFY_LOG = r"^ts_us=[0-9]+ level="
CLASSIFY_METRIC = r"^name=[a-z_]+ value="
CLASSIFY_TRACE = r"^span=[0-9a-f]{16} parent="

# A canonical line: every field once, in grammar order, each value whole in
# its value grammar, nothing after the last field. ``(?s)...(?!.)`` anchors
# at the true end of the input (a bare ``$`` would accept a trailing newline).
CANONICAL = (
    r'(?s)^(?:ts_us=[0-9]+ level=[A-Z]+ msg="[^"]*" code=[0-9]+(?: retry=(?:true|false))?'
    r"|name=[a-z_]+ value=-?[0-9]+(?: unit=[a-z%]+)?"
    r"|span=[0-9a-f]{16} parent=[0-9a-f]{8} dur_ms=[0-9]+)(?!.)"
)

# OTLP severity numbers (public OTel spec).
SEVERITY_NUMBER = {"TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}

# Body union type tags — analog of the AnyValue discriminant
# (/root/reference/pkg/otel/common/arrow/attributes_16.go:131-196).
BODY_STR, BODY_INT, BODY_DOUBLE, BODY_BOOL, BODY_BYTES, BODY_SER = 1, 2, 3, 4, 5, 6

# Full body union shape (P5): tag + one nullable column per arm, exactly
# the log-body encoding of /root/reference/pkg/otel/logs/arrow/logs.go:289-400
# (nested slice/map -> `ser`, the CBOR/JSON escape hatch). Transcript
# payloads are text, so parse always emits a str body; `make_body` /
# `body_value` are the general constructors/decoders for typed bodies.
BODY_ARMS = {"str": "string", "int": "long", "double": "double",
             "bool": "boolean", "bytes": "binary", "ser": "string"}
BODY_TAG = {"str": BODY_STR, "int": BODY_INT, "double": BODY_DOUBLE,
            "bool": BODY_BOOL, "bytes": BODY_BYTES, "ser": BODY_SER}

# Per-field VALUE grammars — the capture bodies of the oracle regexes above.
# Gating token values through these (as prefix extraction) makes the
# tokenizer path agree with the oracles' regexp_extract on out-of-grammar
# values ('parent=zzz' -> null, 'unit=mS' -> 'm', 'retry=truex' -> 'true').
FIELD_VALUE_GRAMMAR = {
    "ts_us": r"[0-9]+",
    "level": r"[A-Z]+",
    "code": r"[0-9]+",
    "retry": r"true|false",
    "name": r"[a-z_]+",
    "value": r"-?[0-9]+",
    "unit": r"[a-z%]+",
    "span": r"[0-9a-f]{16}",
    "parent": r"[0-9a-f]{8}",
    "dur_ms": r"[0-9]+",
}


def _sql_lit(pattern: str) -> str:
    """``pattern`` as a SQL string literal. Spark's parser ends a literal at
    a quote and unescapes backslashes, so a pattern holding either would be
    silently read as a different regex: refuse it instead."""
    if "'" in pattern or "\\" in pattern:
        raise ValueError(f"pattern {pattern!r} cannot be embedded in SQL text verbatim")
    return f"'{pattern}'"


# Checked at import: every regex or grammar constant that reaches SQL text.
SQL_EMBEDDED_PATTERNS = (
    RE_LOG_TS, RE_LOG_LEVEL, RE_LOG_MSG, RE_LOG_CODE, RE_LOG_RETRY,
    RE_METRIC_NAME, RE_METRIC_VALUE, RE_METRIC_UNIT,
    RE_TRACE_SPAN, RE_TRACE_PARENT, RE_TRACE_DUR,
    CLASSIFY_LOG, CLASSIFY_METRIC, CLASSIFY_TRACE, CANONICAL,
    *FIELD_VALUE_GRAMMAR.values(),
)
for _p in SQL_EMBEDDED_PATTERNS:
    _sql_lit(_p)


def _body_sql(value: str, kind: str) -> str:
    """SQL text of the typed body struct: ``value`` (SQL) in the ``kind``
    arm, every other arm a typed null."""
    arms = ", ".join(
        f"'{arm}', CAST({value if arm == kind else 'NULL'} AS {t})" for arm, t in BODY_ARMS.items()
    )
    return f"named_struct('body_type', CAST({BODY_TAG[kind]} AS TINYINT), {arms})"


def make_body(value: Column | str, kind: str) -> Column:
    """Typed body struct with exactly one populated arm. ``value`` is SQL
    text (e.g. a column name) or a Column."""
    if isinstance(value, str):
        return F.expr(_body_sql(value, kind))
    return F.expr(_body_sql("NULL", kind)).withField(kind, value.cast(BODY_ARMS[kind]))


def body_value(body: Column, kind: str) -> Column:
    """Decode mirror (logs.go:165-228 dispatch): the arm named by the tag,
    null when the tag doesn't match ``kind``."""
    return F.when(body["body_type"] == BODY_TAG[kind], body[kind])


def _x(col: str, pattern: str) -> str:
    """regexp_extract with '' -> null (P6 non-default suppression)."""
    return f"nullif(regexp_extract({col}, {_sql_lit(pattern)}, 1), '')"


def _classify_sql(text: str) -> str:
    """R1 analog: payload-type dispatch by grammar shape, as SQL over the
    column named ``text``.

    Reference dispatches decoded payloads by a type enum
    (/root/reference/pkg/otel/metrics/otlp/related_data.go:101-156); our
    payloads are text lines, so the type is recovered from the grammar.
    """
    return (
        f"CASE WHEN rlike({text}, {_sql_lit(CLASSIFY_LOG)}) THEN 'log' "
        f"WHEN rlike({text}, {_sql_lit(CLASSIFY_METRIC)}) THEN 'metric' "
        f"WHEN rlike({text}, {_sql_lit(CLASSIFY_TRACE)}) THEN 'trace' "
        "ELSE 'quarantine' END"
    )


def classify_signal(text: str = "text") -> Column:
    """``_classify_sql`` over the column named ``text``, as a Column."""
    return F.expr(_classify_sql(text))


# One-pass tokenizer: strip the quoted msg, split on spaces, key/value per
# token. Tokens without '=' get a null value; empty values ('code=') null out
# via nullif (P6 non-default suppression).
_TOKENS = f"split(regexp_replace(text, {_sql_lit(RE_LOG_MSG)}, ''), ' ')"
_TOKENIZE = """
transform(__toks,
          s -> struct(substring_index(s, '=', 1) AS k,
                      CASE WHEN instr(s, '=') > 0
                           THEN nullif(substring(s, instr(s, '=') + 1), '')
                      END AS v))
"""

# Canonical line position of each field's token in ``__toks`` (1-based;
# msg is stripped before the split). For a CANONICAL line the tokenizer's
# first match is exactly this token, and its value is whole in-grammar.
_TOKEN_POS = {
    "ts_us": 1, "level": 2, "code": 3, "retry": 4,
    "name": 1, "value": 2, "unit": 3,
    "span": 1, "parent": 2, "dur_ms": 3,
}


def _field(key: str) -> str:
    """First value for ``key`` in the token array ``__kv``; null when
    absent. try_element_at: ANSI-safe on the empty filter result."""
    return f"try_element_at(filter(__kv, p -> p.k = '{key}'), 1).v"


def _vfield(key: str) -> str:
    """``key``'s value: on a canonical row the token at its fixed position
    past ``key=`` (null when an optional field is absent), else ``_field``
    gated through the field's value grammar (prefix match)."""
    at_pos = f"substring(try_element_at(__toks, {_TOKEN_POS[key]}), {len(key) + 2})"
    gated = _x(_field(key), f"^({FIELD_VALUE_GRAMMAR[key]})")
    return f"CASE WHEN __canon THEN {at_pos} ELSE {gated} END"


def _when_sig(sig: str, expr: str) -> str:
    return f"CASE WHEN signal_type = '{sig}' THEN {expr} END"


_SEV_MAP = "map(" + ", ".join(f"'{k}', {v}" for k, v in SEVERITY_NUMBER.items()) + ")"
_SEV_TEXT = _when_sig("log", _vfield("level"))
_MSG = _when_sig("log", _x("text", RE_LOG_MSG))
_RETRY = _when_sig("log", _vfield("retry"))

# Step 1 keeps the input columns and adds the classification, the canonical
# flag and the token array; step 2 tokenizes the non-canonical rows only;
# step 3 reads every typed field from them.
_CLASSIFIED = (
    "conv_id", "turn_idx", "role", "tool", "ts", "text",
    f"{_classify_sql('text')} AS signal_type",
    f"rlike(text, {_sql_lit(CANONICAL)}) AS __canon",
    f"{_TOKENS} AS __toks",
)
_TOKENIZED = ("*", f"CASE WHEN NOT __canon THEN {_TOKENIZE} END AS __kv")
_PARSED = (
    "conv_id", "turn_idx", "role", "tool", "ts", "text", "signal_type",
    # log fields
    f"try_cast({_when_sig('log', _vfield('ts_us'))} AS BIGINT) AS log_ts_us",
    f"{_SEV_TEXT} AS severity_text",
    f"CAST(element_at({_SEV_MAP}, {_SEV_TEXT}) AS INT) AS severity_number",
    f"{_MSG} AS msg",
    f"try_cast({_when_sig('log', _vfield('code'))} AS BIGINT) AS code",
    f"CASE WHEN {_RETRY} = 'true' THEN true WHEN {_RETRY} = 'false' THEN false END AS retry",
    # metric fields
    f"{_when_sig('metric', _vfield('name'))} AS metric_name",
    f"try_cast({_when_sig('metric', _vfield('value'))} AS BIGINT) AS metric_value",
    f"{_when_sig('metric', _vfield('unit'))} AS metric_unit",
    # trace fields (hex-string ids; binary form is unhex(span_hex) — the
    # 16-char id is 8 bytes, validated like logs.go:145-154)
    f"{_when_sig('trace', _vfield('span'))} AS span_hex",
    f"{_when_sig('trace', _vfield('parent'))} AS parent_hex",
    f"try_cast({_when_sig('trace', _vfield('dur_ms'))} AS BIGINT) AS dur_ms",
    # body union (str-typed for text payloads; full union shape so typed
    # bodies flow through the same schema)
    f"{_body_sql(_MSG, 'str')} AS body",
)


def parse_turns(df: DataFrame) -> DataFrame:
    """transcripts -> parsed, typed columns + signal_type.

    Input: (conv_id, turn_idx, role, text, tool, ts). Output adds:
    signal_type, log_* / metric_* / trace_* typed fields, severity,
    body struct (type tag + str), and keeps ``text`` verbatim for the
    per-turn equality contract. Per-signal fields are gated on the signal
    classification (star-schema semantics: a field belongs to its payload
    type, cf. the per-payload builders in
    /root/reference/pkg/otel/logs/arrow/logs.go:38-62).
    """
    return df.selectExpr(*_CLASSIFIED).selectExpr(*_TOKENIZED).selectExpr(*_PARSED)
