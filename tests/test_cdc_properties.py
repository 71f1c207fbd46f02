"""Property-based differential test of the CDC translation.

The fixtures in ``sources/fixtures.py`` replay the reference's
branches one by one; this file closes the gaps BETWEEN the fixtures:
hypothesis generates arbitrary envelopes (missing fields, empty
structs, stringified payloads, corrupt bytes, unknown ops, key-only
deletes) and compares the Spark column-expression pipeline against an
independent pure-Python implementation of the Go semantics
(``internal/ingestion/cdc.go:87-156``).

Kept within the documented contract: ids are non-negative int64 (the
UInt64>2^63 overflow caveat is SURVEY §1.2), and ``before``/``after``
are objects or null, as Debezium emits them.
"""

from __future__ import annotations

import json
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

# ------------------------------------------------- python reference


def ref_translate(msg_id: int, key: str | None, value: str):
    """Pure-Python mirror of tryUnmarshalEnvelope + translateEnvelopeToRow."""
    env = None
    try:
        env = json.loads(value)
        if isinstance(env, str):  # double-encoded payload (cdc.go:92-97)
            env = json.loads(env)
    except (json.JSONDecodeError, TypeError):
        return None
    if not isinstance(env, dict):
        return None

    op = env.get("op")
    before, after = env.get("before"), env.get("after")
    source = env.get("source") or {}

    if op in ("c", "u"):
        if not isinstance(after, dict):
            return None  # cdc.go:115-118: c/u without after drops
        row_id = after.get("id") or 0
        name = after.get("name") or ""
        email = after.get("email") or ""
        is_deleted, op_enum = 0, (1 if op == "c" else 2)
    elif op == "d":
        bid = (before.get("id") if isinstance(before, dict) else None) or 0
        if bid != 0:
            row_id = bid
        else:  # delete-key fallback (cdc.go:130-133)
            try:
                k = json.loads(key)
                kid = k.get("id") if isinstance(k, dict) else None
                # Go unmarshals the key into struct{ID uint64}: a
                # non-integer id fails the decode -> zero value
                row_id = kid if isinstance(kid, int) and not isinstance(kid, bool) else 0
            except (json.JSONDecodeError, TypeError):
                row_id = 0
        name, email, is_deleted, op_enum = "", "", 1, 3
    else:
        return None  # unknown op drops (case-sensitive switch)

    lsn = source.get("lsn") or 0
    ts_us = env.get("ts_us") or 0
    return (msg_id, row_id, name, email, is_deleted, op_enum, lsn, ts_us)


# ------------------------------------------------------- strategies

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=8
)
_user = st.one_of(
    st.none(),
    st.fixed_dictionaries(
        {},
        optional={
            "id": st.integers(0, 2**31),
            "name": _text,
            "email": _text,
        },
    ),
)
_envelope = st.fixed_dictionaries(
    {},
    optional={
        "before": _user,
        "after": _user,
        "op": st.sampled_from(["c", "u", "d", "r", "C", "D", "x", ""]),
        "ts_us": st.integers(0, 2**45),
        "source": st.one_of(
            st.none(),
            st.fixed_dictionaries(
                {},
                optional={
                    "lsn": st.integers(0, 2**45),
                    "ts_us": st.integers(0, 2**45),
                    "schema": _text,
                    "table": _text,
                },
            ),
        ),
    },
)


@st.composite
def _message(draw):
    env = draw(_envelope)
    encoding = draw(st.sampled_from(["direct", "stringified", "corrupt", "nonobject"]))
    if encoding == "direct":
        value = json.dumps(env)
    elif encoding == "stringified":
        value = json.dumps(json.dumps(env))
    elif encoding == "nonobject":
        value = draw(st.sampled_from(["42", "[1,2]", '"just a string"', "null"]))
    else:
        value = draw(st.sampled_from(["{not json", "", "\x00\x01", "{\"op\": "]))
    key = draw(
        st.one_of(
            st.none(),
            st.builds(lambda i: json.dumps({"id": i}), st.integers(0, 2**31)),
            st.sampled_from(["{broken", "[]", '{"id": "nan"}', ""]),
        )
    )
    return key, value


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_message(), min_size=1, max_size=40))
def test_translation_matches_python_reference(spark, msgs):
    from go_otel_clickhouse_ingestor_spark.operators.cdc import (
        parse_envelope,
        translate_envelope,
    )

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(msgs)],
        "msg_id long, key string, value string",
    )
    got = {
        tuple(r)
        for r in translate_envelope(parse_envelope(df))
        .select(
            "msg_id",
            "id",
            "name",
            "email",
            "is_deleted",
            "_op",
            "_lsn",
            F.unix_micros("_ts").alias("ts_us"),
        )
        .collect()
    }
    want = {
        row
        for i, (k, v) in enumerate(msgs)
        if (row := ref_translate(i, k, v)) is not None
    }
    assert got == want


# ------------------------------------------------ Go edge semantics

_GOOD = (
    '{"op":"c","after":{"id":5,"name":"a","email":"e"},'
    '"source":{"lsn":3},"ts_us":7}'
)
#: The users_cur row of ``_GOOD``: (id, name, email, is_deleted, _op,
#: _lsn, ts_us).
_GOOD_ROW = (5, "a", "e", 0, 1, 3, 7)
_TRAILING = (
    "from_json ignores bytes after the top-level value; Go's decoder, "
    "DuckDB json_valid and Python json.loads reject them"
)

#: (case id, value, kept by Go's tryUnmarshalEnvelope + translate,
#: xfail reason).  Python's json.loads accepts NaN, so the expectation
#: is written out here rather than taken from ``ref_translate``.
_EDGES = [
    ("direct", _GOOD, True, None),
    ("double_encoded", json.dumps(_GOOD), True, None),
    ("leading_ws_direct", " \n\t\r" + _GOOD, True, None),
    ("leading_ws_double_encoded", "\t \n" + json.dumps(_GOOD), True, None),
    ("truncated_after_op", '{"op":"c","after":{"id":5,"na', False, None),
    ("double_encoded_truncated", json.dumps('{"op":"c","after":{"id":5,"na'), False, None),
    ("triple_encoded", json.dumps(json.dumps(_GOOD)), False, None),
    ("array_wrapped", "[" + _GOOD + "]", False, None),
    ("null", "null", False, None),
    ("empty_object", "{}", False, None),
    ("json_comment", "/* c */" + _GOOD, False, None),
    ("leading_zero_lsn_delete", '{"op":"d","before":{"id":5},"source":{"lsn":07}}', False, None),
    ("nan", '{"op":"c","after":{"id":5,"name":"a","email":"e"},"x":NaN}', False, None),
    ("single_quoted", "{'op':'c','after':{'id':5,'name':'a','email':'e'}}", False, None),
    ("control_char_in_string", _GOOD.replace('"a"', '"a\x01b"'), False, None),
    ("control_char_double_encoded", json.dumps(_GOOD.replace('"a"', '"a\x01b"')), False, None),
    ("id_type_mismatch", _GOOD.replace('"id":5', '"id":"five"'), False, None),
    ("trailing_garbage", _GOOD + " x", False, _TRAILING),
    ("trailing_object", _GOOD + _GOOD, False, _TRAILING),
    ("double_encoded_trailing_garbage", json.dumps(_GOOD) + " x", False, _TRAILING),
]


@pytest.fixture(scope="module")
def edge_rows(spark):
    """msg_id -> translated row for every ``_EDGES`` value, in one job."""
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import translate_stream

    df = spark.createDataFrame(
        [(i, '{"id": 9}', v) for i, (_, v, _, _) in enumerate(_EDGES)],
        "msg_id long, key string, value string",
    )
    cols = ["id", "name", "email", "is_deleted", "_op", "_lsn", F.unix_micros("_ts")]
    return {r[0]: tuple(r[1:]) for r in translate_stream(df).select("msg_id", *cols).collect()}


@pytest.mark.parametrize(
    "msg_id, kept",
    [
        pytest.param(
            i, kept, id=name,
            marks=[pytest.mark.xfail(strict=True, reason=why)] if why else [],
        )
        for i, (name, _, kept, why) in enumerate(_EDGES)
    ],
)
def test_translation_matches_go_on_edge_inputs(edge_rows, msg_id, kept):
    assert edge_rows.get(msg_id) == (_GOOD_ROW if kept else None)


# ------------------------------------------------------- plan guard


def _call_args(plan: str, fn: str) -> list[str]:
    """Argument text of every ``fn(...)`` call in a plan string."""
    out = []
    for m in re.finditer(re.escape(fn) + r"\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[m.end() : i - 1])
    return out


def test_translate_stream_parses_each_value_once(spark, tmp_path):
    """The executed plan of ``translate_stream`` over a JSON file source
    holds ONE ``from_json`` over ``value`` (the ``key`` parse of deletes
    aside), and ``get_json_object`` only under the quote-prefix guard:
    no Filter that predicate pushdown turned into a second parse."""
    from go_otel_clickhouse_ingestor_spark.streaming.cdc_stream import translate_stream

    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.json").write_text(
        "\n".join(
            json.dumps({"msg_id": i, "key": '{"id": 5}', "value": v})
            for i, v in enumerate([_GOOD, json.dumps(_GOOD), "not json"])
        )
    )
    df = translate_stream(spark.read.schema("msg_id long, key string, value string").json(str(src)))
    assert df.count() == 2
    plan = df._jdf.queryExecution().executedPlan().toString()

    parses = _call_args(plan, "from_json")
    over_value = [a for a in parses if re.search(r"\bvalue#\d+", a)]
    assert len(over_value) == 1, plan
    assert all(re.search(r"\bkey#\d+", a) for a in parses if a not in over_value), plan

    unquotes = len(_call_args(plan, "get_json_object"))
    guarded = re.findall(
        r"CASE WHEN StartsWith\(ltrim\(value#\d+, Some\([^)]*\)\), \"\) "
        r"THEN get_json_object\(value#\d+, \$\)",
        plan,
    )
    assert unquotes == len(guarded) == 1, plan
