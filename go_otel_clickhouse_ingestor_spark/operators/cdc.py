"""CDC pipeline semantics, batch replay (SURVEY.md §2 A4-A10, A16).

The reference consumes Debezium-wrapped Postgres WAL envelopes from
Kafka and emits flat versioned ``users_cur`` rows to ClickHouse
(``internal/ingestion/cdc.go``).  Here the exact same translation is a
pure column-expression pipeline — every branch of the Go code maps to
a ``when``/``coalesce`` expression, which means it runs JVM-side inside
whole-stage codegen, at any scale, in both batch and streaming (the
streaming pipeline reuses these very functions on a Kafka source).

Branch map (reference -> expression):

- ``tryUnmarshalEnvelope`` direct/stringified/corrupt (cdc.go:87-98)
  -> one ``from_json`` per message.  Only a value whose first non-blank
  character is ``"`` is unquoted first, by ``get_json_object(value,
  '$')`` (Go's second Unmarshal); every other value goes to
  ``from_json`` as it is.
- malformed-record drop (cdc.go:63-67) -> ``parse_ok``: the parse is
  an object and its corrupt-record field is NULL.  PERMISSIVE
  ``from_json`` keeps the fields it read before a syntax error, so a
  half-parsed struct is never taken as success.  Strict options make
  the grammar Go's: no single quotes, no NaN/Infinity, no comments,
  no leading zeros, no raw control characters in strings; a value that
  does not fit its field type (``"id":"five"``) is corrupt too.
- Known gap: bytes after the top-level value (``{...} x``,
  ``{...}{...}``) are ignored by ``from_json`` but fail Go's decode;
  ``tests/test_cdc_properties.py`` carries them as strict xfails.
- The keep/drop decision leaves through a generator (:func:`rows_where`)
  so predicate pushdown cannot copy the parse into a Filter below it.
- c/u takes ``after``, missing after drops (cdc.go:113-123)
- d takes id from ``before.id`` if != 0 else Kafka key, unparseable
  key -> 0 (cdc.go:125-134)
- unknown / wrong-case op drops (cdc.go:113,139-141 — the switch is
  case-sensitive)
- lsn nil -> 0, ts_us nil -> epoch (cdc.go:101-109)
- op enum c=1 u=2 d=3 (cdc.go:145-156)
- A16 latest-per-key current-state view (README.md:121 —
  ReplacingMergeTree contract): window by id, newest ``_lsn`` wins,
  soft-deleted rows dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.fixtures import (
    CDC_MESSAGES_V2,
    cdc_messages_all_values_sql,
    cdc_messages_df,
    cdc_messages_values_sql,
    messages_values_sql,
)
from ..tables import table

#: Spark schema of the Debezium envelope (internal/model/cdc.go:7-26).
ENVELOPE_SCHEMA = (
    "before struct<id:long,name:string,email:string>, "
    "after struct<id:long,name:string,email:string>, "
    "source struct<lsn:long,ts_us:long,schema:string,table:string>, "
    "op string, ts_us long"
)


#: Field ``from_json`` fills with the raw text of a record it could not
#: parse (the struct keeps whatever it read before the error).
CORRUPT_FIELD = "_corrupt_record"

#: ``from_json`` options that narrow Jackson's grammar to Go's
#: encoding/json.  Comments, leading zeros and raw control characters
#: are already off by default.
_STRICT_JSON = {
    "columnNameOfCorruptRecord": CORRUPT_FIELD,
    "allowSingleQuotes": "false",
    "allowNonNumericNumbers": "false",
}

#: JSON's insignificant whitespace (RFC 8259 section 2).
_JSON_WS = " \t\n\r"


def parse_envelope(df: DataFrame, schema: str = ENVELOPE_SCHEMA) -> DataFrame:
    """Attach ``env`` (the envelope parsed with ``schema``, plus
    :data:`CORRUPT_FIELD`) and ``parse_ok``, with one ``from_json`` per
    message.

    A value whose first non-blank character is ``"`` is a stringified
    envelope (cdc.go:92-97) and is unquoted by ``get_json_object``
    first; nothing else is.  ``parse_ok`` mirrors Go's
    tryUnmarshalEnvelope success: the text parses cleanly, under the
    Go-strict options of ``_STRICT_JSON``, as a JSON *object* whose
    fields fit ``schema`` (scalars, arrays, ``null``, a third level of
    quoting, type mismatches and garbage all fail).  Trailing bytes
    after the object are not detected (see the module docstring)."""
    value = F.col("value")
    quoted = F.ltrim(value, F.lit(_JSON_WS)).startswith('"')
    text = F.when(quoted, F.get_json_object(value, "$")).otherwise(value)
    env = F.from_json(text, f"{schema}, {CORRUPT_FIELD} string", _STRICT_JSON)
    return df.withColumn("env", env).withColumn(
        "parse_ok",
        F.col("env").isNotNull() & F.col("env").getField(CORRUPT_FIELD).isNull(),
    )


def rows_where(df: DataFrame, keep: Column, *cols) -> DataFrame:
    """``df.filter(keep).select(*cols)`` without a Filter node.

    Predicate pushdown moves a Filter over the parsed ``env`` below the
    Project that parsed it and copies the ``from_json`` into the
    predicate: two parses per message.  A generator is a barrier to that
    pushdown, so rows leave through ``inline`` of a zero- or
    one-element array."""
    return df.select(F.inline(F.when(keep, F.array(F.struct(*cols)))))


def translate_envelope(df: DataFrame) -> DataFrame:
    """Envelope -> ``users_cur`` row (cdc.go:100-143), dropping rows the
    reference drops.  Input needs ``env`` + ``parse_ok`` from
    :func:`parse_envelope`."""
    env = F.col("env")
    op = env.getField("op")
    after = env.getField("after")
    before = env.getField("before")

    key_id = F.coalesce(
        F.from_json(F.col("key"), "id long").getField("id"), F.lit(0)
    )
    # cdc.go:127: before != nil && before.ID != 0; a missing id field is
    # Go's zero value, so coalesce(before.id, 0) != 0 covers both.
    del_id = F.when(F.coalesce(before.getField("id"), F.lit(0)) != 0, before.getField("id")).otherwise(key_id)

    is_cu = op.isin("c", "u") & after.isNotNull()
    is_d = op == "d"

    return rows_where(
        df,
        F.col("parse_ok") & (is_cu | is_d),
        "msg_id",
        F.when(is_cu, F.coalesce(after.getField("id"), F.lit(0)))
        .otherwise(del_id)
        .alias("id"),
        F.when(is_cu, F.coalesce(after.getField("name"), F.lit("")))
        .otherwise(F.lit(""))
        .alias("name"),
        F.when(is_cu, F.coalesce(after.getField("email"), F.lit("")))
        .otherwise(F.lit(""))
        .alias("email"),
        F.when(is_d, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("is_deleted"),
        F.when(op == "c", 1).when(op == "u", 2).otherwise(3).cast("long").alias("_op"),
        F.coalesce(env.getField("source").getField("lsn"), F.lit(0)).alias("_lsn"),
        F.coalesce(
            F.timestamp_micros(env.getField("ts_us")), F.timestamp_micros(F.lit(0))
        ).alias("_ts"),
    )


def current_state(users_cur: DataFrame) -> DataFrame:
    """A16: latest version per id (by _lsn, then _ts, then msg_id),
    soft-deleted rows dropped — the engine-side equivalent of
    ClickHouse ReplacingMergeTree background merges (README.md:121)."""
    w = Window.partitionBy("id").orderBy(
        F.col("_lsn").desc(), F.col("_ts").desc(), F.col("msg_id").desc()
    )
    return (
        users_cur.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("is_deleted") == 0))
        .select("id", "name", "email", "_op", "_lsn", "_ts")
    )


# ----------------------------------------------------------- oracles
#
# The DuckDB twins run the SAME translation from the SAME raw bytes
# (VALUES literal) using DuckDB's JSON functions — a genuine two-engine
# differential of every branch.

_RAW = cdc_messages_values_sql()


def norm_cte(raw_sql: str) -> str:
    """One level of unquoting + corrupt -> NULL, as a reusable CTE,
    over ANY (msg_id, key, value) relation literal — the fixture corpus
    and the generated ``cdc_feed`` source share this template."""
    return f"""
    WITH norm AS (
      SELECT msg_id::BIGINT AS msg_id, key,
             CASE
               WHEN NOT json_valid(value) THEN NULL
               WHEN json_type(value::JSON) = 'VARCHAR'
                 THEN json_extract_string(value, '$')
               ELSE value
             END AS j
      FROM {raw_sql}
    ),
    parsed AS (
      SELECT msg_id, key, j,
             (j IS NOT NULL AND json_valid(j) AND json_type(j::JSON) = 'OBJECT') AS parse_ok
      FROM norm
    )
"""

_NORM_CTE = norm_cte(_RAW)


def translate_sql(raw_sql: str) -> str:
    """The full envelope→users_cur translation as DuckDB SQL over ANY
    (msg_id, key, value) relation literal."""
    return f"""
    {norm_cte(raw_sql)},
    rows_out AS (
      SELECT msg_id,
             json_extract_string(j, '$.op') AS op,
             (json_type(j, '$.after') IS NOT NULL AND json_type(j, '$.after') <> 'NULL') AS has_after,
             coalesce(try_cast(json_extract(j, '$.after.id') AS BIGINT), 0)  AS after_id,
             coalesce(json_extract_string(j, '$.after.name'), '')            AS after_name,
             coalesce(json_extract_string(j, '$.after.email'), '')           AS after_email,
             coalesce(try_cast(json_extract(j, '$.before.id') AS BIGINT), 0) AS before_id,
             CASE WHEN json_valid(key)
                  THEN coalesce(try_cast(json_extract(key, '$.id') AS BIGINT), 0)
                  ELSE 0 END                                                 AS key_id,
             coalesce(try_cast(json_extract(j, '$.source.lsn') AS BIGINT), 0) AS lsn,
             try_cast(json_extract(j, '$.ts_us') AS BIGINT)                   AS ts_us
      FROM parsed WHERE parse_ok
    )
    SELECT msg_id,
           CASE WHEN op IN ('c','u') THEN after_id
                WHEN before_id <> 0 THEN before_id
                ELSE key_id END                                   AS id,
           CASE WHEN op IN ('c','u') THEN after_name ELSE '' END  AS name,
           CASE WHEN op IN ('c','u') THEN after_email ELSE '' END AS email,
           (CASE WHEN op = 'd' THEN 1 ELSE 0 END)::BIGINT         AS is_deleted,
           (CASE WHEN op = 'c' THEN 1 WHEN op = 'u' THEN 2 ELSE 3 END)::BIGINT AS _op,
           lsn                                                    AS _lsn,
           coalesce(make_timestamp(ts_us), make_timestamp(0))     AS _ts
    FROM rows_out
    WHERE (op IN ('c','u') AND has_after) OR op = 'd'
"""


_TRANSLATE_SQL = translate_sql(_RAW)


@query(
    "cdc_envelope_parse",
    oracle=f"""
    {_NORM_CTE}
    SELECT msg_id, parse_ok,
           json_extract_string(j, '$.op')                        AS op,
           try_cast(json_extract(j, '$.after.id') AS BIGINT)     AS after_id,
           try_cast(json_extract(j, '$.before.id') AS BIGINT)    AS before_id,
           try_cast(json_extract(j, '$.source.lsn') AS BIGINT)   AS lsn,
           try_cast(json_extract(j, '$.ts_us') AS BIGINT)        AS ts_us
    FROM parsed
    """,
)
def cdc_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A5: JSON decode with double-encoding fallback and
    malformed-record classification, over the full fixture set
    (direct, stringified, corrupt)."""
    df = parse_envelope(cdc_messages_df(spark))
    env = F.col("env")
    return df.select(
        "msg_id",
        "parse_ok",
        env.getField("op").alias("op"),
        env.getField("after").getField("id").alias("after_id"),
        env.getField("before").getField("id").alias("before_id"),
        env.getField("source").getField("lsn").alias("lsn"),
        env.getField("ts_us").alias("ts_us"),
    )


@query("cdc_translate", oracle=_TRANSLATE_SQL)
def cdc_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6-A10: full envelope→users_cur translation — every branch of
    ``translateEnvelopeToRow`` (cdc.go:100-143) differentially checked
    against an independent DuckDB implementation."""
    return translate_envelope(parse_envelope(cdc_messages_df(spark)))


@query(
    "cdc_current_state",
    oracle=f"""
    WITH users_cur AS ({_TRANSLATE_SQL})
    SELECT id, name, email, _op, _lsn, _ts FROM (
      SELECT *, row_number() OVER (PARTITION BY id
                 ORDER BY _lsn DESC, _ts DESC, msg_id DESC) AS rn
      FROM users_cur) t
    WHERE rn = 1 AND is_deleted = 0
    """,
)
def cdc_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: the ReplacingMergeTree current-state view — latest _lsn per
    id, soft deletes dropped."""
    return current_state(translate_envelope(parse_envelope(cdc_messages_df(spark))))


@query(
    "events_insert_shape",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS "timestamp",
           'user-' || user_id                AS user_id,
           event_type                        AS action,
           'example-payload'                 AS payload
    FROM events
    """,
)
def events_insert_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A10: the synthetic-event wire row exactly as the reference
    serializes it (``clickhouse.go:78-88``): UTC second-truncated
    timestamp string, ``"user-"+id``, action, constant payload."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("user_id"),
        F.col("event_type").alias("action"),
        F.lit("example-payload").alias("payload"),
    )


@query(
    "cdc_scd2_intervals",
    oracle=f"""
    WITH users_cur AS ({_TRANSLATE_SQL})
    SELECT id, msg_id, name, email, is_deleted, _op, _lsn,
           lead(_lsn) OVER (PARTITION BY id
                            ORDER BY _lsn, _ts, msg_id) AS lsn_to,
           (row_number() OVER (PARTITION BY id
                               ORDER BY _lsn DESC, _ts DESC, msg_id DESC) = 1)
             AS is_current
    FROM users_cur
    """,
)
def cdc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history view over the CDC stream: every version row
    carries its validity interval ``[_lsn, lsn_to)`` (lead of the next
    version's LSN; NULL = still open) and an ``is_current`` flag — the
    batch materialization downstream consumers use when they need
    as-of-version joins instead of A16's latest-only view.  One
    id-partitioned window shuffle serves both the lead and the flag."""
    users_cur = translate_envelope(parse_envelope(cdc_messages_df(spark)))
    w_asc = Window.partitionBy("id").orderBy("_lsn", "_ts", "msg_id")
    w_desc = Window.partitionBy("id").orderBy(
        F.col("_lsn").desc(), F.col("_ts").desc(), F.col("msg_id").desc()
    )
    return users_cur.select(
        "id",
        "msg_id",
        "name",
        "email",
        "is_deleted",
        "_op",
        "_lsn",
        F.lead("_lsn").over(w_asc).alias("lsn_to"),
        (F.row_number().over(w_desc) == 1).alias("is_current"),
    )


def _cdc_feed_oracle() -> str:
    """DuckDB twin of the cdc_feed source + translation: the SAME
    deterministic generator (``sources.cdc_feed.envelope_at``) renders
    the 60-message corpus as a VALUES literal, and the shared
    translation template runs over it — a two-engine differential of
    source bytes AND translation."""
    from ..sources.cdc_feed import envelope_at
    from ..sources.fixtures import messages_values_sql

    msgs = []
    for off in range(60):
        k, v = envelope_at(off)
        msgs.append((off, k.decode(), v.decode()))
    return translate_sql(messages_values_sql(msgs))


@query("source_cdc_feed_translate", oracle=_cdc_feed_oracle())
def source_cdc_feed_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource (``format("cdc_feed")``, Spark 4
    DataSource API) feeding the UNMODIFIED Kafka-shaped pipeline:
    partition-parallel batch read of 60 generated Debezium messages →
    ``shape_kafka_raw`` → envelope parse/translate.  Proves the A3
    source contract end-to-end without a broker: the corrupt messages
    are dropped by the malformed filter, double-encoded payloads take
    the fallback parse, and every surviving row matches the DuckDB
    translation of the same bytes."""
    from ..sources.cdc_feed import register
    from ..streaming.cdc_stream import shape_kafka_raw

    register(spark)
    raw = (
        spark.read.format("cdc_feed")
        .option("rows", 60)
        .option("partitions", 3)
        .load()
    )
    return translate_envelope(parse_envelope(shape_kafka_raw(raw)))


@query(
    "cdc_pointintime_join",
    oracle=f"""
    WITH users_cur AS ({_TRANSLATE_SQL}),
    v AS (
      SELECT id, name, email, is_deleted, _lsn,
             lead(_lsn) OVER (PARTITION BY id
                              ORDER BY _lsn, _ts, msg_id) AS lsn_to
      FROM users_cur
    ),
    probes AS (
      SELECT DISTINCT id, unnest([5, 15, 25, 35, 45]) AS probe_lsn
      FROM users_cur
    )
    SELECT p.id, p.probe_lsn, v.name, v.email, v.is_deleted,
           v._lsn AS version_lsn
    FROM probes p JOIN v
      ON p.id = v.id
     AND v._lsn <= p.probe_lsn
     AND (v.lsn_to IS NULL OR v.lsn_to > p.probe_lsn)
    """,
)
def cdc_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of-version) join against the SCD2 history —
    the temporal-warehouse lookup ``cdc_scd2_intervals`` exists to
    serve: for each (key, probe LSN), the exactly-one version whose
    validity interval covers the probe.  Probes are a deterministic
    per-key LSN grid; the join is an equi-join on the KEY with the
    interval predicate as a residual filter — correct because SCD2
    intervals partition the LSN axis per key, and scale-safe because
    the per-key version count is the bounded SCD2 history depth (the
    engines' interval predicate never becomes a range join across
    keys).  Reference parity: this is the replay-at-LSN question the
    reference answers only for 'now' (ReplacingMergeTree argMax,
    internal/ingestion/clickhouse.go:109); the interval form answers
    it for every point in history."""
    users_cur = translate_envelope(parse_envelope(cdc_messages_df(spark)))
    w_asc = Window.partitionBy("id").orderBy("_lsn", "_ts", "msg_id")
    v = users_cur.select(
        "id",
        "name",
        "email",
        "is_deleted",
        "_lsn",
        F.lead("_lsn").over(w_asc).alias("lsn_to"),
    )
    probes = (
        users_cur.select("id")
        .distinct()
        .select("id", F.explode(F.array(*[F.lit(x) for x in (5, 15, 25, 35, 45)])).alias("probe_lsn"))
    )
    return (
        probes.alias("p")
        .join(
            v.alias("v"),
            (F.col("p.id") == F.col("v.id"))
            & (F.col("v._lsn") <= F.col("p.probe_lsn"))
            & (F.col("v.lsn_to").isNull() | (F.col("v.lsn_to") > F.col("p.probe_lsn"))),
        )
        .select(
            F.col("p.id").alias("id"),
            "probe_lsn",
            "name",
            "email",
            "is_deleted",
            F.col("v._lsn").alias("version_lsn"),
        )
    )


#: Widened (v2-aware) envelope schema: superset of ENVELOPE_SCHEMA.
#: from_json leaves absent fields NULL, so v1 bytes parse unchanged —
#: additive drift needs a schema widening, never a reprocess.
ENVELOPE_SCHEMA_V2 = (
    "before struct<id:long,name:string,email:string,phone:string>, "
    "after struct<id:long,name:string,email:string,phone:string>, "
    "source struct<lsn:long,ts_us:long,schema:string,table:string,version:string>, "
    "op string, ts_us long"
)


@query(
    "cdc_schema_drift",
    oracle=f"""
    {norm_cte(cdc_messages_all_values_sql())}
    SELECT msg_id,
           json_extract_string(j, '$.op')                         AS op,
           try_cast(json_extract(j, '$.after.id') AS BIGINT)      AS id,
           coalesce(json_extract_string(j, '$.after.name'), '')   AS name,
           coalesce(json_extract_string(j, '$.after.phone'), '')  AS phone,
           (json_extract(j, '$.after.phone') IS NOT NULL)         AS has_phone,
           coalesce(json_extract_string(j, '$.source.version'),
                    'pre-versioning')                             AS src_version
    FROM parsed
    WHERE parse_ok AND json_extract_string(j, '$.op') IN ('c', 'u')
      AND json_type(j, '$.after') IS NOT NULL
      AND json_type(j, '$.after') <> 'NULL'
    """,
)
def cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema drift absorbed in place: the upstream table
    gains a column (``after.phone``) and the envelope gains a
    ``source.version`` tag mid-stream; the consumer parses the MIXED
    corpus with one widened struct schema (``ENVELOPE_SCHEMA_V2``) —
    ``from_json`` yields NULL for fields a generation doesn't carry, so
    v1 rows read as phone-less v2 rows and nothing is reprocessed.
    This is the Spark-native form of the reference's implicit contract
    (internal/model/cdc.go:7-26 — Go json.Unmarshal equally ignores
    unknown fields and zero-fills missing ones).  ``has_phone``
    separates 'column existed but was null' from 'column predates the
    drift'; at 100 TB the same widening applies to a streaming
    from_json with schema evolution handled by config push, not
    pipeline restart."""
    from ..sources.fixtures import cdc_messages_all_df

    env = F.col("env")
    after = env.getField("after")
    op = env.getField("op")
    return rows_where(
        parse_envelope(cdc_messages_all_df(spark), schema=ENVELOPE_SCHEMA_V2),
        F.col("parse_ok") & op.isin("c", "u") & after.isNotNull(),
        "msg_id",
        op.alias("op"),
        after.getField("id").alias("id"),
        F.coalesce(after.getField("name"), F.lit("")).alias("name"),
        F.coalesce(after.getField("phone"), F.lit("")).alias("phone"),
        after.getField("phone").isNotNull().alias("has_phone"),
        F.coalesce(
            env.getField("source").getField("version"),
            F.lit("pre-versioning"),
        ).alias("src_version"),
    )


#: The v2 batch translated through the SAME pipeline (oracle side).
_V2_TRANSLATE_SQL = translate_sql(messages_values_sql(CDC_MESSAGES_V2))


@query(
    "cdc_merge_upsert",
    oracle=f"""
    WITH users_cur AS ({_TRANSLATE_SQL}),
    snapshot AS (
      SELECT id, name, email, _lsn FROM (
        SELECT *, row_number() OVER (PARTITION BY id
                   ORDER BY _lsn DESC, _ts DESC, msg_id DESC) AS rn
        FROM users_cur) t
      WHERE rn = 1 AND is_deleted = 0
    ),
    batch_cur AS ({_V2_TRANSLATE_SQL}),
    batch AS (
      SELECT id, name, email, is_deleted, _lsn FROM (
        SELECT *, row_number() OVER (PARTITION BY id
                   ORDER BY _lsn DESC, _ts DESC, msg_id DESC) AS rn
        FROM batch_cur) t
      WHERE rn = 1
    )
    SELECT coalesce(b.id, s.id)                     AS id,
           CASE WHEN b.id IS NULL THEN s.name  ELSE b.name  END AS name,
           CASE WHEN b.id IS NULL THEN s.email ELSE b.email END AS email,
           CASE WHEN b.id IS NULL THEN s._lsn  ELSE b._lsn  END AS _lsn,
           CASE WHEN b.id IS NULL THEN 'kept'
                WHEN s.id IS NULL THEN 'inserted'
                ELSE 'updated' END                  AS action
    FROM snapshot s FULL JOIN batch b ON s.id = b.id
    WHERE b.id IS NULL OR b.is_deleted = 0
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on a plain parquet lake: the current
    snapshot (v1 corpus's current state) merged with an incoming CDC
    batch (the v2 messages) — WHEN MATCHED AND delete THEN DELETE,
    WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT, untouched
    rows kept.  Classic Spark has no MERGE statement outside table
    formats; the full-outer-join rewrite IS what Delta/Iceberg compile
    MERGE to, minus their transactional file replacement — pair it
    with a staged partition swap (``sinks.replace_partitions``, as the
    streaming upsert does) for the write side.  The batch is first collapsed to ONE net change per
    key (latest by _lsn — the rule A16 pins), so the merge is
    idempotent under replay: at-least-once delivery upstream converges
    to the same snapshot.  Scale: one key-partitioned join, batch side
    usually broadcastable; action column kept for write-audit-publish
    accounting."""
    snap = current_state(
        translate_envelope(parse_envelope(cdc_messages_df(spark)))
    ).select("id", "name", "email", "_lsn")

    from ..sources.fixtures import CDC_MESSAGES_V2

    v2 = spark.createDataFrame(
        CDC_MESSAGES_V2, "msg_id long, key string, value string"
    )
    batch_all = translate_envelope(parse_envelope(v2))
    w = Window.partitionBy("id").orderBy(
        F.col("_lsn").desc(), F.col("_ts").desc(), F.col("msg_id").desc()
    )
    batch = (
        batch_all.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "name", "email", "is_deleted", "_lsn")
    )
    s = snap.alias("s")
    b = batch.alias("b")
    j = s.join(b, F.col("s.id") == F.col("b.id"), "full_outer")
    from_batch = F.col("b.id").isNotNull()
    return j.filter(~from_batch | (F.col("b.is_deleted") == 0)).select(
        F.coalesce(F.col("b.id"), F.col("s.id")).alias("id"),
        F.when(from_batch, F.col("b.name")).otherwise(F.col("s.name")).alias("name"),
        F.when(from_batch, F.col("b.email")).otherwise(F.col("s.email")).alias("email"),
        F.when(from_batch, F.col("b._lsn")).otherwise(F.col("s._lsn")).alias("_lsn"),
        F.when(~from_batch, "kept")
        .when(F.col("s.id").isNull(), "inserted")
        .otherwise("updated")
        .alias("action"),
    )
