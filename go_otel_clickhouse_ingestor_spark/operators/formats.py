"""Source-format round-trips: JSON and CSV read paths.

The reference's wire format is JSON rows (JSONEachRow POSTs,
``internal/ingestion/clickhouse.go:74,109``); a user migrating from it
lands raw JSON/CSV drops long before parquet.  These queries write the
events fixture to each text format once (in a per-uid /tmp root, keyed
by a content fingerprint of the fixture files, so in-place fixture
regeneration invalidates the cache) and read it back with an explicit
schema — the oracle reads the
ORIGINAL parquet, so a hash match proves the engine's text readers are
lossless for the carried columns.

Scale notes: text sources have no column pruning or predicate pushdown
(each row is parsed whole) — fine for landing zones, wrong for hot
queries; the pipeline pattern is text -> parquet once, then serve from
parquet (everything else in this repo).  Event time crosses the text
boundary as unix_micros BIGINT: JSON/CSV timestamp round-trips are
where precision bugs live, integers are exact.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..streaming.sinks import replace_partitions
from ..tables import table

_COLS = ("event_id", "ts_us", "user_id", "event_type", "value")
_SCHEMA = "event_id long, ts_us long, user_id long, event_type string, value double"
_ORACLE = """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
"""


#: Per-uid cache root: two users on one box must not collide on the
#: world-shared /tmp (ADVICE r12).
_CACHE_ROOT = f"/tmp/spark_graft_formats_{os.getuid()}"


def _fixture_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the fixture directory: md5 over every
    file's (relpath, size, mtime_ns).  Keying the /tmp cache by this
    instead of the directory STRING means regenerating fixture data in
    place invalidates the cached copies — the old string key either
    turned the roundtrip audit into a false oracle mismatch or masked
    a broken write path by reusing stale artifacts (ADVICE r12)."""
    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(sf_dir)):
        for fn in sorted(files):
            p = os.path.join(root, fn)
            st = os.stat(p)
            h.update(
                f"{os.path.relpath(p, sf_dir)}|{st.st_size}|{st.st_mtime_ns}\n".encode()
            )
    return h.hexdigest()[:12]


def _cache_path(prefix: str, sf_dir: str) -> str:
    """Fingerprint-keyed cache dir for ``prefix``, pruning stale
    siblings.  Every fixture regeneration mints a new suffix; without
    pruning the old copies strand forever and the per-uid cache root
    grows without bound (ADVICE r13).  The stem carries BOTH the
    format prefix and a hash of the fixture directory's identity
    (realpath), so two sessions working different sf_dirs — or one
    driver alternating sf0.001/0.01/0.1 — never evict each other's
    live cache dirs (ADVICE r14: the old prefix-only prune let a
    concurrent session rmtree a directory an in-flight job was still
    reading).  A sibling is stale iff it shares the full stem (format
    AND sf_dir) with a different (hex) fingerprint — same stem means a
    regenerable copy of the same fixture.  Known residual: the
    fingerprint uses size+mtime_ns, not bytes, so a restore preserving
    both reuses a stale copy — accepted; hashing fixture bytes on
    every call would cost a full fixture read per query."""
    sf_id = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:8]
    stem_key = f"{prefix}-{sf_id}"
    suffix = _fixture_fingerprint(sf_dir)
    current = f"{stem_key}_{suffix}"
    try:
        for name in os.listdir(_CACHE_ROOT):
            stem, _, tail = name.rpartition("_")
            if stem == stem_key and name != current and len(tail) == 12:
                shutil.rmtree(os.path.join(_CACHE_ROOT, name), ignore_errors=True)
    except FileNotFoundError:
        pass  # first write creates the root
    return f"{_CACHE_ROOT}/{current}"


def _text_copy(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write the events fixture once as JSON/CSV; reuse across calls."""
    path = _cache_path(fmt, sf_dir)
    if not os.path.exists(f"{path}/_SUCCESS"):
        ev = table(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        w = ev.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", "true").csv(path)
        else:
            w.json(path)
    return path


@query("source_json_roundtrip", oracle=_ORACLE)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines → read with explicit schema.  Hash-matching
    the parquet-backed oracle proves losslessness."""
    path = _text_copy(spark, sf_dir, "json")
    return spark.read.schema(_SCHEMA).json(path).select(*_COLS)


@query("source_csv_roundtrip", oracle=_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV with header → read with explicit schema (never
    inferSchema on a big drop: it is an extra full pass over the data)."""
    path = _text_copy(spark, sf_dir, "csv")
    return (
        spark.read.schema(_SCHEMA).option("header", "true").csv(path).select(*_COLS)
    )


@query("source_orc_roundtrip", oracle=_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → read back.  Unlike the text formats ORC is a real
    columnar serving format (pruning + pushdown work), so this is the
    parquet-alternative read path, not a landing-zone path."""
    path = _cache_path("orc", sf_dir)
    if not os.path.exists(f"{path}/_SUCCESS"):
        (
            table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .orc(path)
        )
    return spark.read.schema(_SCHEMA).orc(path).select(*_COLS)


@query(
    "source_partitioned_pruning",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    """,
)
def source_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout: events written ``partitionBy(event_type)``
    once, then read with a partition filter — the scan touches ONLY the
    two matching directories (partition pruning, visible as
    PartitionFilters in the plan; asserted by tests/test_plans.py).
    This is the 100 TB layout primitive: a date/tenant-partitioned
    table turns a full scan into a directory listing plus the matching
    files — pruning happens before any IO, unlike row-group pushdown
    which still opens every footer."""
    path = _cache_path("part", sf_dir)
    if not os.path.exists(f"{path}/_SUCCESS"):
        (
            table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(path)
        )
    # explicit schema: an all-empty write leaves no footer to infer
    # from, and a real lake reader never relies on inference anyway
    return (
        spark.read.schema("event_id bigint, ts_us bigint, user_id bigint, value double, event_type string")
        .parquet(path)
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(*_COLS)
    )


#: Lake-writer layout contract (write_lake_partitioned).
LAKE_MAX_RECORDS_PER_FILE = 2_000


def write_lake_partitioned(df: DataFrame, path: str, partition_col: str) -> None:
    """The serving-side lake writer — the parquet counterpart of the
    reference's ClickHouse sink (internal/ingestion/clickhouse.go:19-132
    writes row batches; a Spark pipeline lands columnar files instead).

    Layout contract, every piece load-bearing at 100 TB:

    - ``partitionBy(partition_col)``: directory-level partition pruning
      for every downstream query filtering on the column
      (``source_partitioned_pruning`` asserts the read side);
    - ``sortWithinPartitions``: clustered row groups inside each file,
      so parquet min/max row-group statistics actually prune — an
      unsorted file's min/max spans everything and prunes nothing;
    - ``maxRecordsPerFile``: bounds file sizes regardless of task
      count/skew (one hot partition value can't produce a 50 GB file);
    - one shuffle total (repartition on the partition column before the
      sort) so each directory is written by few tasks instead of every
      task appending a sliver-file to every directory — the classic
      small-files failure."""
    (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(partition_col, "doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", LAKE_MAX_RECORDS_PER_FILE)
        .partitionBy(partition_col)
        .parquet(path)
    )


@query("source_text_logparse", oracle=_ORACLE)
def source_text_logparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → Apache-combined-style log lines → ``spark.read.text``
    + regexp field extraction — the classic landing-zone ingest (the
    reference's users arrive from log shippers, README.md pitch).  The
    line is synthesized once per fixture ('ip - u<uid> [<ts_us>]
    "GET /<type> HTTP/1.1" 200 <eid> v=<value>'), then parsed back
    with one regexp per field; hash-matching the parquet oracle proves
    the formatter+parser pair is lossless, including doubles through
    Spark's shortest-roundtrip string form.  Scale: text+regex is a
    map-only scan — no pruning, no pushdown (documented landing-zone
    trade); the pattern is parse once → parquet, serve columnar."""
    path = _cache_path("log", sf_dir)
    if not os.path.exists(f"{path}/_SUCCESS"):
        (
            table(spark, sf_dir, "events")
            .select(
                F.concat(
                    F.lit('127.0.0.1 - u'),
                    F.col("user_id").cast("string"),
                    F.lit(" ["),
                    F.unix_micros("ts").cast("string"),
                    F.lit('] "GET /'),
                    F.col("event_type"),
                    F.lit(' HTTP/1.1" 200 '),
                    F.col("event_id").cast("string"),
                    F.lit(" v="),
                    F.col("value").cast("string"),
                ).alias("value")
            )
            .write.mode("overwrite")
            .text(path)
        )
    line = spark.read.text(path)
    rex = (
        r'^127\.0\.0\.1 - u(\d+) \[(\d+)\] "GET /(\w+) HTTP/1\.1" 200 (\d+) v=(\S+)$'
    )
    return line.select(
        F.regexp_extract("value", rex, 4).cast("long").alias("event_id"),
        F.regexp_extract("value", rex, 2).cast("long").alias("ts_us"),
        F.regexp_extract("value", rex, 1).cast("long").alias("user_id"),
        F.regexp_extract("value", rex, 3).alias("event_type"),
        F.regexp_extract("value", rex, 5).cast("double").alias("value"),
    )


@query("source_xml_roundtrip", oracle=_ORACLE)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → XML (one ``<event>`` element per row) → read back with
    an explicit schema via Spark 4's built-in XML source — the last
    first-class text format (after JSON/CSV), and the shape legacy
    enterprise drops actually arrive in.  Same landing-zone contract
    as the other text sources: no pruning/pushdown, parse-whole-row,
    convert to parquet once; event time crosses as unix_micros BIGINT
    because XML timestamp round-trips are where precision dies."""
    path = _cache_path("xml", sf_dir)
    if not os.path.exists(f"{path}/_SUCCESS"):
        (
            table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .format("xml")
            .option("rootTag", "events")
            .option("rowTag", "event")
            .save(path)
        )
    return (
        spark.read.schema(_SCHEMA)
        .format("xml")
        .option("rowTag", "event")
        .load(path)
        .select(*_COLS)
    )


@query(
    "source_binaryfile_ingest",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text)                  AS content_md5
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingest via the ``binaryFile`` source — the multimodal
    landing path: a directory of opaque media/text files becomes a
    DataFrame of (path, length, content) with NO decoding, the step
    before ``multimodal_decode``'s mapInPandas codec.  The fixture
    docs (1-in-10) are written out as individual ``doc_<id>.bin``
    files once, read back whole, keyed by id parsed from the filename,
    and fingerprinted JVM-side (md5 over the bytes) — hash-matching
    the oracle's direct text digest proves byte-lossless ingest.
    Scale: one task per file (small-file problem is real — at 100 TB
    you pack media into WebDataset-style tar shards or parquet BLOBs,
    which is exactly the ``multimodal_cols`` layout this feeds)."""
    path = _cache_path("bin", sf_dir)
    if not os.path.exists(f"{path}/_DONE"):
        rows = (
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", "text")
            .collect()
        )  # fixture-bounded file-tree synthesis (1-in-10 docs), not a hot path
        os.makedirs(path, exist_ok=True)
        for r in rows:
            with open(f"{path}/doc_{r.doc_id}.bin", "wb") as fh:
                fh.write(r.text.encode("utf-8"))
        with open(f"{path}/_DONE", "w") as fh:
            fh.write("ok")
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
    )


#: Static dim for the DPP demo: event_type → engagement tier.  Inline
#: (VALUES) on both engines so the oracle sees identical bytes.
EVENT_TIERS = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("purchase", "revenue"),
    ("signup", "acquisition"),
    ("error", "ops"),
]


@query(
    "join_dynamic_partition_pruning",
    oracle="""
    SELECT e.event_type,
           count(*)                                              AS n_events,
           cast(round(sum(cast(e.value AS DECIMAL(14,4))), 2) AS DOUBLE) AS total_value
    FROM events e
    JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
                 ('purchase', 'revenue'), ('signup', 'acquisition'),
                 ('error', 'ops')) d(event_type, tier)
      ON e.event_type = d.event_type
    WHERE d.tier = 'engagement'
    GROUP BY e.event_type
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact side is the
    event_type-partitioned parquet layout of
    :func:`source_partitioned_pruning`, the dim side is a tiny tier
    table filtered AFTER planning starts — no literal predicate on the
    partition column exists in the query, yet Spark inserts a runtime
    ``dynamicpruningexpression`` into the scan's PartitionFilters,
    reusing the dim's broadcast result to enumerate surviving
    partitions before any fact IO (asserted by tests/test_plans.py).
    This is THE 100 TB star-join primitive: a date-partitioned fact
    joined to a filtered dim ('last quarter', 'EU tenants') scans only
    matching directories, turning a full-table scan into a pruned one
    with zero query rewrite.  The static twin (literal IN on the
    partition column) is source_partitioned_pruning; here pruning
    survives the indirection through a join."""
    path = _cache_path("part", sf_dir)
    if not os.path.exists(f"{path}/_SUCCESS"):
        (
            table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(path)
        )
    fact = spark.read.schema("event_id bigint, ts_us bigint, user_id bigint, value double, event_type string").parquet(path)
    dim = spark.createDataFrame(EVENT_TIERS, "event_type string, tier string")
    return (
        fact.join(F.broadcast(dim.filter(F.col("tier") == "engagement")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "cast(round(sum(cast(value as decimal(14,4))), 2) as double)"
            ).alias("total_value"),
        )
    )


def list_partition_files(path: str, partition_col: str) -> dict[str | None, list[str]]:
    """Partition-value (``None`` for null) → data-file paths, in
    ``path``'s own form, of a hive-layout parquet directory, listed
    through pyarrow's filesystem for ``path``'s scheme.  On a real lake
    this comes from the table format's manifest or a LIST call."""
    import pyarrow as pa
    import pyarrow.dataset as pds
    import pyarrow.fs as pafs

    fs, root = pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))
    hive = pds.partitioning(pa.schema([(partition_col, pa.string())]), flavor="hive")
    out: dict[str | None, list[str]] = {}
    for frag in pds.dataset(root, filesystem=fs, partitioning=hive).get_fragments():
        keys = pds.get_partition_keys(frag.partition_expression)
        if partition_col in keys:
            file = path.rstrip("/") + frag.path[len(root.rstrip("/")):]
            out.setdefault(keys[partition_col], []).append(file)
    return {v: sorted(files) for v, files in out.items()}


def compact_lake_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    max_files_per_partition: int = 4,
) -> dict[str, tuple[int, int]]:
    """Small-file compaction — the standing maintenance job every
    streaming-ingested lake needs (reference parity: ClickHouse runs
    background part merges for exactly this reason, README.md's
    MergeTree pitch; a parquet lake must schedule its own).

    Micro-batch sinks land a sliver file per trigger per partition;
    after a day a hot partition holds thousands of KB-sized files and
    scan cost is dominated by per-file open/footer overhead, not bytes.
    This pass rewrites ONLY the partitions whose file count exceeds
    ``max_files_per_partition``, each to at most that many files, and
    never touches healthy partitions (asserted byte-for-byte by the
    test).  The census is LIST metadata (no data IO); the oversplit
    partitions are read in one scan and written with ``coalesce(k)``
    (no shuffle) in one staged write that ``sinks.replace_partitions``
    swaps in.  Returns {partition_value: (files_before, files_after)}
    for the rewritten partitions.  Run it off-peak."""
    census = list_partition_files(path, partition_col)
    victims = {v: files for v, files in census.items() if len(files) > max_files_per_partition}
    if not victims:
        return {}
    files = sum(victims.values(), [])
    # a string partition column: an inferred one would rename "007" to "7"
    schema = spark.read.parquet(files[0]).schema.add(partition_col, "string")
    rows = spark.read.schema(schema).option("basePath", path).parquet(*files)
    replace_partitions(
        spark, rows.coalesce(max_files_per_partition), path, partition_col, list(victims)
    )
    after = list_partition_files(path, partition_col)
    return {v: (len(victims[v]), len(after[v])) for v in victims}


@query(
    "source_json_corrupt_records",
    oracle="""
    WITH classified AS (
      SELECT CASE WHEN event_id % 17 = 0 THEN '_corrupt'
                  ELSE event_type END AS bucket,
             CASE WHEN event_id % 17 <> 0 THEN value END AS value
      FROM events
    )
    SELECT bucket,
           count(*)::BIGINT AS n,
           cast(round(sum(cast(coalesce(value, 0) AS DECIMAL(14,4))), 2)
                AS DOUBLE) AS total_value
    FROM classified GROUP BY bucket
    """,
)
def source_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance on the JSON landing path: the fixture
    is written as JSONL with every 17th line deterministically mangled
    (brace chopped off), then read back under ``mode=PERMISSIVE`` with
    ``columnNameOfCorruptRecord`` — corrupt lines survive as rows whose
    data columns are NULL and whose ``_corrupt`` column holds the raw
    bytes, so the pipeline can COUNT, quarantine, and replay them
    instead of dying (the reference's malformed-drop, cdc.go:63-67,
    upgraded to an auditable quarantine).  DROPMALFORMED/FAILFAST are
    config points of the same reader.  The census buckets corrupt rows
    under '_corrupt' next to the per-type good rows; the oracle derives
    the identical classification relationally from the parquet truth.
    Scale: map-only parse; the quarantine column rides the scan, no
    extra pass."""
    path = _cache_path("corrupt", sf_dir)
    if not os.path.exists(f"{path}/_SUCCESS"):
        line = F.to_json(
            F.struct("event_id", F.unix_micros("ts").alias("ts_us"), "event_type", "value")
        )
        mangled = F.when(
            F.col("event_id") % 17 == 0,
            F.concat(F.lit("{bad-json "), F.substring(line, 2, 2_000_000)),
        ).otherwise(line)
        (
            table(spark, sf_dir, "events")
            .select(mangled.alias("value"))
            .write.mode("overwrite")
            .text(path)
        )
    parsed = (
        spark.read.schema(
            "event_id long, ts_us long, event_type string, value double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    bucket = F.when(F.col("_corrupt").isNotNull(), "_corrupt").otherwise(
        F.col("event_type")
    )
    return parsed.select(bucket.alias("bucket"), "value").groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "cast(round(sum(cast(coalesce(value, 0) as decimal(14,4))), 2) as double)"
        ).alias("total_value"),
    )


#: Z-order quantization width: each clustering column is rank-bucketed
#: to 8 bits before bit interleaving (16-bit Morton codes).
ZORDER_BITS = 8


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, files: int = 16
) -> None:
    """Multi-dimensional clustering via Z-ORDER (Morton interleave) —
    the lake layout that makes min/max file skipping work on TWO
    columns at once.  A single-column sort gives perfect pruning on
    the sort key and none on anything else (every file spans the full
    range of the second column); interleaving the bits of both
    columns' rank buckets gives each file a small rectangle in
    (A, B) space, so a selective filter on EITHER column skips most
    files.  This is what Delta's OPTIMIZE ZORDER BY and Iceberg's
    sort-order z-order do; here it is ~20 lines of open Spark API:

    - rank-bucket each column to 8 bits against SAMPLED quantile
      boundaries (``approxQuantile``: one sketch pass, driver state =
      255 doubles per column; rank-based, so skew can't collapse
      buckets) applied via a broadcast ``Bucketizer`` — the r6 ADVICE
      fix for the old ``ntile`` windows, which funneled the whole
      table through ONE task per column,
    - interleave the bits with integer shifts (codegen expressions),
    - ``repartitionByRange`` on the Morton code (contiguous code
      ranges per file = disjoint rectangles), sort within, write.

    Scale: one quantile-sketch pass + one range shuffle (sampled
    boundaries), no UDFs, no single-task stage anywhere."""
    from pyspark.ml.feature import Bucketizer

    nb = 1 << ZORDER_BITS
    tmp = df.withColumn("_za", F.col(col_a).cast("double")).withColumn(
        "_zb", F.col(col_b).cast("double")
    )
    qa, qb = tmp.stat.approxQuantile(
        ["_za", "_zb"], [i / nb for i in range(1, nb)], 1.0 / (4 * nb)
    )
    buck = Bucketizer(
        splitsArray=[
            [float("-inf"), *sorted(set(qa)), float("inf")],
            [float("-inf"), *sorted(set(qb)), float("inf")],
        ],
        inputCols=["_za", "_zb"],
        outputCols=["_qa", "_qb"],
        handleInvalid="keep",
    )
    bits = " | ".join(
        f"(((a_q >> {i}) & 1) << {2 * i + 1}) | (((b_q >> {i}) & 1) << {2 * i})"
        for i in range(ZORDER_BITS)
    )
    (
        buck.transform(tmp)
        # 'keep' parks NULL/NaN one bucket past the top — clamp back
        # into the 8-bit range so the interleave stays 16-bit
        .withColumn("a_q", F.least(F.col("_qa").cast("int"), F.lit(nb - 1)))
        .withColumn("b_q", F.least(F.col("_qb").cast("int"), F.lit(nb - 1)))
        .withColumn("zorder", F.expr(bits).cast("long"))
        .repartitionByRange(files, "zorder")
        .sortWithinPartitions("zorder")
        .drop("_za", "_zb", "_qa", "_qb", "a_q", "b_q", "zorder")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_skipping_stats(
    spark: SparkSession, path: str, col_a: str, col_b: str
) -> DataFrame:
    """Per-file (min, max) spans of both clustering columns — the
    exact metadata a lake table format keeps per data file and prunes
    with.  Derived by grouping on ``input_file_name`` (what the footer
    stats would say, computed the portable way)."""
    df = spark.read.parquet(path)
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(col_a).alias("a_min"),
            F.max(col_a).alias("a_max"),
            F.min(col_b).alias("b_min"),
            F.max(col_b).alias("b_max"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "source_multiline_logs",
    oracle="""
    WITH starts AS (
      SELECT event_id, epoch_us(ts) AS ts_us, event_type, value,
             (event_type = 'error') AS has_trace
      FROM events
    )
    SELECT event_id,
           'evt eid=' || event_id || ' type=' || event_type
             || ' v=' || printf('%.4f', value)
             || CASE WHEN has_trace
                     THEN chr(10) || '    at frame_a(eid=' || event_id || ')'
                          || chr(10) || '    at frame_b(eid=' || event_id || ')'
                     ELSE '' END AS record,
           (1 + CASE WHEN has_trace THEN 2 ELSE 0 END)::BIGINT AS n_lines
    FROM starts
    """,
)
def source_multiline_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline log-record assembly — the landing-zone problem every
    ingest pipeline hits (stack traces: one logical record, many
    physical lines; the naive line reader shreds them into garbage
    events).  The fixture synthesizes an Apache-style stream where
    error events carry two indented continuation lines; the reader
    then reassembles records WITHOUT any cross-row Python: a line is a
    record START iff it doesn't begin with whitespace, a running count
    of starts (ordered prefix-sum window over the file's line order)
    gives every line its record id, and a grouped sorted-concat
    rebuilds each record.  The oracle synthesizes the records
    directly from the parquet truth, so a hash match proves
    shred → reassemble is lossless including line order.  Scale: the
    ordered window is PARTITIONED BY ``input_file_name()`` — the log
    file is the natural record-boundary unit (records never span
    files), so a landing zone of 10k files runs 10k independent
    prefix-sums instead of one global window; everything after is
    record-keyed.  The fixture writes one file, for which the
    per-file form is identical to a global window."""
    path = _cache_path("mlog", sf_dir)
    if not os.path.exists(f"{path}/_SUCCESS"):
        ev = table(spark, sf_dir, "events")
        head = F.concat(
            F.lit("evt eid="),
            F.col("event_id").cast("string"),
            F.lit(" type="),
            F.col("event_type"),
            F.lit(" v="),
            F.format_string("%.4f", "value"),
        )
        frame = lambda name: F.concat(
            F.lit(f"    at {name}(eid="), F.col("event_id").cast("string"), F.lit(")")
        )
        lines = F.when(
            F.col("event_type") == "error",
            F.array(head, frame("frame_a"), frame("frame_b")),
        ).otherwise(F.array(head))
        (
            ev.orderBy("event_id")
            .select(F.explode(lines).alias("value"))
            .coalesce(1)  # one "log file": line order is the contract
            .write.mode("overwrite")
            .text(path)
        )
    from pyspark.sql.window import Window

    raw = spark.read.text(path).select(
        "value",
        F.monotonically_increasing_id().alias("line_no"),
        F.input_file_name().alias("src_file"),
    )
    is_start = (~F.col("value").startswith(" ")).cast("int")
    w = (
        Window.partitionBy("src_file")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = raw.select(
        "value",
        "line_no",
        "src_file",
        F.sum(is_start).over(w).alias("rec_id"),
    )
    rec = tagged.groupBy("src_file", "rec_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(line_no, value))), s -> s.value), chr(10))"
        ).alias("record"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    return rec.select(
        F.regexp_extract("record", "eid=(\\d+)", 1).cast("long").alias("event_id"),
        "record",
        "n_lines",
    )


def _footer_stats_batches(batches):
    """Executor-side parquet footer reads: each row carries a (table,
    path) pair; the worker opens ONLY the footer via pyarrow and emits
    the file-level facts.  No data pages are touched — the whole audit
    is metadata IO, which is what makes it viable over a million-file
    lake."""
    import glob as _glob
    import os as _os

    import pandas as pd
    import pyarrow.parquet as pq

    for pdf in batches:
        out = []
        for t, path in zip(pdf["table_name"], pdf["path"]):
            # a table may be a single parquet FILE (the driver fixtures)
            # or a DIRECTORY of part files (any Spark-written lake,
            # including Hive-partitioned key=value subdirs — hence the
            # recursive glob): sum row counts over every part footer,
            # column count from the first
            if _os.path.isdir(path):
                parts = sorted(
                    _glob.glob(
                        _os.path.join(path, "**", "*.parquet"), recursive=True
                    )
                )
                if not parts:
                    raise FileNotFoundError(
                        f"no *.parquet part files under table dir {path!r}"
                    )
            else:
                parts = [path]
            n_rows, n_cols = 0, 0
            for part in parts:
                md = pq.ParquetFile(part).metadata
                n_rows += md.num_rows
                n_cols = n_cols or md.num_columns
            out.append(
                {"table_name": t, "n_rows": n_rows, "n_cols": n_cols}
            )
        if out:
            yield pd.DataFrame(out)


@query(
    "source_parquet_footer_stats",
    oracle="""
    WITH counts AS (
      SELECT 'region' AS t, count(*) AS n FROM region UNION ALL
      SELECT 'nation', count(*) FROM nation UNION ALL
      SELECT 'customer', count(*) FROM customer UNION ALL
      SELECT 'supplier', count(*) FROM supplier UNION ALL
      SELECT 'part', count(*) FROM part UNION ALL
      SELECT 'orders', count(*) FROM orders UNION ALL
      SELECT 'lineitem', count(*) FROM lineitem UNION ALL
      SELECT 'events', count(*) FROM events UNION ALL
      SELECT 'documents', count(*) FROM documents UNION ALL
      SELECT 'embeddings', count(*) FROM embeddings
    ),
    cols AS (
      SELECT table_name, count(*) AS n_cols
      FROM information_schema.columns
      WHERE table_name IN ('region','nation','customer','supplier','part',
                           'orders','lineitem','events','documents',
                           'embeddings')
      GROUP BY table_name
    )
    SELECT counts.t AS table_name,
           cast(counts.n AS BIGINT)   AS n_rows,
           cast(cols.n_cols AS BIGINT) AS n_cols
    FROM counts JOIN cols ON counts.t = cols.table_name
    """,
)
def source_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake manifest audit from parquet FOOTERS only: per table file,
    the row and column counts as the footer declares them — verified
    against what the engines actually see when they scan the data (the
    oracle counts rows through the view and columns through the
    catalog).  This is the metadata-only integrity sweep a 100 TB lake
    runs nightly (row counts per partition vs the manifest, schema
    width drift) — it costs footer IO, not data IO.  The file list is
    a DataFrame and the footer reads happen in ``mapInPandas`` on
    executors: over a real manifest of millions of files the listing
    partitions and the reads parallelize; nothing is collected to the
    driver."""
    from ..tables import TABLES

    paths = spark.createDataFrame(
        [(t, f"{sf_dir}/{t}.parquet") for t in TABLES],
        "table_name string, path string",
    ).repartition(4)
    return paths.mapInPandas(
        _footer_stats_batches, "table_name string, n_rows long, n_cols long"
    )


def expire_lake_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    ttl_days: int,
    now_day: str,
) -> dict[str, int]:
    """TTL partition expiry — the data-lifecycle half of lake
    maintenance next to :func:`compact_lake_partitions` (reference
    parity: ClickHouse tables declare ``TTL ts + INTERVAL n DAY`` and
    drop whole parts; a parquet lake schedules the same sweep itself).

    Day-partitioned layouts make retention a METADATA operation: a
    partition is expired by dropping its directory, never by scanning
    or rewriting rows — O(|expired partitions|) renames regardless of
    table size, the only retention shape that survives 100 TB.
    ``now_day`` is an explicit ``yyyy-MM-dd`` string (no wall-clock
    read — deterministic, testable, and replayable like every other
    boundary in this repo).

    The drop is ``sinks.replace_partitions`` with no rows.  Returns
    {partition_value: n_files_dropped}."""
    import datetime

    cutoff = (
        datetime.date.fromisoformat(now_day)
        - datetime.timedelta(days=ttl_days)
    ).isoformat()
    census = list_partition_files(path, partition_col)
    expired = {v: len(files) for v, files in census.items() if v is not None and v < cutoff}
    replace_partitions(spark, None, path, partition_col, list(expired))
    return expired


@query(
    "source_otlp_spans_parse",
    oracle="""
    WITH span_json AS (
      SELECT user_id, event_id,
             printf('{"traceId":"%s","spanId":"%s","name":"%s","kind":%d,'
                    || '"startTimeUnixNano":"%d","endTimeUnixNano":"%d"}',
                    md5(cast(user_id AS VARCHAR)),
                    substring(md5(cast(event_id AS VARCHAR)), 1, 16),
                    event_type,
                    2 + event_id % 2,
                    epoch_us(ts) * 1000,
                    epoch_us(ts) * 1000
                      + cast(round(value * 1000) AS BIGINT) * 1000000) AS sj
      FROM events
    ),
    envelopes AS (
      SELECT printf('{"resourceSpans":[{"resource":{"attributes":[{"key":'
                    || '"service.name","value":{"stringValue":"svc-%d"}}]},'
                    || '"scopeSpans":[{"scope":{"name":"synthetic-gen"},'
                    || '"spans":[%s]}]}]}',
                    user_id % 8,
                    string_agg(sj, ',' ORDER BY event_id)) AS env
      FROM span_json GROUP BY user_id
    ),
    spans AS (
      SELECT json_extract_string(env,
               '$.resourceSpans[0].resource.attributes[0].value.stringValue')
               AS service,
             unnest(cast(json_extract(env,
               '$.resourceSpans[0].scopeSpans[0].spans') AS JSON[])) AS s
      FROM envelopes
    )
    SELECT service,
           s->>'traceId' AS trace_id,
           s->>'spanId'  AS span_id,
           s->>'name'    AS name,
           cast(s->>'kind' AS BIGINT) AS kind,
           cast(s->>'startTimeUnixNano' AS BIGINT) // 1000 AS start_us,
           (cast(s->>'endTimeUnixNano' AS BIGINT)
              - cast(s->>'startTimeUnixNano' AS BIGINT)) // 1000
             AS duration_us
    FROM spans
    """,
)
def source_otlp_spans_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP/JSON trace ingestion — the wire format the reference's
    domain is built around (an OTel ingestor; its own self-tracing is
    A15, ``internal/tracing/tracing.go``): parse
    ``ExportTraceServiceRequest`` envelopes
    (resourceSpans[] → scopeSpans[] → spans[], resource attributes as
    key/typed-value pairs, uint64 nanos encoded as JSON STRINGS per the
    proto3 JSON mapping — the detail every hand-rolled parser gets
    wrong) into a flat span table with service attribution and integer
    micro durations.  The fixture corpus has no OTLP landing zone, so
    the envelope stage synthesizes one deterministic envelope per user
    from the events table by explicit string concatenation — byte-
    identical in both engines — and the two PARSERS are fully
    independent: Spark ``from_json`` with the typed nested OTLP schema
    (handles any number of resourceSpans/scopeSpans, attribute arrays
    filtered by key), DuckDB json_extract + JSON[] unnest.  Plan:
    synthesis is one user-keyed shuffle; the parse itself is
    map-linear — from_json + three generator explodes + an attribute
    filter, all codegen, which is exactly the 100 TB landing-zone
    shape (one pass over raw JSON bytes, no shuffle)."""
    ev = table(spark, sf_dir, "events")
    sj = F.format_string(
        '{"traceId":"%s","spanId":"%s","name":"%s","kind":%d,'
        '"startTimeUnixNano":"%d","endTimeUnixNano":"%d"}',
        F.md5(F.col("user_id").cast("string")),
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 16),
        F.col("event_type"),
        F.lit(2) + F.col("event_id") % 2,
        F.unix_micros("ts") * 1000,
        F.unix_micros("ts") * 1000
        + F.expr("cast(round(value * 1000) as bigint)") * 1000000,
    )
    keyed = ev.select(
        "user_id",
        F.struct(F.col("event_id").alias("event_id"), sj.alias("sj")).alias("e"),
    )
    envelopes = keyed.groupBy("user_id").agg(
        F.format_string(
            '{"resourceSpans":[{"resource":{"attributes":[{"key":'
            '"service.name","value":{"stringValue":"svc-%d"}}]},'
            '"scopeSpans":[{"scope":{"name":"synthetic-gen"},'
            '"spans":[%s]}]}]}',
            F.col("user_id") % 8,
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x.getField("sj")
                ),
                ",",
            ),
        ).alias("env")
    )
    otlp_schema = (
        "resourceSpans array<struct<"
        "resource: struct<attributes: array<struct<"
        "key: string, value: struct<stringValue: string>>>>, "
        "scopeSpans: array<struct<"
        "scope: struct<name: string>, "
        "spans: array<struct<traceId: string, spanId: string, name: string, "
        "kind: bigint, startTimeUnixNano: string, endTimeUnixNano: string>>>>>>"
    )
    parsed = envelopes.select(
        F.from_json("env", otlp_schema).alias("req")
    )
    rs = parsed.select(F.explode("req.resourceSpans").alias("rs"))
    svc = rs.select(
        F.element_at(
            F.filter(
                F.col("rs.resource.attributes"),
                lambda a: a.getField("key") == "service.name",
            ),
            1,
        )
        .getField("value")
        .getField("stringValue")
        .alias("service"),
        F.explode("rs.scopeSpans").alias("ss"),
    )
    sp = svc.select("service", F.explode("ss.spans").alias("s"))
    return sp.select(
        "service",
        F.col("s.traceId").alias("trace_id"),
        F.col("s.spanId").alias("span_id"),
        F.col("s.name").alias("name"),
        F.col("s.kind").alias("kind"),
        F.expr("cast(s.startTimeUnixNano as bigint) div 1000").alias("start_us"),
        F.expr(
            "(cast(s.endTimeUnixNano as bigint)"
            " - cast(s.startTimeUnixNano as bigint)) div 1000"
        ).alias("duration_us"),
    )


#: Codec roundtrip: the parquet compression codecs a lake actually
#: chooses between (snappy = Spark's default, zstd = the modern
#: space/speed winner, gzip = the legacy interop floor).  All three
#: ship in-box with Spark 4 — no external jars.
_CODECS = ("snappy", "zstd", "gzip")

#: Canonical row serialization of the orders table for the portable
#: md5 checksum (agg_table_checksum's rule: ints verbatim, money in
#: exact centi-units, timestamps as epoch-micros — float formatting
#: never enters the hash).
_ORD_COLS_SPARK = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "cast(round(o_totalprice * 100) as bigint)",
    # readback arrives as TIMESTAMP_NTZ; UTC session tz makes the cast
    # an identity (the tables.py sniffing rule)
    "unix_micros(cast(o_orderdate as timestamp))",
    "o_orderpriority",
)
_ORD_COLS_DUCK = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "cast(round(o_totalprice * 100) AS BIGINT)",
    "epoch_us(o_orderdate)",
    "o_orderpriority",
)


@query(
    "source_compression_codecs",
    oracle=f"""
    WITH h AS (
      SELECT ('0x' || substr(md5(concat_ws('|',
                 {', '.join(_ORD_COLS_DUCK)})), 1, 15))::BIGINT AS rh
      FROM orders
    ),
    sums AS (
      SELECT count(*)   AS n_rows,
             bit_xor(rh) AS xor_hash,
             cast(cast(sum(cast(rh AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS VARCHAR) AS sum_hash
      FROM h
    )
    SELECT c.codec, s.n_rows, s.xor_hash, s.sum_hash
    FROM (VALUES {', '.join(f"('{c}')" for c in _CODECS)}) c(codec)
    CROSS JOIN sums s
    """,
)
def source_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec roundtrip — the lake-layout decision a
    100 TB deployment makes ONCE and lives with (snappy is Spark's
    default; zstd typically wins 20-30% space at comparable read
    speed; gzip is the interop floor): the orders table is WRITTEN
    with each codec and READ BACK, and each pass is folded into the
    portable md5 checksum (agg_table_checksum's canonical
    serialization) — the oracle checksums the ORIGINAL parquet, so a
    hash match per codec proves all three write→read paths are
    bit-lossless for every carried column, which is the property a
    codec migration must establish before rewriting a lake.  The
    physical writes are real (kept in /tmp keyed by fixture, reused
    across calls — the _text_copy discipline); the checksum is one
    map-side-combined scan per codec, no shuffle wider than one
    row."""
    base = table(spark, sf_dir, "orders")
    rh = F.expr(
        "cast(conv(substring(md5(concat_ws('|', "
        + ", ".join(_ORD_COLS_SPARK)
        + ")), 1, 15), 16, 10) as bigint)"
    )
    parts = []
    for codec in _CODECS:
        path = _cache_path(f"orders_{codec}", sf_dir)
        if not os.path.exists(f"{path}/_SUCCESS"):
            base.write.mode("overwrite").option("compression", codec).parquet(
                path
            )
        back = spark.read.parquet(path)
        parts.append(
            back.select(rh.alias("rh")).agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).alias("n_rows"),
                F.bit_xor("rh").alias("xor_hash"),
                F.sum(F.col("rh").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .alias("sum_hash"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
