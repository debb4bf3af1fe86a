"""Source readers.

Reference equivalents (SURVEY.md §2.1):

- S1/S2: per-file CSV read + manual unionByName fold
  (historical_data_transformation.py:13-27), because CSV vintages carry
  different columns. Spark-first: one scan per distinct header, each
  with that header pinned as an explicit schema, folded by name.
- S3: multiline-JSON listing scan (propnex_transformation.py:110) — ours
  pins an explicit StructType instead of inferring.
- S4: parquet scans (merge_dedup.py:52-53). Ours infers each table's
  schema once per (session, file fingerprint) and pins it on every
  later scan, so a warm read runs no Spark job.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..operators.index_cache import artifact, table_paths
from ..schemas import RAW_HISTORICAL_COLUMNS

class SchemaContractError(TypeError):
    """A testdata table's logical schema violates the engine contract
    (raised at the read boundary with a one-line diagnosis, instead of
    letting a type mismatch explode in some query four call-sites away).
    """


# Logical-schema contract per table, AFTER timestamp normalization.
# Types are Spark ``simpleString``s. The engine's single internal
# event-time type is TIMESTAMP (= TIMESTAMP_LTZ; session TZ is pinned to
# UTC in session.py, so normalizing producer variants is value-free):
# whatever physical flavor a producer wrote — TIMESTAMP_NTZ µs,
# TIMESTAMP_LTZ, or INT64 epoch-nanos — arrives in queries as TIMESTAMP.
# At 100 TB mixed producer types are the norm; one normalization point
# beats N call-site assumptions (this exact drift broke five queries in
# round 2 when the testdata moved from nanos to µs-NTZ).
TABLE_CONTRACTS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def normalize_timestamps(df: DataFrame, name: str | None = None) -> DataFrame:
    """Normalize every producer timestamp flavor to the one internal type.

    - TIMESTAMP_NTZ → cast to TIMESTAMP. Session TZ is UTC (session.py),
      so the µs value is bit-identical; only the logical type changes.
    - LONG where the contract expects a timestamp (TIMESTAMP(NANOS)
      parquet read under ``spark.sql.legacy.parquet.nanosAsLong``) →
      ``timestamp_micros(x div 1000)``. Integer ``div`` (not ``/``):
      epoch-nanos ≈ 1.7e18 exceeds double's 2^53 integer range; the
      truncation to µs matches what DuckDB's reader does, so both
      engines see identical values.
    - TIMESTAMP passes through.
    """
    columns = _normalized_columns(df.schema, name)
    return df.withColumns(columns) if columns else df


def _normalized_columns(schema: StructType, name: str | None) -> dict[str, Column]:
    """The columns :func:`normalize_timestamps` replaces in a frame
    with ``schema``, by name (one Project, columns keep their order)."""
    contract = TABLE_CONTRACTS.get(name or "", {})
    columns = {}
    for f in schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            columns[f.name] = F.col(f.name).cast("timestamp")
        elif isinstance(f.dataType, LongType) and contract.get(f.name) == "timestamp":
            columns[f.name] = F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
    return columns


def validate_contract(df: DataFrame, name: str) -> None:
    """One-line-diagnosis schema check against TABLE_CONTRACTS.

    Runs after normalization; extra columns are tolerated (a producer
    adding a field must not break every reader), missing or wrong-typed
    contract columns fail loudly here rather than deep inside a query.
    """
    contract = TABLE_CONTRACTS.get(name)
    if not contract:
        return
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for col_name, expected in contract.items():
        actual = got.get(col_name)
        if actual is None:
            raise SchemaContractError(
                f"{name}.{col_name}: missing (expected {expected}); "
                f"present columns: {sorted(got)}"
            )
        if actual != expected:
            raise SchemaContractError(
                f"{name}.{col_name}: got {actual}, expected {expected} "
                f"(testdata drift? normalize_timestamps handles "
                f"TIMESTAMP/TIMESTAMP_NTZ/INT64-nanos only)"
            )


_TZ_OVERRIDE_WARNED = False


def _pin_read_confs(spark: SparkSession) -> None:
    """Pin the two session confs the normalization depends on (see
    :func:`read_table`)."""
    global _TZ_OVERRIDE_WARNED
    for conf_key, conf_val in [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ]:
        try:
            current = spark.conf.get(conf_key, None)
            if current == conf_val:
                continue
            if (
                conf_key == "spark.sql.session.timeZone"
                and current not in (None, "Etc/UTC")
                and not _TZ_OVERRIDE_WARNED
            ):
                import warnings

                _TZ_OVERRIDE_WARNED = True
                warnings.warn(
                    f"read_table: overriding session timezone {current!r} -> "
                    f"'UTC' (required for value-preserving TIMESTAMP_NTZ "
                    f"normalization; warned once per process)",
                    stacklevel=4,
                )
            spark.conf.set(conf_key, conf_val)
        except Exception:
            pass  # immutable in this session; the read fails loudly if needed


def _pinned_scan(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, StructType]:
    """The schema-pinned parquet scan of ``name`` and its raw schema.
    See :func:`read_table`."""
    _pin_read_confs(spark)
    sources = table_paths(sf_dir, [name])
    path = sources[0]

    def infer() -> StructType:
        raw = spark.read.parquet(path)
        # raises, so a contract violation is never cached
        validate_contract(normalize_timestamps(raw, name), name)
        return raw.schema

    schema = artifact(
        spark,
        f"sources.schema.{name}",
        sources,
        # changes what inference returns for µs timestamps
        (spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None),),
        infer,
    )
    return spark.read.schema(schema).parquet(path), schema


def read_raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """:func:`read_table` without the timestamp normalization: the
    producer's physical types, for consumers that need the files' own
    types (``streaming.events.table_stream`` stages them as they are)."""
    return _pinned_scan(spark, sf_dir, name)[0]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver-generated table (S4), with timestamp
    normalization + schema-contract validation at the boundary.

    SIDE EFFECT (documented contract): pins two session-global SQL confs
    the normalization depends on — ``spark.sql.legacy.parquet.nanosAsLong
    = true`` and ``spark.sql.session.timeZone = UTC``. NTZ→LTZ
    normalization is value-preserving only in UTC, and bare consumer
    sessions (the grading driver's) don't run our session factory. Each
    conf is only written when it differs from the current value.
    Overriding a non-UTC timezone warns ONCE PER PROCESS — conf.get
    cannot distinguish a deliberately-set value from the JVM's machine
    default, so a per-call warning would be pure noise on every
    non-UTC developer box.

    SCHEMA PINNING: a scan without a schema makes Spark run a one-task
    job to read the parquet footer (about 0.1 s on a warm 4-core local
    session). So the first call infers the raw schema, validates its
    normalized form against ``TABLE_CONTRACTS``, and stores the raw
    schema as an ``operators.index_cache`` artifact, tag
    ``sources.schema.<name>``, keyed on the session, the file's
    ``(path, size, mtime)`` fingerprint and the
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` conf. Every later
    call scans with that schema pinned (``spark.read.schema``) and
    builds the normalizing select from it: no job, no schema round
    trip. A rewritten file, a flipped conf or ``index_cache.clear()``
    re-infers on the next call; the fingerprint check also refreshes
    Spark's cached data over a rewritten file, so a persisted plan over
    the old file is not served for the new one. A contract violation is
    never cached: it raises on every call.

    Each call builds a fresh relation, never a cached DataFrame, so a
    query that reads one table twice gets distinct attribute ids."""
    df, schema = _pinned_scan(spark, sf_dir, name)
    columns = _normalized_columns(schema, name)
    return df.withColumns(columns) if columns else df


# Bound on one header peek: a header line that does not end within it
# fails loudly (a vintage's header line is ~130 bytes).
_HEADER_PEEK_BYTES = 4096


def _csv_headers(spark: SparkSession, path: str) -> dict[tuple[str, ...], list[str]]:
    """Each distinct header of the CSVs under ``path`` -> its files, in
    sorted file order. Every file's first line is read driver-side.

    On a classic session each peek is one bounded Hadoop-FS read (any
    scheme): py4j passes ``byte[]`` BY VALUE, so the stream is bounded
    JVM-side and its bytes cross once, a few KiB per file, where
    ``spark.read.csv(header=True)`` without a schema runs a Spark job
    and lists the directory again (measured ~0.18 s of planning
    against ~0.02 s schema-pinned). Under Spark Connect there is no
    py4j gateway on the client (``spark._jvm`` doesn't exist), so the
    files are listed by the scan's own file index (``inputFiles``, no
    data read) and each first line is a one-row text read. An empty
    file, or a header that does not end within the bound, fails
    loudly."""
    import csv

    lines: dict[str, str] = {}
    if getattr(spark, "_jvm", None) is None:
        files = spark.read.option("pathGlobFilter", "*.csv").text(path).inputFiles()
        for f in sorted(files):
            rows = spark.read.text(f).limit(1).collect()
            lines[f] = rows[0][0] if rows else ""
    else:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        bounded = jvm.org.apache.commons.io.input.BoundedInputStream
        to_bytes = jvm.org.apache.commons.io.IOUtils.toByteArray
        it = fs.listFiles(jpath, False)
        paths = []
        while it.hasNext():
            p = it.next().getPath()
            if p.getName().endswith(".csv") and not p.getName().startswith((".", "_")):
                paths.append(p)
        for p in sorted(paths, key=lambda p: p.toString()):
            stream = fs.open(p)
            try:
                head = bytes(to_bytes(bounded(stream, _HEADER_PEEK_BYTES)))
            finally:
                stream.close()
            if b"\n" not in head and len(head) == _HEADER_PEEK_BYTES:
                raise ValueError(
                    f"CSV header longer than {_HEADER_PEEK_BYTES} bytes: {p}"
                )
            lines[p.toString()] = head.split(b"\n", 1)[0].decode("utf-8")
    if not lines:
        raise FileNotFoundError(f"no CSV files under {path}")
    headers: dict[tuple[str, ...], list[str]] = {}
    for f, line in lines.items():
        if not line:
            raise ValueError(f"empty CSV or header line: {f}")
        header = tuple(next(csv.reader([line.rstrip("\r")])))
        headers.setdefault(header, []).append(f)
    return headers


def read_historical_csv_dir(spark: SparkSession, path: str) -> DataFrame:
    """All historical-transaction CSVs under ``path``, each file's
    columns read BY NAME (S1+S2).

    Files are grouped by their header line (``_csv_headers``), and each
    group is one scan with that header pinned as an all-string schema.
    ``enforceSchema=False`` makes Spark check every file's own header
    against it, so a file cannot load shifted values under another
    file's column names. The canonical 10 columns are selected by name
    from each group (extra columns drop; a missing one fails) and the
    groups combine with ``unionByName``: the reference's per-file fold
    (historical_data_transformation.py:13-27) at one scan per distinct
    header, without a schema-inference job per file.
    """
    parts = [
        spark.read.csv(
            files,
            header=True,
            enforceSchema=False,
            schema=StructType([StructField(c, StringType(), True) for c in header]),
        ).select(*RAW_HISTORICAL_COLUMNS)
        for header, files in _csv_headers(spark, path).items()
    ]
    return functools.reduce(DataFrame.unionByName, parts)


def read_listing_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Multiline row-array JSON of scraped listings, explicit schema (S3)."""
    return spark.read.option("multiline", "true").schema(schema).json(path)
