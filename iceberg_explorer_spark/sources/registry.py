"""Table sources: parquet test tables, plus generic reader entry points.

The reference scans only Iceberg tables attached through its DuckDB engine
(reference: src/iceberg_explorer/query/engine.py:86-110). The rebuild's scan
layer is Spark's DataSourceV2: Iceberg tables when a catalog is configured
(see session.iceberg_catalog_conf), and direct parquet/csv/json paths for the
test harness. Either way Catalyst pushes filters and prunes columns into the
scan — check ``df.explain(True)`` for ``PushedFilters`` / ``ReadSchema``.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

#: tables materialized by the test-data generator (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Plain parquet scan → vectorized reader,
    filter pushdown and column pruning apply automatically.

    Session-independent by contract: callers may pass ANY SparkSession (the
    correctness harness uses its own default-conf session), so every conf
    this loader depends on is set here at runtime, never assumed from
    ``session.build_session``.

    ``events.ts`` has shipped in two physical flavours across testdata
    generations, and this loader normalizes BOTH to a plain ``timestamp``
    column whose instant equals the file's raw value read as UTC — the same
    reading the DuckDB oracle (and any naive-timestamp engine) gives:

    * ``TIMESTAMP(NANOS)`` — Spark rejects it by default;
      ``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable) scans it as
      epoch-nanos long, converted here with integer division (a double
      division would lose precision on 1e18-scale nanos).
    * ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` — Spark ≥3.4 infers
      ``TIMESTAMP_NTZ``, which ``unix_micros``/``window`` reject. The fix is
      a RE-READ with an explicit user schema whose ``ts`` is ``TIMESTAMP``:
      the parquet reader then loads the raw micros directly as the instant
      with NO session-timezone shift — verified equal to DuckDB's
      ``epoch_us`` under a non-UTC session tz (tests/test_differential.py
      pins this). An explicit schema beats the session-wide
      ``inferTimestampNTZ.enabled=false`` conf, which would also flip every
      OTHER table's naive timestamps (e.g. ``lineitem.l_shipdate``) and leak
      across the shared session.

    Both paths are session-independent: no branch consults
    ``spark.sql.session.timeZone``, so ANY caller session gets identical
    instants.

    The loader additionally PINS the session timezone to UTC (runtime
    conf, idempotent) as defense-in-depth: Spark captures the session tz
    into calendar expressions (``year``, ``date_trunc``, ``F.window``
    alignment over TIMESTAMP columns) at ANALYSIS time, so a plan built
    under a non-UTC caller session (the correctness harness passes its
    own default-conf session, which inherits the machine timezone) could
    shift calendar rollups relative to the naive-timestamp oracle. Most
    tables dodge this today — their micros columns infer as tz-free
    ``TIMESTAMP_NTZ`` — but ``events.ts`` is deliberately surfaced as a
    TIMESTAMP instant (the window functions reject NTZ), so any calendar
    function over it is exposed. Pinning here, at the single choke point
    every builder goes through BEFORE its expressions are analyzed, makes
    the declared naive-calendar semantics hold for ANY caller
    (tests/test_properties.py::test_timezone_invariance flips the session
    tz and asserts results unchanged).

    ``spark.sql.ansi.enabled`` is pinned FALSE the same way: the engine's
    declared semantics are permissive SQL (NULL on division-by-zero and
    bad casts — the behaviors the oracles encode), but PySpark 4 ships
    with ANSI ON by default, so a default-conf caller session would
    hard-error operators on edge data instead of NULLing. Both pins are
    runtime-settable session confs, idempotent under our own
    ``build_session`` (which already sets them).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    if name == "events":
        # Required for the legacy NANOS flavour; harmless when already set.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_inferred_schema(spark, sf_dir, name)).parquet(path)
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = spark.read.schema(_with_ts_as_timestamp(df.schema)).parquet(
                path
            )
    return df


#: Least bytes of file tail folded into a table fingerprint. A parquet
#: file's tail is read back to the start of its footer instead: the last
#: 64 bytes alone are only the writer's ``created_by`` string, the footer
#: length and the magic, so a rewrite that renames a column or changes
#: values at the same file size leaves them unchanged.
_FINGERPRINT_TAIL_BYTES = 64


def table_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of ``{sf_dir}/{table}.parquet``: the md5 of the
    sorted (relative path, size, mtime_ns, tail digest) entries of its
    files, where the tail is a parquet file's whole footer (schema,
    row-group offsets, column stats) or the last 64 bytes of any other
    file. It is the one staleness rule for everything cached from a
    corpus table: the schema memo of ``load_table`` and the
    shared-artifact cache (``operators/dedup.py``) both compare it on
    every lookup, so a table rewritten at the same path is re-read
    instead of served stale. The footer catches even metadata-preserving
    rewrites (``cp -p``, ``touch -r``, a timestamp-preserving sync).

    Computed afresh on every call: one open and two small reads per file
    (the footers of the test tables are 2-6 KB). A file that vanishes
    mid-pass (an in-place rewrite deleting its old part files) enters as
    a sentinel, so the in-progress state never matches the fingerprint of
    either the old or the new table. A missing path fingerprints as
    empty; the read itself then raises the real error."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(root):
        paths = [("", root)]
    else:
        paths = []
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                p = os.path.join(dirpath, name)
                paths.append((os.path.relpath(p, root), p))
    entries = []
    for rel, p in paths:
        try:
            with open(p, "rb") as fh:
                st = os.fstat(fh.fileno())
                # parquet ends in <footer length, 4 bytes LE> b"PAR1"
                fh.seek(max(0, st.st_size - 8))
                end = fh.read(8)
                n = _FINGERPRINT_TAIL_BYTES
                if end[4:] == b"PAR1":
                    n = max(n, int.from_bytes(end[:4], "little") + 8)
                fh.seek(max(0, st.st_size - n))
                tail = fh.read(n)
            entries.append(
                (rel, st.st_size, st.st_mtime_ns, hashlib.md5(tail).hexdigest())
            )
        except OSError:
            entries.append((rel, -1, -1, "<vanished-during-fingerprint>"))
    entries.sort()
    return hashlib.md5(repr(entries).encode()).hexdigest()


#: (sf_dir, table) → (table_fingerprint, inferred StructType). Schema
#: inference on a parquet path runs a small Spark job (footer read) on
#: EVERY ``spark.read.parquet`` call — one to three per query build,
#: ~25 ms each, which the bench pays hundreds of times per run. The
#: inferred schema is a pure metadata object (session-independent), so
#: memoize it per table and hand it to the reader explicitly; the reader
#: then skips the inference job entirely. A fingerprint mismatch
#: re-infers, so a rewritten table never serves a stale schema. This
#: caches METADATA only — every query still computes from the parquet
#: data itself.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[str, object]] = {}


def _inferred_schema(spark: SparkSession, sf_dir: str, name: str):
    # fingerprint BEFORE inferring: a rewrite landing in between stores
    # the new schema under the old fingerprint, which the next lookup
    # simply misses
    fp = table_fingerprint(sf_dir, name)
    hit = _SCHEMA_CACHE.get((sf_dir, name))
    if hit is not None and hit[0] == fp:
        return hit[1]
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    _SCHEMA_CACHE[(sf_dir, name)] = (fp, schema)
    return schema


def _with_ts_as_timestamp(schema):
    """Copy of a schema with the ``ts`` field retyped to ``TIMESTAMP`` —
    the explicit-schema override that makes the parquet reader surface an
    NTZ-annotated micros column as the same micros instant."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(
                f.name,
                T.TimestampType() if f.name == "ts" else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]
    )


def repartition_for_compute(df: DataFrame, min_factor: float = 0.5) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy map work.

    Small-file skew guard: a table that fits one parquet split scans as ONE
    partition, so everything before the first shuffle (tokenization, per-row
    hashing, embedding math) runs on one core regardless of cluster size.
    When the scan has fewer than ``min_factor ×`` defaultParallelism
    partitions, round-robin repartition to defaultParallelism — a tiny
    shuffle of the raw rows that unlocks full-width map stages. At real
    scale (files ≥ maxPartitionBytes) the scan is already wide and this is
    a no-op, so the guard never adds a shuffle where data size provides
    parallelism naturally.

    Contract (the measured rule, r17/r18): only for operators whose
    CPU-DENSE work before the next exchange dominates the scan —
    Python kernels (the mapInPandas aHash decode) AND heavy JVM
    expression chains (the embedding contract+normalize lambdas, JSON
    extraction, quadratic array pair expansion). Cheap consumers
    measured WORSE with the spread and keep the native partitioning:
    bare id projections, single-expression maps, shingling, text
    scoring, the GEMM chain (pinned fanout=False at its call site).
    Every decision is a per-call-site measurement at sf0.1, recorded in
    a comment where the call (or its absence) lives.

    The scan width is estimated from ``df.inputFiles()`` + the
    ``files.maxPartitionBytes`` split math — never ``df.rdd`` (touching
    ``.rdd`` forces full plan analysis through a deprecated conversion path
    on every query build).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if not files:  # non-file-based plan: no basis to estimate width
            return df
        max_split = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        n_splits = sum(
            -(-os.path.getsize(f.removeprefix("file:")) // max_split)
            for f in files
        )
    except Exception:  # non-file-based plan (e.g. in-memory relation)
        return df
    if n_splits < max(2, int(target * min_factor)):
        return df.repartition(target)
    return df


def eager_checkpoints(*dfs: DataFrame) -> "tuple[DataFrame, ...]":
    """Materialize several INDEPENDENT frames as eager localCheckpoints
    concurrently (guide §2.6: actions are only sequential because driver
    code calls them sequentially). Each ``localCheckpoint(eager=True)`` is
    a blocking job; an operator that materializes two frames that do not
    depend on each other (the heldout scorer's bigram + unigram model
    tables, the probe sweep's candidate + exact-baseline frames) otherwise
    pays them back-to-back while most of the machine idles through each
    job's tail. Two-three jobs in flight is the guide's own sweet spot;
    callers pass only frames with NO dependency on each other. Measured
    r17: text_heldout_perplexity 1.73 → 1.60 s (interleaved 5-iter min).
    Thread-safety: localCheckpoint submits a plain Spark job; job
    groups are thread-local, so each pool thread runs under a copy of the
    caller's local properties (``inheritable_thread_target``) and the
    caller's ``cancelJobGroup`` and timeout reach these jobs too."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if len(dfs) == 1:
        return (dfs[0].localCheckpoint(eager=True),)
    spark = dfs[0].sparkSession
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        futures = [
            # one wrap per frame: threads must not share one properties
            # object, each job sets its own SQL execution id in it
            pool.submit(
                inheritable_thread_target(spark)(
                    lambda d=d: d.localCheckpoint(eager=True)
                )
            )
            for d in dfs
        ]
        return tuple(f.result() for f in futures)


_SIZE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(s: str) -> int:
    """Spark size-conf string → bytes ('134217728', '128m', '128MB', ...)."""
    s = s.strip().lower().removesuffix("b")
    suffix = s[-1] if s and s[-1] in _SIZE_SUFFIX else ""
    return int(s.removesuffix(suffix)) * _SIZE_SUFFIX[suffix]


def register_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register all test tables as temp views for the SQL surface."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    multiline: bool = False,
):
    """CSV connector (reference has none — gap noted in SURVEY §2C).

    ``multiline=True`` parses quoted fields containing record separators
    (exported free text). It costs parallelism — files stop being
    line-splittable — so it's opt-in; prefer escaping newlines upstream for
    100 TB exports.
    """
    reader = spark.read.option("header", str(header).lower())
    if multiline:
        reader = reader.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None):
    """JSON-lines connector."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, schema=None):
    """ORC connector — the other columnar format Spark ships natively.

    Same scan properties as parquet: vectorized reader, predicate pushdown
    (ORC stripe/row-group statistics), column pruning. Useful when ingesting
    from Hive-era warehouses whose data is already ORC.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """Distributed ORC write from executors (never through the driver)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
