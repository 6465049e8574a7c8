"""SparkSession bootstrap — the analog of the reference server's startup.

Reference lifecycle (main.go:44-119): open/create the DuckDB file (`-db`),
connect read-only, LOAD installed extensions, run `-init` SQL. Here the
"database" is a directory of parquet tables registered as views, the
"init SQL" is an optional list of SQL statements run at bootstrap, and the
extension registry becomes a static capability view (main.go:77's
``duckdb_extensions()`` analog).

Scale notes: AQE is enabled for runtime re-planning (skew joins, partition
coalescing); session timezone is pinned to UTC because the test corpus
stores naive wall-clock timestamps (FIXTURES.md); Arrow transfer is enabled
so driver-side collection matches the reference's Arrow-batch result model
(main.go:235-243).
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from duckdb_server_spark import flightsql

# The driver's test corpus tables (TESTDATA.md). Mirrors the view set the
# oracle harness pre-registers.
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus() -> int:
    """Cores the engine sizes its session to (``SPARK_GRAFT_CPUS``)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# Correctness confs, set by default_configs and again by tune_session on an
# externally built session: the oracle comparison depends on each.
_CORRECTNESS_CONFIGS = {
    # Test corpus timestamps are naive wall-clock (FIXTURES.md).
    "spark.sql.session.timeZone": "UTC",
    # DuckDB errors on overflow / bad casts; Spark matches only under
    # ANSI mode (SURVEY.md §7 phase 3). Known divergence: DuckDB 1.0
    # yields NULL for division by zero while ANSI Spark raises —
    # declared queries guard denominators (tests/test_semantics.py).
    "spark.sql.ansi.enabled": "true",
    # round-14 hunt G: Spark 4.1 gates the TIME type off by default
    # (literals parse, but CAST/to_time/make_time raise
    # UNSUPPORTED_TIME_TYPE) — DuckDB's TIME casts need it live
    "spark.sql.timeType.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS) (FIXTURES.md), which Spark
    # rejects by default; read as int64 ns and normalize in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Plain µs/ms parquet timestamps with isAdjustedToUTC=false would
    # otherwise read as TIMESTAMP_NTZ, which withWatermark rejects
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The corpus timestamps are
    # naive wall-clock; under the pinned UTC session TZ, reading them as
    # TIMESTAMP_LTZ is value-identical and keeps every parquet flavor
    # (ns-as-long, µs, ms) on one timestamp type.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def default_configs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """Engine configs. ``SET``-style engine config is the analog of the
    reference's `SET secret_directory/extension_directory` (k8s/main.yaml:107-108).
    """
    if shuffle_partitions is None:
        shuffle_partitions = _cpus()
    return {
        # Marker: this session was sized by the engine; load_table skips
        # its defensive small-input re-tuning when it sees this.
        "spark.dss.tuned": "true",
        # Result model parity: Arrow end-to-end (main.go:235-243).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        **_CORRECTNESS_CONFIGS,
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # broadcast-join conversion — required posture for the 100 TB target.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.cbo.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Scan split size for Engine and the operator catalog. The test
        # corpus is ~10 MB/table, which at Spark's 128m default packs into
        # ≤3 tasks — 3 of 32 cores busy. 512k splits the same files into
        # ~20 tasks (measured: window agg 1.9×, percentile 1.4× faster at
        # sf0.1). On a real cluster set SPARK_GRAFT_MAX_PARTITION_BYTES
        # back to ≥128m — at 100 TB small splits mean tens of millions of
        # tasks. The Flight server ignores it and scans with Spark's 128m
        # default (server.SERVING_CONFIGS): every corpus table is one
        # parquet row group, and a smaller split only adds tasks that read
        # nothing.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "524288"
        ),
        "spark.sql.files.openCostInBytes": "262144",
    }


def get_spark(
    app_name: str = "duckdb_server_spark",
    master: str | None = None,
    configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    One shared session mirrors the reference's single shared connection
    (main.go:70) — all queries run on one engine instance.
    """
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{_cpus()}]"
    )
    for k, v in default_configs().items():
        builder = builder.config(k, v)
    for k, v in (configs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as int64 ns
# (nanosAsLong) and we truncate to µs TimestampType — the same truncation
# DuckDB applies when casting TIMESTAMP_NS → TIMESTAMP, so oracle
# comparisons stay exact.
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


_DIR_SIZE_CACHE: dict[str, int] = {}


def _corpus_bytes(sf_dir: str) -> int:
    """Total parquet bytes under ``sf_dir`` (cached — sizing input only)."""
    if sf_dir not in _DIR_SIZE_CACHE:
        total = 0
        try:
            for entry in os.scandir(sf_dir):
                if entry.name.endswith(".parquet") and entry.is_file():
                    total += entry.stat().st_size
        except OSError:
            total = 1 << 30
        _DIR_SIZE_CACHE[sf_dir] = total
    return _DIR_SIZE_CACHE[sf_dir]


def tune_session(spark: SparkSession, sf_dir: str) -> None:
    """Defensive session tuning for externally-built sessions (the round
    driver constructs its own SparkSession with stock defaults).

    Correctness confs are always (re)applied — timezone parity for the
    naive wall-clock corpus timestamps, ANSI mode, and ns-timestamp reads
    (FIXTURES.md) are load-bearing for the oracle comparison.

    Performance confs are applied only when the session was NOT built by
    ``get_spark`` (marker conf): a stock session runs every tiny-corpus
    shuffle at 200 partitions — at sf0.01 that is ~25× more tasks (and,
    for stateful streaming where AQE cannot coalesce, 200 state-store
    instances) than the data supports. Sizing shuffle partitions to the
    input is the same decision AQE makes at runtime, applied where AQE
    cannot reach. On a real cluster the engine session is built by
    ``get_spark``/``SPARK_GRAFT_CPUS`` and this path never triggers.
    """
    # load_table runs several times per query; the py4j conf round-trips
    # are only needed once per (session, corpus).
    if getattr(spark, "_dss_tuned_for", None) == sf_dir:
        return
    spark._dss_tuned_for = sf_dir
    for key, value in _CORRECTNESS_CONFIGS.items():
        spark.conf.set(key, value)
    try:
        if spark.conf.get("spark.dss.tuned", "") == "true":
            return
    except Exception:  # pragma: no cover - conf.get with default never raises
        pass
    cpus = _cpus()
    size = _corpus_bytes(sf_dir)
    # ≤64 MB corpus: a handful of partitions beats per-task overhead;
    # beyond that, one partition per core.
    parts = max(4, min(8, cpus)) if size < (64 << 20) else cpus
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table (S1: parquet scan with pushdown built in)."""
    tune_session(spark, sf_dir)
    df = spark.read.parquet(table_path(sf_dir, name))
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for col in NANO_TS_COLUMNS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # Defensive: a session built before inferTimestampNTZ was disabled (or
    # an external catalog) can still yield TIMESTAMP_NTZ, which breaks
    # withWatermark. Under the pinned UTC session TZ the cast is a pure
    # type relabel — wall-clock values are unchanged.
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: Iterable[str] = TABLES
) -> dict[str, DataFrame]:
    """The `-db` analog: expose the warehouse as named views (S4/S5).

    The reference serves tables persisted in a DuckDB file
    (main.go:31,44-57); here each parquet table becomes a temp view so both
    the DataFrame API and ``spark.sql`` reach the same catalog.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        # Through load_table so every surface (declared queries, Engine.sql,
        # Flight) shares the same normalized frame — in particular the
        # events.ts ns→µs conversion; a raw read here would serve BIGINT
        # nanoseconds under nanosAsLong.
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def cache_views(
    views: dict[str, DataFrame], sf_dir: str, budget_bytes: int
) -> list[str]:
    """The serving tier: persist warehouse views in Spark's in-memory
    columnar store (MEMORY_ONLY, so the warehouse is never copied to local
    disk; an evicted block is recomputed from parquet). Lazy: the first
    query on a table builds its cache, later ones read cached batches and
    skip those whose min/max statistics rule the filter out. Tables are
    admitted smallest first while 4 × their parquet bytes (columnar
    batches measured 1.7× the parquet) still fit in ``budget_bytes``; a
    larger table stays on parquet. Returns the admitted names."""
    size = {name: os.path.getsize(table_path(sf_dir, name)) for name in views}
    admitted: list[str] = []
    for name in sorted(views, key=size.__getitem__):
        budget_bytes -= 4 * size[name]
        if budget_bytes < 0:
            break
        views[name].persist(StorageLevel.MEMORY_ONLY)
        admitted.append(name)
    return admitted


def run_init_sql(spark: SparkSession, statements: Iterable[str]) -> None:
    """The `-init` analog (main.go:107-111): run bootstrap SQL statements
    (view definitions, SET commands, …) before serving queries. Routed
    through the DuckDB statement router so the reference's own init
    scripts (SET/INSTALL/LOAD/CREATE SECRET/CREATE VIEW,
    k8s/main.yaml:100-135) execute unmodified."""
    from duckdb_server_spark.dialect import execute_statement

    for stmt in statements:
        if stmt.strip():
            execute_statement(spark, stmt)


def register_sql_info(spark: SparkSession) -> DataFrame:
    """The ``GetSqlInfo`` metadata analog (main.go:352-526): a small static
    view of the facts GetSqlInfo serves (``flightsql.server_sql_info``),
    each value as text."""
    names = {
        flightsql.FLIGHT_SQL_SERVER_NAME: "server_name",
        flightsql.FLIGHT_SQL_SERVER_VERSION: "server_version",
        flightsql.FLIGHT_SQL_SERVER_ARROW_VERSION: "server_arrow_version",
        flightsql.FLIGHT_SQL_SERVER_READ_ONLY: "server_read_only",
        flightsql.SQL_IDENTIFIER_QUOTE_CHAR: "identifier_quote_char",
    }
    rows = [
        (names[code], str(value).lower() if isinstance(value, bool) else value)
        for code, value in flightsql.server_sql_info().items()
    ]
    # SQL VALUES → JVM LocalRelation (a python-parallelized createDataFrame
    # pays a python-worker launch per slice on every evaluation).
    values = ", ".join(f"('{k}', '{v}')" for k, v in rows)
    df = spark.sql(f"SELECT * FROM VALUES {values} AS t(info_name, value)")
    df.createOrReplaceTempView("sql_info")
    return df


def register_capabilities(spark: SparkSession) -> DataFrame:
    """The ``duckdb_extensions()`` analog (main.go:77): a capability registry
    view enumerating the loaded feature modules of this engine."""
    caps = [
        ("core_sql", True, "projection/filter/join/agg/window/setops/CTE"),
        ("parquet", True, "parquet scan + pushdown (S1)"),
        ("csv", True, "csv scan with inference (S2)"),
        ("json", True, "json scan + json functions (S3)"),
        ("httpfs", True, "s3a object-store access (S8)"),
        ("streaming", True, "structured streaming windows (§2.10)"),
        ("dedup", True, "exact/minhash/simhash dedup"),
        ("similarity", True, "embedding cosine/L2 top-k"),
        ("text", True, "lang-id/quality/tokens/fingerprint"),
    ]
    values = ", ".join(
        f"('{name}', {str(flag).lower()}, '{desc}')" for name, flag, desc in caps
    )
    df = spark.sql(
        f"SELECT * FROM VALUES {values} AS t(extension_name, installed, description)"
    )
    df.createOrReplaceTempView("capabilities")
    return df


def bootstrap(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    init_sql: Iterable[str] = (),
) -> dict[str, DataFrame]:
    """Full server bootstrap (main.go:44-119), the one session path shared
    by ``Engine`` and the CLI server: the function surface (UDFs and the
    ``dd_*`` shims that init SQL and DuckDB-first rewrites call) and the
    warehouse views, then metadata and init SQL."""
    from duckdb_server_spark.dialect import register_dialect_functions
    from duckdb_server_spark.functions.udfs import register_udfs

    def register_functions() -> None:
        register_udfs(spark)
        register_dialect_functions(spark)

    # Functions and views are independent. Side by side, the ~2.5 s that
    # the first CREATE FUNCTION spends warming a fresh session's SQL front
    # end overlaps the parquet reads of register_views (boot ~2 s shorter
    # than one after the other on a 4-core host).
    with ThreadPoolExecutor(max_workers=1) as pool:
        functions = pool.submit(register_functions)
        views = register_views(spark, sf_dir)
        functions.result()
    register_sql_info(spark)
    register_capabilities(spark)
    run_init_sql(spark, init_sql)
    return views
