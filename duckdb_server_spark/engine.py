"""The public engine façade — what a user of the reference switches to.

Reference usage (README.md:1-19):
    duckdb-server -db my.db -init setup.sql   # serve Flight SQL on :32010

This engine:
    from duckdb_server_spark.engine import Engine
    eng = Engine(warehouse_dir="/data/warehouse", init_sql=["CREATE ..."])
    eng.sql("SELECT ...").show()       # embedded use (the -db analog)
    eng.serve(port=32010)              # Flight serving (the gRPC analog)

Lifecycle parity (main.go:44-119), all in ``session.bootstrap``: construct →
register the function surface (the ``LOAD`` analog) → warehouse views
(`-db`) → run init SQL (`-init`) → capability + sql_info metadata views
(duckdb_extensions()/GetSqlInfo analogs) → optionally serve.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from duckdb_server_spark.session import DEFAULT_SF_DIR, bootstrap, get_spark

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class Engine:
    """One engine instance = one SparkSession + one bootstrapped catalog
    (the reference's single shared connection, main.go:70)."""

    def __init__(
        self,
        warehouse_dir: str = DEFAULT_SF_DIR,
        init_sql: Iterable[str] = (),
        spark: SparkSession | None = None,
        app_name: str = "duckdb_server_spark",
    ):
        self.spark = spark or get_spark(app_name=app_name)
        self.warehouse_dir = warehouse_dir
        self.views = bootstrap(self.spark, warehouse_dir, init_sql=init_sql)
        self._server = None

    # -- query surface ------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Arbitrary SQL over the bootstrapped catalog — the passthrough
        parity point (main.go:229). Accepts both Spark SQL and DuckDB
        dialect: native Spark SQL runs untouched; DuckDB-only constructs
        (``* EXCLUDE``, ``QUALIFY``, ``ASOF JOIN``, ``quantile_cont`` …)
        are rewritten pre-parse (dialect.rewrite) when native
        parse/analysis fails, so a migrating user's verbatim SQL runs."""
        from duckdb_server_spark.dialect import run_sql

        return run_sql(self.spark, query)

    def run_script(self, script: str) -> None:
        """Execute a DuckDB init script verbatim — SET / INSTALL / LOAD /
        CREATE SECRET / CREATE VIEW statements route onto engine state
        (dialect.execute_statement); the reference's own bootstrap SQL
        (k8s/main.yaml:100-135) runs unmodified."""
        from duckdb_server_spark.dialect import run_script

        run_script(self.spark, script)

    def sql_arrow(self, query: str) -> pa.Table:
        """Execute and return Arrow — the reference's result model
        (Arrow record batches, main.go:241-243)."""
        return self.spark.sql(query).toArrow()

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def explain(self, query: str, mode: str = "formatted") -> str:
        """EXPLAIN (Q6, main.go:418)."""
        from duckdb_server_spark.plans import explain_string

        return explain_string(self.spark.sql(query), mode)

    # -- init-phase data management (main.go:107-111 / k8s init container) --
    def create_table(self, name: str, source: DataFrame | str) -> DataFrame:
        """CREATE TABLE AS — the init-phase mutation path (§1.4: the
        reference writes only during init, k8s/main.yaml:100-135; serving
        stays read-only). Persists parquet into the warehouse dir and
        registers the view."""
        import os

        df = self.sql(source) if isinstance(source, str) else source
        path = os.path.join(self.warehouse_dir_writable(), name)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        out.createOrReplaceTempView(name)
        self.views[name] = out
        return out

    def compact_table(self, name: str, target_files: int = 4) -> DataFrame:
        """Small-file compaction for a managed table created by
        :meth:`create_table` — the operational fix for ingest fragmentation
        (a 100 TB corpus written by thousands of streaming micro-batches
        degenerates into millions of KB-sized files whose per-file open
        cost dominates scans). Rewrites the parquet to ``target_files``
        files via ``coalesce`` (no shuffle — partitions merge in place;
        use a larger target under data skew), swaps atomically by
        re-registering the view."""
        import os

        path = os.path.join(self.warehouse_dir_writable(), name)
        if not os.path.isdir(path):
            raise ValueError(f"{name!r} is not a managed table of this engine")
        compacted = self.spark.read.parquet(path).coalesce(target_files)
        return self._rewrite_managed(name, path, compacted)

    def _rewrite_managed(self, name: str, path: str, df: DataFrame) -> DataFrame:
        """Write ``df`` next to ``path`` and swap it in crash-safely:
        clear any stale .old from a prior failed run (rename onto a
        non-empty dir raises OSError), move old out, new in; if the
        second rename fails, restore the original so the table never
        disappears."""
        import os
        import shutil

        tmp = path + ".rewrite"
        df.write.mode("overwrite").parquet(tmp)
        old = path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        try:
            os.rename(tmp, path)
        except OSError:
            os.rename(old, path)
            raise
        shutil.rmtree(old)
        out = self.spark.read.parquet(path)
        out.createOrReplaceTempView(name)
        self.views[name] = out
        return out

    def optimize_zorder(
        self, name: str, x_col: str, y_col: str, target_files: int = 4
    ) -> DataFrame:
        """``OPTIMIZE ... ZORDER BY (x, y)`` analog for a managed table:
        rewrite its parquet clustered on the Morton interleave of the two
        columns (operators/layout.py) so every output file covers a small
        rectangle of (x, y) space and min/max footer stats prune scans on
        BOTH predicates — the layout maintenance job a 100 TB table runs
        after heavy ingest.

        Each column is first range-quantized into 256 buckets over its
        ACTUAL domain (min/max from a one-row broadcast aggregate), the
        same normalization Delta/Iceberg ZORDER applies. Interleaving the
        raw low byte instead (value mod 256) would cluster only modular
        predicates: any column whose domain exceeds 256 would spread raw
        values across every file, leaving footer min/max too wide to
        prune ``col = X``. One extra tiny aggregate job + one range
        shuffle + local sort; the swap is the same crash-safe rename as
        compact_table."""
        import os

        from pyspark.sql import functions as F

        from duckdb_server_spark.operators.layout import zorder_key

        path = os.path.join(self.warehouse_dir_writable(), name)
        if not os.path.isdir(path):
            raise ValueError(f"{name!r} is not a managed table of this engine")
        src = self.spark.read.parquet(path)
        bounds = src.agg(
            F.min(F.col(x_col).cast("long")).alias("__x_lo"),
            F.max(F.col(x_col).cast("long")).alias("__x_hi"),
            F.min(F.col(y_col).cast("long")).alias("__y_lo"),
            F.max(F.col(y_col).cast("long")).alias("__y_hi"),
        )

        def quantized(col: str, lo: str, hi: str):
            # double intermediate: (col-lo)*256 in long could overflow on
            # 63-bit domains; clamp the exact-max row into bucket 255.
            span = (F.col(hi) - F.col(lo) + 1).cast("double")
            pos = (F.col(col).cast("long") - F.col(lo)).cast("double")
            return F.least(
                F.floor(pos * 256.0 / span).cast("long"), F.lit(255).cast("long")
            )

        keyed = (
            src.crossJoin(F.broadcast(bounds))
            .withColumn(
                "__z",
                zorder_key(
                    quantized(x_col, "__x_lo", "__x_hi"),
                    quantized(y_col, "__y_lo", "__y_hi"),
                ),
            )
            .drop("__x_lo", "__x_hi", "__y_lo", "__y_hi")
        )
        clustered = (
            keyed.repartitionByRange(target_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        return self._rewrite_managed(name, path, clustered)

    def drop_table(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)
        self.views.pop(name, None)

    def list_tables(self) -> list[str]:
        return sorted(
            t.name for t in self.spark.catalog.listTables() if t.isTemporary
        )

    def warehouse_dir_writable(self) -> str:
        """Managed-table storage: a private per-engine directory (created
        lazily with mkdtemp). A fixed world-shared path would let two
        engine instances silently overwrite each other's managed tables
        and invites symlink squatting on multi-user hosts."""
        import tempfile

        if getattr(self, "_managed_dir", None) is None:
            self._managed_dir = tempfile.mkdtemp(prefix="dss_managed_")
        return self._managed_dir

    def summarize(self, name: str) -> DataFrame:
        """DuckDB ``SUMMARIZE table`` analog — see :func:`summarize_frame`
        (also reachable as the raw SQL statement ``SUMMARIZE t`` through
        the dialect layer)."""
        return summarize_frame(self.spark, name)

    # -- multi-warehouse (DuckDB ATTACH parity) -----------------------------
    def attach(self, warehouse_dir: str, alias: str) -> list[str]:
        """DuckDB ``ATTACH 'other.db' AS alias`` analog — see
        :func:`attach_warehouse` (parquet directories AND real .duckdb
        database files)."""
        return attach_warehouse(self.spark, warehouse_dir, alias)


    def detach(self, alias: str) -> None:
        """``DETACH alias`` — drops the catalog database (metadata only;
        the external parquet stays on disk)."""
        if not _IDENT.fullmatch(alias):
            raise ValueError(f"alias must be an identifier, got {alias!r}")
        self.spark.sql(f"DROP DATABASE IF EXISTS {alias} CASCADE")

    # -- EXPORT / IMPORT DATABASE (DuckDB parity) ---------------------------
    def export_database(self, target_dir: str) -> list[str]:
        """DuckDB ``EXPORT DATABASE 'dir'`` analog: every registered view
        written as parquet under ``target_dir`` plus a ``load.sql``
        manifest of CREATE VIEW statements — the same
        schema-plus-data-files contract DuckDB emits (schema.sql +
        load.sql + data). Parquet (not CSV) keeps types exact and the
        export re-readable by ANY engine, including the reference."""
        import os

        os.makedirs(target_dir, exist_ok=True)
        manifest = []
        exported = []
        for name in self.list_tables():
            if name.startswith("__dd_"):
                # engine-internal scratch/cache views (file-read cache,
                # DML merge sources) are not part of a database dump —
                # and may dangle once their backing temp files rotate
                continue
            path = os.path.join(target_dir, name)
            self.spark.table(name).write.mode("overwrite").parquet(path)
            manifest.append(
                f"CREATE OR REPLACE TEMP VIEW {name} AS "
                f"SELECT * FROM parquet.`{path}`;"
            )
            exported.append(name)
        with open(os.path.join(target_dir, "load.sql"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(manifest) + "\n")
        return sorted(exported)

    def import_database(self, source_dir: str) -> list[str]:
        """``IMPORT DATABASE 'dir'`` — replay the load.sql manifest."""
        import os

        with open(os.path.join(source_dir, "load.sql"), encoding="utf-8") as fh:
            statements = [s.strip() for s in fh.read().split(";") if s.strip()]
        for stmt in statements:
            self.spark.sql(stmt)
        return self.list_tables()

    # -- serving ------------------------------------------------------------
    def serve(self, port: int = 32010, block: bool = False):
        """Start the Flight façade (the reference serves :32010,
        main.go:258,270)."""
        from duckdb_server_spark.server import SparkFlightServer, serve_in_background

        if block:
            server = SparkFlightServer(self.spark, f"grpc://0.0.0.0:{port}")
            server.serve()
            return server
        self._server, _ = serve_in_background(self.spark, port=port)
        return self._server

    def shutdown(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server = None


def summarize_frame(spark: SparkSession, target: str) -> DataFrame:
    """DuckDB ``SUMMARIZE`` over a table name, a SELECT query, or a
    quoted file path — one row per column in DuckDB 1.0's exact column
    shape: (column_name, column_type, min, max, approx_unique, avg, std,
    q25, q50, q75, count, null_percentage DECIMAL(5,2)), type names in
    DuckDB spellings. One pass over the data — every statistic is a
    mergeable aggregate (min/max/HLL/moments/approx-percentile sketch),
    so at 100 TB this is a single scan + tiny shuffle, exactly how
    SUMMARIZE's own sketches behave. approx_unique and the quartiles are
    approximate on BOTH engines (HLL / sampled quantiles), so
    cross-engine values are close, not bit-equal. Module-level so both
    Engine.summarize and the dialect router share one implementation."""
    import re as _re

    from pyspark.sql import functions as F

    t = target.strip()
    if _re.match(r"(?i)^(SELECT|VALUES|WITH|FROM)\b", t) or t.startswith("("):
        from duckdb_server_spark.dialect import run_sql

        df = run_sql(spark, t)
    elif t.startswith(("'", '"')):
        # SUMMARIZE 'data.parquet' — DuckDB's replacement-scan form
        from duckdb_server_spark.dialect import run_sql

        df = run_sql(spark, f"SELECT * FROM {t}")
    else:
        df = spark.table(t)
    from duckdb_server_spark.dialect import _duck_type_name

    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString()
        in ("int", "bigint", "smallint", "tinyint", "float", "double")
        or f.dataType.simpleString().startswith("decimal")
    }
    null_str = F.lit(None).cast("string")
    aggs = []
    for f in df.schema.fields:
        c, is_num = f.name, f.name in numeric
        try:
            duck_type = _duck_type_name(f.dataType)
        except ValueError:
            duck_type = f.dataType.simpleString().upper()
        # min/max need an ordering; Spark maps are not orderable (the
        # analyzer rejects them) — mirror DuckDB SUMMARIZE, which also
        # blanks min/max for non-orderable types.
        simple = f.dataType.simpleString()
        orderable = not simple.startswith("map")
        # HLL hashing supports atomics/arrays/structs but not maps
        sketchable = not simple.startswith("map")

        def _q(p):
            # quantiles keep the column's own type (integer quartiles
            # print as integers, like DuckDB's approx_quantile)
            if not is_num:
                return null_str
            return F.percentile_approx(F.col(c), p).cast("string")

        aggs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(duck_type).alias("column_type"),
                (F.min(c).cast("string") if orderable else null_str).alias("min"),
                (F.max(c).cast("string") if orderable else null_str).alias("max"),
                (
                    F.approx_count_distinct(c)
                    if sketchable
                    else F.lit(None).cast("bigint")
                ).alias("approx_unique"),
                (
                    F.avg(F.col(c).cast("double")).cast("string")
                    if is_num
                    else null_str
                ).alias("avg"),
                (
                    F.stddev(F.col(c).cast("double")).cast("string")
                    if is_num
                    else null_str
                ).alias("std"),
                _q(0.25).alias("q25"),
                _q(0.5).alias("q50"),
                _q(0.75).alias("q75"),
                F.count(F.lit(1)).alias("count"),
                (
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    * 100.0
                    # nullif guards the empty table: ANSI mode (set by
                    # tune_session) turns 0/0 into an error, not NULL.
                    / F.nullif(F.count(F.lit(1)), F.lit(0))
                )
                .cast("decimal(5,2)")
                .alias("null_percentage"),
            ).alias(c)
        )
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(F.array(*[F.col(f.name) for f in df.schema.fields])).alias("s")
    )
    return stacked.select("s.*")


def attach_warehouse(spark: SparkSession, path: str, alias: str) -> list[str]:
    """DuckDB ``ATTACH 'other' AS alias`` (the reference's ``-db`` flag
    mounts exactly one database, main.go:54-61; DuckDB users attach more
    at runtime through the SQL passthrough). Two source shapes:

    - a DIRECTORY of ``<table>.parquet`` → one external parquet table
      per file under a catalog database named ``alias`` — queries use
      real two-part names (``alias.nation``), cross-database joins are
      ordinary joins, and the scans stay pushdown/pruning-capable (no
      data copied);
    - an actual **.duckdb/.db database file** — the literal artifact a
      DuckDB user has: opened read-only with the duckdb library, every
      table exported ONCE to a parquet spool via DuckDB's own parquet
      writer (no driver materialization — bytes go file→file), then
      registered exactly like the directory form. The spool is keyed by
      the file's path+mtime, so re-attaching an unchanged database costs
      no copy, and Spark scans parquet with full pushdown instead of
      round-tripping rows through Python.
    """
    import glob as _glob
    import hashlib as _hashlib
    import os
    import tempfile as _tempfile

    if not _IDENT.fullmatch(alias):
        raise ValueError(f"alias must be an identifier, got {alias!r}")
    src = path
    if os.path.isfile(path):
        import duckdb as _duckdb

        key = _hashlib.md5(
            f"{os.path.abspath(path)}:{os.path.getmtime(path)}".encode()
        ).hexdigest()[:16]
        spool = os.path.join(_tempfile.gettempdir(), f"dss_attach_{key}")
        marker = os.path.join(spool, "_SUCCESS")
        if not os.path.exists(marker):
            os.makedirs(spool, exist_ok=True)
            con = _duckdb.connect(path, read_only=True)
            try:
                names = [r[0] for r in con.execute("SHOW TABLES").fetchall()]
                for name in names:
                    if not _IDENT.fullmatch(name):
                        continue
                    out = os.path.join(spool, f"{name}.parquet")
                    con.execute(
                        f'COPY "{name}" TO \'{out}\' (FORMAT parquet)'
                    )
            finally:
                con.close()
            open(marker, "w").close()
        src = spool
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {alias}")
    tables = []
    for p in sorted(_glob.glob(os.path.join(src, "*.parquet"))):
        name = os.path.splitext(os.path.basename(p))[0]
        if not _IDENT.fullmatch(name):
            continue
        spark.sql(f"DROP TABLE IF EXISTS {alias}.{name}")
        spark.sql(f"CREATE TABLE {alias}.{name} USING parquet LOCATION '{p}'")
        tables.append(name)
    return tables
