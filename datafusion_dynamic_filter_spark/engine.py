"""Engine — session factory + catalog helpers.

Mirrors the reference's session construction
(tests/preparable_context_basic_test.rs:14-29): the reference builds a
SessionContext with default features, its dynamic-filter rule/planner, parquet
``pushdown_filters`` on, and target_partitions=1.  The Spark-native session
instead turns ON the machinery that makes bound predicates reach the scan at
any scale:

- parquet filter pushdown (default on) -> row-group/page pruning,
- AQE + runtime Bloom-filter joins + dynamic partition pruning -> the
  cluster-scale analog of DynamicFilterPhysicalExpr,
- full partition parallelism (the reference's single-partition restriction is
  an artifact of its shared mutable filter, README.md:56 — values bound into
  each execution's own plan have no such race); a prepared statement that
  touches few rows plans as one stage on its own cloned session
  (``simple_parser.interpret_if_few``), where parallelism buys nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .prepared import PreparedStatement

TESTDATA_TABLES = (
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


def default_spark_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Runtime size gate for broadcast decisions (r7): candidate-pair
        # relations in the exact-verify dedup/ANN joins carry NO broadcast
        # hint (they are unbounded — a hint would force-OOM at scale), so
        # whether they broadcast is AQE's call on the MEASURED size.  The
        # 10 MB default made the 759k-pair sf0.1 verify join fall back to
        # a sort-merge shuffle of the token arrays (measured 4-5x slower);
        # 64 MB is well within executor memory at any tier and still
        # orders of magnitude below the 8 GB broadcast hard limit, so
        # big-at-scale relations keep falling back to shuffled equi-joins.
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Driver testdata has written events.ts as TIMESTAMP(NANOS) in some
        # rounds (no Spark nanosecond type -> read as long and convert) and
        # as plain TIMESTAMP(MICROS, isAdjustedToUTC=false) in others.  Read
        # the latter as LTZ instead of NTZ: under the UTC session timezone
        # the wall-clock values are identical, timestamp arithmetic
        # (unix_micros etc.) stays valid, and the DuckDB oracle — which has
        # no tz-awareness on these columns — sees the same values either way.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # Keep tiny-file scans from exploding into one task per row at small
        # SF while leaving large-scan parallelism to maxPartitionBytes.
        "spark.sql.files.maxPartitionBytes": "134217728",
    }


class Engine:
    """Session factory + catalog + prepare().  The PySpark-native twin of the
    reference's ``PreparableSessionContext`` (src/preparable_context.rs:9-38).
    """

    def __init__(self, spark: SparkSession | None = None, *, app_name: str = "ddf-spark",
                 master: str | None = None, shuffle_partitions: int | None = None,
                 extra_conf: dict[str, str] | None = None):
        if spark is None:
            builder = SparkSession.builder.appName(app_name)
            if master is None:
                master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
            builder = builder.master(master)
            for k, v in default_spark_conf(shuffle_partitions).items():
                builder = builder.config(k, v)
            for k, v in (extra_conf or {}).items():
                builder = builder.config(k, v)
            spark = builder.getOrCreate()
        self.spark = spark
        # Parquet-backed table registrations (table -> source path) and
        # registered point layouts (table -> PointLayout); see
        # ensure_point_layout.
        self._table_paths: dict[str, str] = {}
        self.layouts: dict[str, "PointLayout"] = {}

    # -- catalog ------------------------------------------------------------

    def register_memtable(self, name: str, data, schema) -> DataFrame:
        """In-memory table (reference MemTable + register_table,
        tests/preparable_context_basic_test.rs:53-58): ``data`` rows in
        ``schema`` order (a StructType or a DDL string), held as a
        ``LocalRelation``, so reading it starts no Spark job."""
        from pyspark.sql import types as T

        from .simple_parser import arrow_relation

        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        columns = [[row[i] for row in data] for i in range(len(schema.fields))]
        df = arrow_relation(self.spark, schema, columns)
        df.createOrReplaceTempView(name)
        return df

    def register_parquet(self, name: str, path: str) -> DataFrame:
        """Parquet-backed table with footer schema inference (reference
        ListingTable + ParquetFormat, tests/preparable_context_parquet_test.rs:70-83)."""
        df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        self._table_paths[name] = path
        return df

    def register_csv(self, name: str, path: str, **options) -> DataFrame:
        df = self.spark.read.options(**{"header": "true", "inferSchema": "true", **options}).csv(path)
        df.createOrReplaceTempView(name)
        return df

    def register_json(self, name: str, path: str, **options) -> DataFrame:
        df = self.spark.read.options(**options).json(path)
        df.createOrReplaceTempView(name)
        return df

    def load_testdata(self, sf_dir: str) -> dict[str, DataFrame]:
        """Register all driver testdata tables from a scale-factor dir."""
        out = load_tables(self.spark, sf_dir)
        self._table_paths.update({t: os.path.join(sf_dir, f"{t}.parquet") for t in out})
        return out

    def ensure_point_layout(self, table: str, key: str, *, buckets: int = 64,
                            source_path: str | None = None):
        """Register (building if stale) the bucket-partitioned point-lookup
        layout for a parquet-backed table.  Statements prepared AFTER this
        call whose parameterized WHERE hits ``key`` scan the layout copy and
        read only the buckets of the keys an ``execute`` or
        ``execute_batch`` binds (static partition pruning); a batch or IN
        list whose keys cover every bucket reads the table as registered
        instead.  The copy is
        registered once as an external partitioned catalog table
        (``PointLayout.name``, partitions recovered), so a statement reads
        it without listing every bucket: preparing one starts no Spark job.
        At 100 TB this is the table's standing layout, not a cache; here it
        is rebuilt, and its catalog table re-created, whenever the base
        parquet's fingerprint, the key or the bucket count changes."""
        from .layouts import ensure_point_layout

        src = source_path or self._table_paths.get(table)
        if src is None:
            raise ValueError(
                f"point layout requires a parquet-backed table; {table!r} "
                "was not registered from a parquet path"
            )
        lay = ensure_point_layout(
            self.spark, table, self.spark.table(table), src, key, buckets=buckets
        )
        self.layouts[table] = lay
        return lay

    # -- statements ----------------------------------------------------------

    def prepare(self, sql: str, *, mode: str = "auto", hot: bool = False,
                layout: bool = True, plan_cache_size: int = 256) -> PreparedStatement:
        return PreparedStatement(
            self.spark, sql, mode=mode, hot=hot,
            layouts=(self.layouts if layout else None),
            plan_cache_size=plan_cache_size,
        )

    def sql(self, sql: str, args=None) -> DataFrame:
        if args:
            return self.spark.sql(sql, args=args)
        return self.spark.sql(sql)


def get_session(app_name: str = "ddf-spark", **kw) -> SparkSession:
    return Engine(app_name=app_name, **kw).spark


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """TIMESTAMP(NANOS) parquet columns surface as LongType under
    ``nanosAsLong``; convert them back to (microsecond) timestamps so SQL
    over them matches the DuckDB oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for name in df.columns:
        if name in ("ts",) and isinstance(df.schema[name].dataType, LongType):
            df = df.withColumn(
                name, F.timestamp_micros(F.floor(F.col(name) / F.lit(1000)).cast("long"))
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Module-level helper used by the driver entry: register testdata
    tables as temp views on an existing session."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass  # static conf on some builds; events load will fail loudly then
    out = {}
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            df = spark.read.parquet(p)
            df = _normalize_nanos(df)
            df.createOrReplaceTempView(t)
            out[t] = df
    return out
