"""Connections: where a Model executes.

The reference dispatches to 9 warehouse dialects through SQLAlchemy
(reference: src/model/connection/connection.py:11); here there is exactly one
engine — a SparkSession — and the "connection" is a table registry that maps
logical table names to lazy DataFrames, mirroring the reference's DuckDB
in-memory connection with registered frames/files
(reference: src/model/connection/duckdb_connection.py:19-111).

Scale notes: readers go through ``spark.read`` so Catalyst gets partition
pruning / predicate pushdown on parquet scans for free. ``register_*``
never materializes data on the driver.
"""

from __future__ import annotations

import os
import threading
from typing import AbstractSet, Dict, Optional, Tuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

# A local driver heap never grows past this: oversized heaps (64g) made
# CPU-heavy stages 4x slower than 16g via G1 young-gen behaviour.
HEAP_CAP_BYTES = 16 << 30

# Raw SQL resolves bare table names through session-global temp views, so
# registering a Connection's views and analyzing the query must not
# interleave with another Connection doing the same on a shared session.
_RAW_SQL_LOCK = threading.Lock()


def session_resources(
    affinity: AbstractSet[int], mem_bytes: int, heap: Optional[str] = None
) -> Tuple[int, str]:
    """(cores, driver heap) for a local session on a host whose process may
    run on the CPUs in ``affinity`` and use ``mem_bytes`` of memory: one
    task slot per usable CPU, and half the memory (at most 16g) as heap
    unless ``heap`` overrides it."""
    if heap is None:
        heap = f"{min(mem_bytes // 2, HEAP_CAP_BYTES) >> 20}m"
    return len(affinity), heap


def host_memory_bytes() -> int:
    """Physical memory, or the cgroup limit when that is lower."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def host_session_resources() -> Tuple[int, str]:
    """:func:`session_resources` for this process; ``SPARK_GRAFT_DRIVER_MEM``
    overrides the heap."""
    return session_resources(
        os.sched_getaffinity(0),
        host_memory_bytes(),
        os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    )


def default_session(app_name: str = "hashquery_spark") -> SparkSession:
    """Build a local SparkSession sized from the host (see
    :func:`host_session_resources`).

    On a real cluster callers pass their own session; these configs are the
    local-mode equivalents of sane cluster defaults (AQE on, sensible
    shuffle partition count)."""
    cores, heap = host_session_resources()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = one JVM on the driver; this is the only memory knob
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark has no TIMESTAMP(NANOS) parquet support (SPARK-40819); read
        # them as raw int64 nanos, then register_parquet casts back to
        # timestamps losslessly (integer DIV, no double roundtrip)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def _restore_nano_timestamps(df: DataFrame, path: str) -> DataFrame:
    """With ``nanosAsLong`` enabled, timestamp[ns] parquet columns surface as
    int64 nanos; cast them back to timestamps (truncating to micros, which is
    Spark's native precision). Uses pyarrow to find affected columns; a path
    pyarrow cannot read as one file (a directory, a glob) is left as is."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return df
    try:
        schema = pq.read_schema(path)
    except (OSError, pa.ArrowException):
        return df
    from pyspark.sql import functions as F

    for fld in schema:
        if str(fld.type).startswith("timestamp[ns") and fld.name in df.columns:
            df = df.withColumn(
                fld.name,
                F.expr(f"timestamp_micros(CAST(`{fld.name}` DIV 1000 AS LONG))"),
            )
    return df


class Connection:
    """A SparkSession plus a logical-name -> DataFrame registry."""

    def __init__(self, spark: Optional[SparkSession] = None) -> None:
        self.spark = spark or default_session()
        self._tables: Dict[str, DataFrame] = {}
        # make externally-created sessions able to read timestamp[ns]
        # parquet too (runtime-settable SQL conf; see _restore_nano_timestamps)
        try:
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except AnalysisException:
            pass  # a session that forbids runtime SQL conf changes

    def __deepcopy__(self, memo):
        return self  # sessions/registries are shared, never copied

    # --- registration (mirrors duckdb_connection.py:91-111) ---

    def register_table(self, name: str, df: DataFrame) -> "Connection":
        self._tables[name] = df
        return self

    def register_parquet(self, name: str, path: str) -> "Connection":
        df = self.spark.read.parquet(path)
        df = _restore_nano_timestamps(df, path)
        return self.register_table(name, df)

    def register_csv(self, name: str, path: str, **options) -> "Connection":
        opts = {"header": "true", "inferSchema": "true", **options}
        return self.register_table(name, self.spark.read.options(**opts).csv(path))

    def register_json(self, name: str, path: str, **options) -> "Connection":
        return self.register_table(name, self.spark.read.options(**options).json(path))

    def register_orc(self, name: str, path: str, **options) -> "Connection":
        return self.register_table(name, self.spark.read.options(**options).orc(path))

    def register_avro(self, name: str, path: str, **options) -> "Connection":
        """Requires the spark-avro package on the classpath (external
        module); raises Spark's AnalysisException otherwise."""
        return self.register_table(
            name, self.spark.read.format("avro").options(**options).load(path)
        )

    def register_records(self, name: str, records: list, schema=None) -> "Connection":
        return self.register_table(name, self.spark.createDataFrame(records, schema=schema))

    def register_excel(self, name: str, path: str, **options) -> "Connection":
        """Load an ``.xlsx``/``.xls`` sheet (reference:
        src/model/connection/duckdb_connection.py:91-111 loads excel
        through pandas). Small dimension/config files only — the frame is
        driver-materialized through pandas and distributed from memory, so
        it broadcasts in joins; columnar formats are the data path.
        Requires an excel engine (openpyxl); raises ImportError with
        guidance otherwise."""
        import pandas as pd

        try:
            pdf = pd.read_excel(path, **options)
        except ImportError as e:
            raise ImportError(
                "register_excel needs an excel engine (pip install openpyxl); "
                f"pandas could not read {path!r}: {e}"
            ) from e
        return self.register_table(name, self.spark.createDataFrame(pdf))

    def register_file(self, name: str, path: str, **options) -> "Connection":
        """Extension-dispatched loader mirroring the reference's
        ``_load_df_from_content_ref`` (duckdb_connection.py:91-111):
        csv / parquet / json / orc / avro / xlsx by suffix."""
        lower = path.lower()
        if lower.endswith(".csv"):
            return self.register_csv(name, path, **options)
        if lower.endswith(".parquet"):
            return self.register_parquet(name, path)
        if lower.endswith(".json") or lower.endswith(".jsonl"):
            return self.register_json(name, path, **options)
        if lower.endswith(".orc"):
            return self.register_orc(name, path, **options)
        if lower.endswith(".avro"):
            return self.register_avro(name, path, **options)
        if lower.endswith(".xlsx") or lower.endswith(".xls"):
            return self.register_excel(name, path, **options)
        raise ValueError(
            "Cannot load file. Please provide a CSV, Parquet, JSON, ORC, "
            "Avro, or Excel file."
        )

    def register_dir(self, sf_dir: str) -> "Connection":
        """Register every ``<table>.parquet`` in a directory by stem name."""
        for fname in sorted(os.listdir(sf_dir)):
            if fname.endswith(".parquet"):
                self.register_parquet(fname[: -len(".parquet")], os.path.join(sf_dir, fname))
        return self

    # --- resolution ---

    def table(self, name: str) -> DataFrame:
        if name in self._tables:
            return self._tables[name]
        # fall through to the session catalog (temp views, hive tables)
        return self.spark.table(name)

    def sql(self, query: str) -> DataFrame:
        """Analyze raw SQL against this Connection's tables. Bare names
        resolve through session-global temp views; ``spark.sql`` analyzes
        eagerly, so the returned frame is bound to this Connection's views
        before the lock lets another Connection replace them."""
        with _RAW_SQL_LOCK:
            for name, df in self._tables.items():
                df.createOrReplaceTempView(name)
            return self.spark.sql(query)


def connection_for_dir(sf_dir: str, spark: Optional[SparkSession] = None) -> Connection:
    """Convenience: a Connection with all testdata tables registered."""
    return Connection(spark).register_dir(sf_dir)
