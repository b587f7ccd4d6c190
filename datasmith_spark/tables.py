"""Table layer: hash-partitioned parquet with Iceberg-ready semantics.

The pipeline's tables (`labels`, `lineage`, `metrics`, `checkpoints`) and
the streaming side tables (`dup_pairs`, `lm_dup_pairs`, streaming.py) are
written through this module only, so swapping parquet for a SQL catalog
(`bucket(N, clip_id)` partition transform, MERGE INTO checkpoints) is a
config change, not a code fork (SURVEY.md §7.4 risk 5).

Two modes, selected by the `catalog` constructor arg:

  * **path mode** (`catalog=None`, default): directory tables under
    `base_dir`, with the crash-atomic parquet semantics below.
  * **catalog mode** (`catalog="<namespace>"`): the four tables live in a
    Spark SQL catalog namespace — e.g. `spark_catalog.curation` against the
    built-in catalog, or `local.db` against an Iceberg catalog configured
    via `spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog`.
    Every write goes through DataFrameWriterV2 first (on Iceberg this is a
    real atomic snapshot commit: `overwritePartitions` = dynamic partition
    replace, `append` = fast-append) and falls back to the equivalent v1
    plan (conf-scoped dynamic `insertInto`) when the catalog only exposes
    v1 tables, so the SAME code path is integration-tested in this sandbox
    against the built-in catalog (tests/test_catalog_tables.py) and picks
    up Iceberg's transactional guarantees when the jar + catalog exist.
    Partition deletion tries the v2 row-level `DELETE FROM` (Iceberg)
    before `ALTER TABLE .. DROP PARTITION` (v1). The streaming sinks remain
    path-mode (streaming.make_batch_sink guards this explicitly).

Parquet (path) mode semantics:
  * labels (batch), and the stream dedup side tables per micro-batch:
    directory-partitioned by part_id (stream_batch); per-partition
    idempotent rewrite (the `replaceWhere` analogue) COMMITTED atomically —
    Spark writes into a hidden staging dir and partitions are swapped into
    place with renameat2(RENAME_EXCHANGE), so readers never observe a torn
    partition (the transactional behavior an Iceberg catalog would give,
    emulated on the filesystem).
  * rows the driver already holds (a streaming micro-batch's labels and
    metrics, the batch side tables) skip Spark's write job: each write is
    ONE parquet file written with pyarrow and landed by rename.
    `replace_partition` stages the file in a hidden dir and swaps it in as
    the whole partition (a replay replaces every file the partition held);
    `append` writes a hidden tmp file and renames it into the table.
  * checkpoints/lineage/metrics: append-only logs; readers take the latest
    row per key (last-write-wins upsert, mirroring the reference's
    INSERT OR REPLACE cache at /root/reference/src/datasmith/utils.py:94-101).
    Every append is one file, so the pipeline's done-marker commits with
    one atomic rename.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _glob_escape(path: str) -> str:
    """`path` with Hadoop's glob characters backslash-escaped, for a Spark
    read: Hadoop globs every path Spark reads, so a directory named
    `local[4]-0` would otherwise match nothing (PATH_NOT_FOUND). Spark's
    writers take the path literally."""
    return re.sub(r"([\[\]{}*?])", r"\\\1", path)


def _renameat2_exchange(a: str, b: str) -> bool:
    """Atomically EXCHANGE two paths via Linux renameat2(RENAME_EXCHANGE).

    Returns False when the syscall is unavailable (non-Linux / old libc),
    in which case callers fall back to a two-step rename. With exchange, a
    concurrent reader of `b` sees the complete old tree or the complete
    new one — never an intermediate."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        fn = libc.renameat2
    except (OSError, AttributeError):  # pragma: no cover - non-Linux
        return False
    AT_FDCWD = -100
    RENAME_EXCHANGE = 2
    r = fn(AT_FDCWD, os.fsencode(a), AT_FDCWD, os.fsencode(b), RENAME_EXCHANGE)
    return r == 0


def _atomic_replace_dir(src: str, dst: str) -> None:
    """Move directory `src` into place at `dst` so that readers of `dst`
    never observe a partial tree: plain rename when `dst` does not exist,
    renameat2(RENAME_EXCHANGE) when it does (the old tree comes back in
    `src` and is deleted after the swap). Fallback (exchange unavailable):
    rename the old tree to a dot-prefixed tomb first — readers then see
    the partition fully-old, briefly absent, or fully-new, never torn."""
    if not os.path.isdir(dst):
        try:
            os.rename(src, dst)
            return
        except OSError:  # lost the no-dst race; fall through to exchange
            pass
    if _renameat2_exchange(src, dst):
        shutil.rmtree(src, ignore_errors=True)
        return
    tomb = os.path.join(  # pragma: no cover - exchange exists on Linux
        os.path.dirname(dst), f".tomb-{os.path.basename(dst)}-{uuid.uuid4().hex[:8]}"
    )
    os.rename(dst, tomb)  # pragma: no cover
    os.rename(src, dst)  # pragma: no cover
    shutil.rmtree(tomb, ignore_errors=True)  # pragma: no cover


class TableLayer:
    def __init__(self, base_dir: str, catalog: str | None = None, table_format: str = "parquet"):
        self.base = base_dir
        # SQL namespace ("db" / "cat.db") for catalog mode; None = path mode.
        self.catalog = catalog
        self.fmt = table_format  # catalog-mode provider for CREATE (Iceberg: "iceberg")
        self._ns_ready = False

    def path(self, name: str) -> str:
        return os.path.join(self.base, name)

    def ident(self, name: str) -> str:
        """Catalog-mode table identifier."""
        return f"{self.catalog}.{name}"

    def _ensure_ns(self, spark: SparkSession) -> None:
        if not self._ns_ready:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}")
            self._ns_ready = True

    @staticmethod
    def _active_spark() -> SparkSession:
        s = SparkSession.getActiveSession()
        if s is None:  # pragma: no cover - catalog ops always follow a write
            raise RuntimeError("catalog-mode TableLayer needs an active SparkSession")
        return s

    def exists(self, spark: SparkSession, name: str) -> bool:
        if self.catalog is not None:
            return spark.catalog.tableExists(self.ident(name))
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        return any(not f.startswith(("_", ".")) for f in os.listdir(p))

    def read(self, spark: SparkSession, name: str, schema=None) -> DataFrame:
        """Read a table; pass schema to stay well-defined on empty writes
        (path mode only — in catalog mode the catalog owns the schema)."""
        if self.catalog is not None:
            return spark.table(self.ident(name))
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(_glob_escape(self.path(name)))

    def write_bucketed(
        self, df: DataFrame, name: str, key: str, n_buckets: int = 32
    ) -> None:
        """Catalog-mode only: persist df as a hash-bucketed (and in-bucket
        sorted) table on `key`. Two stores bucketed with the SAME key and
        bucket count equi-join with NO shuffle exchange on either side
        (plan-pinned in tests/test_catalog_tables.py) — the layout for
        long-lived key stores that every incremental batch joins against:
        a fingerprint/seen-key store at 10^12 rows re-shuffled on every
        ingest join is the bottleneck; bucketed, only the (small) incoming
        batch moves. The parquet-path analogue is Iceberg's bucket
        partition transform off-sandbox."""
        if self.catalog is None:
            raise NotImplementedError(
                "bucketed stores need a catalog (bucketBy requires saveAsTable)"
            )
        self._ensure_ns(self._active_spark())
        (
            df.write.format(self.fmt)
            .mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(self.ident(name))
        )

    def _v1_insert(self, df: DataFrame, name: str, overwrite: bool) -> None:
        """v1 fallback: positional insertInto in the table's column order,
        with dynamic partition overwrite scoped to this write."""
        spark = df.sparkSession
        ident = self.ident(name)
        aligned = df.select(*spark.table(ident).columns)
        conf = "spark.sql.sources.partitionOverwriteMode"
        old = spark.conf.get(conf, "STATIC")
        spark.conf.set(conf, "dynamic")
        try:
            aligned.write.mode("overwrite" if overwrite else "append").insertInto(ident)
        finally:
            spark.conf.set(conf, old)

    def _catalog_write(self, df: DataFrame, name: str, overwrite: bool,
                       partition_col: str | None = None) -> None:
        """Catalog-mode write: CREATE on first touch, then v2 writeTo
        (Iceberg atomic commit) with v1 insertInto fallback."""
        from pyspark.errors import AnalysisException

        spark = df.sparkSession
        self._ensure_ns(spark)
        ident = self.ident(name)
        if not spark.catalog.tableExists(ident):
            w = df.write.format(self.fmt)
            if partition_col is not None:
                w = w.partitionBy(partition_col)
            w.saveAsTable(ident)
            return
        try:
            w2 = df.writeTo(ident)
            w2.overwritePartitions() if overwrite else w2.append()
        except AnalysisException as e:
            if "v1 table" not in str(e):  # real error (schema drift, perms)
                raise
            self._v1_insert(df, name, overwrite)

    def overwrite_partitions(self, df: DataFrame, name: str, partition_col: str = "part_id") -> None:
        """Crash-atomic per-partition overwrite — the parquet-mode analogue
        of an Iceberg MERGE / replaceWhere COMMIT, not just its semantics.

        The frame is written to a dot-prefixed STAGING directory beside the
        table (invisible to every reader), then each staged partition
        directory is swapped into place atomically (_atomic_replace_dir).
        A crash during the Spark write leaves only staging garbage and the
        table untouched; a crash mid-swap leaves every partition either
        fully-old or fully-new. Readers (and a post-crash resume, which
        recomputes exactly the unchecked parts) can never observe a torn
        partition. Stale staging dirs from crashed runs are swept on the
        next overwrite. The on-disk layout is unchanged
        (<table>/<partition_col>=<v>/*.parquet), so external readers —
        DuckDB globs, plain spark.read.parquet — are unaffected.

        Catalog mode: v2 overwritePartitions (Iceberg: one atomic snapshot
        commit — the catalog provides the transactionality this emulates)
        or the v1 dynamic-insertInto fallback."""
        if self.catalog is not None:
            self._catalog_write(df, name, overwrite=True, partition_col=partition_col)
            return
        with self._staged_partitions(name, partition_col) as staging:
            df.write.mode("overwrite").partitionBy(partition_col).parquet(staging)

    def replace_partition(self, table: pa.Table, name: str, partition_col: str, value) -> None:
        """Path mode: commit `table` as the whole partition
        `<name>/<partition_col>=<value>`, one parquet file without a Spark
        job. The file is committed like overwrite_partitions' (staged,
        then swapped in whole), so a rewrite replaces every file the
        partition held, whichever writer wrote them. `table` carries no
        `partition_col` column; the directory name holds it."""
        if self.catalog is not None:
            raise NotImplementedError("replace_partition is path-mode only")
        with self._staged_partitions(name, partition_col) as staging:
            part = os.path.join(staging, f"{partition_col}={value}")
            os.makedirs(part)
            pq.write_table(table, os.path.join(part, "part-00000.parquet"), compression="zstd")

    @contextlib.contextmanager
    def _staged_partitions(self, name: str, partition_col: str):
        """The path-mode partition commit: the caller writes
        `<partition_col>=<v>/` trees into the yielded hidden staging dir,
        then each one is swapped into `<name>/` whole (_atomic_replace_dir).
        Stale staging dirs of crashed runs are swept first; if the write
        raises, nothing is swapped. The staging dir is always removed."""
        for d in os.listdir(self.base) if os.path.isdir(self.base) else []:
            if d.startswith(f".staging-{name}-"):
                shutil.rmtree(os.path.join(self.base, d), ignore_errors=True)
        staging = self.path(f".staging-{name}-{uuid.uuid4().hex[:8]}")
        try:
            yield staging
            os.makedirs(self.path(name), exist_ok=True)
            prefix = f"{partition_col}="
            for d in sorted(os.listdir(staging)):
                if d.startswith(prefix):
                    _atomic_replace_dir(
                        os.path.join(staging, d), os.path.join(self.path(name), d)
                    )
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def drop_partitions(self, name: str, partition_col: str, values) -> None:
        """Delete partition directories (deletion semantics for parts whose
        input rows vanished — the parquet-mode stand-in for an Iceberg
        MERGE delete; see pipeline.run_pipeline). Each directory is first
        renamed to a dot-prefixed tomb (atomic, invisible to readers), so a
        concurrent reader sees the partition fully present or fully gone —
        never mid-delete.

        Catalog mode: row-level DELETE first (Iceberg — a single snapshot
        commit across all values), ALTER TABLE DROP PARTITION for v1."""
        if self.catalog is not None:
            from pyspark.errors import AnalysisException

            vals = [int(v) for v in values]
            if not vals:
                return
            spark = self._active_spark()
            ident = self.ident(name)
            if not spark.catalog.tableExists(ident):
                return
            try:
                in_list = ", ".join(str(v) for v in vals)
                spark.sql(f"DELETE FROM {ident} WHERE {partition_col} IN ({in_list})")
            except AnalysisException:
                for v in vals:
                    spark.sql(
                        f"ALTER TABLE {ident} DROP IF EXISTS PARTITION ({partition_col}={v})"
                    )
            return
        for v in values:
            p = os.path.join(self.path(name), f"{partition_col}={v}")
            if os.path.isdir(p):
                tomb = os.path.join(
                    self.path(name), f".tomb-{partition_col}={v}-{uuid.uuid4().hex[:8]}"
                )
                os.rename(p, tomb)
                shutil.rmtree(tomb, ignore_errors=True)

    def wipe(self, name: str) -> None:
        """Delete a table outright (used by the partition-layout guard when
        n_parts changes: the old labels/checkpoints describe a different
        partitioning and every part recomputes anyway)."""
        if self.catalog is not None:
            self._active_spark().sql(f"DROP TABLE IF EXISTS {self.ident(name)}")
            return
        shutil.rmtree(self.path(name), ignore_errors=True)

    def read_unified(self, spark: SparkSession, name: str, schema=None) -> DataFrame:
        """Read a table in BATCH shape regardless of which writer produced
        it: the batch pipeline partitions labels by part_id, the streaming
        sink by batch_id (for idempotent batch replay) with part_id as a data
        column, so a streaming-written labels dir carries an extra batch_id
        column — this reader drops it, making batch and streaming outputs
        interchangeable downstream."""
        df = self.read(spark, name, schema=schema)
        return df.drop("batch_id") if "batch_id" in df.columns else df

    def append(self, table: pa.Table, name: str) -> None:
        """Append rows the driver holds. Path mode: one parquet file, landed
        by rename. Catalog mode: a catalog append of the same rows."""
        if self.catalog is not None:
            self._catalog_write(self._active_spark().createDataFrame(table), name, overwrite=False)
            return
        os.makedirs(self.path(name), exist_ok=True)
        file = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path(name), f".{file}.tmp")  # hidden from readers
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, os.path.join(self.path(name), file))

    def latest_per_key(self, spark: SparkSession, name: str, keys: list[str],
                       order_col: str = "ts", schema=None) -> DataFrame:
        """Last-write-wins view over an append-only log; `schema` as in read
        (pinned, a column older files lack reads as null)."""
        from pyspark.sql import Window

        df = self.read(spark, name, schema=schema)
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
