package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table loading for the driver's parquet corpus (TESTDATA.md).
  *
  * Mirrors the reference's `Catalog` (reference `catalog.rs:20-65`): a named
  * lookup of schema'd batch producers — here lazy parquet scans, so Catalyst
  * sees a `FileSourceScanExec` it can push filters/projections into. Like
  * the reference, the schema is resolved once per table, not per query:
  * [[schemaOf]] memoizes each parquet file's inferred schema, keyed by the
  * file's real path, size, mtime and inode plus the session confs that
  * change inferred types, so a query's `ld` starts no schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Lazy scan of one table; column pruning + predicate pushdown apply.
    *
    * `events.ts` has shipped under two physical encodings across fixture
    * vintages: INT64 TIMESTAMP(NANOS) — which Spark's parquet reader rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a raw long — and plain
    * timestamp[us] (isAdjustedToUTC=false → Spark reads TIMESTAMP_NTZ). The
    * engine's contract is a session-local TimestampType `ts` (what every
    * event/stream query and r1-r9's green oracles were built against), so we
    * normalize BY READ TYPE rather than assuming a vintage:
    *   - LongType (nanos file + `nanosAsLong`): integer `div 1000` →
    *     `timestamp_micros`. Integer div, not `/1000.0` — epoch-nanos exceed
    *     2^53 and would lose precision through a double. Matches how DuckDB
    *     casts TIMESTAMP_NS to its microsecond TIMESTAMP, so oracles line up.
    *   - TimestampNTZType (micros file): cast to TimestampType. Session tz is
    *     pinned UTC in every entrypoint, so the wall-clock reading is
    *     identical to the nanos path (and to DuckDB's naive TIMESTAMP).
    *   - TimestampType: already the contract; pass through. */
  def ld(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** The session confs that change the types parquet inference yields. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** One version of one file, read under one set of [[inferenceConfs]]. */
  private final case class SchemaKey(realPath: String, size: Long,
      modified: FileTime, fileKey: AnyRef, confs: Seq[String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** The schema `spark.read.parquet(path)` infers, memoized JVM-wide for a
    * local regular file. Inference runs a Spark job (footer read, closure
    * cleaning, Hadoop conf serialization) costing tens of milliseconds per
    * call, as much as a short query's execution. The memo is catalog
    * metadata, not a query memo: no `clearShared` or bench teardown clears
    * it.
    *
    * The key is the file's real path, size, full-precision mtime and
    * `fileKey` (device + inode), plus the session's [[inferenceConfs]]: a
    * rewritten file or a session that reads types differently misses.
    * Attributes are read BEFORE inferring, so a file rewritten mid-inference
    * can only leave an entry under its old version. Directories (Spark-written
    * tables whose part files change without touching the directory) and
    * non-local paths are inferred on every call. Only the `StructType` is
    * kept: each caller still builds a fresh relation with fresh attribute
    * ids, which self-joins depend on. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val file = Paths.get(uri.getPath)
    if (!Option(uri.getScheme).forall(_ == "file") || !Files.isRegularFile(file))
      spark.read.parquet(path).schema
    else {
      val real = file.toRealPath()
      val attrs = Files.readAttributes(real, classOf[BasicFileAttributes])
      val key = SchemaKey(real.toString, attrs.size, attrs.lastModifiedTime,
        attrs.fileKey, inferenceConfs.map(spark.conf.get))
      Option(schemas.get(key)).getOrElse {
        val schema = spark.read.parquet(path).schema
        schemas.put(key, schema)
        schema
      }
    }
  }

  /** Normalize `ts` to the TimestampType contract by READ TYPE (see [[ld]]).
    * Works on batch and streaming DataFrames alike — the branch is on the
    * analyzed schema, resolved before any data moves. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", df("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Register all tables as temp views named exactly like the files, so
    * `spark.sql` text matches the DuckDB oracle text 1:1. */
  def views(spark: SparkSession, dir: String): Unit =
    names.foreach(n => ld(spark, dir, n).createOrReplaceTempView(n))

  /** Register only the named tables, so SQL queries bind just what they
    * touch. Each registration builds a fresh scan whose schema comes from
    * the [[schemaOf]] memo (file version + inference confs), so a file
    * already seen is registered without reading its footer. */
  def view(spark: SparkSession, dir: String, only: String*): Unit =
    only.foreach(n => ld(spark, dir, n).createOrReplaceTempView(n))
}
