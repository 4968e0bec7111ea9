package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Spark-native mirror of the reference engine's primary API surface.
  *
  * The reference (`/root/reference`) exposes `NaiveDB` — a catalog of named
  * CSV/mem/empty tables plus `run_sql` (reference `db.rs:24-46`,
  * `catalog.rs:20-65`). Here the catalog IS Spark's temp-view catalog and
  * `runSql` IS `spark.sql`: stages 2–5 of the reference's pipeline
  * (plan → optimize → physical-plan → execute, `db.rs:24-37`) are Catalyst
  * and Tungsten, which strictly dominate the reference's empty optimizer
  * and hard-coded physical choices (reference `optimizer/mod.rs:12-28`,
  * `planner/mod.rs:71-89`).
  *
  * Capability supersets vs the reference, by design (SURVEY §7):
  *   - CSV schema inference scans the whole file, not 3 rows
  *     (reference `datasource/csv.rs:37`), and is lazy, not eagerly
  *     materialized (`csv.rs:57-74`).
  *   - Parquet sources (the reference has CSV only).
  *   - ORDER BY, outer joins, set ops, HAVING, DISTINCT aggregates etc.
  *     work (parsed-but-dropped or absent in the reference).
  */
class GraftDB(val spark: SparkSession) {

  /** Register a CSV file as a named table. Mirrors
    * `NaiveDB::create_csv_table` (reference `db.rs:39-46`) with
    * `CsvConfig{has_header, delimiter}` (reference `csv.rs:23-43`).
    *
    * `inferRows` mirrors the reference's `max_read_records: Some(3)`
    * (`csv.rs:37`): types are inferred from only the first n data rows and
    * that schema is applied to the full scan. Default None = whole-file
    * inference (documented superset — safer types, one extra pass).
    *
    * Sampling caveats (matching the reference's single-file model): the
    * n-line sample reads physical lines via textFile().limit(), which is
    * only "the first n records" for a SINGLE file without quoted
    * multi-line fields. For multi-file paths the sampled lines come from
    * whichever split lists first, and a quoted newline splits one record
    * across samples — pass None (whole-file inference with the real CSV
    * parser) for those inputs. */
  def createCsvTable(name: String, path: String, header: Boolean = true,
                     delimiter: String = ",",
                     inferRows: Option[Int] = None,
                     timestampFormat: Option[String] = None): DataFrame = {
    // timestampFormat mirrors `CsvConfig.datetime_format` (reference
    // `csv.rs:29`, default None at `csv.rs:41`): an explicit pattern makes
    // timestamp columns PARSE as TimestampType during inference and read
    // (Spark's timestampFormat knob, DateTimeFormatter syntax). None =
    // Spark's default ISO-8601 handling, matching the reference's None.
    // (`batch_size`/`file_projection`, csv.rs:27-28, stay moot in Spark:
    // vectorized reader + column pruning.)
    def opts(r: org.apache.spark.sql.DataFrameReader) = {
      val base = r.option("header", header.toString)
        .option("delimiter", delimiter)
      timestampFormat.fold(base)(f => base.option("timestampFormat", f))
    }
    val df = inferRows match {
      case Some(n) =>
        val head = spark.read.textFile(path)
          .limit(n + (if (header) 1 else 0))
        val schema = opts(spark.read)
          .option("inferSchema", "true")
          .csv(head).schema
        opts(spark.read).schema(schema).csv(path)
      case None => opts(spark.read).option("inferSchema", "true").csv(path)
    }
    df.createOrReplaceTempView(name)
    df
  }

  /** Parquet source — superset (the driver corpus is parquet). The schema
    * comes from the [[graft.Tables.schemaOf]] memo, as for `Tables.ld`. */
  def createParquetTable(name: String, path: String): DataFrame = {
    val df = spark.read.schema(graft.Tables.schemaOf(spark, path)).parquet(path)
    df.createOrReplaceTempView(name)
    df
  }

  /** In-memory table. Mirrors `MemTable::try_create`
    * (reference `datasource/memory.rs:14-46`). */
  def createMemTable(name: String, schema: StructType,
                     rows: Seq[Row]): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 1000)),
      schema)
    df.createOrReplaceTempView(name)
    df
  }

  /** Schema-only empty table. Mirrors `EmptyTable::try_create`
    * (reference `datasource/empty.rs:17-40`). */
  def createEmptyTable(name: String, schema: StructType): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    df.createOrReplaceTempView(name)
    df
  }

  /** Parse → plan → optimize → execute. Mirrors `NaiveDB::run_sql`
    * (reference `db.rs:24-37`); lazy until an action. */
  def runSql(sql: String): DataFrame = spark.sql(sql)

  /** Fluent-builder entry. Mirrors `Catalog::get_table_df`
    * (reference `catalog.rs:69-80`). */
  def table(name: String): Frame = Frame(spark.table(name))

  /** Pretty-print, mirroring `print_result` (reference `utils.rs:11-13`). */
  def printResult(df: DataFrame): Unit = df.show(1000, truncate = false)
}
