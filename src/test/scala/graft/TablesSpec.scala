package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` as a catalog: each parquet file's schema is inferred once per
  * file version and session inference confs, so a repeated `ld` starts no
  * Spark job, while rewritten files, Spark-written directories and a
  * different `nanosAsLong` setting are inferred afresh. */
class TablesSpec extends AnyFunSuite with SparkFixture {
  private val sfDir = "/root/testdata/sf0.001"
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A fresh directory under target/ for files this suite rewrites. */
  private def scratch(tag: String): String = {
    val d = Paths.get("target", "tables-spec", s"$tag-${java.util.UUID.randomUUID}")
    Files.createDirectories(d)
    d.toString
  }

  /** Spark jobs started while `f` runs, counted by a SparkListener. Only
    * jobs of a job group unique to this call count, and a flush job of the
    * same group runs last: the listener bus delivers in order, so once the
    * flush job's start arrives every job `f` started has been counted. */
  private def jobsDuring(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach { p =>
            if (p.getProperty("spark.job.description") == "flush") flushed.countDown()
            else jobs.incrementAndGet()
          }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "tables-spec")
    try {
      f
      sc.setJobDescription("flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener never saw the flush job")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("ld yields plain inference's schema (events normalized) for all ten tables") {
    spark.conf.set(nanosAsLong, "true")
    Tables.names.foreach { n =>
      val plain = spark.read.parquet(s"$sfDir/$n.parquet")
      val expected =
        if (n == "events") Tables.normalizeEventsTs(plain).schema else plain.schema
      assert(Tables.ld(spark, sfDir, n).schema == expected, n)
    }
  }

  test("a second ld of the same file starts zero Spark jobs") {
    val dir = scratch("memo")
    Files.copy(Paths.get(sfDir, "events.parquet"), Paths.get(dir, "events.parquet"))
    assert(jobsDuring(Tables.ld(spark, dir, "events").schema) >= 1,
      "the first ld of a new file must infer its schema")
    assert(jobsDuring(Tables.ld(spark, dir, "events").schema) == 0)
    // fresh attribute ids per call: a self-join of two lds still resolves
    val a = Tables.ld(spark, dir, "events")
    val b = Tables.ld(spark, dir, "events")
    assert(a.join(b, a("event_id") === b("event_id")).count() ==
      a.count())
  }

  test("a file rewritten with a different schema returns the new schema") {
    val dir = scratch("rewrite")
    val file = Paths.get(dir, "t.parquet")
    Files.copy(Paths.get(sfDir, "region.parquet"), file)
    assert(Tables.ld(spark, dir, "t").schema ==
      spark.read.parquet(s"$sfDir/region.parquet").schema)
    Files.copy(Paths.get(sfDir, "nation.parquet"), file,
      StandardCopyOption.REPLACE_EXISTING)
    val after = Tables.ld(spark, dir, "t")
    assert(after.schema == spark.read.parquet(s"$sfDir/nation.parquet").schema)
    assert(after.count() == spark.read.parquet(s"$sfDir/nation.parquet").count())
  }

  test("a Spark-written directory is re-inferred on every call") {
    val dir = scratch("dir")
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(jobsDuring(Tables.ld(spark, dir, "t").schema) >= 1)
    assert(jobsDuring(Tables.ld(spark, dir, "t").schema) >= 1)
    spark.range(3).selectExpr("id AS b").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    assert(Tables.ld(spark, dir, "t").schema.fieldNames.toSeq == Seq("b"))
  }

  test("nanosAsLong=false and =true are separate memo entries") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // INT64 TIMESTAMP(NANOS): Spark reads it only as a raw long under
    // nanosAsLong, so the two settings infer different things.
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val file = s"${scratch("nanos")}/events.parquet"
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(Paths.get(file).toAbsolutePath.toUri))
      .withConf(new Configuration()).withType(msg).build()
    try writer.write(new SimpleGroupFactory(msg).newGroup().append("ts", 1000L))
    finally writer.close()

    def inferred(asLong: Boolean): scala.util.Try[StructType] = {
      spark.conf.set(nanosAsLong, asLong.toString)
      scala.util.Try(Tables.schemaOf(spark, file))
    }
    try {
      assert(inferred(asLong = true).get("ts").dataType == LongType)
      val asNanos = inferred(asLong = false)
      assert(!asNanos.toOption.exists(_("ts").dataType == LongType),
        s"nanosAsLong=false served the nanosAsLong=true entry: $asNanos")
      spark.conf.set(nanosAsLong, "true")
      assert(jobsDuring(Tables.schemaOf(spark, file)) == 0)
    } finally spark.conf.set(nanosAsLong, "true")
  }
}
