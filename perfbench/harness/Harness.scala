package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.engine.Artifacts

/** One benchmark run of one query mix, driven from outside the program.
  *
  * Closed loop, one client: each query is built through
  * `SparkEntry.queries(name)(spark, fixtures)` and executed through a
  * `noop` sink, and the next query starts only after the previous one and
  * its untimed teardown have finished. Phases:
  *
  *  1. set-up: session, `Tables.ld` + count of every table, untimed warm
  *     passes of the mix (codegen, JIT, `Artifacts` training);
  *  2. timed passes, each in a seed-determined order, until `--seconds`
  *     have elapsed and at least `--min-samples` queries have run (always
  *     whole passes);
  *  3. driver heap after a full GC;
  *  4. untimed correctness dump: each query's result once, to parquet.
  *
  * Raw samples go to `--out` as JSON; `run.py` turns them into metrics.
  *
  * Usage: Harness --fixtures DIR --queries q1,q2 --seed N --seconds S
  *   --trace 0|1 --cpus N --out FILE --dump DIR [--min-samples N] [--spans FILE]
  */
object Harness {

  /** The session settings graft.Bench uses, plus the accounting's
    * session listeners when `traced`. */
  def session(cpus: Int, warehouse: String, traced: Boolean): SparkSession =
    SparkSession.builder()
      .config(if (traced) Accounting.sessionListenerConfs else Map.empty[String, String])
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()

  /** graft.Bench's fixed calibration job: CPU plus one 1000-key shuffle. */
  def calibrate(spark: SparkSession): Unit =
    spark.range(0L, 8000000L, 1L, 32)
      .select((col("id") % 1000).as("k"), xxhash64(col("id")).as("h"))
      .groupBy("k").agg(avg("h").as("a"), max("h").as("m"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()

  /** graft.Bench's untimed between-query teardown: drop query memos, the
    * SQL cache and every persisted RDD except declared artifacts, then a
    * full GC so collection debt stays out of the next query's window. */
  def teardown(spark: SparkSession): Unit = {
    graft.queries.Relational.clearShared()
    graft.queries.PipelineOps.clearShared()
    spark.sharedState.cacheManager.clearCache()
    val artifactIds = Artifacts.pinnedRddIds(spark)
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => artifactIds.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Untimed passes before the timed ones. At this scale JIT compilation
    * keeps shortening each pass for about five passes; with one warm pass
    * the timed passes sat on that slope and runs of the same code spread
    * by 20 % depending on how fast each JVM compiled. */
  val WarmPasses = 3

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val fixtures = opts("fixtures")
    val names = opts("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val minSamples = opts.get("min-samples").fold(0)(_.toInt)

    // Manifest guard: a renamed or removed query must fail the run, never
    // shorten the mix.
    val missing = names.filterNot(SparkEntry.queries.contains)
    val noOracle = names.filterNot(SparkEntry.oracleSql.contains)
    if (names.isEmpty || missing.nonEmpty || noOracle.nonEmpty) {
      System.err.println(s"[perfbench] manifest error: not in SparkEntry.queries: " +
        s"${missing.mkString(",")}; no oracle: ${noOracle.mkString(",")}")
      sys.exit(3)
    }

    val t0 = System.nanoTime()
    val spark = session(cpus, Paths.get("spark-warehouse").toAbsolutePath.toString, trace)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)
    val acct = new Accounting(spark, trace)
    val queries = SparkEntry.queries

    val tl = System.nanoTime()
    val rowCounts = Tables.names.map(n => n -> Tables.ld(spark, fixtures, n).count())
    val loadS = secondsSince(tl)
    val loadCounters = acct.window(0, 0)._1

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** One query: build, execute, teardown; returns its sample record. */
    def runQuery(name: String, pass: Int, passSpan: Long): Map[String, Any] = {
      var buildS = 0.0
      var actionS = 0.0
      var error: String = null
      val start = Clock.nowMs
      val q0 = System.nanoTime()
      acct.span("query", passSpan) { qid =>
        try {
          val tb = System.nanoTime()
          val df = acct.span("queries.build", qid)(_ => queries(name)(spark, fixtures))
          buildS = secondsSince(tb)
          val ta = System.nanoTime()
          acct.span("exec.action", qid)(_ => df.write.format("noop").mode("overwrite").save())
          actionS = secondsSince(ta)
        } catch {
          case e: Throwable =>
            error = s"${e.getClass.getName}: ${e.getMessage}".take(300)
            System.err.println(s"[perfbench] $name failed: $error")
        }
      }
      val latency = secondsSince(q0)
      val (counters, busyMs) = acct.window(start, Clock.nowMs)
      val td = System.nanoTime()
      acct.span("bench.teardown", passSpan)(_ => teardown(spark))
      val teardownS = secondsSince(td)
      acct.window(0, 0)
      Map("pass" -> pass, "name" -> name, "ok" -> (error == null), "error" -> error,
        "latency_s" -> latency, "build_s" -> buildS, "action_s" -> actionS,
        "teardown_s" -> teardownS, "idle_s" -> math.max(0.0, latency - busyMs / 1e3),
        "counters" -> counters)
    }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(names)

    /** One pass over the mix; negative passes are the untimed warm passes. */
    def runPass(pass: Int, pinnedBefore: Set[Int]): Unit = {
      val p0 = System.nanoTime()
      var calS: Option[Double] = None
      acct.span(if (pass < 0) "warm" else "pass", 0) { pid =>
        if (trace && pass >= 0) {
          val tc = System.nanoTime()
          acct.span("host.cal", pid)(_ => calibrate(spark))
          calS = Some(secondsSince(tc))
          acct.window(0, 0)
        }
        order(pass).foreach(n => samples += runQuery(n, pass, pid))
      }
      val pinned = Artifacts.pinnedRddIds(spark)
      passes += Map[String, Any]("pass" -> pass, "wall_s" -> secondsSince(p0),
        "pinned_rdds" -> pinned.size, "rebuilds" -> (pinned -- pinnedBefore).size,
        "cal_s" -> calS)
    }

    (-WarmPasses to -1).foreach(runPass(_, Set.empty))
    val setupS = secondsSince(t0)
    val pinnedAfterWarm = Artifacts.pinnedRddIds(spark)

    val timed0 = System.nanoTime()
    var pass = 0
    def timedSamples = samples.count(_("pass").asInstanceOf[Int] >= 0)
    while (pass == 0 || secondsSince(timed0) < seconds || timedSamples < minSamples) {
      runPass(pass, pinnedAfterWarm)
      pass += 1
    }
    val timedS = secondsSince(timed0)

    // Least of five full-GC readings, 200 ms apart: Spark's ContextCleaner
    // drops the broadcast and shuffle blocks of collected plans only after
    // a GC has cleared them, asynchronously, so back-to-back readings
    // still held the last queries' blocks (+16 MB, depending on order).
    val heapMb = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // Correctness dump, untimed: one result per query, in name order.
    val dumpDir = opts("dump")
    val d0 = System.nanoTime()
    val dumpErrors = names.sorted.flatMap { n =>
      val err = try {
        queries(n)(spark, fixtures).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$n")
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
      teardown(spark)
      err.map(n -> _)
    }.toMap
    graft.Verify.writeOracleJson(dumpDir)
    val dumpS = secondsSince(d0)

    val result = Map[String, Any](
      "queries" -> names, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "setup" -> Map("session_s" -> sessionS, "load_s" -> loadS, "setup_s" -> setupS,
        "load_counters" -> loadCounters, "rows" -> rowCounts.toMap),
      "timed_s" -> timedS, "dump_s" -> dumpS, "heap_after_gc_mb" -> heapMb,
      "samples" -> samples.toList, "passes" -> passes.toList,
      "dump_errors" -> dumpErrors)
    Files.writeString(Paths.get(opts("out")), Json(result))
    opts.get("spans").foreach { path =>
      Files.writeString(Paths.get(path), acct.allSpans.map(s => Json(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end))).mkString("", "\n", "\n"))
    }
    acct.close()
    spark.stop()
  }
}

/** Minimal JSON encoder for the harness' result records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
