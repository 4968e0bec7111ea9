package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Every main and the test
  * fixture go through [[local]], so the session that generates PLANS.md is
  * the one Bench measures, Verify dumps and the specs check.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every core the JVM
    * sees (what the tier-1 command passes as `nproc`). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the engine's defaults: shuffle partitions
    * = cpus, UTC, UI off, `GraftExtensions`, log level WARN. Idempotent
    * like `getOrCreate`: with a default session already alive, that
    * session is returned with the runtime confs re-applied (the master
    * applies only when the SparkContext is first built, the extensions
    * only when a new session is).
    *
    * `v2.bucketing` is a declared session default: q309's storage-partitioned
    * join needs it live at physical-planning time (the caller's action), so
    * it cannot be scoped per query; default-on keeps it variance-free across
    * queries. */
  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
