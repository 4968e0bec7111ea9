package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions seam (graft.plans.GraftExtensions) — a fresh
  * session is required because extensions apply at session construction;
  * the suite clears the process-wide active/default sessions around it so
  * getOrCreate doesn't hand back the shared fixture session.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftSession.local: v2 bucketing on, UTC, shuffle partitions = " +
    "cpus, and the injected graft_dot resolves in SQL") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.local(2)
    try {
      assert(s.conf.get("spark.sql.sources.v2.bucketing.enabled") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(s.sql("SELECT graft_dot(array(1.0d), array(2.0d))")
        .head().getDouble(0) == 2.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("injectOptimizerRule fires: upper(upper(x)) collapses in " +
    "optimizedPlan; injected graft_dot is SQL-callable") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.local(2)
    try {
      // parquet source (not a local relation) so ConvertToLocalRelation
      // can't erase the projection before our rule is observable
      val df = s.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .selectExpr("upper(upper(c_name)) AS u")
      val before = df.queryExecution.analyzed.toString
      val after = df.queryExecution.optimizedPlan.toString
      assert("(?i)upper\\(".r.findAllIn(before).size == 2, before)
      assert("(?i)upper\\(".r.findAllIn(after).size == 1,
        s"rule did not fire:\n$after")
      // semantics unchanged
      val v = df.limit(1).collect()(0).getString(0)
      assert(v == v.toUpperCase)
      // the injected scalar functions work without registerSql
      val d = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .head().getDouble(0)
      assert(d == 11.0)
      // graft_bands: planes = identity 2x2, one band of 2 rows —
      // v=(1,-1) signs (+,-) → bit 0 only → band key 1
      val b = s.sql(
        """SELECT graft_bands(array(1.0d, -1.0d),
                              array(array(1.0d, 0.0d), array(0.0d, 1.0d)),
                              2) AS b""")
        .head().getSeq[Int](0)
      assert(b == Seq(1), s"got $b")
      // graft_cdc_chunks: a 4-char string yields exactly itself
      val c = s.sql("SELECT graft_cdc_chunks('abcd') AS c")
        .head().getSeq[String](0)
      assert(c == Seq("abcd"), s"got $c")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("injectPlannerStrategy: the native AsOfJoin plans to AsOfJoinExec " +
    "in an extensions-built session, and its edge semantics hold " +
    "(equal-ts visible, no-match null, carry across left rows)") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.local(2)
    try {
      import s.implicits._
      val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
        .toDF("k", "t", "tag")
      val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (3L, 1L, "r1"))
        .toDF("rk", "rt", "rv")
      val df = graft.plans.AsOfJoinOps.asof(s, left, right,
        "k", "rk", "t", "rt")
      assert(df.queryExecution.executedPlan.toString
        .contains("AsOfJoin"), // nodeName renders without the Exec suffix
        "strategy must plan the custom node")
      val rows = df.orderBy("k", "t")
        .select("k", "t", "tag", "rt", "rv").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          Option(r.getString(4)).getOrElse("-")))
        .toSeq
      assert(rows == Seq(
        (1L, 10L, "a", 10L, "r10"), // equal-ts right row IS visible
        (1L, 20L, "b", 15L, "r15"), // latest at-or-before wins
        (2L, 5L, "c", -1L, "-")), // no right key -> nulls (left outer)
        rows.toString)

      // NULL semantics (r13, DuckDB ASOF parity — the r12 ADVICE trap):
      // a NULL key or time NEVER matches. Pre-fix, the raw Long unbox
      // turned left-null keys into 0L (matching a key-0 right row) and
      // null times into epoch 0. Key 0 and epoch-0 rows included to
      // prove exactly those no longer capture nulls.
      val lN = Seq((Option(0L), Option(10L), "k0"),
        (Option.empty[Long], Option(10L), "nullk"),
        (Option(0L), Option.empty[Long], "nullt"))
        .toDF("k", "t", "tag")
      val rN = Seq((Option(0L), Option(0L), "r_epoch0"),
        (Option(0L), Option(5L), "r5"),
        (Option.empty[Long], Option(1L), "r_nullk"),
        (Option(0L), Option.empty[Long], "r_nullt"))
        .toDF("rk", "rt", "rv")
      val nRows = graft.plans.AsOfJoinOps.asof(s, lN, rN,
        "k", "rk", "t", "rt")
        .select("tag", "rv").collect()
        .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("-"))
        .toMap
      assert(nRows == Map(
        "k0" -> "r5",      // real key-0 row: latest at-or-before, and
                           // NOT the null-key/null-time right rows
        "nullk" -> "-",    // null left key matches nothing (was: key 0)
        "nullt" -> "-"),   // null left time matches nothing (was: epoch 0)
        nRows.toString)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("injectParser: the ASOF JOIN statement parses to the custom node, " +
    "same-name keys on both sides resolve per-side (generic resolution " +
    "would call that ambiguous), and stock SQL still parses untouched") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.local(2)
    try {
      import s.implicits._
      // both sides deliberately name the key "k" and the time "t"
      Seq((1L, 10L, "a"), (1L, 20L, "b"), (7L, 3L, "c"))
        .toDF("k", "t", "tag").createOrReplaceTempView("pl")
      Seq((1L, 15L, 99L), (7L, 9L, 42L))
        .toDF("k", "t", "v").createOrReplaceTempView("pr")
      val df = s.sql("ASOF JOIN pl KEY k TIME t TO pr KEY k TIME t")
      assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      val got = df.selectExpr("pl.k", "pl.t", "tag", "v")
        .orderBy("k", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
      assert(got == Seq(
        (1L, 10L, "a", -1L), // right row at t=15 is in the future
        (1L, 20L, "b", 99L),
        (7L, 3L, "c", -1L)), got.toString)
      // stock grammar is untouched: a plain statement round-trips
      assert(s.sql("SELECT count(*) AS n FROM pl").head().getLong(0) == 3L)
      // parameterized SQL still binds (regression: the interface default
      // parsePlanWithParameters drops the parameter context — q220)
      assert(s.sql("SELECT count(*) AS n FROM pl WHERE k >= :kmin",
        Map("kmin" -> 7)).head().getLong(0) == 1L)
      // and a malformed ASOF statement falls through to Spark's parser,
      // which rejects it as a ParseException (not a match-error here)
      intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        s.sql("ASOF JOIN pl KEY k TIME t")
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
