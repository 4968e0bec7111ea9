package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Checks the benchmark's accounting against jobs of known shape.
  *
  * Run by `perfbench/test_perfbench.py`; exits non-zero on the first
  * mismatch. Adaptive execution is off so the plan shapes are fixed.
  */
object SelfCheck {
  private def expect(what: String, got: Double, want: Double): Unit = {
    if (got != want) {
      System.err.println(s"[selfcheck] FAIL $what: got $got, want $want")
      sys.exit(1)
    }
    println(s"[selfcheck] ok $what = $got")
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4, Files.createTempDirectory("selfcheck-wh").toString, traced = true)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val acct = new Accounting(spark, enabled = true)
    acct.window(0, 0)

    // 1. range(4 partitions) -> groupBy: one job, a 4-task map stage and a
    //    4-task reduce stage (shuffle partitions = 4), shuffle in between.
    val t0 = Clock.nowMs
    val actionId = acct.span("exec.action", 0) { id =>
      spark.range(0, 100000, 1, 4).groupBy((col("id") % 10).as("k")).count()
        .write.format("noop").mode("overwrite").save()
      id
    }
    val (c1, busyMs) = acct.window(t0, Clock.nowMs)
    expect("groupBy jobs", c1("scheduler.jobs"), 1)
    expect("groupBy stages", c1("scheduler.stages"), 2)
    expect("groupBy skipped stages", c1.getOrElse("scheduler.skipped_stages", 0.0), 0)
    expect("groupBy tasks", c1("scheduler.tasks"), 8)
    expect("groupBy failed tasks", c1.getOrElse("scheduler.failed_tasks", 0.0), 0)
    expect("groupBy action jobs", c1("exec.action_jobs"), 1)
    expect("groupBy shuffle written > 0", if (c1("shuffle.write_bytes") > 0) 1 else 0, 1)
    expect("groupBy shuffle read > 0", if (c1("shuffle.read_bytes") > 0) 1 else 0, 1)
    expect("groupBy query executions", c1("plans.executions"), 1)
    expect("groupBy task time covered", if (busyMs > 0) 1 else 0, 1)
    val jobSpans = acct.allSpans.filter(_.name == "spark.job")
    expect("job spans", jobSpans.size, 1)
    expect("job span parent is the action span",
      jobSpans.head.parent.toDouble, actionId.toDouble)

    // 2. A reused shuffle: the second job over the same RDD skips its map
    //    stage (2 stages, 1 skipped, 3 reduce tasks run).
    val pairs = spark.sparkContext.parallelize(1 to 1000, 4).map(x => (x % 7, 1))
      .reduceByKey(_ + _, 3)
    pairs.count()
    acct.window(0, 0)
    pairs.count()
    val (c2, _) = acct.window(0, 0)
    expect("reused shuffle jobs", c2("scheduler.jobs"), 1)
    expect("reused shuffle stages", c2("scheduler.stages"), 2)
    expect("reused shuffle skipped stages", c2("scheduler.skipped_stages"), 1)
    expect("reused shuffle tasks", c2("scheduler.tasks"), 3)

    // 3. One writeStream micro-batch over a file source: one progress event.
    val src = Files.createTempDirectory("selfcheck-src").toString
    spark.range(0, 100).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    acct.window(0, 0)
    spark.readStream.schema(schema).parquet(src).writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("selfcheck-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val (c3, _) = acct.window(0, 0)
    expect("stream batches", c3("stream.batches"), 1)
    expect("stream batch time > 0", if (c3("stream.batch_s") > 0) 1 else 0, 1)

    acct.close()
    spark.stop()
    println("[selfcheck] all checks passed")
  }
}
