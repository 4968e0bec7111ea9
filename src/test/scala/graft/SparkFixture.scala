package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One session per suite; local[4] keeps test latency low. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = {
    // Session is shared process-wide (getOrCreate); don't stop between
    // suites — sbt forks one JVM for the whole test run.
    super.afterAll()
  }
}
