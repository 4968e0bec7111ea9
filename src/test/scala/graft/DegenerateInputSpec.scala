package graft

import org.scalatest.funsuite.AnyFunSuite

/** Queries on inputs too small for their loops: each must return what it
  * computed so far rather than throw. */
class DegenerateInputSpec extends AnyFunSuite with SparkFixture {

  test("q124 BPE stops when no adjacent pair is left, keeping earlier merges") {
    import spark.implicits._
    // words "ab" x2 and "cd": round 1 merges (a,b), round 2 (c,d), and
    // round 3 of K=5 finds every word a single symbol
    val dir = "target/degenerate-input/bpe"
    Seq((1L, "ab ab cd")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q124_bpe_train")(spark, dir)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "b", 2L), (2, "c", "d", 1L)))
  }
}
