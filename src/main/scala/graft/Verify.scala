package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`).
  *
  * `Verify <sfDir> <outDir> [names…]`: with query names, dumps just those
  * (same layout; oracle_sql.json keeps ALL oracles, which
  * `tools/check.py <outDir> <sfDir> <names>` filters by name). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val queries = SparkEntry.queries
    val names = if (args.length > 2) args.toSeq.drop(2) else queries.keys.toSeq
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Failures are first-class: r10's fixture regression silently dropped 22
    // rows from the correctness artifact (stderr-only), which read as
    // "coverage shrank" rather than "queries are broken". Every throwing
    // query lands in _failed.json (empty object on a clean run) so breakage
    // can never again masquerade as a coverage choice.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    writeFailedJson(outDir, failed)
    writeOracleJson(outDir)
    spark.stop()
  }

  /** Per-failure record (name → exception message); `{}` on a clean run. */
  private[graft] def writeFailedJson(
      outDir: String, failed: collection.Map[String, String]): Unit = {
    val json = failed
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), json)
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20). */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump SparkEntry.oracleSql as JSON.
    * JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def writeOracleJson(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
