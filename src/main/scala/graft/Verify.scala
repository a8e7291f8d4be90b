package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query runs
  * through [[Measure.run]], the run core Bench times, with the parquet
  * write as its action. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: restrict the dump to the named queries
    // (local iteration aid; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    if (selected.nonEmpty) {
      Session.warm(spark, sfDir)
      graft.queries.QueryHelpers.warmStandingStores(spark, sfDir)
    }
    val runs = selected.toSeq.map { case (name, fn) =>
      val m = Measure.run(spark, fn, sfDir,
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      m.failure.foreach(e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      name -> m
    }
    val failed = runs.collect { case (name, m) if m.failed => name }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    System.err.println(s"verify: ${failed.size} of ${selected.size} queries " +
      s"failed: ${failed.sorted.mkString("[", ", ", "]")}")
    System.err.println(f"verify: ${runs.map(_._2.seconds).sum}%.3f s and " +
      s"${runs.map(_._2.jobs).sum} jobs over ${runs.size} queries")
  }
}
