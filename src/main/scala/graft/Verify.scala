package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Verify <sfDir> <outDir> [queryName...] — names filter the dump to a
    // subset for fast iteration; the driver passes none (all queries)
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // fail fast on typos: a misspelled name would otherwise produce an
    // empty dump with exit code 0 and read as a silently-passing run
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_TZ: session-timezone override for the non-UTC sweep
    // (run the whole dump under e.g. America/Los_Angeles and diff
    // against a UTC run to audit which queries carry session-TZ
    // semantics — see HazardsSpec's TZ-sweep pin). The driver gate
    // always runs the UTC default.
    val tz = sys.env.getOrElse("SPARK_GRAFT_TZ", "UTC")
    val spark = Engine.session(cpus.toInt, tz)
    new java.io.File(outDir).mkdirs()
    // a failed query is logged and skipped so every other dump (and
    // oracle_sql.json) is still written; the run then exits 1
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
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
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] failed query(s): ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
