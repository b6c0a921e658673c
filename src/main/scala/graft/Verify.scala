package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset (dev loop);
    // the driver always passes exactly (sfDir, outDir) = full suite
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q.split(",").toSet))
    }
    val spark = GraftSession.harness().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev mode: `Verify <sfDir> <outDir> ORACLE_ONLY` dumps the full
    // oracle_sql.json without executing any query (shape-lint loop)
    val oracleOnly = only.exists(_("ORACLE_ONLY"))
    // self-reported run manifest: per-query ok/failed + seconds, so a
    // lost downstream artifact (round 13's empty CORRECTNESS json)
    // never erases the round's hard signal — the Spark half of the
    // gate is recoverable from the dump dir itself
    val manifest = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => !oracleOnly && only.forall(_(name)) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // Locale.ROOT: the f-interpolator uses the default locale,
          // whose comma decimal separator would break the JSON
          manifest(name) = String.format(java.util.Locale.ROOT,
            """"ok", "sec": %.2f""",
            Double.box((System.nanoTime() - t0) / 1e9))
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          manifest(name) = s""""failed", "error": ${q(
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}"""
        }
      }
    val json = oracleJson(SparkEntry.oracleSql
      .filter { case (k, _) => oracleOnly || only.forall(_(k)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (!oracleOnly)
      Files.writeString(Paths.get(s"$outDir/run_manifest.json"),
        manifest.map { case (k, v) => s"""${q(k)}: {"status": $v}""" }
          .mkString("{", ",\n ", "}"))
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle registry as the driver-format JSON object — shared by
    * the dump above and ContractSpec's shape-lint gate (which needs the
    * JSON without starting Spark). */
  def oracleJson(m: Map[String, String]): String =
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
