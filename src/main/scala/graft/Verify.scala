package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The gate runs the
  * engine's own session profile, so it checks the semantics users get. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER=local-cluster[w,c,mem] runs the WHOLE oracle gate
    // across real executor JVMs (see ClusterMode) — the multi-executor
    // rehearsal's correctness half.
    val spark = Engine.session(Engine.defaultMaster, Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // Manifest FIRST (replacing any stale one from a previous run in this
    // out_dir): if this JVM dies mid-loop, the checker still knows the full
    // expected set and flags every query with no output dir — a manifest
    // written after the loop covers only runs that completed.
    Files.deleteIfExists(Paths.get(s"$outDir/queries.txt"))
    Files.writeString(Paths.get(s"$outDir/queries.txt"),
      SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n"))
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
      // Non-ASCII (the UTF-8 gate corpus carries multilingual literals):
      // escape to \uXXXX so the dump is pure ASCII and immune to the
      // consumer's locale default encoding. Java strings hold supplementary
      // chars as surrogate pairs; escaping each half yields the valid JSON
      // surrogate-escape form.
      case c if c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
