package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper

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
    // Non-ASCII escaped (the UTF-8 gate corpus carries multilingual
    // literals): the dump stays pure ASCII, immune to the consumer's
    // locale default encoding.
    JsonMapper.builder().enable(JsonWriteFeature.ESCAPE_NON_ASCII).build()
      .writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
        SparkEntry.oracleSql.asJava)
    spark.stop()
  }
}
