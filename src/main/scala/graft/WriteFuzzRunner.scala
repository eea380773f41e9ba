package graft

import java.nio.file.{Files, Paths}

/** Batch WRITE-path executor for the differential harness
  * (tools/fuzz_write.py): each input line is `name\tstmt1 ;; stmt2 ;; …`,
  * a multi-statement script exercising CTAS / INSERT INTO / static and
  * dynamic INSERT OVERWRITE against a managed table named `t_<name>`. The
  * script's LAST statement is a SELECT reading the table back; its result
  * goes to `outDir/<name>` as parquet for the DuckDB round-trip compare.
  *
  * Runs on the ENGINE session ([[Engine.session]]) — the write semantics
  * under test (dynamic partitionOverwriteMode, parquet-by-default managed
  * tables, permissive casts) are the engine's own configuration, the same
  * surface WriteDdlSpec pins with goldens (reference:
  * testdata/workloads/functional-query/queries/QueryTest/insert*.test).
  */
object WriteFuzzRunner {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, scriptFile, outDir) = args
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    Engine.openCatalog(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val errors = new StringBuilder
    Files.readAllLines(Paths.get(scriptFile)).forEach { line =>
      val Array(name, script) = line.split("\t", 2)
      val stmts = script.split(";;").map(_.trim).filter(_.nonEmpty)
      try {
        stmts.init.foreach(spark.sql(_).collect())
        spark.sql(stmts.last).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        errors.append(s"$name\t${Option(e.getMessage).getOrElse(e.toString)
          .replaceAll("\\s+", " ").take(300)}\n")
      } finally
        // keep the warehouse bounded across a 1000-script corpus
        spark.sql(s"DROP TABLE IF EXISTS t_$name")
    }
    Files.writeString(Paths.get(s"$outDir/errors.txt"), errors.toString)
    spark.stop()
  }
}
