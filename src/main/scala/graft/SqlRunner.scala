package graft

import java.nio.file.{Files, Paths}

/** Batch SQL executor for the differential-testing harnesses: tools/fuzz.py
  * (the Spark half of the reference's random-query discrepancy searcher,
  * `tests/comparison/discrepancy_searcher.py`) and tools/fuzz_write.py
  * (the write path).
  *
  * Args: `<sfDir> <queryFile> <outDir>`; queryFile holds one entry per
  * line as `name\tSQL`. The SQL is one query, or a script `stmt1 ;; stmt2
  * ;; …` whose statements before the last run first (CTAS / INSERT INTO /
  * static and dynamic INSERT OVERWRITE against a managed table named
  * `t_<name>`, dropped after the entry to keep the warehouse bounded).
  * The last statement's result is written to `outDir/<name>` as parquet;
  * failures are recorded in `outDir/errors.txt` as `name\tmessage` (a
  * failure is a legitimate differential outcome, not a crash).
  *
  * Runs on the engine session ([[Engine.session]]): the write semantics
  * under test (dynamic partitionOverwriteMode, parquet-by-default managed
  * tables, permissive casts) are the engine's own configuration, the same
  * surface WriteDdlSpec pins with goldens (reference:
  * testdata/workloads/functional-query/queries/QueryTest/insert*.test).
  */
object SqlRunner {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, queryFile, outDir) = args
    val spark = Engine.session(Engine.defaultMaster, Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    Engine.openCatalog(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val errors = new StringBuilder
    Files.readAllLines(Paths.get(queryFile)).forEach { line =>
      val Array(name, sql) = line.split("\t", 2)
      val stmts = sql.split(";;").map(_.trim).filter(_.nonEmpty)
      try {
        stmts.init.foreach(spark.sql(_).collect())
        spark.sql(stmts.last).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        errors.append(s"$name\t${Option(e.getMessage).getOrElse(e.toString)
          .replaceAll("\\s+", " ").take(300)}\n")
      } finally
        if (stmts.length > 1) spark.sql(s"DROP TABLE IF EXISTS t_$name")
    }
    Files.writeString(Paths.get(s"$outDir/errors.txt"), errors.toString)
    spark.stop()
  }
}
