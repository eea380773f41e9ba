package graft

import java.nio.file.{Files, Paths}

/** Batch SQL executor for the differential-testing harness
  * (tools/fuzz.py — the Spark half of the reference's random-query
  * discrepancy searcher, `tests/comparison/discrepancy_searcher.py`).
  *
  * Args: `<sfDir> <queryFile> <outDir>`; queryFile holds one query per
  * line as `name\tSQL`. Each result is written to `outDir/<name>` as
  * parquet; failures are recorded in `outDir/errors.txt` as `name\tmessage`
  * (a failure is a legitimate differential outcome, not a crash).
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
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors.append(s"$name\t${Option(e.getMessage).getOrElse(e.toString).replaceAll("\\s+", " ").take(300)}\n")
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.txt"), errors.toString)
    spark.stop()
  }
}
