package graft.testing

import graft.Engine
import graft.testing.GoldenTestRunner.{Fail, Pass}

/** Porting aid for reference `.test` fixtures: run one candidate file and
  * print a per-case PASS/FAIL table, so a fixture can be adapted
  * incrementally before it joins `src/test/resources/golden/` (where
  * GoldenSpec enforces it).
  *
  * `java -cp ... graft.testing.GoldenTriage <file.test> [sfDir] [caseIdx]`
  */
object GoldenTriage {
  def main(rawArgs: Array[String]): Unit = {
    val dump = rawArgs.contains("--dump")
    val args = rawArgs.filterNot(_ == "--dump")
    if (args.isEmpty) {
      System.err.println(
        "usage: graft.testing.GoldenTriage [--dump] <file.test> [sfDir] [caseIdx]")
      sys.exit(2)
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val only = if (args.length > 2) Some(args(2).toInt) else None
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.openCatalog(spark, sfDir)
    FunctionalDataset.ensureFunctionalDb(spark)
    TpchDb.ensure(spark, sfDir)
    val cases = GoldenTestRunner.parseFile(args(0))
    var failures = 0
    cases.zipWithIndex.foreach { case (c, i) =>
      if (only.forall(_ == i)) {
        if (dump) {
          // Print TYPES + rendered RESULTS as our engine produces them, in
          // fixture syntax — for pinning engine-specific values (estimates).
          val df = GoldenTestRunner.splitStatements(c.query).map(spark.sql).last
          println(s"==== case $i ----")
          println(df.schema.fields.map(f =>
            graft.plans.StatsCommands.typeName(f.dataType)).mkString(", "))
          df.collect().foreach(r =>
            println(GoldenTestRunner.renderRow(r, df.schema)))
        } else GoldenTestRunner.run(spark, c) match {
          case Pass => println(f"[$i%3d] PASS  ${firstLine(c.query)}")
          case Fail(reason) =>
            failures += 1
            println(f"[$i%3d] FAIL  ${firstLine(c.query)}")
            println(s"      ${reason.linesIterator.take(6).mkString("\n      ")}")
        }
      }
    }
    println(s"${cases.length} cases, $failures failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  private def firstLine(q: String): String =
    q.linesIterator.find(l => !l.trim.startsWith("#")).getOrElse("").take(70)
}
