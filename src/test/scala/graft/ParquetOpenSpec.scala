package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ListenerBusBridge
import graft.pipeline.{DedupQueries, IvfAnn}

/** Pins [[Tables.readParquet]], the engine's one way to open parquet: it
  * runs no Spark job, and the relation it returns has the schema (types,
  * nullability, field metadata, partition columns) and the input files of
  * `spark.read.parquet` over the same paths. */
class ParquetOpenSpec extends SparkSpec {

  /** Jobs `body` submits from this thread, counted by job group (other
    * suites share the SparkContext), read after the listener bus drains. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"parquet-open-${System.nanoTime}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "parquet open")
      try body finally sc.clearJobGroup()
      ListenerBusBridge.drain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  private def assertSameAsSpark(session: SparkSession, paths: String*): DataFrame = {
    val ours = Tables.readParquet(session, paths: _*)
    val spark = session.read.parquet(paths: _*)
    assert(ours.schema == spark.schema, s"schema of ${paths.mkString(", ")}")
    assert(ours.inputFiles.toSeq == spark.inputFiles.toSeq)
    ours
  }

  test("opening the catalog on a fresh session runs no Spark job") {
    val fresh = spark.newSession()
    assert(jobsRunBy(Engine.openCatalog(fresh, sfDir)) == 0)
    // the views were really registered from the parquet
    assert(Tables.all.forall(fresh.catalog.tableExists))
  }

  test("every corpus table opens with Spark's own schema and files") {
    val fresh = spark.newSession()
    Tables.all.foreach(t => assertSameAsSpark(fresh, s"$sfDir/$t.parquet"))
  }

  test("events under the nanos conf opens with Spark's own schema") {
    val nanos = spark.newSession()
    nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assertSameAsSpark(nanos, s"$sfDir/events.parquet")
  }

  test("a multi-part directory and a list of part files open like Spark's") {
    val dir = tmp("parquet-open-multi") + "/t.parquet"
    Tables.table(spark, sfDir, "orders").repartition(3).write.parquet(dir)
    assertSameAsSpark(spark, dir)
    val parts = new java.io.File(dir).listFiles.map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(parts.size == 3)
    assertSameAsSpark(spark, parts.reverse: _*)
  }

  test("a Spark-written signatures artifact keeps its schema metadata") {
    val dir = tmp("parquet-open-sig") + "/signatures.parquet"
    DedupQueries.signatures(Tables.table(spark, sfDir, "documents")).write.parquet(dir)
    assertSameAsSpark(spark, dir)
  }

  test("a cell_id-partitioned IVF index appends the partition column last") {
    val dir = tmp("parquet-open-ivf")
    IvfAnn.buildIndex(Tables.table(spark, sfDir, "embeddings"), nlist = 4, dir)
    val index = assertSameAsSpark(spark, s"$dir/index.parquet")
    assert(index.schema.last.name == "cell_id")
    assert(index.select("cell_id").distinct().count() > 1)
    assertSameAsSpark(spark, s"$dir/centroids.parquet")
  }

  test("a missing path, a directory with no data file and a corrupt footer raise Spark's errors") {
    val empty = tmp("parquet-open-empty")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    val corrupt = tmp("parquet-open-corrupt")
    java.nio.file.Files.write(java.nio.file.Paths.get(corrupt, "part-0.parquet"),
      "not parquet".getBytes("UTF-8"))
    for (path <- Seq(s"$empty/missing.parquet", empty, corrupt)) {
      def failure(read: => DataFrame) = intercept[Exception](read)
      val ours = failure(Tables.readParquet(spark, path))
      val theirs = failure(spark.read.parquet(path))
      assert(ours.getClass == theirs.getClass, path)
      assert(ours.asInstanceOf[SparkThrowable].getCondition ==
        theirs.asInstanceOf[SparkThrowable].getCondition, path)
    }
  }

  test("with mergeSchema on, the merged schema is Spark's") {
    val root = tmp("parquet-open-merge")
    spark.range(3).select(col("id"), col("id").as("a")).write.parquet(s"$root/x=1")
    spark.range(3).select(col("id"), col("id").cast("string").as("b"))
      .write.parquet(s"$root/x=2")
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val merged = assertSameAsSpark(merging, root)
    assert(merged.columns.toSeq == Seq("id", "a", "b", "x"))
  }

  test("read.parquet( appears under src/main/scala only inside Tables.readParquet") {
    // One way to open parquet: a stray spark.read.parquet pays the schema
    // inference job again. `\bread\b` skips readParquet and readStream.
    val opens = """\bread\b.*\.parquet\(|format\("parquet"\).*\.load\(""".r
    val root = new java.io.File("src/main/scala")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "Tables.scala"), s"no sources under $root")
    val hits = for {
      f <- files
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      code = line.replaceAll("//.*", "") // scaladoc lines start with * or /*
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*") &&
        opens.findFirstIn(code).isDefined
    } yield (f, i, code)
    val tables = files.find(_.getName == "Tables.scala").get
    val lines = scala.io.Source.fromFile(tables, "UTF-8").getLines().toIndexedSeq
    val start = lines.indexWhere(_.contains("def readParquet("))
    val end = lines.indexWhere(_.contains("def "), start + 1)
    val offenders = hits.filterNot { case (f, i, _) => f == tables && i > start && i < end }
    assert(offenders.isEmpty,
      "parquet opened outside Tables.readParquet: " +
        offenders.map { case (f, i, c) => s"$f:${i + 1}: ${c.trim}" }.mkString("; "))
    // the pattern still sees the helper's own open, so it is not dead
    assert(start >= 0 && hits.size == 1, s"the helper's one open: $hits")
  }
}
