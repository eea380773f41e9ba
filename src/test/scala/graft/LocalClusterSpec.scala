package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multi-executor rehearsal (VERDICT r12/r13 #1): the same queries that are
  * oracle-green on `local[*]` must produce identical results on
  * `local-cluster[2,4,1536]`, where every task, broadcast and shuffle block
  * crosses a REAL process boundary — the serialization surface a
  * 1000-executor deployment exercises and a single JVM never does.
  *
  * Runs in its own forked JVM (build.sbt testGrouping): it creates and stops
  * two SparkContexts, which cannot coexist with the lazy shared session the
  * other suites hold.
  *
  * Coverage, mapped to what changes with >1 JVM:
  *  - custom Catalyst expressions (fnv_hash, minhash/simhash kernels,
  *    winnowing) serialized into tasks and codegen'd inside executor JVMs;
  *  - [[graft.plans.TopKPerGroupExec]] (q_ann_brute / q_ann_int8) — a custom
  *    physical operator with driver-built heap logic shipped to executors;
  *  - group_concat's Aggregator UDA — partial buffers serialized
  *    executor→executor in the 2-phase aggregate;
  *  - real broadcast transport (q5_join_agg's dims fetched over netty);
  *  - [[Engine.materialize]]'s reliable arm + [[Engine.releaseMaterialized]]
  *    against a checkpoint dir SHARED by three processes;
  *  - executor-JVM loss mid-stage: task retry + lost-shuffle re-run
  *    (the reference's coordinator handles the same via fragment restart,
  *    be/src/runtime/coordinator.cc:303-360).
  */
class LocalClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries chosen for maximum custom-kernel serialization coverage. */
  private val battery = Seq(
    "q1_agg",              // 2-phase hash agg, decimal sums
    "q5_join_agg",         // 5-way join, broadcast dims
    "q_join_full_outer",   // outer join null-fill across shuffles
    "q_agg_distinct",      // DISTINCT rewrite (Expand) across executors
    "q_group_concat",      // UDA partial-buffer serialization
    "q_fnv_hash",          // custom codegen Expression in executor JVMs
    "q_expr_string",       // the string expression pack
    "q_dedup_exact",       // md5-keyed dedup shuffle
    "q_dedup_minhash_lsh", // minhash kernel + banded bucket join
    "q_dedup_simhash",     // simhash kernel + pigeonhole join
    "q_doc_winnow",        // winnowing rolling-hash Expression
    "q_text_langid",       // text-tier scoring expressions
    "q_ann_brute",         // TopKPerGroupExec + broadcast query set
    "q_ann_int8",          // int8 quantized kernel through the same heap
    "q_text_tfidf",        // materialize (reliable arm) + two-pass reuse
    "q_dedup_cluster",     // iterative connected components + release
    "q_cluster_kmeans_iter", // convergence loop, centroid broadcast per round
    "q_fmt_avro",          // avro container reader in executor JVMs
    "q_fmt_seqfile",       // SequenceFile reader + distributed writer
    "q_fmt_lzo"            // clean-room lzo1x codec class-loads on executors
  )

  private val tmpDirs = scala.collection.mutable.ListBuffer.empty[Path]
  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tmpDirs += p
    p.toString
  }

  /** Canonical row rendering: stable across partition layouts (doubles to 6
    * significant digits — every registry query already rounds/decimalizes
    * anything the DuckDB hash gate compares, this only absorbs ulp-level
    * reduction-order noise). */
  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.6e"
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canon(k) + ":" + canon(x) }.toSeq.sorted
        .mkString("{", ",", "}")
    case x => x.toString
  }

  private def snapshot(df: DataFrame): Seq[String] =
    df.collect().map(r => canon(r)).toSeq.sorted

  // ---- phase 1 (beforeAll): single-JVM reference results ----
  private var localRef: Map[String, Seq[String]] = Map.empty
  // ---- phase 2: the cluster under test ----
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val local = Engine.session("local[4]")
    localRef = battery.map { n =>
      n -> snapshot(SparkEntry.queries(n)(local, sfDir))
    }.toMap
    local.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // Engine.builder gives each executor its worker's whole grant: 1536 MB.
    spark = Engine.session("local-cluster[2,4,1536]")
    spark.sparkContext.setCheckpointDir(tmp("graft-ckpt-cluster"))
    // Force executor registration + one real job before asserting topology.
    spark.range(1000).repartition(8).count()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    tmpDirs.foreach { p =>
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
    }
    super.afterAll()
  }

  test("topology: two executor JVMs registered, distinct from the driver") {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var hosts = spark.sparkContext.getExecutorMemoryStatus
    while (hosts.size < 3 && System.nanoTime() < deadline) {
      Thread.sleep(500)
      hosts = spark.sparkContext.getExecutorMemoryStatus
    }
    // driver block manager + 2 executors
    assert(hosts.size == 3, s"expected driver+2 executors, got: ${hosts.keys}")
  }

  for (name <- battery)
    test(s"$name: cluster result identical to single-JVM result") {
      val got = snapshot(SparkEntry.queries(name)(spark, sfDir))
      assert(got.size == localRef(name).size,
        s"row count differs: cluster ${got.size} vs local ${localRef(name).size}")
      assert(got == localRef(name))
    }

  test("q5_join_agg broadcasts its dims over the real transport") {
    val df = SparkEntry.queries("q5_join_agg")(spark, sfDir)
    df.collect() // settle AQE's final plan
    // AQE wraps every materialized exchange (and, in Spark 4, the result
    // itself) in leaf QueryStageExec nodes whose subtree hangs off `.plan`,
    // invisible to a plain collect — expand them recursively.
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          flatten(q.plan)
        case _ => Seq.empty
      }
      p +: (p.children.flatMap(flatten) ++ nested)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    val broadcasts = nodes.collect { case b: BroadcastQueryStageExec => b }
    assert(broadcasts.nonEmpty,
      s"expected broadcast exchanges in the executed plan:\n" +
        df.queryExecution.executedPlan)
  }

  test("releaseMaterialized keeps a shared checkpoint dir bounded " +
      "across an iterative run") {
    val dir = tmp("graft-ckpt-lifecycle")
    spark.sparkContext.setCheckpointDir(dir)
    val got = snapshot(SparkEntry.queries("q_dedup_cluster")(spark, sfDir))
    assert(got == localRef("q_dedup_cluster"))
    // connectedComponents cuts 2 frames per round (stepped, jumped) plus
    // sym; every per-round cut is released as soon as its successor is on
    // stable storage. What legitimately SURVIVES the loop is exactly the
    // cuts the returned plan still reads: the final round's jumped frame
    // and the edge-incident endpoints frame (feeds the isolated-node
    // anti-join) — plus, only on duplicate-heavy corpora, contractExact's
    // member map, which the label expansion reads (this ORGANIC corpus
    // takes the adaptive skip branch, which plans no member map) — ≤ 3
    // frames, O(1), never O(rounds).
    def rddDirs(f: File): Seq[File] =
      Option(f.listFiles()).toSeq.flatten.flatMap { c =>
        if (c.isDirectory)
          (if (c.getName.startsWith("rdd-")) Seq(c) else Seq.empty) ++ rddDirs(c)
        else Seq.empty
      }
    val leftover = rddDirs(new File(dir))
    assert(leftover.size <= 3,
      s"stale checkpoints not released: ${leftover.map(_.getName)}")
  }

  test("streaming curation runs its state store across executor JVMs") {
    // The watermarked dropDuplicatesWithinWatermark state lives in
    // EXECUTOR-side state stores checkpointed to a shared dir — a surface
    // local[*] exercises only in-process. Same scenario as
    // StreamingCurationSpec's first test, here spanning two executor JVMs.
    val s = spark // stable identifier (the session field is a var)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import StreamingCurationSpec.Doc
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    val dir = tmp("cluster-stream")
    val query = streaming.DocumentsStreaming.curationStream(input.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/cp")
      .format("memory").queryName("cluster_cur").start()
    val loop = Seq.fill(40)("buy now").mkString(" ")
    input.addData(
      Doc(1, "alpha beta gamma delta epsilon zeta", ts("2024-01-01 10:00:00")),
      Doc(2, loop, ts("2024-01-01 10:00:10")),
      Doc(3, "Alpha  beta GAMMA delta epsilon zeta", ts("2024-01-01 10:00:20")))
    query.processAllAvailable()
    input.addData(
      Doc(4, "alpha beta gamma delta epsilon zeta", ts("2024-01-01 10:05:00")),
      Doc(5, "totally different words entirely here", ts("2024-01-01 10:05:10")))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("cluster_cur").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 5L),
      s"cross-executor state store dedup diverged: $out")
  }

  test("streaming state survives an executor JVM loss between microbatches") {
    // The dedup state lived in the killed executor's memory; the next
    // microbatch must reload it from the checkpoint dir on a surviving /
    // relaunched executor and still recognize a pre-kill document's
    // content duplicate. This is the streaming half of the executor-loss
    // story (the batch half is the halt-mid-stage test below).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import StreamingCurationSpec.Doc
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    val dir = tmp("cluster-stream-kill")
    val query = streaming.DocumentsStreaming.curationStream(input.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/cp")
      .format("memory").queryName("cluster_cur_kill").start()
    input.addData(
      Doc(1, "alpha beta gamma delta epsilon zeta", ts("2024-01-01 10:00:00")),
      Doc(2, "one two three four five six seven", ts("2024-01-01 10:00:10")))
    query.processAllAvailable()
    // Halt one executor via a plain side job (marker race picks exactly one).
    val markerPath = new File(dir, "stream-killed").getAbsolutePath
    spark.sparkContext.parallelize(1 to 8, 8).foreach { _ =>
      if (new File(markerPath).createNewFile()) Runtime.getRuntime.halt(42)
    }
    assert(new File(markerPath).exists(), "kill job never fired")
    input.addData(
      Doc(3, "ALPHA  beta GAMMA delta epsilon zeta", // dup of pre-kill doc 1
          ts("2024-01-01 10:02:00")),
      Doc(4, "completely fresh new words arrive here", ts("2024-01-01 10:02:10")))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("cluster_cur_kill").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 4L),
      s"state lost or rows dropped across executor death: $out")
  }

  test("a query survives an executor JVM killed mid-stage") {
    val markerPath = new File(tmp("graft-kill"), "executor-killed").getAbsolutePath
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val expected = base.count()
    // Post-shuffle stage: the first task to win the marker race halts its
    // executor JVM (kill -9 semantics — no shutdown hooks, shuffle files
    // gone). Spark must retry the task AND re-run the lost map outputs;
    // the standalone master relaunches the executor on the idle worker slot.
    val n = base.repartition(16).rdd.mapPartitions { it =>
      val m = new File(markerPath)
      if (m.createNewFile()) Runtime.getRuntime.halt(42)
      it
    }.count()
    assert(new File(markerPath).exists(), "kill task never ran")
    assert(n == expected,
      s"row count after executor loss: $n vs $expected")
    // The session must still be healthy for subsequent work.
    assert(spark.range(100).count() == 100)
  }
}
