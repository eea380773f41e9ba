package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, SparkEntry}
import graft.pipeline.{DedupQueries, IvfAnn, MinhashIndex}

/** Drives the graft engine through its public entry points for one
  * benchmark run: set-up (repeated), an untimed verification pass, then
  * the timed closed-loop window; with tracing on, a traced window sits
  * between two untraced ones. Everything the run needs comes from the plan
  * file written by `perfbench/run.py`; everything it measured goes to
  * `<out>/result.json`, which run.py turns into metrics.
  *
  * Usage: `graftbench.Harness <plan.json> <outDir>` */
object Harness {
  def main(args: Array[String]): Unit = {
    val plan = Json.read(Paths.get(args(0)))
    val out = Paths.get(args(1))
    Files.createDirectories(out)
    val result = new Run(plan, out).run()
    Files.writeString(out.resolve("result.json"), Json.write(result))
  }
}

/** One operation as the harness saw it. Times are epoch milliseconds with
  * sub-millisecond precision; `built` closes construction (build span),
  * the rest up to `end` is planning plus execution. */
case class Op(id: String, name: String, layer: String, window: String,
              start: Double, built: Double, end: Double, ok: Boolean,
              error: String, step: Int = -1) {
  def json: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "layer" -> layer, "window" -> window,
    "start" -> start, "built" -> built, "end" -> end, "ok" -> ok,
    "error" -> error, "step" -> step)
}

class Run(plan: JsonNode, out: Path) {
  private val workload = plan.get("workload").asText
  private val kind = plan.get("kind").asText
  private val corpus = plan.get("corpus").asText
  private val runDir = Paths.get(plan.get("run_dir").asText)
  private val master = plan.get("master").asText
  private val cores = plan.get("cores").asInt
  private val seconds = plan.get("seconds").asDouble
  private val tracing = plan.get("trace").asBoolean
  private val opTimeoutMs = plan.get("op_timeout_s").asDouble * 1000

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def now: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private var spark: SparkSession = _
  private val opSeq = new AtomicLong(0)
  private val running = new ConcurrentHashMap[String, Double]()
  private val timedOut = ConcurrentHashMap.newKeySet[String]()
  private var tracer: Tracer = _

  // ---- set-up ------------------------------------------------------------

  private def newSession(): SparkSession = {
    val s = Engine.builder(master)
      .config("spark.sql.shuffle.partitions",
        Engine.sizedShufflePartitions(corpus, cores).toLong)
      .config("spark.sql.autoBroadcastJoinThreshold",
        Engine.sizedBroadcastThreshold(Runtime.getRuntime.maxMemory))
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s, overrideBuiltins = true)
    s
  }

  private def timed(f: => Unit): Double = { val t = now; f; now - t }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Ingest state of the current set-up: table dirs, SQL table name. */
  private var ingestDir: Path = _
  private var ingestTable: String = _

  private def setupOnce(rep: Int): Map[String, Any] = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    // Every set-up gets its own tmpdir, so artifacts keyed under
    // java.io.tmpdir are rebuilt and counted here, never inherited.
    val tmp = runDir.resolve(s"tmp/rep$rep")
    Files.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)
    val sessionMs = timed { spark = newSession() }
    val corpusMs = timed {
      Engine.openCatalog(spark, corpus)
      if (kind == "ingest") ingestCorpus(rep)
    }
    val artifactMs = timed { if (kind == "ingest") ingestArtifacts() }
    val warmupMs = timed {
      if (kind == "ingest") noop(aggProbe())
      else noop(SparkEntry.queries(plan.get("warmup").asText)(spark, corpus))
    }
    Map("session_ms" -> sessionMs, "corpus_ms" -> corpusMs,
      "artifact_ms" -> artifactMs, "warmup_ms" -> warmupMs,
      "total_ms" -> (sessionMs + corpusMs + artifactMs + warmupMs))
  }

  // ---- ingest --------------------------------------------------------------

  private val lineitemCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  private def ingestCorpus(rep: Int): Unit = {
    ingestDir = runDir.resolve(s"ingest/rep$rep")
    for (t <- Seq("documents", "embeddings")) {
      val dst = ingestDir.resolve(s"$t.parquet")
      Files.createDirectories(dst)
      Files.copy(Paths.get(corpus, s"$t.parquet"), dst.resolve("part-base.parquet"))
    }
    ingestTable = s"ingest_lineitem_r$rep"
    Engine.sql(spark, corpus,
      s"CREATE TABLE $ingestTable USING parquet PARTITIONED BY (l_shipyear) AS " +
        s"SELECT ${lineitemCols.mkString(", ")}, year(l_shipdate) AS l_shipyear " +
        s"FROM lineitem WHERE l_orderkey % 4 = 0").collect()
  }

  private val ing = Option(plan.get("ingest"))
  private def nlist = ing.get.get("nlist").asInt
  private def ivfK = ing.get.get("k").asInt
  private def nprobe = ing.get.get("nprobe").asInt

  private def ingestArtifacts(): Unit = {
    MinhashIndex.ensureIncremental(spark, ingestDir.toString)
    IvfAnn.ensureIncremental(spark, ingestDir.toString, nlist = nlist)
  }

  private def aggProbe(): DataFrame = Engine.sql(spark, corpus,
    s"SELECT l_shipyear, count(*) AS n, sum(l_quantity) AS qty, " +
      s"min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM $ingestTable " +
      "GROUP BY l_shipyear")

  private def annQueries(): DataFrame =
    graft.operators.t(spark, corpus, "embeddings")
      .filter(col("vec_id") < ing.get.get("queries").asInt)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  private def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getBytesWritten).sum

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Appends `copies` disjoint-key, copy-tagged copies of the base
    * documents and embeddings straight into the ingest table dirs; the
    * next delta-index sync picks the new part files up. */
  private def appendCopies(copies: Seq[Int]): Unit = {
    val docs0 = spark.read.parquet(s"$corpus/documents.parquet")
    val emb0 = spark.read.parquet(s"$corpus/embeddings.parquet")
    val shift = (i: Int) => lit(i.toLong * 1000000000L)
    val docs = copies.map(i => docs0
      .withColumn("doc_id", col("doc_id") + shift(i))
      .withColumn("text", concat(col("text"), lit(s" copytag$i"))))
      .reduce(_ unionByName _)
    val emb = copies.map(i => emb0.withColumn("vec_id", col("vec_id") + shift(i)))
      .reduce(_ unionByName _)
    for ((t, df) <- Seq("documents" -> docs, "embeddings" -> emb))
      df.write.mode("append").parquet(ingestDir.resolve(s"$t.parquet").toString)
  }

  /** Data files of the ingest tables, with their sizes. */
  private def ingestFiles(): Map[Path, Long] =
    Seq("documents", "embeddings").flatMap { t =>
      val s = Files.list(ingestDir.resolve(s"$t.parquet"))
      try s.iterator().asScala.toSeq.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.map(f => f -> Files.size(f))
      finally s.close()
    }.toMap

  // ---- operations ----------------------------------------------------------

  private def runOp(name: String, layer: String, window: String, step: Int = -1)
                   (build: => DataFrame)(exec: DataFrame => Unit): Op = {
    val id = s"op${opSeq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = now
    running.put(id, t0)
    var t1 = t0
    try {
      val df = build
      t1 = now
      if (tracer != null && df != null) tracer.expect(df.queryExecution.analyzed, id)
      if (df != null) exec(df)
      val t2 = now
      val late = timedOut.contains(id)
      Op(id, name, layer, window, t0, t1, t2, !late,
        if (late) "timeout" else null, step)
    } catch {
      case e: Throwable =>
        val msg = if (timedOut.contains(id)) "timeout" else failure(e)
        Op(id, name, layer, window, t0, t1, now, ok = false, msg, step)
    } finally {
      running.remove(id)
      sc.clearJobGroup()
    }
  }

  /** Cancels the jobs of any operation that outlives the timeout; the
    * operation then fails (and counts as failed even if it completes). */
  private def watchdog(): Thread = {
    val t = new Thread(() => {
      try while (true) {
        Thread.sleep(250)
        val n = now
        running.asScala.foreach { case (id, t0) =>
          if (n - t0 > opTimeoutMs && timedOut.add(id))
            spark.sparkContext.cancelJobGroup(id)
        }
      } catch { case _: InterruptedException => () }
    })
    t.setDaemon(true)
    t.start()
    t
  }

  private def queryOp(name: String, window: String): Op =
    runOp(name, "query", window) {
      SparkEntry.queries(name)(spark, corpus)
    }(noop)

  // ---- verification ---------------------------------------------------------

  /** Untimed: every distinct query of the workload, result to parquet for
    * the oracle compare in run.py. Also warms codegen before the window. */
  private def verifyQueries(): Seq[Map[String, Any]] = {
    val names = Json.strings(plan.get("verify"))
    val queue = new ConcurrentLinkedQueue[String](names.asJava)
    val results = new ConcurrentLinkedQueue[Map[String, Any]]()
    val threads = (0 until plan.get("verify_clients").asInt).map { _ =>
      val t = new Thread(() => {
        var name = queue.poll()
        while (name != null) {
          val dest = out.resolve(s"verify/$name").toString
          val op = runOp(name, "verify", "verify") {
            SparkEntry.queries(name)(spark, corpus)
          }(df => df.coalesce(1).write.mode("overwrite").parquet(dest))
          results.add(Map("name" -> name, "ok" -> op.ok, "error" -> op.error,
            "path" -> dest))
          name = queue.poll()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    results.asScala.toSeq
  }

  // ---- windows ----------------------------------------------------------------

  /** Closed loop of whole passes from one client, at least one pass. */
  private def queryWindow(label: String, passOffset: Int): (Seq[Op], Double) = {
    val passes = Json.nodes(plan.get("passes"))
    val ops = Seq.newBuilder[Op]
    val w0 = now
    var p = 0
    do {
      Json.strings(passes((passOffset + p) % passes.size))
        .foreach(n => ops += queryOp(n, label))
      p += 1
    } while (now - w0 < seconds * 1000)
    (ops.result(), now - w0)
  }

  /** Closed loop of ingest steps, at least `min_steps` of them. Only the
    * steps are timed: the checks after each step and after the window run
    * outside it. */
  private def ingestWindow(label: String, stepOffset: Int)
      : (Seq[Op], Double, Seq[Map[String, Any]]) = {
    val steps = Json.nodes(ing.get.get("steps"))
    val maxLive = ing.get.get("max_live").asInt
    val ops = Seq.newBuilder[Op]
    val records = Seq.newBuilder[Map[String, Any]]
    var timedMs = 0.0
    var i = 0
    var last = (Seq.empty[String], ("", Seq.empty[String]))
    val minSteps = ing.get.get("min_steps").asInt
    while (i < minSteps || timedMs < seconds * 1000) {
      val k = stepOffset + i
      val st = steps(k % steps.size)
      val copies = Json.ints(st.get("copies"))
      val years = Json.ints(st.get("years"))
      val (mod, rem) = (st.get("mod").asInt, st.get("rem").asInt)
      def op(name: String, layer: String)(build: => DataFrame)
            (exec: DataFrame => Unit): Op = {
        val o = runOp(name, layer, label, k)(build)(exec)
        ops += o; o
      }
      val files0 = ingestFiles()
      val fs0 = fsBytesWritten()
      val s0 = now
      op("write.append", "write") { appendCopies(copies); null }(_ => ())
      op("write.insert", "write") {
        Engine.sql(spark, corpus,
          s"INSERT OVERWRITE TABLE $ingestTable PARTITION (l_shipyear) " +
            s"SELECT ${lineitemCols.mkString(", ")}, year(l_shipdate) AS l_shipyear " +
            s"FROM lineitem WHERE year(l_shipdate) IN (${years.mkString(", ")}) " +
            s"AND l_orderkey % $mod = $rem")
      }(_ => ())
      var live = Seq.empty[String]
      var ivf = ("", Seq.empty[String])
      op("sync.minhash", "sync") {
        live = MinhashIndex.ensureIncremental(spark, ingestDir.toString); null
      }(_ => ())
      op("sync.ivf", "sync") {
        ivf = IvfAnn.ensureIncremental(spark, ingestDir.toString, nlist = nlist); null
      }(_ => ())
      val compacted = live.size > maxLive
      if (compacted) {
        op("compact.minhash", "compact") {
          live = MinhashIndex.compactIncremental(spark, ingestDir.toString); null
        }(_ => ())
        op("compact.ivf", "compact") {
          ivf = IvfAnn.compactIncremental(spark, ingestDir.toString); null
        }(_ => ())
      }
      op("stats", "stats") {
        Engine.sql(spark, corpus, s"COMPUTE STATS $ingestTable")
      }(_.collect())
      op("probe.dedup", "probe")(MinhashIndex.pairsIndexedMulti(spark, live))(noop)
      op("probe.ann", "probe") {
        IvfAnn.searchIndexedMulti(spark, ivf._1, ivf._2, annQueries(), ivfK, nprobe)
      }(noop)
      op("probe.agg", "probe")(aggProbe())(noop)
      val s1 = now
      val fsBytes = fsBytesWritten() - fs0
      timedMs += s1 - s0
      val appended = ingestFiles() -- files0.keys
      val inserted = years.map(y => partitionFiles(tableDir.resolve(s"l_shipyear=$y")))
      records += Map("step" -> k, "window" -> label, "start" -> s0, "end" -> s1,
        "copies" -> copies, "years" -> years, "mod" -> mod, "rem" -> rem,
        "appended_bytes" -> appended.values.sum, "appended_files" -> appended.size,
        "inserted_bytes" -> inserted.map(_._2).sum,
        "inserted_files" -> inserted.map(_._1).sum, "fs_bytes_written" -> fsBytes,
        "compacted" -> compacted, "live_batches" -> live.size,
        "artifact_bytes" -> artifactBytes(),
        "check" -> checkStep())
      i += 1
      last = (live, ivf)
    }
    (ops.result(), timedMs,
      records.result() :+ Map("window" -> label, "window_check" -> checkWindow(last._1, last._2)))
  }

  /** (data files, bytes) of one table partition directory. */
  private def partitionFiles(p: Path): (Int, Long) = {
    val s = Files.list(p)
    try {
      val fs = s.iterator().asScala.toSeq.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }
      (fs.size, fs.map(Files.size).sum)
    } finally s.close()
  }

  private def tableDir: Path = Paths.get(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), ingestTable)

  private def artifactBytes(): Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("graft_"))
      .map(treeBytes).sum
    finally s.close()
  }

  private def failure(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  /** A step's aggregate probe, collected for run.py to recompute from
    * the corpus. */
  private def checkStep(): Map[String, Any] =
    try {
      val agg = aggProbe().collect().map { r: Row =>
        Seq(r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))
      }.toSeq
      Map("agg" -> agg, "error" -> null)
    } catch {
      case e: Throwable => Map("agg" -> Seq.empty, "error" -> failure(e))
    }

  /** End of a window, against inline recomputation: the indexed near-dup
    * pairs over the live batches equal the one-shot pipeline over every
    * ingested document, and every ANN query finds itself (cosine 1) among
    * its k hits. */
  private def checkWindow(live: Seq[String], ivf: (String, Seq[String]))
      : Map[String, Any] = {
    val dedup = try {
      def rows(df: DataFrame): Seq[String] =
        df.select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
          .map(_.toSeq.mkString("|")).sorted.toSeq
      val indexed = rows(MinhashIndex.pairsIndexedMulti(spark, live))
      val docs = spark.read.parquet(ingestDir.resolve("documents.parquet").toString)
      val inline = rows(DedupQueries.minhashPairs(docs))
      if (indexed == inline) null
      else s"${indexed.size} indexed vs ${inline.size} inline pairs"
    } catch { case e: Throwable => failure(e) }
    val ann = try {
      val hits = IvfAnn.searchIndexedMulti(spark, ivf._1, ivf._2, annQueries(),
        ivfK, nprobe).groupBy("query_id")
        .agg(count(lit(1)).as("n"), max("cosine").as("best")).collect()
      val ok = hits.length == ing.get.get("queries").asInt &&
        hits.forall(r => r.getLong(1) == ivfK && r.getDouble(2) >= 0.99999)
      if (ok) null else s"ann hits: ${hits.toSeq.mkString(" ")}"
    } catch { case e: Throwable => failure(e) }
    Map("dedup_error" -> dedup, "ann_error" -> ann)
  }

  // ---- the run -----------------------------------------------------------------

  /** JVM-wide counters read at window boundaries: GC time, JIT compile
    * time, process CPU time (ms) and classes loaded. */
  private def jvmCounters(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map(
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "cpu_ms" -> os.getProcessCpuTime / 1e6,
      "classes" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def run(): Map[String, Any] = {
    val setups = (0 until plan.get("setup_reps").asInt).map(setupOnce)
    val confs = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.ansi.enabled",
      "spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.adaptive.enabled", "spark.sql.sources.partitionOverwriteMode",
      "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.getOption(k).orNull).toMap
    val dog = watchdog()
    val v0 = now
    val verify = if (kind == "queries") verifyQueries() else Seq.empty
    val verifyMs = now - v0
    // Traced runs put an untraced window on each side of the traced one:
    // the first absorbs the JIT warm-up that still follows set-up, the
    // second is the baseline for the tracing overhead.
    val windows =
      if (tracing) Seq("untraced-1", "traced", "untraced-2") else Seq("timed")
    var ops = Seq.empty[Op]
    var steps = Seq.empty[Map[String, Any]]
    var trace: Option[Map[String, Any]] = None
    val windowRecs = windows.zipWithIndex.map { case (label, w) =>
      if (label == "traced") {
        tracer = new Tracer
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val jvm0 = jvmCounters()
      val (wOps, wallMs) =
        if (kind == "ingest") {
          val (o, t, recs) = ingestWindow(label, w * 1000)
          steps ++= recs
          (o, t)
        } else queryWindow(label, w * 1000)
      val rec = Map("label" -> label, "wall_ms" -> wallMs) ++
        jvmCounters().map { case (k, v) => k -> (v - jvm0(k)) }
      ops ++= wOps
      if (tracer != null) {
        // read after the bus has delivered every event, outside any window
        org.apache.spark.graftbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        trace = Some(Map("jobs" -> Tracer.jobsIn(tracer).map(Tracer.jobJson),
          "stages" -> Tracer.stagesIn(tracer).map(Tracer.stageJson),
          "plans" -> tracer.plans.asScala.map { case (k, v) => k -> Tracer.planJson(v) }))
        tracer = null
      }
      rec
    }
    dog.interrupt()
    val oracle = Json.strings(plan.get("verify"))
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    val result = Map(
      "workload" -> workload, "confs" -> confs, "oracle" -> oracle,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "setups" -> setups, "verify" -> verify, "verify_ms" -> verifyMs,
      "windows" -> windowRecs,
      "ops" -> ops.map(_.json), "steps" -> steps, "trace" -> trace,
      "vmhwm_kb" -> vmHwmKb())
    spark.stop()
    result
  }
}
