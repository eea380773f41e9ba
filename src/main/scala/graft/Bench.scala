package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one measurement tool: `graft.Bench [mode]`, modes
  * `time` (the default), `counts`, `plan [<outDir> <suffix>]` and `audit`.
  *
  * Every mode runs the session a user gets, [[Engine.session]] on
  * [[Engine.defaultMaster]] sized from the corpus, over the same query list:
  *  - `SPARK_GRAFT_SF_DIR`: the corpus (default: the sf0.1 test corpus);
  *  - `SPARK_GRAFT_BENCH_ONLY=q1_agg,q3_topn`: a subset of the registry
  *    (default all of it). A name not in the registry exits 2: a typo would
  *    otherwise shrink the measured set and under-report a committed total.
  *
  * `time` — each query materializes through the `noop` sink (full
  * computation of every output column, no driver collect, no disk write;
  * `count()` would let Catalyst prune the projections being measured),
  * `SPARK_GRAFT_BENCH_RUNS` times (default 3) in round-robin passes after
  * one warm-up query that absorbs JVM/codegen/session start. The reported
  * number is the per-query MEDIAN, so a single ambient-host spike lands in
  * the max, not the headline; round-robin (not back-to-back triples) keeps
  * the repeats separated in time. Per-run times are in the JSON record's
  * `runs`, so one query timed N times is
  * `SPARK_GRAFT_BENCH_ONLY=<query> SPARK_GRAFT_BENCH_RUNS=N`.
  *
  * `counts` — deterministic work counters per query: jobs, stages, tasks
  * and records read (input + shuffle) from a SparkListener over one warm
  * execution, plus generated classes compiled (`CodegenMetrics`) and JVM
  * classes loaded. Each counted query runs in a job group of its own and
  * only that group's jobs and their stages are counted, read after the
  * listener bus has drained: a late job of an earlier query is never
  * counted with the next one. This host's wall clock drifts 1.3–2.6× within a session,
  * so structural claims ("one exchange removed") are checked with these
  * load-invariant counts against the before and after classes. The whole
  * list runs once first (the warm-up pass); warming the list rather than
  * each query right before its count keeps generated-class cache thrash
  * between queries visible in `compiles:`. The warm-up pass is counted the
  * same way, one job group per query, and printed as `cold jobs:` and
  * `cold stages:`: a lifecycle entry (`q_dedup_minhash_*`, `q_ann_ivf_*`)
  * builds, syncs or compacts its artifact there, while its warm count
  * covers only the no-op sync and the probe. The artifacts live under
  * `java.io.tmpdir` and outlive the JVM, so the cold counts include the
  * build only on a fresh `-Djava.io.tmpdir`. A closing `[total]` line gives
  * the warm-up pass's compiles, the summed counts and Metaspace in use.
  *
  * `plan` — `explain("formatted")` per query: to stdout, or with
  * `<outDir> <suffix>` to `<outDir>/<query>_<suffix>.txt` (the evidence
  * artifacts committed under `plans/`). The text is run-stable
  * ([[stablePlan]]), so two builds' plans compare with a plain `diff`.
  *
  * `audit` — one line per query: join strategies, exchanges,
  * whole-stage-codegen spans and scans with pushed filters, so a dimension
  * join falling back to sort-merge is visible without reading full plans.
  */
object Bench {
  private val modes = Set("time", "counts", "plan", "audit")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    if (!modes(mode) || (mode == "plan" && args.length != 1 && args.length != 3)) {
      System.err.println(
        "usage: graft.Bench [time|counts|plan [<outDir> <suffix>]|audit]")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = only.toSeq.flatMap(_.diff(SparkEntry.queries.keySet)).sorted
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] SPARK_GRAFT_BENCH_ONLY names not in the registry: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val master = Engine.defaultMaster
    val spark = Engine.session(master, Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    try mode match {
      case "time" => time(spark, master, sfDir, names, subset = only.nonEmpty, query)
      case "counts" => counts(spark, names, query)
      case "plan" => plan(names, args.lift(1), args.lift(2), query)
      case "audit" => audit(names, query)
    } finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(spark: SparkSession, master: String, sfDir: String,
      names: Seq[String], subset: Boolean, query: String => DataFrame): Unit = {
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt

    // Cumulative stop-the-world GC time across all collectors; the per-run
    // delta goes into the JSON record so a slow pass self-adjudicates
    // ("was that the plan or the heap?") instead of needing a rerun at a
    // different -Xmx to decompose (the round-10 q_rollup dispute).
    def gcMillis(): Long =
      ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

    // Returns (wall seconds, GC millis spent during the run); -1 wall on failure.
    def runNoop(name: String): (Double, Long) = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      try noop(query(name))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return (-1.0, gcMillis() - g0)
      }
      ((System.nanoTime() - t0) / 1e9, gcMillis() - g0)
    }

    // Warmup: session + codegen + parquet footer caches.
    runNoop("q1_agg")

    val samples = scala.collection.mutable.Map(
      names.map(_ -> Vector.empty[Double]): _*)
    val gcSamples = scala.collection.mutable.Map(
      names.map(_ -> Vector.empty[Long]): _*)
    for (r <- 1 to runs) {
      for (n <- names) {
        val (sec, gcMs) = runNoop(n)
        samples(n) :+= sec
        gcSamples(n) :+= gcMs
      }
      // Between passes (never inside a timed query): give ContextCleaner a
      // full-GC cycle to actually unpersist dead broadcast blocks. Measured
      // motivation (round 12, SF100 TPC-DS): 38 min of back-to-back queries
      // at the 16 g ceiling accumulated enough dead broadcast/hash state
      // that a pass-3 1 GiB broadcast build died on GCLocker exhaustion
      // (qds55 run 3 = -1) — the same query runs 22-31 s in isolation.
      if (r < runs) System.gc()
    }

    // median of the successful samples; -1 only if every run failed
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
    }
    val results = names.map(n => n -> median(samples(n)))
    // A query that failed every run has no time to add to the total; it is
    // named in the summary line and the record instead of vanishing.
    val failed = results.collect { case (n, v) if v < 0 => n }
    val total = results.map(_._2).filter(_ >= 0).sum
    def jsonList(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")

    // The driver keeps only the LAST 2000 chars of output (measured: the r8
    // capture's tail is exactly 2000, and sbt appends a ~72-char "[success]"
    // line AFTER our JSON). The r9 record proves a 116-query map no longer
    // fits even at centisecond precision — BENCH_r09.json shows
    // `"parsed": null` with the line's head truncated out of the window. So
    // the LAST printed line is now a bounded summary (total + the TPC-H 21
    // headline medians, ~650 chars — always parseable), an all-query
    // centisecond line prints BEFORE it for log readers, and the full
    // med/min/max/runs record goes to BENCH_FULL.json in the repo for
    // attribution of round-over-round deltas.
    def f3(v: Double): String = f"$v%.3f"
    // JVM provenance: heap ceiling + per-pass GC time make a slow record
    // self-explaining (round 10's 128s-vs-88s driver gap decomposed to the
    // un-pinned 8g heap only after a manual rerun; now the record carries
    // the evidence itself).
    val heapMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
    val cluster = ClusterMode.parse(master)
    val conf = spark.sessionState.conf
    val fullJson = {
      val qs = names.map { n =>
        val xs = samples(n)
        "\"" + n + "\":{\"med\":" + f3(median(xs)) +
          ",\"min\":" + f3(if (xs.forall(_ < 0)) -1.0 else xs.filter(_ >= 0).min) +
          ",\"max\":" + f3(xs.max) +
          ",\"runs\":[" + xs.map(f3).mkString(",") + "]" +
          ",\"gc_ms\":[" + gcSamples(n).map(_.toString).mkString(",") + "]}"
      }.mkString("{", ",", "}")
      s"""{"metric":"total_median","value":${f3(total)},"unit":"sec","n_queries":${results.size},"failed":${jsonList(failed)},"runs_per_query":$runs,"master":"$master","heap_mb":$heapMb,"executor_mem_mb":${cluster.map(_.memMb).getOrElse(0)},"shuffle_partitions":${conf.numShufflePartitions},"broadcast_mb":${conf.autoBroadcastJoinThreshold / (1024L * 1024L)},"queries":$qs,"sf":"$sfDir"}"""
    }
    // full record next to the checkout (cwd), not a hardcoded absolute
    // path — a silently-swallowed write failure elsewhere would lose the
    // per-query attribution record. BENCH_FULL.json is reserved for the
    // canonical shape (full registry at the default corpus): a subset run
    // (SPARK_GRAFT_BENCH_ONLY) or a non-default sfDir writes a suffixed
    // file instead, so an SF1 or 43-query invocation can never clobber the
    // committed full-registry sf0.1 record (this clobber happened twice in
    // round 10 — once mis-scaled, once by the driver's own run).
    val defaultSf = "/root/testdata/sf0.1"
    // The COMMITTED record (BENCH_FULL.json) is only written when the
    // operator explicitly asks for a record refresh (GRAFT_RECORD=1): the
    // driver's per-round run lands in BENCH_DRIVER.json (gitignored), so a
    // driver round can never clobber the record or dirty the tree — its
    // numbers are graded from the stdout JSON line, and the last driver
    // run stays inspectable on disk for attribution.
    // EVERY non-record invocation lands on a gitignored name (BENCH_DRIVER
    // or BENCH_SCRATCH_*) — previously a full-registry run at a non-default
    // sfDir wrote an ungated, unignored BENCH_<sf>.json (ADVICE r13).
    val isRecord = sys.env.contains("GRAFT_RECORD")
    val clusterTag = if (cluster.isDefined) "CLUSTER_" else ""
    val sfLast = sfDir.split('/').last
    val stem =
      if (!subset && sfDir == defaultSf && cluster.isEmpty) "BENCH_FULL"
      else if (!subset) s"BENCH_$clusterTag$sfLast"
      else s"BENCH_${clusterTag}SUBSET_${sfLast}_n${results.size}"
    val fullName =
      if (isRecord) stem + ".json"
      else if (stem == "BENCH_FULL") "BENCH_DRIVER.json"
      else "BENCH_SCRATCH_" + stem.stripPrefix("BENCH_") + ".json"
    for (p <- Seq(
        Paths.get(sys.props("java.io.tmpdir"), "bench_timings.txt"),
        Paths.get(sys.props("user.dir"), fullName)))
      try Files.write(p, (fullJson + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
    // All-query medians in centiseconds, for the log (may exceed the
    // driver's tail window — the parseable line comes LAST).
    val qsCs = results
      .map { case (k, v) => "\"" + k + "\":" + math.round(v * 100).toString }
      .mkString("{", ",", "}")
    println(s"""{"metric":"all_queries","unit":"centisec","med_of":$runs,"queries":$qsCs}""")
    // Final line: bounded summary the driver can always parse from the
    // 2000-char tail — total over the queries that ran, the names of any
    // that failed every run, and the TPC-H 21 headline medians in
    // centiseconds.
    val tpch21 = Seq("q1_agg", "q2_minsupp", "q3_topn", "q4_semi",
      "q5_join_agg", "q6_filter", "q8_share", "q9_profit", "q10_agg_topn",
      "q11_value", "q12_priority", "q13_dist", "q14_promo", "q15_top",
      "q16_suppcnt", "q17_avg", "q18_large", "q19_disjunct", "q20_parts",
      "q21_waiting", "q22_anti")
    val headline = results.filter(r => tpch21.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + math.round(v * 100).toString }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${results.size},"failed":${jsonList(failed)},"qunit":"centisec","med_of":$runs,"heap_mb":$heapMb,"queries":$headline,"full":"$fullName","sf":"$sfLast"}""")
  }

  private def counts(spark: SparkSession, names: Seq[String],
      query: String => DataFrame): Unit = {
    val sc = spark.sparkContext
    val group = new java.util.concurrent.atomic.AtomicReference[String]("")
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val recs = new java.util.concurrent.atomic.AtomicLong(0L)
    sc.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(js.properties).exists(
                _.getProperty("spark.jobGroup.id") == group.get)) {
            jobs.incrementAndGet()
            js.stageIds.foreach(groupStages.add)
          }
        override def onStageCompleted(
            done: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (groupStages.contains(done.stageInfo.stageId)) {
            stages.incrementAndGet()
            tasks.addAndGet(done.stageInfo.numTasks)
            recs.addAndGet(done.stageInfo.taskMetrics.inputMetrics.recordsRead +
              done.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead)
          }
      })
    // runs one query in a job group of its own; (jobs, stages, tasks, records)
    def counted(name: String, pass: String): (Int, Int, Int, Long) = {
      jobs.set(0); stages.set(0); tasks.set(0); recs.set(0L)
      groupStages.clear()
      group.set(s"graft-bench-counts-$pass-$name")
      sc.setJobGroup(group.get, name)
      try noop(query(name)) finally sc.clearJobGroup()
      org.apache.spark.sql.graft.ListenerBusBridge.drain(sc)
      (jobs.get(), stages.get(), tasks.get(), recs.get())
    }
    val compilations = CodegenMetrics.METRIC_COMPILATION_TIME
    val classLoading = ManagementFactory.getClassLoadingMXBean
    val warm0 = compilations.getCount
    val cold = names.map(n => n -> counted(n, "cold")).toMap
    val warmCompiles = compilations.getCount - warm0
    var totalCompiles = 0L
    var totalClasses = 0L
    for (name <- names) {
      val compiles0 = compilations.getCount
      val classes0 = classLoading.getTotalLoadedClassCount
      val (j, st, t, r) = counted(name, "warm")
      val compiles = compilations.getCount - compiles0
      val classes = classLoading.getTotalLoadedClassCount - classes0
      totalCompiles += compiles
      totalClasses += classes
      val (coldJobs, coldStages, _, _) = cold(name)
      println(s"[$name] jobs: $j stages: $st tasks: $t recordsRead: $r " +
        s"compiles: $compiles classes: $classes " +
        s"cold jobs: $coldJobs cold stages: $coldStages")
    }
    val metaspaceMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace")
      .map(_.getUsage.getUsed / (1024 * 1024)).getOrElse(-1L)
    println(s"[total] queries: ${names.length} warmupCompiles: $warmCompiles " +
      s"compiles: $totalCompiles classes: $totalClasses metaspaceUsedMb: $metaspaceMb")
  }

  private def plan(names: Seq[String], outDir: Option[String],
      suffix: Option[String], query: String => DataFrame): Unit = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val txt = stablePlan(query(name).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      (outDir, suffix) match {
        case (Some(d), Some(s)) =>
          Files.write(Paths.get(d, s"${name}_$s.txt"), txt.getBytes("UTF-8"))
          println(s"wrote ${name}_$s.txt (${txt.length} chars)")
        case _ =>
          println(s"== $name ==\n$txt")
      }
    }
  }

  private val ExprId = """#\d+""".r
  private val PlanId = """plan_id=\d+""".r
  private val RddId = """(?<=RDD)\[\d+\]""".r
  private val LambdaVar = """(?<=lambda )([A-Za-z]\w*?)_\d+(?=#)""".r
  private val IdentityHash = """([\w$]+(?:[./][\w$]+)+)@[0-9a-f]{1,8}\b""".r
  private val LambdaClass = """\$\$Lambda(?:\$\d+)?(?:/0x[0-9a-f]+)?""".r
  private val SourceLine = """(?<=\.scala):\d+""".r

  /** `explain` text that reads the same in every run: expression, plan and
    * RDD ids and lambda-variable suffixes (session-global counters) are
    * renumbered by first appearance, so the plan still traces within
    * itself; JVM lambda class suffixes, identity hashes and the source
    * line numbers of RDD call sites (which move with any edit) are
    * dropped. */
  private[graft] def stablePlan(txt: String): String = {
    def renumber(s: String, re: Regex)(name: (Regex.Match, Int) => String) = {
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => Regex.quoteReplacement(
        name(m, seen.getOrElseUpdate(m.matched, seen.size + 1))))
    }
    val dropped = Seq[(Regex, Regex.Match => String)](
        IdentityHash -> (_.group(1)), LambdaClass -> (_ => "$$Lambda"),
        SourceLine -> (_ => ""))
      .foldLeft(txt) { case (s, (re, keep)) =>
        re.replaceAllIn(s, m => Regex.quoteReplacement(keep(m))) }
    val exprs = renumber(dropped, ExprId)((_, n) => s"#$n")
    val plans = renumber(exprs, PlanId)((_, n) => s"plan_id=$n")
    val rdds = renumber(plans, RddId)((_, n) => s"[$n]")
    renumber(rdds, LambdaVar)((m, n) => s"${m.group(1)}_$n")
  }

  private def audit(names: Seq[String], query: String => DataFrame): Unit = {
    println(f"${"query"}%-24s bcast smj shj bnl exch codegen pushedScans")
    names.foreach { name =>
      try {
        val plan = query(name).queryExecution.executedPlan.toString
        // Under AQE the string is the initial adaptive plan, so
        // WholeStageCodegen spans appear as 0 — codegen is applied at
        // execution time per stage; use df.explain("codegen") to inspect.
        def c(s: String) = plan.linesIterator.count(_.contains(s))
        val pushed = plan.linesIterator
          .filter(_.contains("PushedFilters: ["))
          .count(!_.contains("PushedFilters: []"))
        println(f"$name%-24s ${c("BroadcastHashJoin")}%5d ${c("SortMergeJoin")}%3d " +
          f"${c("ShuffledHashJoin")}%3d ${c("BroadcastNestedLoopJoin")}%3d " +
          f"${c("Exchange")}%4d ${c("WholeStageCodegen")}%7d $pushed%11d")
      } catch {
        case e: Throwable =>
          println(f"$name%-24s ERROR ${Option(e.getMessage).getOrElse(e.toString).take(80)}")
      }
    }
  }
}
