package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference engine (rampage644/impala-cut) builds its own distributed
  * runtime — coordinator, fragments, exchanges, LLVM codegen
  * (`be/src/runtime/coordinator.cc`, `be/src/codegen/llvm-codegen.cc`).
  * On Spark that whole layer is the platform: our "engine" is a configured
  * `SparkSession` plus a function pack (see [[graft.functions.GraftFunctions]])
  * registered both through [[GraftExtensions]] (for sessions we create) and
  * idempotently at query-build time (for sessions the test driver creates).
  *
  * Scale notes (the configs below are chosen for a real cluster, merely
  * exercised at local[32]):
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
  *    the Spark equivalent of the reference planner's cost-based
  *    broadcast-vs-partitioned decision (`fe/.../planner/Planner.java:431-489`)
  *    but decided with *runtime* statistics.
  *  - shuffle.partitions is a default only; AQE coalesces it down per stage.
  *  - parquet vectorized reader + pushdown stay on (defaults) — the analogue
  *    of the reference's scanner codegen (`be/src/exec/hdfs-parquet-scanner.cc`).
  *  - the generated-class cache holds 4096 classes, enough for the whole
  *    registry, so repeated queries reuse compiled (and JIT-compiled)
  *    code instead of recompiling per query as the reference's LLVM
  *    codegen does (`be/src/codegen/llvm-codegen.cc`). The conf is static
  *    and JVM-global: the first codegen in a JVM fixes the size.
  *
  * [[builder]] is the only place a session is configured: every main, the
  * oracle gate and the bench run this profile, so what they check is what
  * users run.
  */
object Engine {

  /** JVM-unique warehouse for managed tables (CTAS/DDL tests): keeps runs
    * isolated — a killed JVM can't poison the next one's table locations. */
  private lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  /** The master a main runs on: `SPARK_GRAFT_MASTER` (e.g.
    * `local-cluster[2,4,4096]`, see [[ClusterMode]]), else
    * `local[$SPARK_GRAFT_CPUS]`, else one thread per host core. */
  def defaultMaster: String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER",
      "local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString) + "]")

  /** Task slots of a master: workers × cores for `local-cluster`, N for
    * `local[N]`, the host's cores for `local[*]`. */
  private def masterCores(master: String): Int = {
    val LocalN = """local\[\s*(\d+)\s*(?:,\s*\d+\s*)?\]""".r
    ClusterMode.parse(master).map(_.totalCores).getOrElse(master match {
      case LocalN(n) => n.toInt
      case "local" => 1
      case _ => Runtime.getRuntime.availableProcessors
    })
  }

  /** The confs a builder given a corpus adds: shuffle partitions sized from
    * the corpus and the master's task slots, and the broadcast threshold
    * sized from the heap that builds the hashed relation — the executor
    * grant on `local-cluster`, this JVM's heap otherwise. */
  def sizedConfs(master: String, corpus: String): Seq[(String, Long)] = Seq(
    "spark.sql.shuffle.partitions" ->
      sizedShufflePartitions(corpus, masterCores(master)).toLong,
    "spark.sql.autoBroadcastJoinThreshold" -> sizedBroadcastThreshold(
      ClusterMode.parse(master).map(_.memBytes)
        .getOrElse(Runtime.getRuntime.maxMemory)))

  /** The engine's session profile. With a `corpus` the shuffle partitions
    * and broadcast threshold are sized from it ([[sizedConfs]]); without
    * one they stay at the fixed defaults below. A `local-cluster` master
    * also gets the executor wiring [[ClusterMode]] describes. */
  def builder(master: String = defaultMaster,
      corpus: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Impala's expression semantics are permissive, not ANSI: x/0 → NULL,
      // overflow wraps, bad casts → NULL (be/src/exprs/arithmetic-expr.cc,
      // cast-expr.cc). Spark 4 defaults to ANSI; switch it off for dialect
      // parity in sessions we own.
      .config("spark.sql.ansi.enabled", "false")
      // CBO consumes ANALYZE TABLE stats for join reordering — the Spark
      // analogue of the reference's COMPUTE STATS → greedy cost-based join
      // order (fe/.../planner/Planner.java:972-1135, ComputeStatsStmt.java).
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Impala's INSERT OVERWRITE ... PARTITION(dynamic) replaces only the
      // partitions the statement writes, leaving siblings intact
      // (fe/.../analysis/InsertStmt.java overwrite semantics). Spark's
      // default "static" mode would wipe every matching partition first.
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // A bare CREATE TABLE (no USING/STORED AS) makes a parquet datasource
      // table — this engine's canonical storage — never a Hive-serde table.
      .config("spark.sql.legacy.createHiveTableByDefault", "false")
      .config("spark.ui.enabled", "false")
      // Generated-class cache. Spark's stock 100 entries is far below the
      // engine's working set (the 175-query registry generates 1,603
      // classes at sf0.01), so the stock cache thrashes: a warm registry
      // pass recompiled 2,077 classes with Janino, and the JIT compiled
      // them again. At 4096 (~2.5x the registry set) it compiles 14-16.
      // Static and JVM-global; see the scaladoc above.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    ClusterMode.parse(master).foreach { spec =>
      ClusterMode.ensureSparkHomeShim()
      require(sys.env.contains("SPARK_HOME"),
        s"local-cluster mode needs SPARK_HOME (e.g. ${ClusterMode.sparkHomeShim})" +
          " in the JVM's environment: the in-JVM Worker launches executors from it")
      b.config("spark.executor.memory", s"${spec.memMb}m")
        .config("spark.executor.extraClassPath", ClusterMode.absoluteClassPath)
        .config("spark.executor.extraJavaOptions", ClusterMode.executorJavaOptions)
        // Executor JVMs cold-start slower than local[*] threads; don't let
        // the first heavy stage time out waiting for registration.
        .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
    }
    corpus.foreach(sizedConfs(master, _).foreach { case (k, v) => b.config(k, v) })
    b
  }

  def session(master: String = defaultMaster,
      corpus: Option[String] = None): SparkSession = {
    val spark = builder(master, corpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.register(spark, overrideBuiltins = true)
    spark
  }

  /** Catalog bootstrap: expose every corpus table as a view and register
    * the dialect functions — after this, `spark.sql` speaks the engine's
    * full surface (the reference equivalent: catalog cache + BuiltinsDb). */
  def openCatalog(spark: SparkSession, dir: String): SparkSession = {
    Tables.registerViews(spark, dir)
    spark
  }

  /** The engine facade (SURVEY §3: "our engine surface is a facade
    * `Engine.sql(q): DataFrame`"). */
  def sql(spark: SparkSession, dir: String, query: String)
      : org.apache.spark.sql.DataFrame = {
    openCatalog(spark, dir)
    spark.sql(query)
  }

  /** Shuffle parallelism sized from the corpus, the way a real deployment
    * sizes it from cluster cores × data volume: ~8 MB of on-disk parquet
    * per reduce partition (≈ 30–60 MB in-memory per task), floored at the
    * thread count and capped at 1024. Measured motivation (round 11,
    * BASELINE.md): at SF10 the fixed 32-partition default puts ~2 GB of
    * high-cardinality agg through 32 reduce tasks — q20_parts 82 s,
    * against 19 s at 256 partitions; at sf0.1 the same 256 costs +30%
    * suite-wide (more map segments and scheduling than work). AQE
    * coalesces oversized counts downward at runtime but can never split
    * an undersized one, so the INITIAL number must come from data scale.
    * sf0.1/SF1 resolve to the thread count (records unchanged); SF10
    * resolves to 256. */
  def sizedShufflePartitions(dir: String, cpus: Int): Int = {
    val bytes =
      try {
        val root = new java.io.File(dir)
        def size(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
          else f.length()
        size(root)
      } catch { case _: Exception => 0L }
    val byData = bytes / (8L * 1024 * 1024)
    math.max(cpus.toLong, math.min(1024L, byData)).toInt
  }

  /** Broadcast-join threshold sized from executor heap, the way a real
    * deployment raises `autoBroadcastJoinThreshold` when executors are
    * large: heap/128, clamped to [10 MB (the Spark default), 256 MB].
    * A 16 g heap resolves to 128 MB.
    *
    * Measured motivation (round 11, BASELINE.md SF30 section): at SF30 the
    * part (55 MB) and customer (49 MB) dimensions crossed the stock 10 MB
    * threshold, so q19/q3/q2/q20 fell from broadcast joins to two-sided
    * sort-merge exchanges of the FACT — q19_disjunct scaled 7.5× for 3×
    * data. A dimension's byte size grows with SF; whether it is "small
    * enough to broadcast" is a property of executor memory, so the flip
    * point must scale with the deployment, not sit at a constant. The
    * in-memory hashed relation runs ~3–6× the on-disk parquet bytes, so
    * heap/128 bounds a worst-case build at roughly heap/20 — safe for
    * concurrent broadcast builds. Beyond the cap the dimension genuinely
    * is fact-sized for the JVM and the shuffle is the right plan (at
    * 100 TB, part itself is TBs: it must never be collected).
    *
    * [[builder]] sets it only when given a corpus ([[sizedConfs]], which
    * passes the executor grant on `local-cluster`); an unsized builder keeps
    * Spark's default so reference-planner parity fixtures
    * (PlannerGoldenSpec) exercise the stock cost model. */
  def sizedBroadcastThreshold(maxHeapBytes: Long): Long = {
    val byHeap = maxHeapBytes / 128
    math.max(10L * 1024 * 1024, math.min(256L * 1024 * 1024, byHeap))
  }

  /** The engine's ONE lineage-cut policy (every pipeline op that
    * materializes an intermediate frame for reuse — tfidf's (doc,term)
    * aggregate, BM25's tf frame, the connected-components frontier, the
    * semantic-dedup assignment — goes through here, never through a raw
    * `localCheckpoint`):
    *
    *  - when the session has a reliable checkpoint directory configured
    *    (`sc.setCheckpointDir`, i.e. HDFS/S3 on a real deployment), use
    *    `checkpoint(eager)` — a lost executor re-reads the materialization
    *    from fault-tolerant storage and the query survives;
    *  - otherwise fall back to `localCheckpoint(eager)` — executor-local
    *    blocks, the right trade on a single JVM (this sandbox, unit tests)
    *    where "executor loss" and "JVM death" are the same event and
    *    nothing could recompute anyway.
    *
    * Both truly TRUNCATE lineage (unlike `persist`, which keeps the full
    * logical plan and re-analyzes it on every reuse — quadratic planning in
    * iterative loops). At 100 TB the deployment sets a checkpoint dir and
    * every call site below is fault-tolerant with no code change.
    *
    * The reliable arm persists the frame BEFORE checkpointing: RDD
    * checkpointing runs a second job to write the files, and without the
    * persist that job recomputes the whole plan — 2× compute per cut,
    * which an iterative pipeline (connectedComponents: up to 64 rounds ×
    * 4 cuts) pays per round. With the persist the first (eager count) job
    * populates the cache and the checkpoint-write job reads blocks; the
    * cache is dropped immediately after, so no storage memory is pinned
    * past the cut. MaterializeSpec pins the compute-once property with an
    * accumulator. */
  /** RDD ids of frames [[materialize]] produced and [[releaseMaterialized]]
    * has not yet freed. Guards release from acting on ANY LogicalRDD-backed
    * frame (an RDD-sourced or caller-persisted frame must never have its
    * blocks unpersisted or checkpoint files deleted from under it just
    * because it shares the plan shape — ADVICE r13). Keyed by
    * (applicationId, rdd.id), not bare id: RDD ids restart from 0 in a new
    * SparkContext in the same JVM, so an unreleased id left by a stopped
    * session could otherwise alias a later session's foreign LogicalRDD
    * and defeat the strict no-op guard (ADVICE r14). Bounded: every entry
    * is removed on release, and non-iterative callers leak at most a few
    * small strings per query, not storage. */
  private val materializedRddIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def materializedKey(
      rdd: org.apache.spark.rdd.RDD[_]): String =
    s"${rdd.context.applicationId}:${rdd.id}"

  def materialize(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cut =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint(eager = true)
        finally df.unpersist(blocking = false)
      } else df.localCheckpoint(eager = true)
    cut.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        materializedRddIds.add(materializedKey(lr.rdd))
      case _ => ()
    }
    cut
  }

  /** Release a frame returned by [[materialize]]: delete its reliable
    * checkpoint files (they are never deleted by Spark unless the RDD is
    * GC'd under `spark.cleaner.referenceTracking.cleanCheckpoints`, which
    * is nondeterministic) or unpersist its local-checkpoint blocks.
    * Iterative loops call this on round N−1's frames as soon as round N is
    * materialized — without it a 64-round connected-components run grows
    * the checkpoint dir by rounds × cuts × frame-size. Strict no-op for
    * frames that did not come from [[materialize]] (tracked by RDD id, not
    * plan shape). The frame must not be read again after release. */
  def releaseMaterialized(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if materializedRddIds.remove(materializedKey(lr.rdd)) =>
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val fs = p.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
          try fs.delete(p, true)
          catch { case _: java.io.IOException => () } // best-effort cleanup
        }
        // localCheckpoint keeps its data as persisted blocks — a non-NONE
        // storage level identifies that arm (isLocallyCheckpointed is
        // private[spark]).
        if (lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
          lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
