package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** Maintenance tool: deterministic work counters for registered queries —
  * jobs, stages, tasks and records read (input + shuffle), via a
  * SparkListener over one warm noop-sink execution per query — plus the
  * fixed per-query compile cost of that execution: generated classes
  * compiled (`CodegenMetrics` compilation count) and JVM classes loaded.
  *
  * `java -cp ... graft.BenchCounts <q1,q2,...> [sfDir]`
  *
  * Purpose (round 21): this host's wall-clock drifts 1.3–2.6× within a
  * session, which makes sequential A/B timing unable to resolve changes
  * smaller than the drift. Job/stage/task/record counts are invariant to
  * ambient load, so structural claims ("one exchange removed", "two rounds
  * per checkpoint cut", "sampling pass gone") are verified with these
  * counters instead: run the same list against the before and after
  * classes and diff. The whole list is executed once uncounted first
  * (standing indexes, codegen), then each query once counted — warming
  * the list rather than each query right before its count keeps
  * generated-class cache thrash between queries visible in `compiles:`.
  * A closing `[total]` line gives the warm-up pass's compiles (the list's
  * generated-class working set, when the cache holds it), sums the counted
  * compiles and classes, and reports Metaspace in use at the end.
  */
object BenchCounts {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.BenchCounts <q1,q2,...> [sfDir]")
      sys.exit(2)
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Engine.session("local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val recs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(sc.stageInfo.numTasks)
          recs.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead +
            sc.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead)
        }
      })
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    for (name <- names if !SparkEntry.queries.contains(name)) {
      System.err.println(s"unknown query '$name'")
      sys.exit(2)
    }
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    val compilations = CodegenMetrics.METRIC_COMPILATION_TIME
    val classLoading = ManagementFactory.getClassLoadingMXBean
    val warm0 = compilations.getCount
    names.foreach(run)
    val warmCompiles = compilations.getCount - warm0
    Thread.sleep(500)
    var totalCompiles = 0L
    var totalClasses = 0L
    for (name <- names) {
      jobs.set(0); stages.set(0); tasks.set(0); recs.set(0L)
      val compiles0 = compilations.getCount
      val classes0 = classLoading.getTotalLoadedClassCount
      run(name)
      val compiles = compilations.getCount - compiles0
      val classes = classLoading.getTotalLoadedClassCount - classes0
      totalCompiles += compiles
      totalClasses += classes
      Thread.sleep(500) // let the listener bus drain before reading
      println(s"[$name] jobs: ${jobs.get()} stages: ${stages.get()} " +
        s"tasks: ${tasks.get()} recordsRead: ${recs.get()} " +
        s"compiles: $compiles classes: $classes")
    }
    val metaspaceMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace")
      .map(_.getUsage.getUsed / (1024 * 1024)).getOrElse(-1L)
    println(s"[total] queries: ${names.length} warmupCompiles: $warmCompiles " +
      s"compiles: $totalCompiles classes: $totalClasses metaspaceUsedMb: $metaspaceMb")
    spark.stop()
  }
}
