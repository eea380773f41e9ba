package graft

import java.nio.file.{Files, Paths}

/** Multi-executor rehearsal harness: `local-cluster[N,cores,memMB]` sessions.
  *
  * `local[32]` runs every task in the driver JVM — no serialization boundary
  * for the custom Catalyst expressions and [[graft.plans.TopKPerGroupExec]],
  * no real broadcast transport, no executor loss, and
  * [[Engine.materialize]]'s reliable arm never sees a checkpoint dir shared
  * by more than one process. `local-cluster` is Spark's standalone cluster
  * collapsed onto one host: a Master and N Workers run in the driver JVM but
  * every executor is a REAL separate JVM launched by the Worker, with task
  * bytes, broadcast blocks and shuffle data crossing process boundaries over
  * the same netty transport a 1000-executor deployment uses. The reference's
  * analogue is its mini-cluster e2e layer (`tests/custom_cluster/`,
  * `be/src/runtime/coordinator.cc:303-360` — fragment dispatch over thrift).
  *
  * Mechanics: the standalone Worker launches executors through the launcher
  * library, which locates the Spark jars via the worker's `SPARK_HOME` and
  * writes executor work dirs under it. The image's distribution at
  * `/opt/spark` must stay pristine, so we point `SPARK_HOME` at a shim under
  * /tmp whose `jars/` is a symlink to `/opt/spark/jars` — executor JVMs get
  * the full Spark classpath, work dirs land in /tmp. The application's own
  * classes (graft expressions, physical operators) reach executors via
  * `spark.executor.extraClassPath` = this JVM's classpath; JDK-17 module
  * opens via `spark.executor.extraJavaOptions` (spark-submit would inject
  * both on a real cluster). [[Engine.builder]] applies this wiring to every
  * `local-cluster` master.
  */
object ClusterMode {

  /** Same list as build.sbt's jdk17AddOpens (JavaModuleOptions defaults) —
    * executor JVMs need them exactly like the driver does. */
  private val addOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** JVM options every executor needs (spark-submit would inject these on a
    * real cluster; the standalone Worker does not). */
  val executorJavaOptions: String = s"$addOpens -Duser.timezone=UTC"

  /** This JVM's classpath with every entry absolutized: executors run from
    * their work dir, so a relative `-cp target/...` on the driver command
    * line would silently strip the application classes from executors
    * (ClassNotFound on the first custom-kernel task). */
  def absoluteClassPath: String =
    sys.props("java.class.path").split(java.io.File.pathSeparator)
      .filter(_.nonEmpty)
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)

  /** SPARK_HOME shim for the in-JVM Worker: jars/ symlinked to the real
    * distribution, executor work dirs under /tmp. Idempotent. The JVM must
    * have been LAUNCHED with SPARK_HOME pointing here (build.sbt sets it for
    * forked test/run JVMs; plain `java` invocations export it) — env vars
    * can't be set after startup, but the directory can be created lazily
    * because the Worker only reads it at executor-launch time. */
  val sparkHomeShim = "/tmp/graft-spark-home"

  def ensureSparkHomeShim(): Unit = {
    val home = Paths.get(sparkHomeShim)
    Files.createDirectories(home)
    val jars = home.resolve("jars")
    if (!Files.exists(jars))
      Files.createSymbolicLink(jars, Paths.get("/opt/spark/jars"))
    val conf = home.resolve("conf")
    if (!Files.exists(conf)) Files.createDirectories(conf)
    Files.createDirectories(home.resolve("work"))
    // The in-process launcher resolves the Scala version from either the
    // SPARK_SCALA_VERSION env (set by bin/load-spark-env.sh, which we
    // bypass) or the presence of this build directory — provide the latter
    // so plain-java invocations need no extra env beyond SPARK_HOME.
    Files.createDirectories(home.resolve("launcher/target/scala-2.13"))
  }

  /** A `local-cluster[workers,cores,memMb]` master: `memMb` is each
    * worker's grant, and the engine gives its executor the whole grant. */
  final case class Spec(workers: Int, cores: Int, memMb: Int) {
    def totalCores: Int = workers * cores
    def memBytes: Long = memMb * 1024L * 1024L
  }

  /** Whitespace allowed exactly where Spark's own SparkMasterRegex allows
    * it: `local-cluster[2, 4, 4096]` is a valid Spark spec. */
  private val SpecRegex =
    """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]""".r

  /** The spec of a local-cluster master; None for any other master. A
    * master that names local-cluster but does not match the spec fails here:
    * silently defaulting its memory would size executors and the broadcast
    * threshold from a number the caller never gave. */
  def parse(master: String): Option[Spec] = master match {
    case SpecRegex(w, c, m) => Some(Spec(w.toInt, c.toInt, m.toInt))
    case _ =>
      require(!master.startsWith("local-cluster"),
        s"master '$master' does not match local-cluster[workers,cores,memMb]")
      None
  }
}
