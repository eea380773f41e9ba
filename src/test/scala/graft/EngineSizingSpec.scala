package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the sized-deployment knobs (Engine.sizedShufflePartitions /
  * sizedBroadcastThreshold) — the two numbers that move with data and
  * executor scale. Each clamp edge is load-bearing: the floor keeps small
  * corpora at thread-count parallelism (records unchanged), the caps stop
  * a huge corpus or heap from over-provisioning, and the mid-range slopes
  * are what the SF10/SF30 scale points measured (BASELINE.md). */
class EngineSizingSpec extends AnyFunSuite {

  private val MB = 1024L * 1024L

  test("broadcast threshold floors at Spark's 10 MB default") {
    // a 1 g heap must not shrink the stock threshold
    assert(Engine.sizedBroadcastThreshold(1024 * MB) == 10 * MB)
  }

  test("broadcast threshold scales as heap/128 in the mid-range") {
    assert(Engine.sizedBroadcastThreshold(16 * 1024 * MB) == 128 * MB)
    assert(Engine.sizedBroadcastThreshold(8 * 1024 * MB) == 64 * MB)
  }

  test("broadcast threshold caps at 256 MB however large the heap") {
    // beyond the cap the build side is genuinely fact-sized for any JVM
    assert(Engine.sizedBroadcastThreshold(64 * 1024 * MB) == 256 * MB)
    assert(Engine.sizedBroadcastThreshold(Long.MaxValue / 2) == 256 * MB)
  }

  test("shuffle partitions floor at the thread count on small corpora") {
    // the shipped sf0.001 corpus is far under 32×8 MB
    assert(Engine.sizedShufflePartitions("/root/testdata/sf0.001", 32) == 32)
  }

  test("shuffle partitions grow with corpus bytes and cap at 1024") {
    // a missing dir sizes as zero bytes → the floor
    assert(Engine.sizedShufflePartitions("/nonexistent", 32) == 32)
    // the cap is reachable only through byData, never the floor
    assert(Engine.sizedShufflePartitions("/nonexistent", 2048) == 2048)
  }

  test("local-cluster spec parses with the whitespace Spark accepts") {
    assert(ClusterMode.parse("local-cluster[2, 4, 4096]") ==
      Some(ClusterMode.Spec(2, 4, 4096)))
    assert(ClusterMode.parse("local-cluster[2,4,1536]") ==
      Some(ClusterMode.Spec(2, 4, 1536)))
    assert(ClusterMode.parse("local[4]").isEmpty)
  }

  test("a malformed local-cluster spec fails instead of defaulting") {
    for (bad <- Seq("local-cluster[2,4]", "local-cluster[2,4,4g]", "local-cluster"))
      intercept[IllegalArgumentException](ClusterMode.parse(bad))
  }

  test("sized broadcast threshold follows the executor grant, else the driver heap") {
    def threshold(master: String) = Engine.sizedConfs(master, "/nonexistent")
      .toMap.apply("spark.sql.autoBroadcastJoinThreshold")
    // 16 g executors → heap/128, whatever this JVM's own heap is
    assert(threshold("local-cluster[2,4,16384]") == 128 * MB)
    assert(threshold("local-cluster[2,4,1536]") == 12 * MB)
    assert(threshold("local[4]") ==
      Engine.sizedBroadcastThreshold(Runtime.getRuntime.maxMemory))
  }

  test("sized shuffle partitions floor at the master's task slots") {
    def partitions(master: String) = Engine.sizedConfs(master, "/nonexistent")
      .toMap.apply("spark.sql.shuffle.partitions")
    assert(partitions("local[6]") == 6)
    assert(partitions("local-cluster[2, 4, 1536]") == 8)
  }

  test("SparkSession.builder() is called only in Engine.scala") {
    // One session profile: every main, the gate and the bench go through
    // Engine.builder, so what they check is what users run.
    val root = new java.io.File("src/main/scala")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "Engine.scala"), s"no sources under $root")
    val offenders = files.filter { f =>
      f.getName != "Engine.scala" &&
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .contains("SparkSession.builder()")
    }
    assert(offenders.isEmpty, s"sessions built outside Engine: ${offenders.mkString(", ")}")
  }
}
