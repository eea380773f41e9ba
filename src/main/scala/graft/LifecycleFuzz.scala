package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.functions._

/** Differential fuzzer for the incremental standing-artifact LIFECYCLE
  * ([[graft.pipeline.DeltaIndex]] + the MinhashIndex/IvfAnn incremental,
  * compact and guard entry points) — the machinery StreamFuzz is to
  * streaming and FormatFuzz is to the legacy scanners. Each case drives a
  * random event sequence against a private corpus directory:
  *
  *  - `append`      — a new part file (minhash: salted docs exercising the
  *                    contraction/floor branches; ivf: drifting vectors)
  *  - `regenerate`  — in-place rewrite of a covered part file (bumped
  *                    mtime), the INVALIDATE trigger
  *  - `compact`     — the artifact-level rebase (ivf: must carry both the
  *                    centroids AND their training coverage forward)
  *  - `guard` (ivf) — [[graft.pipeline.IvfAnn.ensureIncrementalGuarded]]
  *                    with a floor drawn from {0, 1.01}: the unreachable
  *                    floor must retrain exactly when the artifact is not
  *                    full-trained, then short-circuit idempotently
  *  - crash debris  — delete the manifest (legacy-heal path), rewind it
  *                    to a strict prefix (crashed swap), or plant an
  *                    unreferenced ready batch dir (crashed compaction)
  *
  * Reconciles randomly run with `maxLiveBatches` ∈ {0, 2}, so the
  * engine-owned auto-compaction cadence is crossed by the same random
  * states as the explicit events; each case also draws a snapshot-GC
  * retention window from {0, 1 h}, so retired-batch tombstones, the
  * listing-fallback exclusion of retired dirs, and the trained-tagged
  * retrain name (a retained equal-coverage compacted dir must never be
  * adopted as the retrained artifact) are crossed by the same sequences —
  * with retention on, retired generations coexist on disk with their
  * replacements, and any resurrection into the live set would double-count
  * rows in the probe-vs-inline equality below.
  *
  * After EVERY minhash reconcile the artifact probe (`pairsIndexedMulti`
  * over the live snapshot) must equal the inline sweep
  * (`DedupQueries.minhashPairs`) over the corpus' CURRENT on-disk state,
  * pair-for-pair including jaccard values. After every IVF reconcile the
  * union of batch index rows must equal one `assignCells` pass of the
  * current corpus against the standing centroids, and the multi-batch
  * probe must answer row-for-row like a single-dir index built from that
  * combined assignment.
  *
  * Run: `java -cp ... graft.LifecycleFuzz [cases] [seed] [minhash|ivf]`.
  * Exit 1 on any divergence; per-case seeds print with failures so a case
  * replays standalone.
  */
object LifecycleFuzz {

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  private var fails = 0
  private def check(cond: Boolean, seed: Long, what: => String): Unit =
    if (!cond) { fails += 1; System.err.println(s"[lifecycle-fuzz] FAIL seed=$seed: $what") }

  def main(args: Array[String]): Unit = {
    val nCases = args.headOption.map(_.toInt).getOrElse(100)
    val seed0 = args.lift(1).map(_.toLong).getOrElse(20260826L)
    val mode = args.lift(2).getOrElse("minhash")
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")

    for (caseId <- 0 until nCases) {
      val seed = seed0 + caseId
      mode match {
        case "minhash" => minhashCase(spark, caseId, seed)
        case "ivf"     => ivfCase(spark, caseId, seed)
        case other     => sys.error(s"unknown mode $other (minhash|ivf)")
      }
      if ((caseId + 1) % 20 == 0)
        System.err.println(s"[lifecycle-fuzz] ${caseId + 1}/$nCases cases ($mode)")
    }

    println(s"lifecycle-fuzz: mode=$mode n=$nCases seed=$seed0 failures=$fails")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }

  /** Write `docs` as one part file into the table dir (REPLACE on name
    * collision — the regenerate event). */
  private def writePart(spark: org.apache.spark.sql.SparkSession,
                        table: Path, name: String,
                        write: String => Unit): Unit = {
    val staging = Files.createTempDirectory("graft_lcfuzz_part").toString
    write(staging)
    val f = Files.list(Paths.get(staging))
      .filter(_.toString.endsWith(".parquet")).findFirst.get
    Files.move(f, table.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    deleteTree(Paths.get(staging))
  }

  // ------------------------------------------------------------------ //
  //  MinHash mode (the original r19 fuzzer, unchanged semantics)        //
  // ------------------------------------------------------------------ //

  private def minhashCase(spark: org.apache.spark.sql.SparkSession,
                          caseId: Int, seed: Long): Unit = {
    import spark.implicits._
    val rng = new Random(seed)
    val dir = Files.createTempDirectory(s"graft_lcfuzz_$caseId").toString
    val table = Paths.get(dir, "documents.parquet")
    Files.createDirectories(table)
    val root = pipeline.DeltaIndex.root(dir, "documents", "graft_minhash_inc_v1")
    deleteTree(root)
    val retain = if (rng.nextBoolean()) 3600L * 1000 else 0L

    val vocab = Array.fill(40 + rng.nextInt(60))(s"w${rng.nextInt(400)}")
    def mkText(n: Int) =
      Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")
    var nextId = 0L
    var texts = Vector.empty[String] // corpus texts, for dup/near-dup salting
    def mkDocs(n: Int): Seq[(Long, String, String)] = (0 until n).map { _ =>
      val roll = rng.nextInt(10)
      val text =
        if (roll == 0 && texts.nonEmpty) texts(rng.nextInt(texts.size)) // exact dup
        else if (roll == 1 && texts.nonEmpty) { // 1-token near-dup
          val t = texts(rng.nextInt(texts.size)).split(" ")
          if (t.length > 3) {
            t(rng.nextInt(t.length)) = vocab(rng.nextInt(vocab.length))
            t.mkString(" ")
          } else mkText(4 + rng.nextInt(20))
        }
        else if (roll == 2) mkText(rng.nextInt(3)) // below the shingle floor
        else mkText(4 + rng.nextInt(25))
      texts :+= text
      val id = nextId; nextId += 1
      (id, text, "en")
    }
    def write(name: String, docs: Seq[(Long, String, String)]): Unit =
      writePart(spark, table, name, staging =>
        docs.toDF("doc_id", "text", "lang").coalesce(1)
          .write.mode("overwrite").parquet(staging))
    var nParts = 0
    def append(): Unit = {
      write(s"part-$nParts.parquet", mkDocs(5 + rng.nextInt(15)))
      nParts += 1
    }

    def reconcileAndCheck(tag: String): Unit = {
      // cross the engine-owned auto-compaction cadence at random
      val maxLive = if (rng.nextInt(3) == 0) 2 else 0
      val dirs = pipeline.MinhashIndex.ensureIncremental(
        spark, dir, maxLiveBatches = maxLive, retainMillis = retain)
      if (maxLive > 0)
        check(dirs.size <= maxLive, seed,
          s"$tag: maxLiveBatches=$maxLive left ${dirs.size} live batches")
      val got = pipeline.MinhashIndex.pairsIndexedMulti(spark, dirs)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      val want = pipeline.DedupQueries
        .minhashPairs(Tables.readParquet(spark, table.toString))
        .as[(Long, Long, Double)].collect().sorted.toSeq
      check(got == want, seed,
        s"$tag: probe=${got.size} pairs, inline=${want.size}; " +
          s"first diff=${got.zipAll(want, null, null).find(p => p._1 != p._2)}")
    }

    append()
    reconcileAndCheck("initial")
    val nEvents = 3 + rng.nextInt(5)
    for (_ <- 0 until nEvents) {
      rng.nextInt(7) match {
        case 0 | 1 => // append + reconcile
          append(); reconcileAndCheck("append")
        case 2 => // compact, then probe through a plain reconcile
          val preCompact = pipeline.DeltaIndex.liveBatches(root)
          pipeline.MinhashIndex.compactIncremental(spark, dir, retainMillis = retain)
          if (retain > 0)
            check(preCompact.forall(Files.exists(_)), seed,
              "compact(retain): rebased dirs must survive inside the window")
          reconcileAndCheck("compact")
        case 3 => // regenerate a covered part in place -> invalidation
          val which = rng.nextInt(nParts)
          write(s"part-$which.parquet", mkDocs(4 + rng.nextInt(10)))
          Files.setLastModifiedTime(table.resolve(s"part-$which.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis + 60000))
          reconcileAndCheck("regenerate")
        case 4 => // crash debris: manifest deleted (legacy-heal)
          Files.deleteIfExists(root.resolve("_manifest.txt"))
          reconcileAndCheck("manifest-deleted")
        case 5 => // crash debris: manifest rewound to a strict prefix
          val mf = root.resolve("_manifest.txt")
          if (Files.exists(mf)) {
            val lines = Files.readAllLines(mf)
            Files.write(mf, lines.subList(0, rng.nextInt(lines.size))
              .toArray.mkString("\n").getBytes("UTF-8"))
          }
          reconcileAndCheck("manifest-rewound")
        case 6 => // crash debris: unreferenced ready batch dir
          val live = pipeline.DeltaIndex.liveBatches(root)
          if (live.nonEmpty) {
            val orphan = root.resolve(f"batch_${900000 + rng.nextInt(1000)}%06d_orph")
            org.apache.commons.io.FileUtils
              .copyDirectory(live(rng.nextInt(live.size)).toFile, orphan.toFile)
          }
          reconcileAndCheck("orphan-planted")
      }
    }

    deleteTree(root)
    deleteTree(Paths.get(dir))
  }

  // ------------------------------------------------------------------ //
  //  IVF mode (round 20): centroids-forward compaction, delta            //
  //  assignment, trained-coverage guard decisions                        //
  // ------------------------------------------------------------------ //

  private def ivfCase(spark: org.apache.spark.sql.SparkSession,
                      caseId: Int, seed: Long): Unit = {
    import spark.implicits._
    val rng = new Random(seed)
    val dir = Files.createTempDirectory(s"graft_lcfuzz_ivf_$caseId").toString
    val table = Paths.get(dir, "embeddings.parquet")
    Files.createDirectories(table)
    val root = pipeline.DeltaIndex.root(dir, "embeddings", pipeline.IvfAnn.IncPrefix)
    deleteTree(root)
    val retain = if (rng.nextBoolean()) 3600L * 1000 else 0L

    val dim = 6
    var nextId = 0L
    var drift = 0.0 // appended tranches drift away from the trained center
    def mkVecs(n: Int): Seq[(Long, Array[Float])] = (0 until n).map { _ =>
      val id = nextId; nextId += 1
      val v = Array.fill(dim)((rng.nextGaussian() + drift).toFloat)
      (id, v)
    }
    def write(name: String, vecs: Seq[(Long, Array[Float])]): Unit =
      writePart(spark, table, name, staging =>
        vecs.toDF("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(staging))
    var nParts = 0
    def append(): Unit = {
      write(s"part-$nParts.parquet", mkVecs(10 + rng.nextInt(20)))
      nParts += 1
      drift += rng.nextDouble() // each tranche drifts further
    }

    def liveState(): (Seq[java.nio.file.Path], Boolean) = {
      val live = pipeline.DeltaIndex.liveBatches(root)
      val fullTrained = live.nonEmpty &&
        pipeline.DeltaIndex.trainedKeysOf(live.head) ==
          live.flatMap(pipeline.DeltaIndex.coveredKeysOf).toSet
      (live, fullTrained)
    }

    /** The two pinned invariants, over the CURRENT corpus + artifact:
      * (1) union of batch index rows == one assignCells pass of the corpus
      *     against the standing centroids;
      * (2) the multi-batch probe answers row-for-row like a single-dir
      *     index built from that combined assignment. */
    def checkArtifact(tag: String, c: String, i: Seq[String]): Unit = {
      val corpus = Tables.readParquet(spark, table.toString)
      val centroids = Tables.readParquet(spark, c)
      val unioned = i.map(Tables.readParquet(spark, _)).reduce(_ unionByName _)
        .select(col("vec_id"), col("cell_id").cast("long"))
        .as[(Long, Long)].collect().sorted.toSeq
      val combined = pipeline.IvfAnn.assignCells(corpus, centroids)
      val oneShot = combined.select(col("vec_id"), col("cell_id"))
        .as[(Long, Long)].collect().sorted.toSeq
      check(unioned == oneShot, seed,
        s"$tag: index union (${unioned.size} rows) != combined assignment " +
          s"(${oneShot.size} rows); first diff=" +
          unioned.zipAll(oneShot, null, null).find(p => p._1 != p._2))

      val full = Files.createTempDirectory("graft_lcfuzz_full").toString
      combined.write.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$full/index.parquet")
      val qIds = (0L until math.min(3L, nextId))
      val queries = pipeline.SimilarityQueries.queryFrame(corpus, qIds)
      val multi = pipeline.IvfAnn
        .searchIndexedMulti(spark, c, i, queries, 3, 2)
        .as[(Long, Int, Long, Double)].collect().toSeq
      val single = pipeline.IvfAnn
        .searchIndexedMulti(spark, c, Seq(s"$full/index.parquet"), queries, 3, 2)
        .as[(Long, Int, Long, Double)].collect().toSeq
      check(multi == single, seed,
        s"$tag: multi-batch probe != single-dir probe " +
          s"(${multi.size} vs ${single.size} rows)")
      deleteTree(Paths.get(full))
    }

    def reconcileAndCheck(tag: String): Unit = {
      val maxLive = if (rng.nextInt(3) == 0) 2 else 0
      val (c, i) = pipeline.IvfAnn.ensureIncremental(
        spark, dir, "embeddings", nlist = 4, maxLiveBatches = maxLive,
        retainMillis = retain)
      if (maxLive > 0)
        check(i.size <= maxLive, seed,
          s"$tag: maxLiveBatches=$maxLive left ${i.size} live batches")
      checkArtifact(tag, c, i)
    }

    append()
    reconcileAndCheck("initial")
    val nEvents = 3 + rng.nextInt(5)
    for (_ <- 0 until nEvents) {
      rng.nextInt(8) match {
        case 0 | 1 =>
          append(); reconcileAndCheck("append")
        case 2 =>
          val (liveBefore, trainedBefore) = liveState()
          pipeline.IvfAnn.compactIncremental(spark, dir, "embeddings", retain)
          val (liveAfter, trainedAfter) = liveState()
          if (retain > 0)
            check(liveBefore.forall(Files.exists(_)), seed,
              "compact(retain): rebased dirs must survive inside the window")
          // compaction is a layout pass: it must never LAUNDER training
          // coverage — a drifted artifact stays drifted in the guard's eyes
          check(liveAfter.size <= 1 && trainedAfter == trainedBefore, seed,
            s"compact: live=${liveAfter.size} fullTrained $trainedBefore->$trainedAfter")
          reconcileAndCheck("compact")
        case 3 =>
          val which = rng.nextInt(nParts)
          write(s"part-$which.parquet", mkVecs(8 + rng.nextInt(12)))
          Files.setLastModifiedTime(table.resolve(s"part-$which.parquet"),
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis + 60000))
          reconcileAndCheck("regenerate")
          // invalidation rebuilt from scratch: full-trained by construction
          val (_, trained) = liveState()
          check(trained, seed, "regenerate: fresh rebuild must be full-trained")
        case 4 =>
          Files.deleteIfExists(root.resolve("_manifest.txt"))
          reconcileAndCheck("manifest-deleted")
        case 5 =>
          val mf = root.resolve("_manifest.txt")
          if (Files.exists(mf)) {
            val lines = Files.readAllLines(mf)
            Files.write(mf, lines.subList(0, rng.nextInt(lines.size))
              .toArray.mkString("\n").getBytes("UTF-8"))
          }
          reconcileAndCheck("manifest-rewound")
        case 6 =>
          val live = pipeline.DeltaIndex.liveBatches(root)
          if (live.nonEmpty) {
            val orphan = root.resolve(f"batch_${900000 + rng.nextInt(1000)}%06d_orph")
            org.apache.commons.io.FileUtils
              .copyDirectory(live(rng.nextInt(live.size)).toFile, orphan.toFile)
          }
          reconcileAndCheck("orphan-planted")
        case 7 =>
          // the retrain guard: an unreachable floor retrains exactly when
          // the artifact is not full-trained, then short-circuits
          val floor = if (rng.nextBoolean()) 1.01 else 0.0
          val (liveBefore, trainedBefore) = liveState()
          val (c1, i1, r1) = pipeline.IvfAnn.ensureIncrementalGuarded(
            spark, dir, "embeddings", nlist = 4, k = 3, nprobe = 2,
            recallFloor = floor, sampleN = 8, retainMillis = retain)
          check(r1 >= 0.0 && r1 <= 1.0, seed, s"guard: recall $r1 out of range")
          val (_, trainedAfter) = liveState()
          if (floor > 1.0) {
            check(trainedAfter, seed,
              s"guard(1.01): artifact must end full-trained " +
                s"(was $trainedBefore, ${liveBefore.size} batches)")
            // zero-downtime retrain: with retention on, the pre-retrain
            // snapshot's dirs survive (a reader holding the old manifest
            // keeps its files); they are retired, not resurrected — the
            // checkArtifact equality below would double-count any
            // resurrection
            if (retain > 0 && !trainedBefore)
              check(liveBefore.forall(Files.exists(_)), seed,
                "guard(1.01,retain): pre-retrain dirs must survive the swap")
          } else
            check(pipeline.DeltaIndex.liveBatches(root) == liveBefore, seed,
              "guard(0.0): a passing floor must not touch the batch set")
          val (c2, i2, r2) = pipeline.IvfAnn.ensureIncrementalGuarded(
            spark, dir, "embeddings", nlist = 4, k = 3, nprobe = 2,
            recallFloor = floor, sampleN = 8, retainMillis = retain)
          check(c2 == c1 && i2 == i1 && r2 == r1, seed,
            s"guard: second call must be a no-op measurement " +
              s"($r1 -> $r2, ${i1.size} -> ${i2.size} batches)")
          checkArtifact("guard", c1, i1)
      }
    }

    deleteTree(root)
    deleteTree(Paths.get(dir))
  }
}
