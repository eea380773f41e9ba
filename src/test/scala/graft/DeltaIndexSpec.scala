package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one lifecycle of the standing artifacts
  * ([[graft.pipeline.DeltaIndex]] + the MinhashIndex/IvfAnn entry points):
  * atomic publish, concurrent same-state syncs, the registry rehearsals,
  * and the properties that make the lifecycle O(delta) instead of
  * O(corpus):
  *
  *  1. a delta sync READS ONLY THE NEW PART FILES (FactScanSpec-style root-
  *     path pin on the frame handed to the builder);
  *  2. the union-of-batches probe answers EXACTLY like the one-shot
  *     pipeline over the combined corpus;
  *  3. an unchanged source syncs to zero builds; a rewritten source
  *     invalidates fully (REFRESH vs INVALIDATE).
  */
class DeltaIndexSpec extends SparkSpec {

  /** Two-batch source table: `<dir>/documents.parquet/` with one part file
    * per slice, written one sync apart. Returns (sourceDir, writeBatch). */
  private def freshSource(name: String, table: String = "documents"): String = {
    val d = tmp(name)
    Files.createDirectories(Paths.get(d, s"$table.parquet"))
    d
  }

  private def docs = Tables.table(spark, sfDir, "documents")

  /** Write `part` as a single parquet file under the source table dir.
    * coalesce(1) so each ingest batch is exactly one part file. */
  private def ingest(sourceDir: String, table: String, part: DataFrame): Unit = {
    val staging = tmp("graft_ingest_stage")
    part.coalesce(1).write.mode("overwrite").parquet(staging)
    val f = Files.list(Paths.get(staging)).filter(_.toString.endsWith(".parquet"))
      .findFirst.get
    val n = Files.list(Paths.get(sourceDir, s"$table.parquet")).count()
    Files.copy(f, Paths.get(sourceDir, s"$table.parquet", s"part-$n.parquet"))
  }

  private def rootPaths(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val b = Seq.newBuilder[String]
    df.queryExecution.optimizedPlan.foreach {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.foreach(p => b += p.toString)
      case _ => ()
    }
    b.result()
  }

  /** Every `cell_id=` dir of an IVF index path holds exactly one parquet
    * file (the cell write co-locates each cell in one task). */
  private def oneFilePerCell(indexPath: String): Boolean = {
    val cells = new java.io.File(indexPath).listFiles
      .filter(_.getName.startsWith("cell_id="))
    cells.nonEmpty &&
      cells.forall(_.listFiles.count(_.getName.endsWith(".parquet")) == 1)
  }

  test("sync builds from only the new part files, and only when there are any") {
    val src = freshSource("graft_delta_src")
    val a = docs.filter(col("doc_id") % 3 < 2)
    val b = docs.filter(col("doc_id") % 3 === 2)
    ingest(src, "documents", a)

    val root = pipeline.DeltaIndex.root(src, "documents", "graft_spec_inc")
    var builds = Vector.empty[(Seq[String], Long, Boolean)]
    def sync() = pipeline.DeltaIndex.sync(spark, src, "documents", root) {
      (delta, staging, initial) =>
        builds :+= ((rootPaths(delta), delta.count(), initial.isDefined))
        Files.createDirectories(Paths.get(staging))
        delta.select(col("doc_id")).write.parquet(s"$staging/ids.parquet")
    }

    val live1 = sync()
    assert(live1.size == 1 && builds.size == 1)
    assert(builds(0)._2 == a.count() && !builds(0)._3)

    // no change -> no build
    assert(sync() == live1 && builds.size == 1)

    // append: the delta build must see ONLY the new file
    ingest(src, "documents", b)
    val live2 = sync()
    assert(live2.size == 2 && builds.size == 2)
    val (paths2, n2, hadInitial) = builds(1)
    assert(n2 == b.count(), s"delta read $n2 rows, expected ${b.count()}")
    assert(paths2.forall(_.endsWith("part-1.parquet")),
      s"delta build must scan only the appended part file: $paths2")
    assert(hadInitial, "delta build must receive the initial batch dir")
    assert(live2.head == live1.head, "initial batch must be reused, not rebuilt")

    // rewrite a covered part in place -> full invalidation, one fresh build
    // covering everything
    val p0 = Files.list(Paths.get(src, "documents.parquet"))
      .filter(_.toString.endsWith("part-0.parquet")).findFirst.get
    Files.setLastModifiedTime(p0,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis + 5000))
    val live3 = sync()
    assert(builds.size == 3 && live3.size == 1)
    assert(builds(2)._2 == a.count() + b.count() && !builds(2)._3)
  }

  test("compact rebases live batches into one; sync treats it as the new initial batch") {
    val src = freshSource("graft_delta_compact")
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 === 1)
    val c = docs.filter(col("doc_id") % 3 === 2)
    val root = pipeline.DeltaIndex.root(src, "documents", "graft_spec_compact")
    var builds = Vector.empty[(Seq[String], Boolean)]
    def sync() = pipeline.DeltaIndex.sync(spark, src, "documents", root) {
      (delta, staging, initial) =>
        builds :+= ((rootPaths(delta), initial.isDefined))
        Files.createDirectories(Paths.get(staging))
        delta.select(col("doc_id")).write.parquet(s"$staging/ids.parquet")
    }
    ingest(src, "documents", a); sync()
    ingest(src, "documents", b)
    val live2 = sync()
    assert(live2.size == 2 && builds.size == 2)
    val keysBefore = live2.flatMap(p =>
      Files.readAllLines(p.resolve("_covered.txt")).toArray.map(_.toString)
        .filter(_.nonEmpty)).toSet

    var rewrites = 0
    def compact() = pipeline.DeltaIndex.compact(spark, root) { (batches, staging) =>
      rewrites += 1
      Files.createDirectories(Paths.get(staging))
      spark.read.parquet(batches.map(p => s"$p/ids.parquet"): _*)
        .write.parquet(s"$staging/ids.parquet")
    }
    val compacted = compact()
    assert(compacted.size == 1 && rewrites == 1)
    assert(compacted.head.getFileName.toString.startsWith("batch_000000_"))
    assert(!live2.contains(compacted.head), "replacement must be a NEW batch dir")
    // covered set of the replacement == union of the rebased batches'
    val keysAfter = Files.readAllLines(compacted.head.resolve("_covered.txt"))
      .toArray.map(_.toString).filter(_.nonEmpty).toSet
    assert(keysAfter == keysBefore)
    // payload is the union (nothing lost, nothing doubled)
    assert(spark.read.parquet(s"${compacted.head}/ids.parquet").count()
      == a.count() + b.count())

    // compaction of a single batch is a no-op
    assert(compact() == compacted && rewrites == 1)
    // unchanged source: sync sees full coverage, builds nothing
    assert(sync() == compacted && builds.size == 2)
    // append after compaction: one delta build over only the new file,
    // with the compacted batch as the initial
    ingest(src, "documents", c)
    val live3 = sync()
    assert(live3.size == 2 && live3.head == compacted.head)
    assert(builds.size == 3 && builds(2)._2, "delta build must see the compacted initial")
    assert(builds(2)._1.forall(_.endsWith("part-2.parquet")),
      s"post-compact delta must scan only the appended part: ${builds(2)._1}")
  }

  test("manifest is the snapshot pointer: authoritative over listings, swapped by sync/compact, legacy roots heal") {
    val src = freshSource("graft_delta_manifest")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val root = pipeline.DeltaIndex.root(src, "documents", "graft_spec_manifest")
    def sync() = pipeline.DeltaIndex.sync(spark, src, "documents", root) {
      (delta, staging, _) =>
        Files.createDirectories(Paths.get(staging))
        delta.select(col("doc_id")).write.parquet(s"$staging/ids.parquet")
    }
    def manifest(): Seq[String] =
      Files.readAllLines(root.resolve("_manifest.txt")).toArray
        .map(_.toString).filter(_.nonEmpty).toSeq

    ingest(src, "documents", a); sync()
    ingest(src, "documents", b)
    val live = sync()
    assert(manifest() == live.map(_.getFileName.toString),
      "manifest must list the live batches, initial first")

    // manifest-authoritative: a published-looking dir NOT in the snapshot
    // (a crashed compaction's orphan) is INVISIBLE to probes
    val orphan = root.resolve("batch_999999_dead")
    Files.createDirectories(orphan)
    Files.copy(live.head.resolve("_covered.txt"), orphan.resolve("_covered.txt"))
    Files.write(pipeline.DeltaIndex.readyMarker(orphan), Array.emptyByteArray)
    assert(pipeline.DeltaIndex.liveBatches(root) == live,
      "a dir outside the manifest snapshot must not be probed")
    org.apache.commons.io.FileUtils.deleteDirectory(orphan.toFile)

    // legacy root (no manifest yet): listing fallback still resolves, and
    // the next sync heals the manifest without building anything
    Files.delete(root.resolve("_manifest.txt"))
    assert(pipeline.DeltaIndex.liveBatches(root) == live)
    assert(sync() == live)
    assert(manifest() == live.map(_.getFileName.toString),
      "a no-op sync must restore the missing manifest")

    // compact: the snapshot swaps to exactly the replacement batch and the
    // rebased dirs are GC'd from disk
    val compacted = pipeline.DeltaIndex.compact(spark, root) { (batches, staging) =>
      Files.createDirectories(Paths.get(staging))
      spark.read.parquet(batches.map(p => s"$p/ids.parquet"): _*)
        .write.parquet(s"$staging/ids.parquet")
    }
    assert(compacted.size == 1)
    assert(manifest() == Seq(compacted.head.getFileName.toString))
    assert(live.forall(p => !Files.exists(p)), "rebased dirs must be GC'd")

    // crashed-swap debris, part 1 — content-keyed ADOPTION: rewind the
    // manifest to an empty snapshot while the compacted dir still sits on
    // disk. The re-derived covering build targets the SAME content-keyed
    // name, finds the ready dir, and adopts it instead of rebuilding.
    Files.write(root.resolve("_manifest.txt"), Array.emptyByteArray)
    assert(sync() == compacted,
      "ready debris with the matching content key must be adopted")
    assert(manifest() == Seq(compacted.head.getFileName.toString))
    assert(spark.read.parquet(s"${compacted.head}/ids.parquet").count()
      == a.count() + b.count())

    // part 2 — GC: a batch dir the snapshot doesn't reference (an older
    // generation's leftover) is swept by the next sync.
    val stale = root.resolve("batch_000001_stale")
    org.apache.commons.io.FileUtils.copyDirectory(
      compacted.head.toFile, stale.toFile)
    assert(sync() == compacted)
    assert(!Files.exists(stale), "sync must GC unreferenced batch dirs")
  }

  test("snapshot-GC retention window: retired dirs survive inside the window, swept after") {
    val src = freshSource("graft_delta_retain")
    val root = pipeline.DeltaIndex.root(src, "documents", "graft_spec_retain")
    val hour = 3600L * 1000
    def sync(retain: Long) =
      pipeline.DeltaIndex.sync(spark, src, "documents", root, retain) {
        (delta, staging, _) =>
          Files.createDirectories(Paths.get(staging))
          delta.select(col("doc_id")).write.parquet(s"$staging/ids.parquet")
      }
    ingest(src, "documents", docs.filter(col("doc_id") % 2 === 0)); sync(hour)
    ingest(src, "documents", docs.filter(col("doc_id") % 2 === 1))
    val live = sync(hour)
    assert(live.size == 2)

    val compacted = pipeline.DeltaIndex.compact(spark, root, hour) {
      (batches, staging) =>
        Files.createDirectories(Paths.get(staging))
        spark.read.parquet(batches.map(p => s"$p/ids.parquet"): _*)
          .write.parquet(s"$staging/ids.parquet")
    }
    assert(compacted.size == 1)
    // inside the window: the rebased dirs SURVIVE (a reader holding the
    // pre-swap snapshot keeps its files), tombstoned with their retirement
    assert(live.forall(Files.exists(_)),
      "retired dirs must not be deleted inside the retention window")
    assert(live.forall(p => Files.exists(p.resolve("_retired_at.txt"))))
    // ... but they are NOT live: not via the manifest, and not via the
    // lost-manifest listing fallback either (a resurrected retired dir
    // would double-cover the corpus next to its replacement)
    assert(pipeline.DeltaIndex.liveBatches(root) == compacted)
    Files.delete(root.resolve("_manifest.txt"))
    assert(pipeline.DeltaIndex.liveBatches(root) == compacted,
      "listing fallback must exclude tombstoned dirs")
    assert(sync(hour) == compacted, "heal the manifest, adopt nothing")

    // age the tombstones past the window: the next sync sweeps the dirs
    for (p <- live if Files.exists(p))
      Files.write(p.resolve("_retired_at.txt"),
        (System.currentTimeMillis - 2 * hour).toString.getBytes("UTF-8"))
    assert(sync(hour) == compacted)
    assert(live.forall(p => !Files.exists(p)),
      "retired dirs must be swept once the window has elapsed")
  }

  test("minhash compaction: probe-identical, and runs with the source corpus DELETED") {
    import spark.implicits._
    val src = freshSource("graft_delta_mh_compact")
    ingest(src, "documents", docs.filter(col("doc_id") % 3 === 0))
    pipeline.MinhashIndex.ensureIncremental(spark, src)
    ingest(src, "documents", docs.filter(col("doc_id") % 3 === 1))
    val dirs2 = pipeline.MinhashIndex.ensureIncremental(spark, src)
    assert(dirs2.size == 2)
    val pre = pipeline.MinhashIndex.pairsIndexedMulti(spark, dirs2)
      .as[(Long, Long, Double)].collect().sorted.toSeq

    val compacted = pipeline.MinhashIndex.compactIncremental(spark, src)
    assert(compacted.size == 1)
    val post = pipeline.MinhashIndex.pairsIndexedMulti(spark, compacted)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(post == pre && pre.nonEmpty)

    // append after compaction, then compact again with the SOURCE TABLE
    // GONE — the O(artifact) claim: the rebase reads only batch payloads
    ingest(src, "documents", docs.filter(col("doc_id") % 3 === 2))
    val dirs3 = pipeline.MinhashIndex.ensureIncremental(spark, src)
    assert(dirs3.size == 2 && dirs3.head == compacted.head)
    org.apache.commons.io.FileUtils.deleteDirectory(
      Paths.get(src, "documents.parquet").toFile)
    val recompacted = pipeline.MinhashIndex.compactIncremental(spark, src)
    assert(recompacted.size == 1)
    val finalPairs = pipeline.MinhashIndex.pairsIndexedMulti(spark, recompacted)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val inline = pipeline.DedupQueries.minhashPairs(docs)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(finalPairs == inline)
  }

  test("IVF compaction: centroids carried forward, probe-identical, source-free") {
    import spark.implicits._
    val emb = Tables.table(spark, sfDir, "embeddings")
    val src = freshSource("graft_delta_ivf_compact", "embeddings")
    ingest(src, "embeddings", emb.filter(col("vec_id") % 3 < 2))
    pipeline.IvfAnn.ensureIncremental(spark, src, "embeddings", nlist = 8)
    ingest(src, "embeddings", emb.filter(col("vec_id") % 3 === 2))
    val (c2, i2) = pipeline.IvfAnn.ensureIncremental(spark, src, "embeddings", nlist = 8)
    assert(i2.size == 2)
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val pre = pipeline.IvfAnn.searchIndexedMulti(spark, c2, i2, queries, 3, 2)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val preCentroids = spark.read.parquet(c2)
      .as[(Long, Array[Float])].collect().sortBy(_._1).map(r => (r._1, r._2.toSeq)).toSeq

    org.apache.commons.io.FileUtils.deleteDirectory(
      Paths.get(src, "embeddings.parquet").toFile)
    val (c3, i3) = pipeline.IvfAnn.compactIncremental(spark, src, "embeddings")
    assert(i3.size == 1 && c3 != c2)
    assert(oneFilePerCell(i3.head))
    val postCentroids = spark.read.parquet(c3)
      .as[(Long, Array[Float])].collect().sortBy(_._1).map(r => (r._1, r._2.toSeq)).toSeq
    assert(postCentroids == preCentroids, "centroids are standing state — byte-carried")
    val post = pipeline.IvfAnn.searchIndexedMulti(spark, c3, i3, queries, 3, 2)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(post == pre && pre.nonEmpty)
  }

  test("guarded IVF sync: measured-recall floor decides retrain, single batch short-circuits") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val src = freshSource("graft_delta_ivf_guard", "embeddings")
    ingest(src, "embeddings", emb.filter(col("vec_id") % 3 < 2))
    pipeline.IvfAnn.ensureIncremental(spark, src, "embeddings", nlist = 8)
    ingest(src, "embeddings", emb.filter(col("vec_id") % 3 === 2))

    // floor 0: whatever the measured recall, no retrain — the delta
    // lifecycle's two batches survive and the recall comes back sane
    val (c1, i1, r1) = pipeline.IvfAnn.ensureIncrementalGuarded(
      spark, src, "embeddings", nlist = 8, recallFloor = 0.0, sampleN = 8)
    assert(i1.size == 2)
    assert(r1 >= 0.0 && r1 <= 1.0, s"recall out of range: $r1")

    // unreachable floor: the guard fires the INVALIDATE path once —
    // the artifact rebases to ONE batch retrained over the full corpus
    val (c2, i2, r2) = pipeline.IvfAnn.ensureIncrementalGuarded(
      spark, src, "embeddings", nlist = 8, recallFloor = 1.01, sampleN = 8)
    assert(i2.size == 1, "retrain must rebuild into a single full-trained batch")
    assert(c2 != c1, "retrained centroids live in the new initial batch")
    assert(r2 >= 0.0 && r2 <= 1.0)

    // idempotence: a single-batch artifact short-circuits — the
    // unreachable floor measures once but can never rebuild-loop
    val (c3, i3, r3) = pipeline.IvfAnn.ensureIncrementalGuarded(
      spark, src, "embeddings", nlist = 8, recallFloor = 1.01, sampleN = 8)
    assert(c3 == c2 && i3 == i2 && r3 == r2)
  }

  test("incremental minhash artifact answers exactly like the inline sweep") {
    import spark.implicits._
    val src = freshSource("graft_delta_mh")
    ingest(src, "documents", docs.filter(col("doc_id") % 3 < 2))
    val dirs1 = pipeline.MinhashIndex.ensureIncremental(spark, src)
    assert(dirs1.size == 1)
    ingest(src, "documents", docs.filter(col("doc_id") % 3 === 2))
    val dirs2 = pipeline.MinhashIndex.ensureIncremental(spark, src)
    assert(dirs2.size == 2 && dirs2.head == dirs1.head)

    val indexed = pipeline.MinhashIndex.pairsIndexedMulti(spark, dirs2)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val inline = pipeline.DedupQueries.minhashPairs(docs)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(indexed == inline, s"indexed n=${indexed.size} inline n=${inline.size}")
    assert(inline.nonEmpty, "fixture corpus should contain near-dup pairs")
  }

  test("grouped probe over two batches: a content group split across batches clusters like the inline sweep") {
    import spark.implicits._
    // One identical-content group straddles the two appends, with enough
    // copies in each that both batch builds contract it (duplicate pair
    // mass over 1% of the batch's documents): each batch then
    // holds its OWN representative of the group. The planted text shares
    // no shingle with the corpus, so only the two reps' own band
    // collision (Jaccard 1.0) can reconnect the halves.
    val base = docs.select("doc_id", "lang", "text")
    val l0 = base.filter($"doc_id" === 0).head().getAs[String]("lang")
    val t0 = (1 to 12).map(i => s"qzx$i").mkString(" ")
    def plants(ids: Long*) = ids.map(i => (i, l0, t0)).toDF("doc_id", "lang", "text")
    val partA = base.filter(col("doc_id") % 3 < 2).union(plants(9001L to 9006L: _*))
      .union(Seq((9101L, l0, "xy")).toDF("doc_id", "lang", "text"))
    val partB = base.filter(col("doc_id") % 3 === 2).union(plants(9007L to 9010L: _*))
    val src = freshSource("graft_delta_mh_cluster")
    ingest(src, "documents", partA)
    pipeline.MinhashIndex.ensureIncremental(spark, src)
    ingest(src, "documents", partB)
    val dirs = pipeline.MinhashIndex.ensureIncremental(spark, src)
    assert(dirs.size == 2)

    val (_, members) = pipeline.MinhashIndex.artifact(spark, dirs)
    val groupReps = members.filter(col("doc_id").between(9001L, 9010L))
      .select("rep").distinct().as[Long].collect().sorted.toSeq
    assert(groupReps == Seq(9001L, 9007L),
      s"each batch must contract the group to its own representative: $groupReps")

    val all = partA.union(partB)
    val probed = pipeline.MinhashIndex.clusterIndexed(spark, dirs, all)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    val inline = pipeline.CurationQueries.minhashClusterFrame(spark, all)
      .as[(Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(probed == inline,
      s"cross-batch grouped probe diverged:\n got=${probed.filterNot(inline.contains)}\n " +
        s"want=${inline.filterNot(probed.contains)}")
    val byId = probed.map(r => r._1 -> r).toMap
    assert((9001L to 9010L).forall(i => byId(i)._2 == 9001L && byId(i)._3 == 10L),
      "both batches' copies must form one cluster labelled by the min copy")
    assert(byId(9101L)._2 == 9101L && byId(9101L)._3 == 1L,
      "a sub-shingle-floor doc stays a singleton")
  }

  test("incremental IVF: delta batch rows are byte-identical to a combined assign; probe = single-build probe") {
    import spark.implicits._
    val emb = Tables.table(spark, sfDir, "embeddings")
    val src = freshSource("graft_delta_ivf", "embeddings")
    ingest(src, "embeddings", emb.filter(col("vec_id") % 3 < 2))
    val (c1, i1) = pipeline.IvfAnn.ensureIncremental(spark, src, "embeddings", nlist = 8)
    assert(i1.size == 1)
    ingest(src, "embeddings", emb.filter(col("vec_id") % 3 === 2))
    val (c2, i2) = pipeline.IvfAnn.ensureIncremental(spark, src, "embeddings", nlist = 8)
    assert(i2.size == 2 && c2 == c1, "centroids are standing state of the initial batch")
    assert(i2.forall(oneFilePerCell))

    // assignment parity: union of batch indexes == one assignCells pass of
    // the combined corpus against the standing centroids
    val centroids = spark.read.parquet(c2)
    val unioned = i2.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .select(col("vec_id"), col("cell_id").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    val oneShot = pipeline.IvfAnn.assignCells(emb, centroids)
      .select(col("vec_id"), col("cell_id"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(unioned == oneShot)

    // probe parity against a single-dir artifact built with the same
    // centroids over the combined corpus
    val full = tmp("graft_delta_ivf_full")
    pipeline.IvfAnn.assignCells(emb, centroids)
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$full/index.parquet")
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val multi = pipeline.IvfAnn.searchIndexedMulti(spark, c2, i2, queries, 3, 2)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val single = pipeline.IvfAnn.searchIndexedMulti(
        spark, c2, Seq(s"$full/index.parquet"), queries, 3, 2)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(multi == single)
    assert(multi.nonEmpty)
    // the delta batch is visible to the probe: some appended vector surfaces
    val appended = emb.filter(col("vec_id") % 3 === 2)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(multi.exists(r => appended.contains(r._3)),
      "no appended vector ever surfaces in the probe results")
  }

  /** `_staging_*` / `_manifest_tmp_*` entries left in `dir`. */
  private def writerDebris(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("_staging_") || n.startsWith("_manifest_tmp_")).toSeq
    } finally s.close()
  }

  test("publish self-heals marker-less debris at the target") {
    val debris = Paths.get(tmp("graft_publish_debris"), "idx")
    Files.createDirectories(debris)
    Files.write(debris.resolve("junk"), "half-built".getBytes)
    // no ready marker — a plain rename would fail here forever
    pipeline.DeltaIndex.publish(debris) { staging =>
      Files.createDirectories(Paths.get(staging))
      Files.write(Paths.get(staging, "payload"), "ok".getBytes)
    }
    assert(Files.exists(pipeline.DeltaIndex.readyMarker(debris)),
      "self-heal must publish the fresh build over the debris")
    assert(Files.exists(debris.resolve("payload")))
    assert(!Files.exists(debris.resolve("junk")), "debris must be replaced")
    assert(writerDebris(debris.getParent).isEmpty)
  }

  test("publish skips the build when ready, and cleans staging on failure") {
    val idx = Paths.get(tmp("graft_publish_ready"), "idx")
    Files.createDirectories(idx)
    Files.write(pipeline.DeltaIndex.readyMarker(idx), Array.emptyByteArray)
    pipeline.DeltaIndex.publish(idx) { _ =>
      fail("build must not run when the marker is present")
    }
    // failure path: the staging dir must not leak, nothing is published
    val idx2 = Paths.get(tmp("graft_publish_fail"), "idx")
    intercept[RuntimeException] {
      pipeline.DeltaIndex.publish(idx2) { staging =>
        Files.createDirectories(Paths.get(staging))
        throw new RuntimeException("boom")
      }
    }
    assert(writerDebris(idx2.getParent).isEmpty, "failed build leaked its staging dir")
    assert(!Files.exists(idx2), "failed build must not publish")
  }

  test("two concurrent syncs of one fresh source agree and leave no staging") {
    val src = freshSource("graft_delta_concurrent")
    val a = docs.filter(col("doc_id") % 3 < 2)
    ingest(src, "documents", a)
    val root = pipeline.DeltaIndex.root(src, "documents", "graft_spec_concurrent")
    // Both builds must be in flight at once: the first to publish then
    // runs its GC while the other is still writing into its staging dir.
    val bothBuilding = new java.util.concurrent.CyclicBarrier(2)
    def sync(): Seq[java.nio.file.Path] =
      pipeline.DeltaIndex.sync(spark, src, "documents", root) { (delta, staging, _) =>
        bothBuilding.await(60, java.util.concurrent.TimeUnit.SECONDS)
        delta.select(col("doc_id")).write.parquet(s"$staging/ids.parquet")
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results =
      try {
        val fs = Seq.fill(2)(pool.submit(
          new java.util.concurrent.Callable[Seq[java.nio.file.Path]] { def call() = sync() }))
        fs.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      } finally pool.shutdown()
    assert(results(0) == results(1) && results(0).size == 1,
      s"concurrent syncs disagree: $results")
    assert(pipeline.DeltaIndex.liveBatches(root) == results(0))
    assert(writerDebris(root).isEmpty, s"leftover writer debris: ${writerDebris(root)}")
    assert(spark.read.parquet(s"${results(0).head}/ids.parquet").count() == a.count())
  }

  test("registry rehearsals run the real lifecycle: delta, compact, guarded") {
    import spark.implicits._
    def live(query: String, table: String, prefix: String, incPrefix: String) = {
      val rows = SparkEntry.queries(query)(spark, sfDir)
      val src = pipeline.DeltaIndex.rehearsalDir(sfDir, table, prefix).toString
      (rows, pipeline.DeltaIndex.liveBatches(pipeline.DeltaIndex.root(src, table, incPrefix)))
    }
    val inline = pipeline.DedupQueries.minhashPairs(docs)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val mh = pipeline.MinhashIndex.IncPrefix
    for ((q, prefix, batches) <- Seq(
           ("q_dedup_minhash_delta", "graft_minhash_delta", 2),
           ("q_dedup_minhash_compact", "graft_minhash_compact", 1))) {
      val (rows, batchDirs) = live(q, "documents", prefix, mh)
      assert(batchDirs.size == batches, s"$q: live batches $batchDirs")
      assert(rows.as[(Long, Long, Double)].collect().sorted.toSeq == inline,
        s"$q diverged from the inline sweep")
    }
    val ivf = pipeline.IvfAnn.IncPrefix
    val (_, delta) = live("q_ann_ivf_delta", "embeddings", "graft_ivf_delta", ivf)
    assert(delta.size == 2, s"q_ann_ivf_delta: live batches $delta")
    val (_, guarded) = live("q_ann_ivf_guarded", "embeddings", "graft_ivf_guard", ivf)
    assert(guarded.size == 1, s"q_ann_ivf_guarded: live batches $guarded")
    val covered = pipeline.DeltaIndex.coveredKeysOf(guarded.head)
    assert(covered.size == 2 && pipeline.DeltaIndex.trainedKeysOf(guarded.head) == covered,
      "the guard must leave one batch trained on both appends")
  }
}
