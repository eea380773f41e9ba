package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.DocumentsStreaming

/** Pins the streaming face of the curation tier: the text-pipeline
  * expressions (shared with the batch tier) run inside microbatches, the
  * degenerate-document filter and watermarked content dedup behave
  * incrementally, and the banded-MinHash stream-static candidate join
  * finds planted near-dups against a static corpus index. */
class StreamingCurationSpec extends SparkSpec {

  import StreamingCurationSpec.{Doc, SDoc, Vec}
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("curation stream filters looping docs and dedups within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val query = DocumentsStreaming.curationStream(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("cur_out").start()
    val loop = Seq.fill(40)("buy now").mkString(" ")
    input.addData(
      Doc(1, "alpha beta gamma delta epsilon zeta", ts("2024-01-01 10:00:00")),
      Doc(2, loop, ts("2024-01-01 10:00:10")), // degenerate: filtered
      Doc(3, "Alpha  beta GAMMA delta epsilon zeta", // content dup of 1
          ts("2024-01-01 10:00:20")))
    query.processAllAvailable()
    // Second batch: another copy of doc 1's content inside the horizon —
    // still deduped — plus genuinely new content.
    input.addData(
      Doc(4, "alpha beta gamma delta epsilon zeta", ts("2024-01-01 10:05:00")),
      Doc(5, "totally different words entirely here", ts("2024-01-01 10:05:10")))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("cur_out").collect()
      .map(r => r.getLong(0)).toSet
    assert(out == Set(1L, 5L),
      s"expected only first-seen distinct survivors, got $out")
  }

  test("curation stream restarts from checkpoint: no duplicate, no loss") {
    // Failure-recovery contract: kill the query after a committed batch,
    // let data arrive while it is DOWN (the crash window), restart from the
    // same checkpoint, and the output must be exactly-once — the restarted
    // query must (a) not re-emit batch-1 rows (file-sink transaction log),
    // (b) still dedup a content copy of a PRE-restart document (the
    // dropDuplicatesWithinWatermark state store recovered from checkpoint),
    // (c) not lose the pending documents.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val dir = tmp("restart")
    def start() = DocumentsStreaming.curationStream(input.toDF())
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", s"$dir/cp")
      .option("path", s"$dir/out").start()
    val q1 = start()
    input.addData(
      Doc(1, "alpha beta gamma delta epsilon", ts("2024-01-01 10:00:00")),
      Doc(2, "one two three four five six", ts("2024-01-01 10:00:05")))
    q1.processAllAvailable()
    q1.stop()
    // Arrives while no query is running: a content dup of doc 1 inside the
    // watermark horizon, plus genuinely new content.
    input.addData(
      Doc(3, "ALPHA  beta GAMMA delta epsilon", ts("2024-01-01 10:02:00")),
      Doc(4, "completely fresh new words here", ts("2024-01-01 10:02:10")))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(s"$dir/out")
    val ids = out.select($"doc_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 4L),
      s"exactly-once survivors must be 1,2,4 — got $ids")
    // belt-and-braces: one row per content fingerprint, no sink replays
    assert(out.select($"fingerprint").distinct().count() == ids.length)
  }

  test("stream-static near-dup candidates probe the corpus index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Static corpus: two documents; the stream sends a near-copy of one.
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (100L, base, "en"), (200L, other, "en"))
      .toDF("doc_id", "text", "lang")
    val input = MemoryStream[SDoc]
    val query = DocumentsStreaming.nearDupCandidates(input.toDF(), corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName("cand_out").start()
    // Near-copy of corpus doc 100 (one token swapped) + unrelated text.
    input.addData(
      SDoc(9000L, base.replace("tok7", "changed"), "en"),
      SDoc(9001L, "nothing in common with anything at all", "en"))
    query.processAllAvailable()
    query.stop()
    val cands = spark.table("cand_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cands.exists { case (s, c, j) => s == 9000L && c == 100L && j > 0.8 },
      s"planted near-dup not found: ${cands.toSeq}")
    assert(!cands.exists(_._1 == 9001L), "unrelated doc must not collide")
  }

  test("indexed stream-static near-dup: same pairs, zero corpus-text reads") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Corpus WITH an exact-duplicate group {100, 101}: the standing
    // artifact stores one banded signature per representative plus the
    // member map, and a stream hit on the rep must expand to BOTH members.
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (100L, base, "en"), (101L, base, "en"), (200L, other, "en"))
      .toDF("doc_id", "text", "lang")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-stream-minhash-idx").toString
    pipeline.MinhashIndex.buildSignatures(corpus, idxDir)

    val probes = Seq(
      SDoc(9000L, base.replace("tok7", "changed"), "en"),
      SDoc(9001L, "nothing in common with anything at all", "en"))

    // Batch reference: the text-derived probe over the same data — the
    // indexed variant must reproduce its pair MULTISET exactly (per-band
    // multiplicity included: a rep collision in band b stands for every
    // member's identical banded row in band b).
    val want = DocumentsStreaming
      .nearDupCandidates(probes.toDF(), corpus.select($"doc_id", $"text", $"lang"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq

    val indexedBatch =
      DocumentsStreaming.nearDupCandidatesIndexedMulti(probes.toDF(), Seq(idxDir))
    // The static side must read the ARTIFACT only — never the corpus text.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scanPaths = indexedBatch.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanPaths.nonEmpty && scanPaths.forall(_.contains(idxDir)),
      s"indexed probe must scan only the artifact: $scanPaths")

    val gotBatch = indexedBatch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(gotBatch == want,
      s"indexed probe diverged from the text-derived probe:\n got=$gotBatch\n want=$want")
    assert(gotBatch.count { case (s, c, _) => s == 9000L && (c == 100L || c == 101L) } >= 2,
      s"rep hit must expand to both exact-dup members: $gotBatch")

    // Same code path as a STREAMING query (stream side is pure
    // projections, static side the artifact parquet).
    val input = MemoryStream[SDoc]
    val query = DocumentsStreaming
      .nearDupCandidatesIndexedMulti(input.toDF(), Seq(idxDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("cand_idx_out").start()
    input.addData(probes: _*)
    query.processAllAvailable()
    query.stop()
    val gotStream = spark.table("cand_idx_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(gotStream == want,
      s"streaming run diverged: got=$gotStream want=$want")
  }
  test("streaming probe shares the INCREMENTAL artifact lifecycle with the batch sweep") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Corpus ingested in two appends (one part file each), indexed with the
    // batch tier's own incremental lifecycle — the streaming probe must
    // read the SAME live batch partitions, answer exactly like the
    // text-derived probe over the combined corpus, and never touch the
    // corpus text.
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val srcDir = tmp("graft_stream_inc_src")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(srcDir, "documents.parquet"))
    def append(n: Int, rows: Seq[(Long, String, String)]): Unit = {
      val staging = tmp(s"graft_stream_inc_b$n")
      rows.toDF("doc_id", "text", "lang").coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(staging))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(f,
        java.nio.file.Paths.get(srcDir, "documents.parquet", s"part-$n.parquet"))
    }
    // batch 0 holds doc 100; batch 1 holds its exact duplicate 101 — the
    // cross-batch content group the union argument hinges on.
    append(0, Seq((100L, base, "en"), (200L, other, "en")))
    pipeline.MinhashIndex.ensureIncremental(spark, srcDir)
    append(1, Seq((101L, base, "en"), (300L, (500 to 530).map(i => s"z$i").mkString(" "), "en")))
    val batchDirs = pipeline.MinhashIndex.ensureIncremental(spark, srcDir)
    assert(batchDirs.size == 2, s"expected two live batches, got $batchDirs")

    val probes = Seq(
      SDoc(9000L, base.replace("tok7", "changed"), "en"),
      SDoc(9001L, "nothing in common with anything at all", "en"))
    val corpus = spark.read.parquet(s"$srcDir/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    val want = DocumentsStreaming.nearDupCandidates(probes.toDF(), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(want.count { case (s, c, _) => s == 9000L && (c == 100L || c == 101L) } >= 2,
      s"fixture must hit both cross-batch duplicate members: $want")

    val indexed = DocumentsStreaming
      .nearDupCandidatesIndexedMulti(probes.toDF(), batchDirs)
    // artifact-only scan set (the bucket-join plan pin): every parquet
    // root must be a live batch partition, never the corpus table
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scanPaths = indexed.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanPaths.nonEmpty &&
      scanPaths.forall(p => batchDirs.exists(p.contains)),
      s"probe must scan only the live artifact batches: $scanPaths")

    val gotBatch = indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(gotBatch == want,
      s"incremental-artifact probe diverged:\n got=$gotBatch\n want=$want")

    // and as an actual STREAMING query over the same artifact
    val input = MemoryStream[SDoc]
    val query = DocumentsStreaming
      .nearDupCandidatesIndexedMulti(input.toDF(), batchDirs)
      .writeStream.outputMode("append")
      .format("memory").queryName("cand_inc_out").start()
    input.addData(probes: _*)
    query.processAllAvailable()
    query.stop()
    val gotStream = spark.table("cand_inc_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(gotStream == want,
      s"streaming run over the incremental artifact diverged: got=$gotStream want=$want")

    // COMPACTION under the shared lifecycle: rebase the two batches into
    // one (artifact-only — no corpus scan) and the stream probe over the
    // re-listed single batch answers identically, cross-batch duplicate
    // representatives included.
    val compacted = pipeline.MinhashIndex.compactIncremental(spark, srcDir)
    assert(compacted.size == 1)
    val input2 = MemoryStream[SDoc]
    val q2 = DocumentsStreaming
      .nearDupCandidatesIndexedMulti(input2.toDF(), compacted)
      .writeStream.outputMode("append")
      .format("memory").queryName("cand_cmp_out").start()
    input2.addData(probes: _*)
    q2.processAllAvailable()
    q2.stop()
    val gotCompacted = spark.table("cand_cmp_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(gotCompacted == want,
      s"stream probe over the COMPACTED artifact diverged: got=$gotCompacted want=$want")
  }

  test("stream-static centroid assignment routes vectors to their batch cluster") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = pipeline.Clustering.trainedCentroids(corpus)
    // Batch truth: the full kmeans assignment over the same corpus.
    val batch = pipeline.Clustering.kmeans(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // Stream copies of three corpus vectors through the stateless path.
    val probeIds = batch.keys.toSeq.sorted.take(3)
    val probes = corpus.filter($"vec_id".isin(probeIds: _*))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val input = MemoryStream[Vec]
    val query = DocumentsStreaming
      .clusterAssign(input.toDF(), centroids)
      .writeStream.outputMode("append")
      .format("memory").queryName("route_out").start()
    input.addData(probes.map(p => Vec(p._1, p._2)).toSeq: _*)
    query.processAllAvailable()
    query.stop()
    val routed = spark.table("route_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(routed.keySet == probeIds.toSet)
    probeIds.foreach { id =>
      assert(routed(id) == batch(id),
        s"vec $id routed to ${routed(id)}, batch assigned ${batch(id)}")
    }
  }
}

object StreamingCurationSpec {
  case class Doc(doc_id: Long, text: String, ingest_ts: Timestamp)
  case class SDoc(doc_id: Long, text: String, lang: String)
  case class Vec(vec_id: Long, embedding: Array[Float])
}
