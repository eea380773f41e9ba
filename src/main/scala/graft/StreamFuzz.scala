package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.DocumentsStreaming

/** Differential fuzzer for the STREAMING curation tier (VERDICT r18
  * task 6): the batch surface carries 30 000+ differential fuzz cases
  * (tools/fuzz.py + graft.FormatFuzz); streaming had only hand-written
  * specs. Each case generates a salted corpus, splits it into random
  * microbatches, replays it through the streaming operators via
  * MemoryStream, and pins the result against the BATCH twin:
  *
  *  - `curationStream`: stream output must equal
  *    filter(dup_5gram_frac < t) + first-seen-per-fingerprint over the
  *    SAME metrics expressions on a batch frame
  *    ([[DocumentsStreaming.curationMetrics]]). The survivor's metrics
  *    must match the batch row bit-for-bit, and its microbatch index must
  *    be the fingerprint group's first batch (cross-batch dedup state);
  *    within one microbatch any group member may win (Spark does not
  *    define intra-batch order), so survivor identity is pinned only
  *    across batches.
  *  - `nearDupCandidates`: the stream-static probe is stateless, so the
  *    union of per-microbatch outputs must equal the batch call's pair
  *    multiset EXACTLY, for any split.
  *  - `nearDupCandidatesIndexedMulti`: same pair multiset probed through a
  *    standing [[pipeline.MinhashIndex]] artifact of the corpus (built
  *    per case — exercises contraction inside the artifact when the
  *    generated corpus carries exact-duplicate groups).
  *
  * The corpus generator salts what the tier's semantics hinge on: exact
  * duplicates (same/different microbatch), near-duplicates (1–2 token
  * swaps), whitespace/case variants that collapse under normalizedText,
  * degenerate looping docs (the dup_5gram filter), empty / 1-token /
  * null texts (shingle floor, null fingerprints), and multibyte tokens.
  * Timestamps are strictly increasing and confined inside the watermark
  * horizon — the regime where streaming dedup semantics are defined and
  * the batch twin is exact.
  *
  * Run: `java -cp ... graft.StreamFuzz [cases] [seed]`. Exit 1 on any
  * divergence; per-case seeds print with failures so a case replays
  * alone. Results banked in COVERAGE.md.
  */
object StreamFuzz {

  final case class Doc(doc_id: Long, text: String, ingest_ts: Timestamp)
  final case class SDoc(doc_id: Long, text: String, lang: String)

  private val Vocab = (1 to 40).map(i => s"tok$i") ++
    Seq("héllo", "wörld", "日本語", "🌍emoji", "UPPER", "MiXeD")

  private def randText(r: Random): String = r.nextInt(10) match {
    case 0 => "" // empty
    case 1 => Vocab(r.nextInt(Vocab.length)) // single token (below shingle floor)
    case 2 => // degenerate loop: dup_5gram_frac -> 1
      val phrase = Seq.fill(2 + r.nextInt(2))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      Seq.fill(20 + r.nextInt(20))(phrase).mkString(" ")
    case _ =>
      Seq.fill(5 + r.nextInt(30))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  /** Mutate an existing text the way real near-dup corpora drift. */
  private def mutate(r: Random, base: String): String = r.nextInt(4) match {
    case 0 => // whitespace/case variant: SAME normalized content
      val spaced = base.replace(" ", "  ")
      if (r.nextBoolean()) spaced.toUpperCase else s"  $spaced "
    case 1 => // swap one token: near-dup
      val toks = base.split("\\s+")
      if (toks.length < 2) base + " extra"
      else { toks(r.nextInt(toks.length)) = "swapped"; toks.mkString(" ") }
    case 2 => base + " appended trailer tokens here"
    case _ => base // exact duplicate
  }

  private def genCorpus(r: Random, n: Int, startId: Long): Seq[(Long, String)] = {
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val t =
        if (texts.nonEmpty && r.nextDouble() < 0.4)
          mutate(r, texts(r.nextInt(texts.length)))
        else if (r.nextDouble() < 0.05) null
        else randText(r)
      if (t != null) texts += t
      (startId + i, t)
    }
  }

  private def split[T](r: Random, xs: Seq[T], nBatches: Int): Seq[Seq[T]] = {
    val cuts = Seq.fill(xs.size)(r.nextInt(nBatches))
    (0 until nBatches).map(b => xs.zip(cuts).collect { case (x, c) if c == b => x })
  }

  def main(args: Array[String]): Unit = {
    val nCases = args.headOption.map(_.toInt).getOrElse(100)
    val seed0 = args.lift(1).map(_.toLong).getOrElse(20260816L)
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    var fails = 0
    var checks = 0
    def check(cond: Boolean, seed: Long, what: => String): Unit = {
      checks += 1
      if (!cond) { fails += 1; System.err.println(s"[stream-fuzz] FAIL seed=$seed: $what") }
    }

    for (case_ <- 0 until nCases) {
      val seed = seed0 + case_
      val r = new Random(seed)
      val corpus = genCorpus(r, 4 + r.nextInt(20), 1000L)
      val nBatches = 1 + r.nextInt(4)
      // strictly increasing timestamps, all inside the 10-min horizon
      val docs = corpus.zipWithIndex.map { case ((id, t), i) =>
        Doc(id, t, new Timestamp(1704103200000L + i * 4000L))
      }
      val batches = split(r, docs, nBatches).filter(_.nonEmpty)
      val batchOf = batches.zipWithIndex
        .flatMap { case (b, i) => b.map(d => d.doc_id -> i) }.toMap

      // ---- curationStream vs batch twin --------------------------------
      val sinkName = s"sf_cur_$case_"
      val input = MemoryStream[Doc]
      val q = DocumentsStreaming.curationStream(input.toDF())
        .writeStream.outputMode("append").format("memory")
        .queryName(sinkName).start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val got = spark.table(sinkName).collect().map(row =>
        (row.getLong(0),
         Option(row.get(2)).map(_.asInstanceOf[Double]),
         Option(row.get(3)).map(_.asInstanceOf[Double]),
         row.getString(4))).toSeq
      spark.catalog.dropTempView(sinkName)

      val twinRows = DocumentsStreaming
        .curationMetrics(docs.toDF())
        .filter(col("dup_5gram_frac") < 0.9)
        .collect().map(row =>
          (row.getLong(0),
           Option(row.get(2)).map(_.asInstanceOf[Double]),
           Option(row.get(3)).map(_.asInstanceOf[Double]),
           row.getString(4))).toSeq
      val twinByDoc = twinRows.map(t => t._1 -> t).toMap
      val twinGroups = twinRows.groupBy(_._4)
      // A null text has a null fingerprint; dropDuplicates keys nulls as one
      // group, like groupBy above, so compare the sets as Options.
      val gotPrints = got.map(t => Option(t._4)).sorted
      val wantPrints = twinGroups.keys.toSeq.map(Option(_)).sorted
      check(gotPrints == wantPrints, seed,
        s"curation fingerprint set: got=$gotPrints want=$wantPrints")
      got.foreach { g =>
        check(twinByDoc.get(g._1).contains(g), seed,
          s"curation survivor row != batch metrics row: $g vs ${twinByDoc.get(g._1)}")
        twinGroups.get(g._4).foreach { grp =>
          val firstBatch = grp.map(t => batchOf(t._1)).min
          check(batchOf(g._1) == firstBatch, seed,
            s"curation survivor ${g._1} from batch ${batchOf(g._1)}, group first batch $firstBatch")
        }
      }

      // ---- nearDupCandidates: microbatch union == batch multiset -------
      val statics = genCorpus(r, 3 + r.nextInt(12), 5000L)
        .map { case (id, t) => SDoc(id, t, if (r.nextBoolean()) "en" else "de") }
      val probes = genCorpus(r, 2 + r.nextInt(10), 9000L)
        .map { case (id, t) =>
          // half the probes mutate a STATIC doc so collisions actually occur
          val text = if (t != null && statics.nonEmpty && r.nextBoolean())
            Option(statics(r.nextInt(statics.length)).text).map(mutate(r, _)).getOrElse(t)
          else t
          SDoc(id, text, "en")
        }
      val staticDf = statics.toDF()
      val probeDf = probes.toDF()
      val want = DocumentsStreaming.nearDupCandidates(probeDf, staticDf)
        .collect().map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))
        .sorted.toSeq

      val sink2 = s"sf_cand_$case_"
      val input2 = MemoryStream[SDoc]
      val q2 = DocumentsStreaming.nearDupCandidates(input2.toDF(), staticDf)
        .writeStream.outputMode("append").format("memory")
        .queryName(sink2).start()
      split(r, probes, 1 + r.nextInt(3)).filter(_.nonEmpty)
        .foreach { b => input2.addData(b: _*); q2.processAllAvailable() }
      q2.stop()
      val got2 = spark.table(sink2).collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2))).sorted.toSeq
      spark.catalog.dropTempView(sink2)
      check(got2 == want, seed,
        s"nearDupCandidates: stream union=${got2.size} rows, batch=${want.size} rows")

      // ---- indexed probe == text-derived probe --------------------------
      val idxDir = java.nio.file.Files.createTempDirectory("graft_sf_idx").toString
      try {
        pipeline.MinhashIndex.buildSignatures(staticDf, idxDir)
        val gotIdx = DocumentsStreaming.nearDupCandidatesIndexedMulti(probeDf, Seq(idxDir))
          .collect().map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))
          .sorted.toSeq
        check(gotIdx == want, seed,
          s"indexed probe: got=${gotIdx.size} rows, batch=${want.size} rows")
      } finally {
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(idxDir))
      }

      if ((case_ + 1) % 25 == 0)
        System.err.println(s"[stream-fuzz] ${case_ + 1}/$nCases cases, $checks checks, $fails failures")
    }
    spark.stop()
    println(s"""{"metric":"stream_fuzz","cases":$nCases,"seed":$seed0,"checks":$checks,"failures":$fails}""")
    if (fails > 0) sys.exit(1)
  }
}
