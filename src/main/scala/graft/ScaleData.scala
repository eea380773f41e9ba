package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SF1 dataset generator: disjoint-universe amplification of the shipped
  * sf0.1 corpus.
  *
  * BASELINE.md defines the operational baseline as "TPC-H SF1, local[*],
  * wall-clock per query", but the driver ships sf0.1 as the largest corpus.
  * This tool materializes an SF1-equivalent dataset by replicating every
  * table `factor` times with ALL key columns — primary AND foreign — shifted
  * by `copy * 1e9`. Each copy is therefore a disjoint key universe: every
  * join (lineitem↔orders↔customer, lineitem↔part/supplier) has exactly the
  * per-row selectivity of sf0.1, row counts and join cardinalities scale by
  * `factor`, and nation/region stay shared dimensions (their keys are NOT
  * shifted), matching how TPC-H's own dbgen scales facts with SF while the
  * region/nation dimensions stay fixed.
  *
  * Caveat — KEY joins only: key-shifting disjoints every equi-join on ids,
  * but documents/embeddings are replicated with IDENTICAL content, so
  * CONTENT-based workloads see a degenerate corpus (every doc has
  * factor-1 bit-identical twins; exact dedup flags ~everything, LSH/n-gram
  * candidate pairs grow ~factor², not factor). Likewise `events.ts` is
  * copied bit-identically: the TIME universe does not scale — every copy's
  * events land in the same windows, so time-windowed workloads
  * (sessionize, windowed aggs, watermarks) scale only in per-window
  * DENSITY, never in window count or time span. The SF1 record in
  * BASELINE.md therefore covers the TPC-H/TPC-DS subset only; use
  * ScaleSmoke's pipeline rehearsal (which accepts this duplication as its
  * stress shape) for the dedup/ANN tiers, and do not quote ScaleData-based
  * timings for them as if the corpus were organic.
  *
  * The output is NOT committed — it regenerates deterministically from the
  * driver's seed-42 sf0.1 parquet (TESTDATA.md) in ~30 s. Run:
  * `sbt "runMain graft.ScaleData [srcDir] [outDir] [factor]
  * [random|clustered|skewed|bucketed]"`.
  */
object ScaleData {
  /** Key columns shifted per copy. Every FK shifts with its PK so each copy
    * joins only within itself (a disjoint universe). */
  val shiftCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))

  /** Shared dimensions: copied through unamplified (as dbgen does). */
  val fixed: Seq[String] = Seq("region", "nation")

  /** FACT-side foreign keys that collapse onto zipfian hot universes under
    * `layout=skewed` (PK columns always keep the full disjoint shift, so
    * every collapsed FK still references a real PK universe). */
  val skewFkCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_custkey"),
    "events" -> Seq("user_id"))

  /** DENSE foreign keys (generator keys run 0..N−1) that additionally
    * collapse onto [[HotKeys]] mega-keys for the hot half of the copies:
    * universe-level zipf alone cannot skew a hash PARTITION (a universe
    * holds many distinct keys, which hashing re-balances) — partition-level
    * skew needs half the fact mass on fewer keys than there are shuffle
    * partitions. l_orderkey is excluded (sparse — a value collapse could
    * dangle), so it carries universe/groupBy skew only. */
  val hotFkCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_partkey", "l_suppkey"),
    "orders" -> Seq("o_custkey"),
    "events" -> Seq("user_id"))
  val HotKeys = 8

  /** Cluster key per fact for `layout=clustered` — the layout a real
    * deployment maintains for its highest-traffic aggregate/join key
    * (lineitem by orderkey, orders by orderkey, events by time). Emitted as
    * a RANGE partitioning + within-file sort, so each parquet file covers a
    * contiguous key range: map-side partial aggregation combines a key's
    * rows before any exchange, and min/max footer stats prune key-range
    * scans. Measured motivation (BASELINE.md SF30): q18's per-order
    * aggregate ran 39.3 s on the random layout vs 22.9 s hash-clustered —
    * the one super-linear TPC-H residual was layout, not plan. */
  val clusterKeys: Map[String, String] = Map(
    "lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey",
    "events" -> "ts")

  /** Bucket key per table for `layout=bucketed` (VERDICT r14/r15 #4):
    * orders AND customer bucketed on custkey, the join+agg key of the
    * q13 shape whose two fact-sized exchanges are the measured residual.
    * Both sides share ONE bucket count, so the join plans with zero
    * Exchange below it (see Tables.bucketedTable / BucketedJoinSpec). */
  val bucketKeys: Map[String, String] = Map(
    "orders" -> "o_custkey",
    "customer" -> "c_custkey")

  /** One file per bucket; sized so SF30 orders buckets land near full
    * parquet splits (~45 M rows / 320 ≈ 140 k rows each). */
  def bucketCount(factor: Int): Int = math.max(32, 32 * factor / 30)

  def amplify(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int, layout: String = "random",
      tables: Option[Set[String]] = None): Unit = {
    require(Set("random", "clustered", "skewed", "bucketed")(layout),
      s"layout must be random|clustered|skewed|bucketed, got $layout")
    tables.foreach { ts =>
      val unknown = ts.diff(shiftCols.keySet ++ fixed)
      require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(",")}")
    }
    val copies = spark.range(factor).select(col("id").as("__copy"))
    // layout=skewed (VERDICT r12 #4): the uniform amplifier gives every key
    // exactly sf0.1's per-key cardinality, so the AQE-skew-split claim was
    // only ever pinned on balanced data. Here each copy's FACT-side FKs
    // collapse onto universe t(c) = floor(factor/(c+1)) − 1: universe t
    // receives ~factor/((t+1)(t+2)) copies, i.e. a zipf-like tail where
    // universe 0 (the ORIGINAL keys) absorbs HALF of all fact rows — the
    // one-tenant-is-half-the-traffic shape real deployments see. Join
    // cardinality and groupBy fan-in on l_orderkey/o_custkey/user_id
    // become zipfian while referential integrity holds (every target
    // universe's PKs exist — PK columns keep the full shift). Document
    // LENGTHS skew the same way: copy c's texts repeat ~factor/(2(c+1))×,
    // so the text tier sees a heavy-tailed length distribution instead of
    // the fixture's uniform short docs.
    val zipfTarget = greatest(lit(0L),
      floor(lit(factor.toDouble) / (col("__copy") + 1)).cast("long") - 1)
    // Only the true fact tables need spreading over many files for a
    // 32-thread scan (the cross-join otherwise inherits the source's file
    // count); repartitioning every amplified dimension produced 32 tiny
    // parquet files each (customer/supplier/part at sf0.1 scale) plus a
    // needless full shuffle per table.
    val facts = Set("lineitem", "orders", "events")
    for ((name, keys) <- shiftCols if tables.forall(_.contains(name))) {
      var df = Tables.table(spark, srcDir, name).crossJoin(broadcast(copies))
      val fkSkewed: Set[String] =
        if (layout == "skewed") skewFkCols.getOrElse(name, Nil).toSet
        else Set.empty
      val fkHot: Set[String] =
        if (layout == "skewed") hotFkCols.getOrElse(name, Nil).toSet
        else Set.empty
      keys.foreach { k =>
        val shift = if (fkSkewed(k)) zipfTarget else col("__copy")
        val shifted = col(k) + shift * 1000000000L
        df = df.withColumn(k,
          if (fkHot(k))
            // Hot half (t(c)=0): squash onto HotKeys dense universe-0 keys
            // — half of all fact rows land on 8 customers/suppliers/parts/
            // users, the real-world mega-tenant shape.
            when(zipfTarget === 0, pmod(col(k), lit(HotKeys.toLong)))
              .otherwise(shifted)
          else shifted)
      }
      if (name == "documents" && layout == "skewed")
        df = df.withColumn("text", array_join(array_repeat(col("text"),
          greatest(lit(1), floor(lit(factor.toDouble) /
            ((col("__copy") + 1) * 2)).cast("int"))), " "))
      val out = df.drop("__copy")
      // Fact file count scales with the amplification so SF10 (factor 100)
      // still yields ~full-size splits rather than 32 giant ones.
      val nFactParts = math.max(32, 32 * factor / 10)
      if (layout == "bucketed" && bucketKeys.contains(name)) {
        // Bucketed layout: the write-time shuffle IS the product — files
        // carry Spark's bucket-id naming, and the marker lets Tables
        // re-register the catalog spec in any later session. saveAsTable
        // with an explicit path makes the table EXTERNAL: dropping the
        // writer-session catalog entry leaves the files.
        val key = bucketKeys(name)
        val n = bucketCount(factor)
        val path = s"$outDir/$name.parquet"
        val tmpTbl = s"graft_gen_bkt_$name"
        spark.sql(s"DROP TABLE IF EXISTS $tmpTbl")
        out.repartition(n, col(key)) // one file per bucket, not tasks×n
          .write.bucketBy(n, key).sortBy(key)
          .option("path", path).mode("overwrite")
          .format("parquet").saveAsTable(tmpTbl)
        spark.sql(s"DROP TABLE $tmpTbl")
        val props = s"key=$key\nbuckets=$n\nsort=$key\n"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, Tables.BucketMarker),
          props.getBytes("UTF-8"))
      } else {
        val shaped =
          if (facts(name) && layout == "clustered" && clusterKeys.contains(name))
            out.repartitionByRange(nFactParts, col(clusterKeys(name)))
              .sortWithinPartitions(clusterKeys(name))
          else if (facts(name)) out.repartition(nFactParts)
          // Dims keep their (small) source partitioning at SF1 — no shuffle,
          // no 32-tiny-file spray; at factor>10 they do need spreading
          // (customer at factor 100 is ~1.5M rows from a 1-partition source).
          else if (factor > 10) out.repartition(math.max(2, factor / 10))
          else out
        shaped.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      }
    }
    fixed.withFilter(n => tables.forall(_.contains(n))).foreach { n =>
      Tables.table(spark, srcDir, n).write.mode("overwrite")
        .parquet(s"$outDir/$n.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val layout = args.lift(3).getOrElse("random")
    // optional 5th arg: comma list restricting generation to named tables
    // (e.g. `orders,customer` to add a bucketed pair beside an existing
    // corpus, symlinking the rest — regenerating 300× lineitem to re-layout
    // two tables would be 25 min of wasted amplification)
    val tables = args.lift(4).map(_.split(",").map(_.trim).toSet)
    val spark = Engine.session()
    val t0 = System.nanoTime()
    amplify(spark, srcDir, outDir, factor, layout, tables)
    println(f"[scaledata] $srcDir x$factor ($layout) -> $outDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
