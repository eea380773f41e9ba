package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Driver-checked round-trips for every legacy scanner in [[LegacyFormats]].
  *
  * Each query materializes the `supplier` table through one of the
  * reference's non-parquet storage formats — delimited text
  * (`be/src/exec/hdfs-text-scanner.cc`), SequenceFile
  * (`hdfs-sequence-scanner.cc`), RCFile (`hdfs-rcfile-scanner.cc`), lzop
  * text (`hdfs-lzo-text-scanner.cc`) and Avro (`hdfs-avro-scanner.cc`) —
  * then reads it back and returns the full table. The DuckDB oracle is the
  * same table straight off parquet, so a hash match proves the writer and
  * scanner are jointly lossless on every column (bigint, string, int,
  * double, with the `\N` sentinel and escape conventions in the payload
  * path). This upgrades the format scanners from spec-pinned to
  * oracle-checked.
  *
  * The supplier table keeps the round-trip cheap at bench scale (1k rows at
  * sf0.1) — the point is format fidelity, not scan throughput, which the
  * parquet-side queries measure.
  */
object FormatQueries {

  private val cols = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")

  private def supplier(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.table(spark, dir, "supplier").select(cols.map(c =>
      org.apache.spark.sql.functions.col(c)): _*)

  private def schemaOf(df: DataFrame): StructType = df.schema

  private val created =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.io.File]())
  sys.addShutdownHook {
    // repeated bench/verify rounds would otherwise accumulate a full
    // materialized table copy per format query per run
    created.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
  }

  /** A unique path that does NOT yet exist (Hadoop's old-API sinks refuse a
    * pre-existing output directory); removed at JVM exit. */
  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_fmt_$tag")
    created.add(d.toFile)
    d.toString + "/d"
  }

  /** Distributed text sink → container-less text scanner. */
  def textRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = supplier(spark, dir)
    val out = freshDir("text")
    LegacyFormats.writeDelimitedText(src, out)
    LegacyFormats.readDelimitedText(spark, out, schemaOf(src))
      .orderBy("s_suppkey")
  }

  /** Distributed SequenceFile sink → SequenceFile scanner. */
  def seqfileRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = supplier(spark, dir)
    val out = freshDir("seq")
    LegacyFormats.writeSequenceText(src, out)
    LegacyFormats.readSequenceText(spark, out, schemaOf(src))
      .orderBy("s_suppkey")
  }

  /** Fixture-scale RCFile writer → columnar RCFile scanner. */
  def rcfileRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = supplier(spark, dir)
    val out = freshDir("rc")
    LegacyFormats.writeRcfileText(spark, src, out)
    LegacyFormats.readRcfileText(spark, out, schemaOf(src))
      .orderBy("s_suppkey")
  }

  /** lzop writer (lzo1x-compressed blocks, hadoop-lzo index) → split LZO
    * scanner. The 64 KiB block size forces multi-block files so the
    * index-based split path — not just single-stream decode — is what the
    * oracle certifies. */
  def lzoRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = supplier(spark, dir)
    val out = freshDir("lzo")
    val lines = src.select(LegacyFormats.delimitedLine(src, "|").as("l"))
      .collect().map(_.getString(0))
    Lzop.writeText(lines.iterator, new Path(s"$out/supplier.lzo"),
      spark.sessionState.newHadoopConf(), blockSize = 64 * 1024)
    LegacyFormats.readLzoText(spark, out, schemaOf(src),
      splitBytes = 16 * 1024).orderBy("s_suppkey")
  }

  /** Avro container writer (nullable-union fields, the reference's table
    * layout) → Avro scanner with reader-schema resolution. */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val src = supplier(spark, dir)
    val out = freshDir("avro")
    val schema = SchemaBuilder.record("supplier").fields()
      .optionalLong("s_suppkey")
      .optionalString("s_name")
      .optionalInt("s_nationkey")
      .optionalDouble("s_acctbal")
      .endRecord()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    new java.io.File(out).mkdirs()
    w.create(schema, new java.io.File(out, "part-00000.avro"))
    try src.collect().foreach { r =>
      val rec = new GenericData.Record(schema)
      rec.put("s_suppkey", if (r.isNullAt(0)) null else r.getLong(0))
      rec.put("s_name", if (r.isNullAt(1)) null else r.getString(1))
      rec.put("s_nationkey", if (r.isNullAt(2)) null else r.getInt(2))
      rec.put("s_acctbal", if (r.isNullAt(3)) null else r.getDouble(3))
      w.append(rec)
    } finally w.close()
    LegacyFormats.readAvro(spark, out).orderBy("s_suppkey")
  }

  /** Timestamp fidelity through the text payload (supplier has none; the
    * orders key-slice is deterministic and SF-stable): written as Spark's
    * `cast(ts as string)` rendering, re-parsed by scanCast — a microsecond
    * drift or timezone slip breaks the hash against parquet-direct. */
  def textTsRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val src = graft.Tables.table(spark, dir, "orders")
      .where(col("o_orderkey") <= 4000)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val out = freshDir("text_ts")
    LegacyFormats.writeDelimitedText(src, out)
    LegacyFormats.readDelimitedText(spark, out, schemaOf(src))
      .orderBy("o_orderkey")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fmt_text" -> (textRoundtrip(_, _)),
    "q_fmt_seqfile" -> (seqfileRoundtrip(_, _)),
    "q_fmt_rcfile" -> (rcfileRoundtrip(_, _)),
    "q_fmt_lzo" -> (lzoRoundtrip(_, _)),
    "q_fmt_avro" -> (avroRoundtrip(_, _)),
    "q_fmt_text_ts" -> (textTsRoundtrip(_, _)))

  private val roundtripSql =
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey"

  val oracle: Map[String, String] =
    all.keys.filterNot(_ == "q_fmt_text_ts").map(_ -> roundtripSql).toMap +
      ("q_fmt_text_ts" ->
        ("SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate " +
          "FROM orders WHERE o_orderkey <= 4000 ORDER BY o_orderkey"))
}
