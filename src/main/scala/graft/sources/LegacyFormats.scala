package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.AvroKeyInputFormat
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.serde2.columnar.BytesRefArrayWritable
import org.apache.hadoop.hive.ql.io.RCFileInputFormat
import org.apache.hadoop.io.{LongWritable, NullWritable, Text, Writable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit, replace}
import org.apache.spark.sql.types._

/** Readers for the reference's legacy HDFS file formats
  * (`fe/.../catalog/HdfsFileFormat.java`: TEXT, SEQUENCE, RC, AVRO,
  * PARQUET) that Spark has no built-in datasource for in this offline
  * environment.
  *
  * Design: each format's *container* is unwrapped with the stock Hadoop
  * input format (split-aware, so reads parallelize per HDFS block exactly
  * like the reference's scan-range model, `hdfs-scan-node.h:75-90`), and the
  * delimited row *payload* goes through one shared escape-aware parser
  * (`parseDelimited`) speaking the Hive/Impala text convention — backslash
  * escapes + the `\N` null sentinel. This mirrors the reference's layering:
  * `base-sequence-scanner.cc` unwraps the container,
  * `delimited-text-parser.cc` parses rows.
  *
  * Avro carries its own schema, so records map straight to rows
  * (`hdfs-avro-scanner.cc`'s schema-resolution path; flat primitive schemas
  * only — the reference era has no nested types, SURVEY §1.2).
  */
object LegacyFormats {

  // ---- SequenceFile (reference: hdfs-sequence-scanner.cc 498 LoC) ----

  /** Read a SequenceFile[*, Text] of `sep`-delimited rows (any key type —
    * the row payload is the value, as in the reference's scanner). */
  def readSequenceText(spark: SparkSession, path: String, schema: StructType,
                       sep: String = "|", esc: Char = '\\'): DataFrame = {
    val lines = spark.sparkContext.hadoopFile(
        path,
        classOf[org.apache.hadoop.mapred.SequenceFileInputFormat[Writable, Text]],
        classOf[Writable], classOf[Text])
      .map(_._2.toString) // copy now: Hadoop reuses the Writable
    parseDelimited(spark, lines, schema, sep, esc)
  }

  /** Distributed SequenceFile sink: rows as `sep`-joined Text values in the
    * Hive/Impala delimited-text convention the reference's parser speaks
    * (`be/src/exec/delimited-text-parser.cc` escape handling):
    *  - NULL is the sentinel `\N` (so a genuinely empty string round-trips
    *    as "" and NULL as NULL — no conflation);
    *  - a literal backslash is escaped to `\\` and a literal separator char
    *    to `\<sep>`, so values containing the separator cannot shift later
    *    columns on read. */
  def writeSequenceText(df: DataFrame, path: String, sep: String = "|",
      codec: Option[Class[_ <: org.apache.hadoop.io.compress.CompressionCodec]]
        = None): Unit =
    df.select(delimitedLine(df, sep))
      .rdd.map(r => (NullWritable.get(), r.getString(0)))
      .saveAsSequenceFile(path, codec)

  /** One `sep`-joined line per row in the text convention above (escapes +
    * `\N`); shared by every delimited sink. KNOWN LIMIT: record
    * terminators inside field values are NOT escaped — the reference's
    * text parser reads `\<char>` as the literal char, so an escaped
    * newline cannot round-trip under its semantics; fields fed to the
    * line-oriented sinks must not contain `\n`/`\r` (the corpus's don't —
    * multi-line documents belong in parquet/sequence containers). */
  private[graft] def delimitedLine(df: DataFrame, sep: String) = {
    require(sep.length == 1, s"separator must be a single char, got '$sep'")
    concat_ws(sep, df.columns.map { c =>
      val s = col(c).cast(StringType)
      val escaped = replace(replace(s, lit("\\"), lit("\\\\")),
                            lit(sep), lit("\\" + sep))
      coalesce(escaped, lit(NullSentinel))
    }: _*)
  }

  // ---- bare delimited text files (reference: hdfs-text-scanner.cc +
  //      hdfs-text-table-writer.cc) ----

  /** Read `sep`-delimited text files at `path` — the container-less text
    * table surface; same payload conventions as the container-backed
    * readers. The reference's ROW FORMAT clause parameterizes all three
    * delimiters (`fields terminated by X escaped by Y lines terminated by
    * Z`, functional_schema_template.sql:755-800) and its text scanner is
    * byte-oriented, so extended-ASCII delimiters like `þ`/`ê` arrive via
    * `charset` (delimited-latin-text.test reads ISO-8859-1 bytes):
    *  - `esc`: the escape character (default backslash);
    *  - `lineSep`: the record terminator (default newline) — a non-default
    *    terminator goes through Hadoop's TextInputFormat record-delimiter
    *    support, so the read stays distributed and splittable;
    *  - `charset`: byte decoding of each record. */
  def readDelimitedText(spark: SparkSession, path: String, schema: StructType,
                        sep: String = "|", esc: Char = '\\',
                        lineSep: String = "\n",
                        charset: String = "UTF-8"): DataFrame = {
    val lines =
      if (lineSep == "\n" && charset.equalsIgnoreCase("UTF-8"))
        spark.sparkContext.textFile(path)
      else {
        // Hadoop encodes the record delimiter as UTF-8 bytes, so only
        // ASCII terminators match single-byte-charset files byte-for-byte
        // (an extended-ASCII FIELD delimiter is fine — fields are split
        // after decoding). A terminator >0x7F would need a byte-level
        // record reader; nothing in the reference corpus uses one.
        require(lineSep.forall(_ < 0x80),
          s"record terminator must be ASCII, got '$lineSep'")
        val conf = new org.apache.hadoop.conf.Configuration(
          spark.sparkContext.hadoopConfiguration)
        conf.set("textinputformat.record.delimiter", lineSep)
        val cs = charset // serializable capture (Charset itself is not)
        // NOTE: Hadoop swallows a trailing terminator itself and interior
        // empty records are legitimate rows — no filtering here, matching
        // the default textFile branch.
        val stripCr = lineSep == "\n" // parity with LineRecordReader's \r\n
        spark.sparkContext.newAPIHadoopFile(path,
            classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
            classOf[LongWritable], classOf[Text], conf)
          .map { case (_, t) =>
            // an explicit "\n" record delimiter disables Hadoop's CRLF
            // handling; strip the trailing \r ourselves so a CRLF file
            // parses identically under any charset
            val len =
              if (stripCr && t.getLength > 0 &&
                  t.getBytes()(t.getLength - 1) == '\r') t.getLength - 1
              else t.getLength
            new String(t.getBytes, 0, len,
                       java.nio.charset.Charset.forName(cs)) }
      }
    parseDelimited(spark, lines, schema, sep, esc)
  }

  /** Distributed delimited-text sink (same escape/`\N` conventions). */
  def writeDelimitedText(df: DataFrame, path: String, sep: String = "|"): Unit =
    df.select(delimitedLine(df, sep).as("value"))
      .write.mode("overwrite").text(path)

  /** Driver-side RCFile sink for fixture-scale data (the columnar text
    * payload [[readRcfileText]] scans — values carry the same escapes so
    * re-joining columns with `sep` parses losslessly). A tool for test-table
    * construction, not a distributed write path. */
  def writeRcfileText(spark: SparkSession, df: DataFrame, path: String,
                      sep: String = "|"): Unit = {
    import org.apache.hadoop.hive.ql.io.{RCFile, RCFileOutputFormat}
    import org.apache.hadoop.hive.serde2.columnar.BytesRefWritable
    require(sep.length == 1, s"separator must be a single char, got '$sep'")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val nCols = df.schema.length
    RCFileOutputFormat.setColumnNumber(conf, nCols)
    val file = new Path(path, "part-00000.rc")
    val writer = new RCFile.Writer(file.getFileSystem(conf), conf, file)
    try df.select(df.columns.map { c =>
        val s = col(c).cast(StringType)
        val escaped = replace(replace(s, lit("\\"), lit("\\\\")),
                              lit(sep), lit("\\" + sep))
        coalesce(escaped, lit(NullSentinel)).as(c)
      }.toIndexedSeq: _*).collect().foreach { r =>
        val braw = new BytesRefArrayWritable(nCols)
        (0 until nCols).foreach { i =>
          braw.set(i, new BytesRefWritable(r.getString(i).getBytes(
            StandardCharsets.UTF_8)))
        }
        writer.append(braw)
      }
    finally writer.close()
  }

  // ---- RCFile (reference: hdfs-rcfile-scanner.cc 574 LoC) ----

  /** Read an RCFile whose columns are UTF-8 text (the Hive ColumnarSerDe
    * text layout the reference scans). Column-group bytes are re-joined to a
    * delimited line and parsed by the shared CSV path. */
  def readRcfileText(spark: SparkSession, path: String, schema: StructType,
                     sep: String = "|", esc: Char = '\\'): DataFrame = {
    val nCols = schema.length
    val lines = spark.sparkContext.hadoopFile(
        path,
        classOf[RCFileInputFormat[LongWritable, BytesRefArrayWritable]],
        classOf[LongWritable], classOf[BytesRefArrayWritable])
      .map { case (_, v) =>
        val sb = new java.lang.StringBuilder
        // rows short of the schema NULL-fill their missing trailing columns
        // (the reference scanner's behavior, and what the shared text path
        // does for short lines) instead of crashing on v.get(i)
        val present = math.min(nCols, v.size)
        var i = 0
        while (i < present) {
          if (i > 0) sb.append(sep)
          val ref = v.get(i)
          sb.append(new String(ref.getData, ref.getStart, ref.getLength,
                               StandardCharsets.UTF_8))
          i += 1
        }
        while (i < nCols) { // absent columns -> the \N sentinel
          if (i > 0) sb.append(sep)
          sb.append(NullSentinel)
          i += 1
        }
        sb.toString
      }
    parseDelimited(spark, lines, schema, sep, esc)
  }

  /** NULL sentinel of the Hive/Impala delimited-text convention: a raw
    * (pre-unescape) field equal to backslash-N means SQL NULL. */
  private[sources] val NullSentinel = "\\N"

  /** Parse raw delimited-text lines (the text-scanner payload convention:
    * backslash escapes, `\N` null sentinel, empty field = empty string) with
    * no container file — the reference's standalone delimited-text scanner
    * surface (`be/src/exec/delimited-text-parser.cc`), exposed for in-memory
    * payloads (e.g. fixture tables). */
  def readDelimitedLines(spark: SparkSession, lines: Seq[String],
                         schema: StructType, sep: String = "|",
                         esc: Char = '\\'): DataFrame =
    parseDelimited(spark, spark.sparkContext.parallelize(lines), schema, sep,
                   esc)

  /** LZO-compressed text tables (`compression_codec: lzo` across the
    * reference's workload matrices; scanner shim
    * `be/src/exec/hdfs-lzo-text-scanner.cc`) via the lzop reader in
    * [[Lzop]]. Parallelism follows the reference's scan-range
    * model: with a hadoop-lzo `.index` side file, each file splits into
    * block ranges of ~`splitBytes` compressed bytes (one task each, lines
    * spanning a boundary owned by the split where they start); without an
    * index an lzop stream is not splittable and reads as one task — the
    * same behavior the reference gets from its indexer
    * (`testdata/bin/lzo_indexer.sh`). `strict=false` is the reference's
    * abort_on_error=0: a corrupt block logs and keeps the rows already
    * decoded. */
  def readLzoText(spark: SparkSession, path: String, schema: StructType,
                  sep: String = "|", esc: Char = '\\',
                  strict: Boolean = false,
                  splitBytes: Long = 32L * 1024 * 1024): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      (if (fs.getFileStatus(root).isDirectory) fs.listStatus(root).toSeq
       else Seq(fs.getFileStatus(root)))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".lzo"))
    require(files.nonEmpty, s"no .lzo files under $path")
    case class Split(file: String, flags: Int, startOff: Long, nBlocks: Int,
                     leading: Boolean)
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    // Per-file header flags + index offsets are read in a distributed
    // metadata pass (one small collect of (flags, offsets) tuples), not a
    // serial driver loop — at warehouse scale a table holds 10^4-10^6 lzop
    // files and the driver must not open each one. Split arithmetic stays
    // on the driver: it is O(blocks) integer work on the collected offsets.
    val metas = spark.sparkContext
      .parallelize(files.map(st => (st.getPath.toString, st.getLen)),
        math.min(math.max(1, files.size), 64))
      .map { case (p, len) =>
        val fp = new Path(p)
        val (flags, firstOff) = Lzop.fileMeta(fp, serConf.value)
        (p, len, flags, firstOff, Lzop.readIndex(fp, serConf.value))
      }.collect()
    val splits = metas.toSeq.flatMap { case (p, len, flags, firstOff, index) =>
      index match {
        case Some(offsets) if offsets.nonEmpty =>
          // group consecutive blocks into ~splitBytes ranges by offset span
          val groups = Seq.newBuilder[(Int, Int)] // (firstBlockIdx, count)
          var start = 0
          var i = 1
          while (i <= offsets.length) {
            val spanEnd = if (i < offsets.length) offsets(i) else len
            if (spanEnd - offsets(start) >= splitBytes || i == offsets.length) {
              groups += ((start, i - start)); start = i
            }
            i += 1
          }
          val gs = groups.result()
          gs.zipWithIndex.map { case ((b0, n), gi) =>
            // the LAST split reads to the container terminator, not to the
            // indexed block count: a truncated/stale .index (killed
            // indexer, file appended after indexing) must not silently
            // drop the un-indexed tail blocks
            val count = if (gi == gs.length - 1) Int.MaxValue else n
            Split(p, flags, offsets(b0), count, b0 == 0)
          }
        case _ =>
          Seq(Split(p, flags, firstOff, Int.MaxValue, leading = true))
      }
    }
    val lines = spark.sparkContext
      .parallelize(splits, math.max(1, splits.size))
      .flatMap { sp =>
        Lzop.splitLines(new Path(sp.file), serConf.value, sp.flags,
          sp.startOff, sp.nBlocks, sp.leading, strict)
      }
    parseDelimited(spark, lines, schema, sep, esc)
  }

  /** Shared row-payload parser: `sep`-delimited text with NO quote handling
    * (a field that merely starts with '"' passes through verbatim) but WITH
    * backslash escapes and the `\N` null sentinel, matching the reference's
    * delimited-text parser (`be/src/exec/delimited-text-parser.cc`, escape
    * handling) and `writeSequenceText`'s output. Fields are split on
    * unescaped separators, compared against `\N` BEFORE unescaping (Hive
    * semantics: an escaped backslash-N is the literal two-char string),
    * then unescaped and cast to the schema. */
  private def parseDelimited(spark: SparkSession,
                             lines: org.apache.spark.rdd.RDD[String],
                             schema: StructType, sep: String,
                             esc: Char = '\\'): DataFrame = {
    require(sep.length == 1, s"separator must be a single char, got '$sep'")
    val sepCh = sep.charAt(0)
    val n = schema.length
    val rows = lines.map { line =>
      val raw = splitEscaped(line, sepCh, esc)
      Row.fromSeq((0 until n).map(i =>
        if (i < raw.length) decodeField(raw(i), esc) else null))
    }
    val asStrings = StructType(schema.map(f =>
      StructField(f.name, StringType, nullable = true)))
    val strDf = spark.createDataFrame(rows, asStrings)
    strDf.select(schema.map(f =>
      scanCast(col(f.name), f.dataType).as(f.name)): _*)
  }

  /** Scan-time conversion with the reference's overflow policy: its text
    * parser caps an out-of-range INTEGER at the type's min/max
    * (`be/src/util/string-parser.h:43-44` — "following the mysql behavior,
    * to cap values at the max/min value for that data type. This is
    * different from hive, which returns NULL"; overflow.test pins the
    * capped rows). A malformed field stays NULL (PARSE_FAILURE), and
    * float/double overflow follows IEEE to ±inf through the plain cast.
    * Entirely built-in expressions, so the conversion stays inside
    * whole-stage codegen. */
  private def scanCast(c: org.apache.spark.sql.Column,
                       dt: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{trim, when}
    def clamped(mn: Long, mx: Long) = {
      val t = trim(c)
      val isInt = t.rlike("^[+-]?[0-9]+$")
      val dec = t.cast(DecimalType(38, 0))
      when(isInt && dec.isNotNull && dec > mx, mx)
        .when(isInt && dec.isNotNull && dec < mn, mn)
        // 39+ digits overflow DECIMAL(38,0) itself: the sign picks the cap
        .when(isInt && dec.isNull && t.startsWith("-"), mn)
        .when(isInt && dec.isNull, mx)
        .otherwise(c.cast(dt))
        .cast(dt)
    }
    dt match {
      case ByteType => clamped(Byte.MinValue, Byte.MaxValue)
      case ShortType => clamped(Short.MinValue, Short.MaxValue)
      case IntegerType => clamped(Int.MinValue, Int.MaxValue)
      case LongType => clamped(Long.MinValue, Long.MaxValue)
      // non-integer types: non-ANSI cast (malformed -> NULL), same as the
      // CSV scanner
      case _ => c.cast(dt)
    }
  }

  /** Split on `sep`, treating `esc` as escaping the next char (the
    * escaped char is kept WITH its escape for `decodeField`). */
  private[sources] def splitEscaped(line: String, sep: Char,
                                    esc: Char = '\\'): Array[String] = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (ch == esc && i + 1 < line.length) {
        sb.append(ch).append(line.charAt(i + 1)); i += 2
      } else if (ch == sep) {
        fields += sb.toString; sb.setLength(0); i += 1
      } else { sb.append(ch); i += 1 }
    }
    fields += sb.toString
    fields.toArray
  }

  /** `\N` -> NULL; otherwise strip one level of `esc` escaping. */
  private[sources] def decodeField(raw: String,
                                   esc: Char = '\\'): String =
    if (raw == NullSentinel) null
    else if (raw.indexOf(esc.toInt) < 0) raw
    else {
      val sb = new java.lang.StringBuilder(raw.length)
      var i = 0
      while (i < raw.length) {
        val ch = raw.charAt(i)
        if (ch == esc && i + 1 < raw.length) {
          sb.append(raw.charAt(i + 1)); i += 2
        } else { sb.append(ch); i += 1 }
      }
      sb.toString
    }

  // ---- Avro object container files (reference: hdfs-avro-scanner.cc) ----

  /** Read Avro container files. Without `readerSchemaJson`, the schema is
    * taken from the first file's header (the reference's schema-resolution
    * default). With it, each file's WRITER schema is resolved against the
    * given READER schema — Avro's standard resolution, the same rules
    * `hdfs-avro-scanner.cc` implements: fields matched by name in any
    * order, missing fields filled from reader defaults, extra writer
    * fields skipped, and int→long/float/double type promotion
    * (avro-schema-resolution.test runs files of two different writer
    * schemas through one reader schema). */
  def readAvro(spark: SparkSession, path: String,
               readerSchemaJson: Option[String] = None): DataFrame = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val avroSchema = readerSchemaJson match {
      case Some(json) => new Schema.Parser().parse(json)
      case None =>
        val first = fs.listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".avro")).sortBy(_.getName).headOption
          .getOrElse(
            throw new IllegalArgumentException(s"no .avro files in $path"))
        val in = fs.open(first)
        try {
          val s = new DataFileStream(in, new GenericDatumReader[GenericRecord]())
          try s.getSchema finally s.close()
        } finally in.close()
    }
    // the reader schema rides the same key AvroJob.setInputKeySchema sets;
    // AvroKeyRecordReader then resolves each file's writer schema to it
    readerSchemaJson.foreach(j => conf.set("avro.schema.input.key", j))
    val sparkSchema = toStructType(avroSchema)
    val schemaJson = avroSchema.toString
    val rows = spark.sparkContext.newAPIHadoopFile(
        path,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable], conf)
      .mapPartitions { it =>
        // per-field converters: decimal fields carry their scale (the
        // unscaled value arrives as bytes), everything else is generic
        val fields = new Schema.Parser().parse(schemaJson).getFields.asScala
          .map(f => (f.name, decimalScale(f.schema()))).toArray
        it.map { case (k, _) =>
          val rec = k.datum()
          Row.fromSeq(fields.toIndexedSeq.map { case (n, scale) =>
            fromAvro(rec.get(n), scale) })
        }
      }
    spark.createDataFrame(rows, sparkSchema)
  }

  /** Scale of an avro `decimal` logical type (unions unwrapped), or -1. */
  private def decimalScale(s: Schema): Int = {
    val base = if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s
    base.getLogicalType match {
      case d: org.apache.avro.LogicalTypes.Decimal => d.getScale
      case _ => -1
    }
  }

  /** Avro → Spark schema for the reference-era surface (flat records of
    * primitives, nullability via `union {null, T}`). */
  def toStructType(s: Schema): StructType = {
    require(s.getType == Schema.Type.RECORD, s"expected a record schema, got $s")
    StructType(s.getFields.asScala.toSeq.map { f =>
      val (t, nullable) = unwrap(f.schema())
      StructField(f.name(), t, nullable)
    })
  }

  private def unwrap(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1, s"only [null, T] unions supported, got $s")
      (primitive(nonNull.head), branches.size > nonNull.size)
    case _ => (primitive(s), false)
  }

  private def primitive(s: Schema): DataType = s.getLogicalType match {
    case d: org.apache.avro.LogicalTypes.Decimal =>
      // bytes/fixed + `decimal` logical type (hdfs-avro-scanner.cc's
      // decimal path; avro_decimal_tbl in the reference dataset)
      DecimalType(d.getPrecision, d.getScale)
    case _ => s.getType match {
      case Schema.Type.STRING => StringType
      case Schema.Type.INT => IntegerType
      case Schema.Type.LONG => LongType
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.BYTES => BinaryType
      case other => throw new IllegalArgumentException(
        s"unsupported avro type $other (reference-era schemas are flat primitives)")
    }
  }

  private def fromAvro(v: Any, decimalScale: Int = -1): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case bb: java.nio.ByteBuffer =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a)
      if (decimalScale >= 0)
        new java.math.BigDecimal(new java.math.BigInteger(a), decimalScale)
      else a
    case f: org.apache.avro.generic.GenericFixed if decimalScale >= 0 =>
      new java.math.BigDecimal(
        new java.math.BigInteger(f.bytes()), decimalScale)
    case other => other
  }
}
