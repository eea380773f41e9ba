package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

import graft.sources.{LegacyFormats, Lzo, Lzop}

/** The LZO text surface (reference `compression_codec: lzo` dimension;
  * scanner shim hdfs-lzo-text-scanner.cc). Validation layers: a
  * known-answer oracle — the reference's own lzop file, whose per-block
  * adler32 must match the decoded output — plus round-trips through the
  * compressing writer and the DataErrorsTest recovery case. */
class LzoSpec extends SparkSpec {

  private def badLzo(dir: String): Path = {
    val in = getClass.getResourceAsStream("/data/bad_text.lzo")
    val p = Paths.get(dir, "bad_text.lzo")
    try Files.copy(in, p, StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    new Path(p.toString)
  }

  test("decompressor matches the reference file's adler32 known answers") {
    // bad_text.lzo's FIRST block is intact, real-lzop-compressed data with
    // an adler32 of the decompressed bytes in its header; readBlock throws
    // on any mismatch, so surviving it IS the known-answer check.
    val dir = tmp("graft_lzo_ka")
    val f = badLzo(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = f.getFileSystem(conf)
    val s = fs.open(f)
    val in = new java.io.DataInputStream(s)
    try {
      val h = Lzop.readHeader(in)
      val block = Lzop.readBlock(in, h).get
      assert(block.length == 262144)
      assert(new String(block, "UTF-8").count(_ == '\n') == 2570)
    } finally s.close()
  }

  test("corrupt block header carries the reference scanner's error") {
    // DataErrorsTest/hdfs-scan-node-errors.test pins the message for this
    // very file: the second block header declares a 536870911-byte block.
    val dir = tmp("graft_lzo_err")
    val f = badLzo(dir)
    val schema = StructType.fromDDL("line STRING")
    val e = intercept[org.apache.spark.SparkException] {
      LegacyFormats.readLzoText(spark, dir, schema, sep = "\t",
        strict = true).count()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage else rootMsg(t.getCause)
    assert(rootMsg(e).contains(
      "Blocksize: 536870911 is greater than LZO_MAX_BLOCK_SIZE: 67108864"))
  }

  test("lenient read recovers every row before the corruption") {
    // the reference under abort_on_error=0 surfaces the error AND the
    // surviving count (its fixture counts 5140 over TWO part files; only
    // part-00001 ships in-tree, contributing 2570)
    val dir = tmp("graft_lzo_recover")
    badLzo(dir)
    val schema = StructType.fromDDL("line STRING")
    val n = LegacyFormats.readLzoText(spark, dir, schema, sep = "\t").count()
    assert(n == 2570)
  }

  test("round-trip: lzop writer -> distributed reader, split by the index") {
    val dir = tmp("graft_lzo_rt")
    val conf = spark.sessionState.newHadoopConf()
    // block size small enough that lines span block boundaries and the
    // file splits into many ranges: the split-ownership convention is the
    // thing under test
    val rows = (0 until 5000).map(i => s"$i|name_$i|${i % 7}")
    Lzop.writeText(rows.iterator, new Path(s"$dir/data.lzo"), conf,
      blockSize = 1024)
    val schema = StructType.fromDDL("id INT, name STRING, grp INT")
    val back = LegacyFormats.readLzoText(spark, dir, schema,
      splitBytes = 4096)
    assert(back.count() == 5000)
    val got = back.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(got.sortBy(_._1).toSeq ==
      (0 until 5000).map(i => (i, s"name_$i", i % 7)))
    // and the index genuinely split the read into multiple tasks
    assert(Lzop.readIndex(new Path(s"$dir/data.lzo"), conf).get.length > 10)
  }

  test("round-trip without an index reads as one unsplit stream") {
    val dir = tmp("graft_lzo_noidx")
    val conf = spark.sessionState.newHadoopConf()
    val rows = Seq("a|1", "b|2", "c|3")
    Lzop.writeText(rows.iterator, new Path(s"$dir/tiny.lzo"), conf)
    Files.delete(Paths.get(dir, "tiny.lzo.index"))
    val schema = StructType.fromDDL("k STRING, v INT")
    val got = LegacyFormats.readLzoText(spark, dir, schema)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(got == Seq(("a", 1), ("b", 2), ("c", 3)))
  }

  test("escapes and the null sentinel survive the lzo payload") {
    val dir = tmp("graft_lzo_esc")
    val conf = spark.sessionState.newHadoopConf()
    Lzop.writeText(Seq("x\\|y|\\N", "plain|7").iterator,
      new Path(s"$dir/esc.lzo"), conf)
    val schema = StructType.fromDDL("a STRING, b INT")
    val got = LegacyFormats.readLzoText(spark, dir, schema).collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getInt(1)))
      .toSeq.sortBy(_._1)
    assert(got == Seq(("plain", 7), ("x|y", null)))
  }

  /** The raw (ul, cl, adler32, payload) blocks of an lzop file. */
  private def rawBlocks(file: String): Seq[(Int, Int, Int, Array[Byte])] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(file)))
    try {
      Lzop.readHeader(in)
      Iterator.continually(in.readInt()).takeWhile(_ != 0).map { ul =>
        val cl = in.readInt()
        val adler = in.readInt()
        val payload = new Array[Byte](cl)
        in.readFully(payload)
        (ul, cl, adler, payload)
      }.toList
    } finally in.close()
  }

  test("writeText compresses blocks that shrink and stores the rest raw") {
    val dir = tmp("graft_lzo_codec")
    val conf = spark.sessionState.newHadoopConf()
    // repetitive rows compress; random rows over 93 printable symbols
    // cannot shrink under lzo1x (no entropy coding), so their blocks must
    // be stored raw
    val rnd = new scala.util.Random(3)
    val printable = (33 to 126).map(_.toChar).filter(_ != '\\')
    val rows = (0 until 4000).map(i => s"$i|name_$i|${i % 7}") ++
      Seq.fill(400)(Seq.fill(60)(printable(rnd.nextInt(printable.size))).mkString)
    Lzop.writeText(rows.iterator, new Path(s"$dir/mixed.lzo"), conf,
      blockSize = 4096)
    val blocks = rawBlocks(s"$dir/mixed.lzo")
    assert(blocks.exists { case (ul, cl, _, _) => cl < ul })
    assert(blocks.exists { case (ul, cl, _, _) => cl == ul })
    assert(blocks.forall { case (ul, cl, _, _) => cl <= ul })
    val got = LegacyFormats.readLzoText(spark, dir,
      StructType.fromDDL("line STRING"), sep = "\t", splitBytes = 8192)
      .collect().map(_.getString(0)).toSeq
    assert(got.sorted == rows.sorted)
  }

  test("random and truncated block payloads fail as CorruptLzoException") {
    // lenient recovery catches exactly CorruptLzoException; a raw
    // ArrayIndexOutOfBounds would crash the task instead of recovering
    def readOne(ul: Int, adler: Int, payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(ul); out.writeInt(payload.length); out.writeInt(adler)
      out.write(payload)
      Lzop.readBlock(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray)), Lzop.Header(0x01)).get
    }
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 200; len <- Seq(1, 2, 3, 7, 19, 300)) {
      val junk = Array.fill(len)(rnd.nextInt(256).toByte)
      intercept[Lzo.CorruptLzoException](readOne(64, 0, junk))
    }
    // truncation of a VALID compressed block: Corrupt, or (cut only through
    // the end marker) exactly the original bytes
    val dir = tmp("graft_lzo_trunc_block")
    Lzop.writeText((0 until 200).map(i => s"$i|row_$i").iterator,
      new Path(s"$dir/b.lzo"), spark.sessionState.newHadoopConf())
    val (ul, cl, adler, payload) = rawBlocks(s"$dir/b.lzo").head
    assert(cl < ul)
    val whole = readOne(ul, adler, payload)
    for (cut <- 1 until cl) {
      try assert(readOne(ul, adler, payload.take(cut)).sameElements(whole))
      catch { case _: Lzo.CorruptLzoException => () }
    }
  }

  test("a truncated .index does not drop the un-indexed tail blocks") {
    val dir = tmp("graft_lzo_trunc")
    val conf = spark.sessionState.newHadoopConf()
    val rows = (0 until 3000).map(i => s"$i|v_$i")
    Lzop.writeText(rows.iterator, new Path(s"$dir/t.lzo"), conf,
      blockSize = 1024)
    // keep only the first index entry, as a killed indexer would
    val idx = Paths.get(dir, "t.lzo.index")
    val first8 = java.util.Arrays.copyOf(Files.readAllBytes(idx), 8)
    Files.write(idx, first8)
    // drop the Hadoop local-fs checksum sidecar the raw rewrite invalidated
    Files.deleteIfExists(Paths.get(dir, ".t.lzo.index.crc"))
    val schema = StructType.fromDDL("id INT, v STRING")
    assert(LegacyFormats.readLzoText(spark, dir, schema).count() == 3000)
  }

  test("header with filter and extra-field flags parses aligned") {
    // real lzop writers may set F_H_FILTER (filter word after flags) and
    // F_H_EXTRA_FIELD (len+payload+checksum after the header checksum)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(Array(0x89, 0x4c, 0x5a, 0x4f, 0x00, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    out.writeShort(0x1020); out.writeShort(0x2030); out.writeShort(0x0940)
    out.writeByte(1); out.writeByte(1)
    out.writeInt(0x00000040 | 0x00000800 | 0x01) // extra | filter | adler-d
    out.writeInt(7) // filter word
    out.writeInt(Integer.parseInt("100644", 8)) // mode
    out.writeInt(0); out.writeInt(0) // mtime
    out.writeByte(0) // no name
    out.writeInt(0) // header checksum (not verified by the reader)
    out.writeInt(3); out.write(Array[Byte](1, 2, 3)); out.writeInt(0) // extra
    val payload = "x|1\ny|2\n".getBytes("UTF-8")
    out.writeInt(payload.length); out.writeInt(payload.length) // raw block
    val a = new java.util.zip.Adler32; a.update(payload)
    out.writeInt(a.getValue.toInt)
    out.write(payload)
    out.writeInt(0) // terminator
    val dir = tmp("graft_lzo_extra")
    Files.write(Paths.get(dir, "e.lzo"), bos.toByteArray)
    val schema = StructType.fromDDL("k STRING, v INT")
    val got = LegacyFormats.readLzoText(spark, dir, schema)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(got == Seq(("x", 1), ("y", 2)))
  }

  test("pre-0.94 header (no version_needed/level/mtime_high) parses aligned") {
    // lzop's version_needed, level and mtime_high fields exist only for
    // header version >= 0x0940; a 0.93-era writer omits all three, so an
    // unconditional read would shift the block offsets by 7 bytes and
    // misreport corruption.
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(Array(0x89, 0x4c, 0x5a, 0x4f, 0x00, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    out.writeShort(0x0930); out.writeShort(0x2030) // version, libver; NO needed
    out.writeByte(1) // method; NO level byte at this version
    out.writeInt(0x01) // adler-d
    out.writeInt(Integer.parseInt("100644", 8)) // mode
    out.writeInt(0) // mtime low only — NO mtime_high
    out.writeByte(0) // no name
    out.writeInt(0) // header checksum (not verified by the reader)
    val payload = "x|1\ny|2\n".getBytes("UTF-8")
    out.writeInt(payload.length); out.writeInt(payload.length) // raw block
    val a = new java.util.zip.Adler32; a.update(payload)
    out.writeInt(a.getValue.toInt)
    out.write(payload)
    out.writeInt(0) // terminator
    val dir = tmp("graft_lzo_093")
    Files.write(Paths.get(dir, "old.lzo"), bos.toByteArray)
    val schema = StructType.fromDDL("k STRING, v INT")
    val got = LegacyFormats.readLzoText(spark, dir, schema)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(got == Seq(("x", 1), ("y", 2)))
  }
}
