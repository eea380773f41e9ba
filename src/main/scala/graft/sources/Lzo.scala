package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.util.zip.Adler32

import io.airlift.compress.MalformedInputException
import io.airlift.compress.lzo.{LzoCompressor, LzoDecompressor}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** LZO text support: the lzop container the reference's LZO text scanner
  * reads (`be/src/exec/hdfs-lzo-text-scanner.cc` — a 107-line shim that
  * dlopens the GPL impala-lzo library). The lzo1x block codec is
  * aircompressor's (`io.airlift.compress.lzo`, Apache-licensed, shipped
  * among Spark's own jars); the container is ours ([[Lzop]]), because
  * aircompressor's whole-file lzop streams do none of what the scanner
  * needs: header flags, per-block adler32, `.index` block-range splits,
  * split line ownership and lenient recovery. Both are validated against
  * the reference's own lzop-compressed test file, whose per-block adler32
  * checksums act as a known-answer oracle (LzoSpec). */
object Lzo {

  /** The reference scanner's block-size cap; a block header field above
    * this is corruption, not data (its error string is matched verbatim
    * by LzoSpec against the DataErrorsTest expectation). */
  val MaxBlockSize: Int = 64 * 1024 * 1024

  /** Every corrupt-container and corrupt-stream failure: the one type
    * lenient recovery ([[Lzop.splitLines]]) catches. */
  final class CorruptLzoException(msg: String) extends RuntimeException(msg)
}

/** The lzop container: magic, versioned header with adler32, then
  * [uncompressed-size][compressed-size][checksums][payload] blocks and a
  * zero-size terminator. Blocks whose compressed size equals the
  * uncompressed size are stored raw (lzop does this whenever compression
  * does not shrink the block, and so does [[writeText]]). */
object Lzop {

  private val Magic =
    Array(0x89, 0x4c, 0x5a, 0x4f, 0x00, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
  private val FAdler32D = 0x01
  private val FAdler32C = 0x02
  private val FCrc32D = 0x100
  private val FCrc32C = 0x200
  private val FHExtraField = 0x00000040
  private val FHFilter = 0x00000800

  case class Header(flags: Int)

  def readHeader(in: DataInputStream): Header = {
    val magic = new Array[Byte](9)
    in.readFully(magic)
    require(magic.sameElements(Magic), "not an lzop file")
    val version = in.readShort() & 0xffff
    in.readShort() // libver
    // version_needed, level and mtime_high exist only for writers >= 0.94
    // (lzop header layout); reading them unconditionally against an older
    // file would shift every block offset and misreport corruption
    if (version >= 0x0940) in.readShort() // version needed to extract
    in.readByte() // method
    if (version >= 0x0940) in.readByte() // level
    val flags = in.readInt()
    // real lzop writers may set these optional header sections; skipping
    // them keeps the block-stream offset aligned (lzop-1.0x header layout:
    // filter word after flags, extra field after the header checksum)
    if ((flags & FHFilter) != 0) in.readInt()
    in.readInt() // mode
    in.readInt() // mtime low
    if (version >= 0x0940) in.readInt() // mtime high
    val nameLen = in.readUnsignedByte()
    in.skipBytes(nameLen)
    in.readInt() // header checksum (over bytes we already consumed)
    if ((flags & FHExtraField) != 0) {
      val extraLen = in.readInt()
      in.skipBytes(extraLen)
      in.readInt() // extra-field checksum
    }
    Header(flags)
  }

  /** One decompressed block, or None at the terminator. Throws
    * [[Lzo.CorruptLzoException]] with the reference scanner's message on an
    * oversized header field and on checksum mismatch. */
  def readBlock(in: DataInputStream, h: Header): Option[Array[Byte]] = {
    val ul = in.readInt()
    if (ul == 0) return None
    checkSize(ul)
    val cl = in.readInt()
    checkSize(cl)
    val adlerD = if ((h.flags & FAdler32D) != 0) in.readInt() else 0
    if ((h.flags & FCrc32D) != 0) in.readInt()
    if (cl < ul && (h.flags & FAdler32C) != 0) in.readInt()
    if (cl < ul && (h.flags & FCrc32C) != 0) in.readInt()
    val payload = new Array[Byte](cl)
    in.readFully(payload)
    val out = if (cl == ul) payload else decompress(payload, ul) // raw if equal
    if ((h.flags & FAdler32D) != 0) {
      val a = new Adler32; a.update(out)
      if (a.getValue.toInt != adlerD)
        throw new Lzo.CorruptLzoException(
          s"Checksum of uncompressed block data did not match (expected ${adlerD & 0xffffffffL}, got ${a.getValue})")
    }
    Some(out)
  }

  /** One lzo1x block that must decode to exactly `ul` bytes. The block is
    * untrusted input: the codec's MalformedInputException becomes the
    * container's corruption type, so lenient recovery sees one kind. */
  private def decompress(payload: Array[Byte], ul: Int): Array[Byte] = {
    val out = new Array[Byte](ul)
    val n =
      try new LzoDecompressor().decompress(payload, 0, payload.length, out, 0, ul)
      catch { case e: MalformedInputException =>
        throw new Lzo.CorruptLzoException(s"malformed lzo1x stream: ${e.getMessage}")
      }
    if (n != ul)
      throw new Lzo.CorruptLzoException(
        s"lzo1x stream decoded $n bytes, block header said $ul")
    out
  }

  private def checkSize(n: Int): Unit =
    if (n < 0 || n > Lzo.MaxBlockSize)
      // the reference scanner's exact wording (DataErrorsTest
      // hdfs-scan-node-errors.test pins it)
      throw new Lzo.CorruptLzoException(
        s"Blocksize: ${n & 0xffffffffL} is greater than LZO_MAX_BLOCK_SIZE: ${Lzo.MaxBlockSize}")

  /** Write `lines` as an lzop text file of lzo1x-compressed `blockSize`
    * chunks (splitting only at line boundaries would leak schema into the
    * container, so the chunking is byte-exact like real lzop: lines MAY
    * span blocks) plus a hadoop-lzo-style `.index` side file of big-endian
    * block offsets. */
  def writeText(lines: Iterator[String], file: Path, conf: Configuration,
                blockSize: Int = 256 * 1024): Unit = {
    val fs = file.getFileSystem(conf)
    val out = new DataOutputStream(fs.create(file, true))
    val idx = new DataOutputStream(fs.create(new Path(file.toString + ".index"), true))
    try {
      val headBody = new ByteArrayOutputStream()
      val hb = new DataOutputStream(headBody)
      hb.writeShort(0x1020); hb.writeShort(0x2030); hb.writeShort(0x0940)
      hb.writeByte(1); hb.writeByte(1) // LZO1X_1, level 1
      hb.writeInt(FAdler32D)
      hb.writeInt(Integer.parseInt("100644", 8))
      hb.writeInt(0); hb.writeInt(0) // mtime
      hb.writeByte(0) // no name
      val body = headBody.toByteArray
      val ha = new Adler32; ha.update(body)
      out.write(Magic); out.write(body); out.writeInt(ha.getValue.toInt)

      val all = new ByteArrayOutputStream()
      lines.foreach { l => all.write(l.getBytes("UTF-8")); all.write('\n') }
      val bytes = all.toByteArray
      val codec = new LzoCompressor()
      val packed = new Array[Byte](codec.maxCompressedLength(blockSize))
      var off = 0
      var fileOff = 9L + body.length + 4
      while (off < bytes.length) {
        val n = math.min(blockSize, bytes.length - off)
        // lzop's rule: store the block raw (cl == ul) unless compression
        // shrinks it
        val cl = math.min(n, codec.compress(bytes, off, n, packed, 0, packed.length))
        val a = new Adler32; a.update(bytes, off, n)
        idx.writeLong(fileOff)
        out.writeInt(n)
        out.writeInt(cl)
        out.writeInt(a.getValue.toInt)
        if (cl < n) out.write(packed, 0, cl) else out.write(bytes, off, n)
        fileOff += 12 + cl
        off += n
      }
      out.writeInt(0) // terminator
    } finally { out.close(); idx.close() }
  }

  /** Block start offsets from a hadoop-lzo `.index` side file. */
  def readIndex(file: Path, conf: Configuration): Option[Seq[Long]] = {
    val idx = new Path(file.toString + ".index")
    val fs = idx.getFileSystem(conf)
    if (!fs.exists(idx)) return None
    val in = new DataInputStream(fs.open(idx))
    try {
      val out = Seq.newBuilder[Long]
      var more = true
      while (more) {
        try out += in.readLong()
        catch { case _: EOFException => more = false }
      }
      Some(out.result())
    } finally in.close()
  }

  /** Driver-side: header flags + the offset of the first block. */
  def fileMeta(file: Path, conf: Configuration): (Int, Long) = {
    val fs = file.getFileSystem(conf)
    val s = fs.open(file)
    try {
      val in = new DataInputStream(s)
      val h = readHeader(in)
      (h.flags, s.getPos)
    } finally s.close()
  }

  /** The lines a split of `nBlocks` blocks starting at `startOff` OWNS,
    * under the text-split convention (the same one Hadoop text splits and
    * the reference's scan ranges use, `hdfs-text-scanner.cc`): a line
    * belongs to the split where it STARTS; a non-leading split drops
    * everything through the first newline of its own content, and every
    * split reads FOLLOWING blocks just far enough to finish its last line.
    * Corruption in lenient mode keeps the complete lines read so far, like
    * the reference under abort_on_error=0 — its DataErrors fixture expects
    * the error AND the surviving count.
    *
    * STREAMING: lines are produced block by block as the iterator is
    * consumed — memory held is one block plus one partial line, never the
    * split (the reference scanner streams the same way; an unindexed
    * multi-GB file reads as one task but not as one heap allocation). The
    * stream closes when the iterator is exhausted or a strict-mode error
    * throws. */
  def splitLines(file: Path, conf: Configuration, flags: Int, startOff: Long,
                 nBlocks: Int, leading: Boolean,
                 strict: Boolean): Iterator[String] = {
    val fs = file.getFileSystem(conf)
    val s = fs.open(file)
    s.seek(startOff)
    val in = new DataInputStream(s)
    val h = Header(flags)

    new Iterator[String] {
      private val pending = new java.util.ArrayDeque[String]()
      private val carry = new ByteArrayOutputStream() // partial-line bytes
      private var blocksRead = 0
      private var eof = false       // container terminator reached
      private var corrupt = false
      private var skipping = !leading // dropping through the first newline
      private var continuation = false // past own range, finishing last line
      private var finished = false
      private var closed = false

      private def close(): Unit = if (!closed) { closed = true; s.close() }

      private def nextBlock(): Option[Array[Byte]] =
        try readBlock(in, h) match {
          case some @ Some(_) => some
          case None => eof = true; None
        } catch {
          // EOFException covers a writer killed mid-block and a stale
          // .index seeking past the data — both are corruption of the same
          // kind as a bad header, and the abort_on_error=0 contract keeps
          // the rows already decoded for either
          case e @ (_: Lzo.CorruptLzoException | _: java.io.EOFException) =>
            if (strict) { close(); throw e }
            org.apache.log4j.Logger.getLogger(getClass)
              .warn(s"lzo: stopping $file split early: ${e.getMessage}")
            corrupt = true; None
        }

      /** Append complete lines of `b` (joined with any carry) to pending;
        * the trailing partial line stays in carry. Honors `skipping`. */
      private def emitLines(b: Array[Byte]): Unit = {
        var from = 0
        if (skipping) {
          val nl = b.indexOf('\n'.toByte)
          if (nl < 0) return // whole block is mid-line of the upstream split
          from = nl + 1
          skipping = false
        }
        var i = from
        while (i < b.length) {
          if (b(i) == '\n') {
            if (carry.size == 0) pending.add(new String(b, from, i - from, "UTF-8"))
            else {
              carry.write(b, from, i - from)
              pending.add(carry.toString("UTF-8")); carry.reset()
            }
            from = i + 1
          }
          i += 1
        }
        if (from < b.length) carry.write(b, from, b.length - from)
      }

      /** One block's worth of progress toward filling `pending`. */
      private def advance(): Unit = {
        if (!continuation && (blocksRead >= nBlocks || eof || corrupt)) {
          // own range over. A non-leading split still skipping owns
          // nothing (its content is the middle of one upstream line).
          if (skipping || corrupt) {
            // corrupt: the partial line was cut by the lost block — and
            // after corruption the continuation's start is unknowable
            carry.reset(); finished = true; close(); return
          }
          if (eof) { // file ended inside the range: carry is the last line
            if (carry.size > 0) { pending.add(carry.toString("UTF-8")); carry.reset() }
            finished = true; close(); return
          }
          continuation = true // read one line past the boundary
        }
        if (continuation) {
          nextBlock() match {
            case Some(b) =>
              val nl = b.indexOf('\n'.toByte)
              if (nl >= 0) {
                carry.write(b, 0, nl)
                pending.add(carry.toString("UTF-8")); carry.reset()
                finished = true; close()
              } else carry.write(b, 0, b.length)
            case None =>
              if (eof && carry.size > 0) { // ends without trailing newline
                pending.add(carry.toString("UTF-8"))
              } // corrupt mid-continuation: tail unknowable, drop carry
              carry.reset(); finished = true; close()
          }
          return
        }
        nextBlock() match {
          case Some(b) => blocksRead += 1; emitLines(b)
          case None => () // eof/corrupt: next advance() finalizes
        }
      }

      override def hasNext: Boolean = {
        while (pending.isEmpty && !finished) advance()
        val more = !pending.isEmpty
        if (!more) close()
        more
      }
      override def next(): String = {
        if (!hasNext) throw new NoSuchElementException("lzo split exhausted")
        pending.poll()
      }
    }
  }
}
