package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.{PageType, Util}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import graft.Tables

/** Ordinal-position parquet resolution, the way the reference scanner maps
  * columns: `be/src/exec/hdfs-parquet-scanner.cc:985-996` takes each slot's
  * `col_pos()` directly as the file column index — the physical column NAME
  * is never consulted — and a slot whose index is past the file's last
  * column (`:986`) materializes NULL. Spark's parquet source resolves by
  * name instead, so a table whose files span schema "generations" (a column
  * renamed upstream, or old parquet-mr writers that used different field
  * names, IMPALA-694) silently reads NULL where the reference reads data.
  *
  * Design for a 100 TB table: files are grouped by physical footer schema
  * and each GROUP becomes one ordinary distributed parquet scan (pushdown
  * and pruning intact) whose columns are positionally renamed/cast to the
  * table schema; groups are unioned. Plan size is bounded by the number of
  * schema generations — a handful in practice — not the file count, and the
  * per-file footer read is the same driver-side cost Spark's own
  * `mergeSchema` inference pays (a real deployment caches the generation
  * map in table properties instead of re-footering every planning).
  *
  * Files whose column-chunk metadata misstates its own extent (the
  * IMPALA-694 parquet-mr generation wrote `total_compressed_size` short,
  * which kills parquet-java with a thrift EOF mid-header) are detected from
  * the footer layout alone and routed to [[ParquetSalvage]], a distributed
  * page-walking reader that, like the reference scanner, reads until each
  * chunk's value count is satisfied instead of trusting declared sizes.
  * Healthy files — the other 99.999% at 100 TB — keep the stock vectorized
  * scan; a suspicious layout costs one extra header walk at planning.
  */
object PositionalParquet {

  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    require(files.nonEmpty, s"PositionalParquet: no data files under $dir")

    // One footer read per file: the physical message type is the grouping
    // key (full physical identity — names, types, repetition), and the
    // footer's own chunk layout decides stock-vs-salvage routing.
    val footered: Seq[(FileStatus, ParquetMetadata, String, Boolean)] =
      files.map { s =>
        val in = HadoopInputFile.fromStatus(s, conf)
        val footer = {
          val r = ParquetFileReader.open(in)
          try r.getFooter finally r.close()
        }
        val mt = footer.getFileMetaData.getSchema
        (s, footer, mt.toString, chunksReadable(in, footer))
      }

    val scans = footered.groupBy(_._3).toSeq.sortBy(_._2.head._1.getPath.toString)
      .flatMap { case (_, group) =>
        val (healthy, damaged) = group.partition(_._4)
        val stock =
          if (healthy.isEmpty) None
          else Some(Tables.readParquet(spark, healthy.map(_._1.getPath.toString): _*))
        val salvaged =
          if (damaged.isEmpty) None
          else {
            val physSchema =
              ParquetSalvage.sparkSchema(damaged.head._2.getFileMetaData.getSchema)
            val serConf = new SerializableConfiguration(conf)
            val paths = damaged.map(_._1.getPath.toString)
            val rdd = spark.sparkContext
              .parallelize(paths, paths.size)
              .flatMap(p => ParquetSalvage.rows(serConf.value, p))
            Some(spark.createDataFrame(rdd, physSchema))
          }
        (stock.toSeq ++ salvaged.toSeq).map(positionalSelect(_, schema, group.head._1.getPath))
      }
    scans.reduce(_.union(_))
  }

  /** Rename this generation's columns to the table's by position, cast to
    * the table types (binary physical columns from pre-UTF8-annotation
    * writers cast to string here, where the reference's plain decoder reads
    * them straight into STRING slots), NULL-fill past-EOF columns.
    *
    * A file with MORE physical columns than the table (a dropped column —
    * the usual positional-evolution case) keeps only the positional prefix:
    * the reference scanner creates column readers for the table's slots
    * only and never touches trailing file columns
    * (hdfs-parquet-scanner.cc:983-997); a slot past the file's last column
    * is the only direction that materializes NULL. */
  private def positionalSelect(df: DataFrame, schema: StructType,
                               sample: Path): DataFrame = {
    val prefix =
      if (df.columns.length <= schema.length) df
      else df.select(df.columns.take(schema.length).map(col).toIndexedSeq: _*)
    val renamed =
      prefix.toDF(schema.fieldNames.take(prefix.columns.length).toIndexedSeq: _*)
    val cols = schema.fields.toIndexedSeq.map { f =>
      if (renamed.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name) // past-EOF column → NULL (:986)
    }
    renamed.select(cols: _*)
  }

  /** Can parquet-java's size-bounded chunk streams read every value of
    * this file? Quick pass: within the footer, each chunk's declared
    * extent must run exactly to the next chunk (or to the metadata block).
    * A gap is usually just row-group alignment padding, so a flagged file
    * gets one page-header walk — headers read, payloads skipped — to ask
    * the reference scanner's question: does the declared extent hold the
    * declared value count? Only a NO routes to the salvage reader. */
  private def chunksReadable(in: HadoopInputFile, footer: ParquetMetadata): Boolean = {
    val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .sortBy(_.getStartingPos).toSeq
    val stream = in.newStream()
    try {
      val metaStart = {
        val b = new Array[Byte](4)
        stream.seek(in.getLength - 8)
        stream.readFully(b)
        in.getLength - 8 -
          ((b(0) & 0xff) | (b(1) & 0xff) << 8 | (b(2) & 0xff) << 16 |
            (b(3) & 0xff) << 24)
      }
      val ends = chunks.drop(1).map(_.getStartingPos) :+ metaStart
      chunks.zip(ends).forall { case (c, regionEnd) =>
        c.getStartingPos + c.getTotalSize == regionEnd || {
          // gap: padding (fine) or short-written sizes (salvage)
          try {
            stream.seek(c.getStartingPos)
            val end = c.getStartingPos + c.getTotalSize
            var values = 0L
            var fits = true
            while (fits && values < c.getValueCount && stream.getPos < end) {
              val h = Util.readPageHeader(stream)
              // parquet-java streams exactly [start, start+totalSize): a
              // page whose header or payload crosses that boundary is
              // unreadable there even though the bytes exist in the file
              fits = stream.getPos + h.getCompressed_page_size <= end
              if (h.getType == PageType.DATA_PAGE)
                values += h.getData_page_header.getNum_values
              else if (h.getType == PageType.DATA_PAGE_V2)
                values += h.getData_page_header_v2.getNum_values
              stream.seek(stream.getPos + h.getCompressed_page_size)
            }
            fits && values >= c.getValueCount
          } catch { case _: Exception => false }
        }
      }
    } finally stream.close()
  }
}
