package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** The reference's stats surface — `COMPUTE STATS t`, `SHOW TABLE STATS t`,
  * `SHOW COLUMN STATS t` (ComputeStatsStmt / ShowStatsStmt,
  * `fe/src/main/cup/sql-parser.y:393-412`; rendering
  * `fe/src/main/java/.../service/Frontend.java` getTableStats /
  * getColumnStats) — mapped onto Spark's ANALYZE machinery:
  *
  *  - COMPUTE STATS = ANALYZE TABLE (table + per-partition row counts +
  *    all-column stats), answering the reference's one-line summary
  *    `Updated N partition(s) and M column(s).`;
  *  - SHOW TABLE STATS reads catalog (partition) stats + a file listing:
  *    per-partition row counts, file counts, pretty-printed sizes, and the
  *    summary row (partition columns NULL where the reference prints
  *    'Total' — its output is stringly-typed, ours keeps the column types);
  *  - SHOW COLUMN STATS reads the column stats ANALYZE wrote: NDV, null
  *    count, max/avg widths (−1 for unknown, the reference's convention).
  *
  * The 'Bytes Cached' column resolves the cache DIRECTIVE state
  * ([[TableCache]] — round 16): a cached table/partition renders its file
  * bytes (the reference reports the NameNode's pinned byte count; with no
  * cache-pool RPC in Spark, the directive's footprint is the data size),
  * an uncached one 'NOT CACHED', and the summary row totals the cached
  * partitions' bytes.
  */
case class GraftComputeStatsCommand(ident: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("summary", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ti, meta) = StatsCommands.metadata(session, ident)
    val t = ti.quotedString
    // Two scans, not three: FOR ALL COLUMNS computes the table row count as
    // a side effect, so a standalone table-level COMPUTE STATISTICS pass
    // would be a redundant full scan (at 100 TB, a very expensive one). The
    // per-partition pass stays — partition-level row counts land only there.
    val partCols = meta.partitionColumnNames
    if (partCols.nonEmpty)
      session.sql(s"ANALYZE TABLE $t PARTITION (${partCols.mkString(", ")}) " +
        "COMPUTE STATISTICS")
    session.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    val nParts =
      if (partCols.isEmpty) 1
      else session.sessionState.catalog.listPartitions(ti).size
    val nCols = meta.schema.fields.length - partCols.length
    Seq(Row(s"Updated $nParts partition(s) and $nCols column(s)."))
  }
}

case class GraftShowTableStatsCommand(ident: Seq[String])
    extends LeafRunnableCommand {
  // output is computed per-table (partition columns lead). Resolution is
  // deferred past parse time (lazy) — the parser builds this node directly,
  // and a missing table or absent active session must not fail parsePlan.
  // In those cases fall back to the fixed stats columns; run() then raises
  // the real catalog error (or projects the real rows) at execution.
  override lazy val output: Seq[Attribute] =
    try StatsCommands.tableStatsOutput(ident)
    catch { case scala.util.control.NonFatal(_) =>
      StatsCommands.fixedStatsColumns }

  override def run(session: SparkSession): Seq[Row] = {
    val (ti, meta) = StatsCommands.metadata(session, ident)
    if (meta.tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
      throw new AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3065",
        messageParameters = Map("clazz" -> "GraftShowTableStatsCommand",
          "msg" -> s"SHOW TABLE STATS not applicable to view ${ti.table}"))
    val partCols = meta.partitionColumnNames
    val conf = session.sparkContext.hadoopConfiguration
    def fileStats(loc: java.net.URI): (Long, Long) = {
      val p = new Path(loc)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) (0L, 0L)
      else {
        val files = fs.listStatus(p).filter(s => s.isFile &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        (files.length.toLong, files.map(_.getLen).sum)
      }
    }
    val fmt = StatsCommands.formatName(meta)
    val tablePool = meta.properties.get(TableCache.TablePoolProp)
    if (partCols.isEmpty) {
      val (nf, sz) = fileStats(meta.location)
      val rows = meta.stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L)
      val cached = if (tablePool.isDefined) StatsCommands.printBytes(sz)
                   else "NOT CACHED"
      Seq(Row(rows, nf, StatsCommands.printBytes(sz), cached, fmt))
    } else {
      val parts = session.sessionState.catalog.listPartitions(ti)
        .sortBy(_.spec.toSeq.sortBy(_._1).map(_._2).mkString("/"))
      val pf = meta.partitionSchema.fields
      var totBytes = 0L // accumulated in the single per-partition listing
      var cachedBytes = 0L
      val body = parts.map { p =>
        val (nf, sz) = fileStats(p.location)
        totBytes += sz
        val isCached = TableCache.resolve(tablePool,
          p.parameters.get(TableCache.PartParam))
        if (isCached) cachedBytes += sz
        val rows = p.stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L)
        val vals = pf.map(f => StatsCommands.castPartValue(
          p.spec.getOrElse(f.name, null), f.dataType))
        Row.fromSeq(vals.toIndexedSeq ++
          Seq(rows, nf, StatsCommands.printBytes(sz),
            if (isCached) StatsCommands.printBytes(sz) else "NOT CACHED",
            fmt))
      }
      // summary row — the reference prints 'Total' in the first partition
      // column; typed columns render NULL there instead
      val totFiles = body.map(_.getLong(pf.length + 1)).sum
      val totRows = meta.stats.flatMap(_.rowCount).map(_.toLong).getOrElse {
        val known = body.map(_.getLong(pf.length)).filter(_ >= 0)
        if (known.nonEmpty) known.sum else -1L
      }
      body :+ Row.fromSeq(pf.map(_ => null).toIndexedSeq ++
        Seq(totRows, totFiles, StatsCommands.printBytes(totBytes),
          StatsCommands.printBytes(cachedBytes), ""))
    }
  }
}

case class GraftShowColumnStatsCommand(ident: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("Column", StringType, nullable = false)(),
    AttributeReference("Type", StringType, nullable = false)(),
    AttributeReference("#Distinct Values", LongType, nullable = false)(),
    AttributeReference("#Nulls", LongType, nullable = false)(),
    AttributeReference("Max Size", DoubleType, nullable = false)(),
    AttributeReference("Avg Size", DoubleType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (_, meta) = StatsCommands.metadata(session, ident)
    val colStats = meta.stats.map(_.colStats).getOrElse(Map.empty)
    meta.schema.fields.toIndexedSeq.map { f =>
      val s = colStats.get(f.name)
      val ndv = s.flatMap(_.distinctCount).map(_.toLong).getOrElse(-1L)
      val nulls = s.flatMap(_.nullCount).map(_.toLong).getOrElse(-1L)
      // fixed-width types report their byte width whether or not stats
      // exist (the reference prints the type size); variable-width fall
      // back to the analyzed max/avg lengths, -1 when unknown
      val fixed: Option[Double] = f.dataType match {
        case BooleanType | ByteType => Some(1d)
        case ShortType => Some(2d)
        case IntegerType | FloatType | DateType => Some(4d)
        case LongType | DoubleType | TimestampType => Some(8d)
        case d: DecimalType => Some(d.defaultSize.toDouble)
        case _ => None
      }
      val mx = fixed.getOrElse(
        s.flatMap(_.maxLen).map(_.toDouble).getOrElse(-1d))
      val av = fixed.getOrElse(
        s.flatMap(_.avgLen).map(_.toDouble).getOrElse(-1d))
      Row(f.name,
        StatsCommands.typeName(f.dataType).toUpperCase,
        ndv, nulls, mx, av)
    }
  }
}

/** `SHOW CREATE TABLE t` in the reference's rendering
  * (`fe/src/main/java/.../analysis/ToSqlUtils.java` getCreateTableSql):
  * data columns with comments, COMMENT, PARTITIONED BY with column TYPES
  * (the reference declares partition columns outside the main list), ROW
  * FORMAT DELIMITED for parameterized text tables, STORED AS, LOCATION,
  * TBLPROPERTIES (sorted — catalog maps carry no order). The inverse of
  * [[GraftSqlParser]]'s STORED AS / ROW FORMAT dialect lowering. */
case class GraftShowCreateTableCommand(ident: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (ti, meta) = StatsCommands.metadata(session, ident)
    // views carry no storage (meta.location throws); render CREATE VIEW
    // from the stored text, the reference's behavior for views
    if (meta.tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW)
      return Seq(Row(s"CREATE VIEW ${ti.database.fold("")(_ + ".")}" +
        s"${ti.table} AS ${meta.viewText.getOrElse("")}"))
    val resolver = session.sessionState.conf.resolver
    val partNames = meta.partitionColumnNames
    def colLine(f: StructField): String = {
      val t = StatsCommands.typeName(f.dataType).toUpperCase
      val comment = f.getComment().map(c => s" COMMENT '$c'").getOrElse("")
      s"  ${f.name} $t$comment"
    }
    val dataCols = meta.schema.fields.filterNot(f =>
      partNames.exists(resolver(_, f.name)))
    val sb = new StringBuilder
    val external =
      if (meta.tableType == org.apache.spark.sql.catalyst.catalog
        .CatalogTableType.EXTERNAL) "EXTERNAL " else ""
    val _ = ti // resolution side effect
    // db-qualified, no catalog prefix — the reference's spelling
    val qname =
      (meta.identifier.database.toSeq :+ meta.identifier.table).mkString(".")
    sb ++= s"CREATE ${external}TABLE $qname (\n"
    sb ++= dataCols.map(colLine).mkString(",\n")
    sb ++= "\n)\n"
    meta.comment.foreach(c => sb ++= s"COMMENT '$c'\n")
    if (partNames.nonEmpty) {
      sb ++= "PARTITIONED BY (\n"
      sb ++= meta.partitionSchema.fields.map(colLine).mkString(",\n")
      sb ++= "\n)\n"
    }
    val opts = meta.storage.properties
    val fmt = meta.provider.map(_.toUpperCase).getOrElse("PARQUET")
    if (fmt == "CSV") {
      val clauses = Seq(
        opts.get("sep").orElse(opts.get("delimiter"))
          .map(v => s"FIELDS TERMINATED BY '${StatsCommands.escapeOpt(v)}'"),
        opts.get("escape")
          .map(v => s"ESCAPED BY '${StatsCommands.escapeOpt(v)}'"),
        opts.get("lineSep")
          .map(v => s"LINES TERMINATED BY '${StatsCommands.escapeOpt(v)}'")
      ).flatten
      if (clauses.nonEmpty)
        sb ++= s"ROW FORMAT DELIMITED ${clauses.mkString(" ")}\n"
      sb ++= "STORED AS TEXTFILE\n"
    } else sb ++= s"STORED AS $fmt\n"
    sb ++= s"LOCATION '${meta.location}'"
    val userProps = meta.properties.filterNot { case (k, _) =>
      k.startsWith("option.") || k.startsWith("spark.") ||
        k == "transient_lastDdlTime" }
    if (userProps.nonEmpty)
      sb ++= "\nTBLPROPERTIES (" + userProps.toSeq.sortBy(_._1)
        .map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")"
    Seq(Row(sb.toString))
  }
}

private[graft] object StatsCommands {

  /** Impala type name for a Spark type (reference: `ColumnType.java`). */
  def typeName(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType => "tinyint"
    case ShortType => "smallint"
    case IntegerType => "int"
    case LongType => "bigint"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType => "date"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case other => other.simpleString
  }

  /** Render a CSV option value the way the reference spells it in ROW
    * FORMAT (control chars as escapes). */
  def escapeOpt(v: String): String =
    v.replace("\\", "\\\\").replace("\n", "\\n")
      .replace("\r", "\\r").replace("\t", "\\t")

  def metadata(session: SparkSession,
               ident: Seq[String]): (TableIdentifier, CatalogTable) = {
    val ti = ident match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case other => throw new IllegalArgumentException(
        s"unsupported table identifier: ${other.mkString(".")}")
    }
    (ti, session.sessionState.catalog.getTableMetadata(ti))
  }

  /** SHOW TABLE STATS schema: partition value columns (string-typed at
    * parse time — the real types are projected in run()), then the stats
    * columns. Output attribute types only matter to the analyzer before
    * execution; commands execute eagerly so the fixture sees run()'s rows.
    * Partition columns cannot be known before resolution, so the parser
    * path resolves them at construction via the active session. */
  def tableStatsOutput(ident: Seq[String]): Seq[Attribute] = {
    val session = SparkSession.active
    val (_, meta) = metadata(session, ident)
    val partAttrs = meta.partitionSchema.fields.map(f =>
      AttributeReference(f.name, f.dataType)())
    partAttrs.toIndexedSeq ++ fixedStatsColumns
  }

  /** The non-partition stats columns — also the parse-time fallback schema
    * when the table (or an active session) is not yet resolvable. */
  def fixedStatsColumns: Seq[Attribute] = Seq(
    AttributeReference("#Rows", LongType, nullable = false)(),
    AttributeReference("#Files", LongType, nullable = false)(),
    AttributeReference("Size", StringType, nullable = false)(),
    AttributeReference("Bytes Cached", StringType, nullable = false)(),
    AttributeReference("Format", StringType, nullable = false)())

  def castPartValue(v: String, dt: DataType): Any =
    // the Hive null-partition sentinel renders as a NULL partition value,
    // like the reference's catalog does
    if (v == null || v == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case IntegerType => v.toInt
      case LongType => v.toLong
      case ShortType => v.toShort
      case ByteType => v.toByte
      case BooleanType => v.toBoolean
      case FloatType => v.toFloat
      case DoubleType => v.toDouble
      case DateType => java.sql.Date.valueOf(v)
      case TimestampType => java.sql.Timestamp.valueOf(v)
      case _: DecimalType => new java.math.BigDecimal(v)
      case _ => v
    }

  def formatName(meta: CatalogTable): String =
    meta.provider.map(_.toUpperCase) match {
      case Some("CSV") | Some("TEXT") => "TEXT"
      case Some("HIVE") | None => "TEXT"
      case Some(p) => p
    }

  /** The reference's pretty-printed byte counts
    * (`be/src/util/pretty-printer.h` / fe PrintUtils.printBytes):
    * two-decimal binary units, bare `B` under 1 KB. */
  def printBytes(b: Long): String =
    if (b >= (1L << 30)) f"${b.toDouble / (1L << 30)}%.2fGB"
    else if (b >= (1L << 20)) f"${b.toDouble / (1L << 20)}%.2fMB"
    else if (b >= (1L << 10)) f"${b.toDouble / (1L << 10)}%.2fKB"
    else s"${b}B"
}
