package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Test-corpus table access.
  *
  * The reference resolves tables through a metastore-backed catalog
  * (`fe/.../catalog/HdfsTable.java`); here the driver hands us a directory of
  * parquet tables per scale factor (TESTDATA.md), so "catalog" = parquet
  * paths + optional temp views for the SQL surface. Scans go through Spark's
  * vectorized parquet source — the equivalent of the reference's
  * `HdfsScanNode` + parquet scanner (`be/src/exec/hdfs-parquet-scanner.cc`)
  * with pushdown/pruning handled by Catalyst.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val pipeline: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ pipeline

  /** Dimension tables small enough to broadcast at any scale factor. */
  val broadcastable: Set[String] = Set("region", "nation")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftFunctions.registered(spark)
    // Memoized per (session, dir, name) — a PLAN handle, not data: every
    // action still scans the parquet. Opening a table ([[readParquet]])
    // reads one footer and lists the table's files on every call, and the
    // registry's 175 queries × 3 bench passes re-derive the same ten
    // immutable corpus tables hundreds of times per run — pure fixed
    // overhead, same rationale as the registerViews cache below.
    // Correctness note: the cached frame freezes the FILE LISTING, which is
    // exactly right for the driver-contract corpora (immutable per sfDir);
    // everything that mutates and re-reads its own parquet in one session
    // (DeltaIndex batches, fuzzers, staging dirs) calls readParquet
    // directly, never through here.
    tableCache.computeIfAbsent((spark, dir, name), _ => {
      // Retention fence (round 21): entries are keyed by SparkSession and a
      // long-lived multi-session service would otherwise pin every stopped
      // session's DataFrames (and through them the session itself) forever.
      // Purge dead-session entries on the MISS path only — misses are rare
      // (ten tables × a handful of dirs per session) so the O(entries) scan
      // never sits on the per-query hot path. Same sweep for the view and
      // function-registration memos below. TablesSpec pins eviction.
      purgeStoppedSessions()
      if (name == "events") events(spark, dir)
      else {
        val path = s"$dir/$name.parquet"
        if (new java.io.File(path, BucketMarker).isFile)
          bucketedTable(spark, path, name)
        else readParquet(spark, path)
      }
    })
  }

  /** The one way the engine opens parquet: `spark.read.parquet(paths*)`
    * without the Spark job its schema inference runs. Spark infers a
    * parquet schema through `SchemaMergeUtils.mergeSchemasInParallel`,
    * which runs `parallelize(...).collect()` even for the one footer it
    * reads, so a fresh session paid ten one-task jobs just to open the
    * corpus, and every artifact sync, probe and compaction paid more.
    *
    * This reads that same footer on the driver: the file Spark's
    * `ParquetUtils.inferSchema` picks with mergeSchema off
    * (`_common_metadata`, else `_metadata`, else the first data file in
    * path order), from the same listing (names starting `_` or `.` are
    * skipped unless they hold a `=` or name a summary file). It is
    * converted by Spark's own `ParquetFileFormat.readSchemaFromFooter`,
    * with the converter flags Spark's inference uses, and handed to the
    * reader as its schema. Partition columns (IVF's `cell_id`) are still
    * discovered from the directory names and appended last, so the
    * relation is the one `spark.read.parquet` builds.
    *
    * Spark's own read keeps the cases only it decides: mergeSchema on
    * (every footer is merged), and no readable footer — a missing path, a
    * directory with no data file or a corrupt footer raise Spark's own
    * errors. ParquetOpenSpec pins both the equality and the zero jobs. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame = {
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else footerSchema(spark, paths)
    schema.fold(spark.read)(spark.read.schema(_)).parquet(paths: _*)
  }

  private def footerSchema(spark: SparkSession,
                           paths: Seq[String]): Option[StructType] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    // Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName),
    // applied to every listed name, never to a root directory's own name
    def hidden(name: String): Boolean =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
    def leaves(fs: FileSystem, path: Path): Seq[FileStatus] =
      fs.listStatus(path).toSeq.filterNot(s => hidden(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) leaves(fs, s.getPath) else Seq(s))
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(r => leaves(fs, r.getPath))
    }.sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val pick = named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
    pick.flatMap { f =>
      val conf = spark.sessionState.conf
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      // the exceptions Spark's footer read turns into its own error (or,
      // under ignoreCorruptFiles, skips): Spark's read then decides
      try Some(ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)),
        converter))
      catch { case _: RuntimeException | _: java.io.IOException => None }
    }
  }

  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def purgeStoppedSessions(): Unit =
    purgeWhere(_.sparkContext.isStopped)

  /** Eviction mechanics, parameterized by the deadness predicate so a spec
    * can exercise them without stopping the suite's shared SparkContext
    * (one context per JVM — a real `stop()` would kill every other suite). */
  private[graft] def purgeWhere(dead: SparkSession => Boolean): Unit = {
    tableCache.keySet.removeIf(k => dead(k._1))
    viewsDir.keySet.removeIf(s => dead(s))
    GraftFunctions.purgeStopped(dead)
  }

  /** Memo entries held for live sessions — spec surface for the retention
    * fence (counts only `tableCache`; the other two memos evict in the same
    * sweep). */
  private[graft] def cachedEntriesForTest: Int = tableCache.size()

  /** Marker file a bucketed-layout generator (ScaleData `bucketed`) drops
    * inside a table directory: Spark's bucket spec lives in the CATALOG,
    * not in the parquet files, so a plain `read.parquet` of bucketed files
    * silently discards the co-location the write-time shuffle paid for.
    * Properties format: `key=o_custkey`, `buckets=N`, `sort=o_custkey`. */
  val BucketMarker = "_graft_buckets"

  /** Register (once per session+path) an external bucketed table over the
    * marker-described files and return it through the catalog, so every
    * downstream join/agg on the bucket key plans WITHOUT an Exchange —
    * the whole point of the layout at 100 TB: one write-time shuffle
    * amortized over every subsequent read. Underscore-prefixed marker
    * files are invisible to Spark's file listing, so the same directory
    * still reads as plain parquet anywhere else. */
  private def bucketedTable(spark: SparkSession, path: String,
                            name: String): DataFrame = {
    val abs = new java.io.File(path).getAbsolutePath
    val tbl = s"graft_bkt_${name}_${Integer.toHexString(abs.hashCode)}"
    viewsDir.synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        val props = new java.util.Properties()
        val in = new java.io.FileInputStream(new java.io.File(path, BucketMarker))
        try props.load(in) finally in.close()
        val key = props.getProperty("key")
        val n = props.getProperty("buckets").toInt
        val sort = props.getProperty("sort", key)
        require(key != null && n > 0, s"malformed $BucketMarker in $path")
        val ddl = readParquet(spark, abs).schema.toDDL
        spark.sql(s"""CREATE TABLE `$tbl` ($ddl) USING parquet
                     |CLUSTERED BY ($key) SORTED BY ($sort) INTO $n BUCKETS
                     |LOCATION '$abs'""".stripMargin)
      }
    }
    spark.table(tbl)
  }

  /** The driver has shipped `events.ts` in two parquet encodings across
    * rounds: TIMESTAMP(NANOS) — which Spark's reader rejects outright
    * (PARQUET_TYPE_ILLEGAL) unless read as raw int64 via the legacy conf —
    * and, since the round-10 regeneration, µs TIMESTAMP with
    * `isAdjustedToUTC=false`, which Spark reads as TIMESTAMP_NTZ. The
    * engine-wide convention is µs `TimestampType` (Impala's TIMESTAMP is
    * ns-resolution wall-clock, `be/src/runtime/timestamp-value.h`; we
    * standardize on Spark µs in a UTC session), so [[normalizeEventsTs]]
    * maps BOTH encodings there. Queries over `ts` (`unix_micros`,
    * `window()`, watermarking) all assume the normalized type. */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(readParquet(spark, s"$dir/events.parquet"))
  }

  /** Normalize an events frame's `ts` to µs TimestampType, whatever the
    * parquet encoding delivered (shared with the streaming read path, which
    * must declare an explicit schema and re-apply the same conversion). */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // int64 nanos under the legacy conf. Integer division: `/` casts
        // both sides to Double, and epoch nanos (~1.7e18) exceed a double's
        // 2^53 exact range — the rounded quotient would drift by 1µs on
        // roughly half of all values.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // µs wall-clock meant as UTC. The bare NTZ→LTZ cast interprets the
        // wall-clock in the SESSION zone — overwriting the session zone here
        // (the old fix) silently changed timestamp semantics for every later
        // query of an externally-created non-UTC session. And the previous
        // zone-free fix (rebase UTC→session-zone wall, then cast) was not
        // instant-preserving under a DST session zone: the session-local
        // wall-clock is not injective over instants, so fall-back-overlap
        // instants round-tripped an hour off. Construct the instant with NO
        // session-zone round-trip at all: every field extraction below is
        // defined directly on the NTZ wall-clock, and make_timestamp's
        // explicit 'UTC' zone argument anchors them zone-freely (UTC has no
        // DST, so every wall-clock is unambiguous).
        raw.withColumn("ts",
          expr("""make_timestamp(year(ts), month(ts), day(ts), hour(ts),
                 minute(ts), extract(SECOND FROM ts), 'UTC')""")
            .cast(TimestampType))
      case _ => raw // already µs TimestampType (e.g. a ScaleSmoke rewrite)
    }
  }

  /** Registers every table as a temp view so `spark.sql` works (the SQL
    * statement surface of SURVEY §2.11). Idempotent and cached per
    * session — several query builders call this per invocation, and
    * re-reading ten parquet schemas per statement is pure fixed overhead.
    * The memo holds the dir the session's views point at NOW: a session
    * that registers A, then B, then A again must get A's tables back. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    if (viewsDir.get(spark) != dir)
      // mark AFTER success, under a lock: marking first would turn every
      // retry after a partial failure (one missing parquet path) into a
      // silent no-op, and a concurrent caller could query half-registered
      // views
      viewsDir.synchronized {
        if (viewsDir.get(spark) != dir) {
          all.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
          viewsDir.put(spark, dir)
        }
      }

  private val viewsDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  private object GraftFunctions {
    private val done = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())
    def registered(spark: SparkSession): Unit =
      if (done.add(spark)) graft.functions.GraftFunctions.register(spark)
    def purgeStopped(dead: SparkSession => Boolean): Unit =
      done.removeIf(s => dead(s))
  }
}
