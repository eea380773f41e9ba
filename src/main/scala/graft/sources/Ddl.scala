package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The two reference DDL statements with no Spark-parser spelling
  * (everything else in the reference's DDL grammar — CREATE TABLE LIKE
  * <table>, ALTER TABLE ADD/DROP PARTITION, SET LOCATION, SHOW PARTITIONS,
  * DESCRIBE FORMATTED — is native Spark SQL, exercised in WriteDdlSpec).
  */
object Ddl {

  /** `CREATE TABLE t LIKE <format> FILE 'path'` (reference
    * `fe/src/main/cup/sql-parser.y:637-655`, CreateTableLikeFileStmt, backed
    * by `CreateTableLikeFileStmt.readFileMetadata`'s parquet-footer reader):
    * derive the schema from a data file's own metadata and create an empty
    * table with it. A parquet schema comes from one footer read on the
    * driver ([[graft.Tables.readParquet]]), like the reference's
    * `readFileMetadata`: no data pages are touched and no Spark job runs.
    * Other formats keep their source's own schema inference.
    *
    * Returns the inferred schema. */
  def createTableLikeFile(spark: SparkSession, table: String,
                          schemaFile: String, format: String = "parquet",
                          location: Option[String] = None): StructType = {
    val schema =
      if (format.equalsIgnoreCase("parquet")) graft.Tables.readParquet(spark, schemaFile).schema
      else spark.read.format(format).load(schemaFile).schema
    val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE TABLE $table (${schema.toDDL}) USING $format$loc")
    schema
  }

  /** `ALTER TABLE t SET FILEFORMAT <format>` (reference
    * `sql-parser.y:569-571`, AlterTableSetFileFormatStmt): a pure metadata
    * operation — existing files are NOT rewritten; subsequent reads/writes
    * use the new format. Spark's parser has no such statement; the
    * equivalent catalog operation is swapping the table's datasource
    * provider. */
  def setFileFormat(spark: SparkSession, table: String, format: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = catalog.getTableMetadata(ident)
    catalog.alterTable(meta.copy(provider = Some(format)))
    spark.catalog.refreshTable(table)
  }
}
