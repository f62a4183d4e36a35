package graft.sources

import graft.log.AddFile
import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Snapshot → DataFrame scan construction.
  *
  * Spark-native replacement for the reference's
  * `to_pyarrow_dataset` (xdlake/__init__.py:84-143): the snapshot's live
  * files are read as ONE parquet relation over the **explicit file list**
  * (never the directory — removed files still exist on disk), with
  * partition columns re-attached from the log.
  *
  * Scale design: every layout plans as ONE relation over the log-backed
  * [[GraftFileIndex]] — file statuses and partition values come from the
  * log (no filesystem listing, no path parsing), partition filters are
  * evaluated exactly against log-recorded values, and data filters prune
  * files via per-file stats INSIDE the planner. Native predicate/column
  * pushdown and unbroken whole-stage codegen as before (SURVEY.md §4).
  */
object DeltaScan {

  /** Flat column name carrying `_metadata.file_path` (absolute file URI of
    * each row's source file) in meta-scans. Unlike `input_file_name()` —
    * which evaluates empty on the probe side of shuffled joins — this is a
    * real projected column that survives any downstream join/shuffle, so
    * the deletion-vector row filter and phase-1 touched-file discovery key
    * on it.
    */
  val MetaPath = "_graft_meta_path"

  /** Flat column name carrying `_metadata.row_index` (row ordinal within the
    * source parquet file) in meta-scans — the row half of the
    * `(file, row_index)` identity deletion vectors address.
    */
  val MetaRow = "_graft_meta_row"

  /** Hive-style `%xx` unescape for partition dir values (matches Spark's
    * ExternalCatalogUtils.unescapePathName semantics).
    */
  def unescapePathName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch {
          case _: NumberFormatException => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Parse `k=v` dir segments of a relative file path into partition values. */
  def partitionValuesFromPath(relPath: String): Map[String, Option[String]] = {
    val segs = relPath.split("/").dropRight(1)
    segs.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val v = unescapePathName(seg.substring(i + 1))
        Some(seg.substring(0, i) -> (if (v == HiveDefaultPartition) None else Some(v)))
      }
    }.toMap
  }

  def emptyDF(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Build the snapshot DataFrame over the given adds. */
  def snapshotDF(
      spark: SparkSession,
      tableRoot: Location,
      schema: StructType,
      partitionColumns: Seq[String],
      adds: Seq[AddFile],
      conf: Configuration): DataFrame =
    scan(spark, tableRoot, schema, partitionColumns, adds, conf, withMeta = false)

  /** Snapshot DataFrame carrying two extra columns, [[MetaPath]] and
    * [[MetaRow]], materialized from the parquet reader's `_metadata` struct.
    * Used by deletion-vector scans and phase-1 touched-file discovery; the
    * extra project is constant-folded into the scan's codegen stage.
    */
  def snapshotDFWithMeta(
      spark: SparkSession,
      tableRoot: Location,
      schema: StructType,
      partitionColumns: Seq[String],
      adds: Seq[AddFile],
      conf: Configuration,
      extraDataCols: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame =
    scan(spark, tableRoot, schema, partitionColumns, adds, conf,
      withMeta = true, extraDataCols = extraDataCols)

  private def scan(
      spark: SparkSession,
      tableRoot: Location,
      schema: StructType,
      partitionColumns: Seq[String],
      adds: Seq[AddFile],
      conf: Configuration,
      withMeta: Boolean,
      extraDataCols: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame = {

    if (adds.isEmpty) {
      var base = emptyDF(spark, schema)
      extraDataCols.foreach(f =>
        base = base.withColumn(f.name, lit(null).cast(f.dataType)))
      return if (!withMeta) base
        else base
          .withColumn(MetaPath, lit(null).cast(org.apache.spark.sql.types.StringType))
          .withColumn(MetaRow, lit(null).cast(org.apache.spark.sql.types.LongType))
    }

    // Column mapping: parquet files are read under PHYSICAL column names
    // and aliased back to logical ones inside the scan projection (which
    // Catalyst collapses into the scan — pushdown and codegen see one
    // relation either way). Identity for unmapped tables: the read schema
    // and the plan are exactly what they were. Partition columns are
    // never mapped (renameColumn rejects them).
    val l2p = graft.log.ColumnMapping.logicalToPhysical(schema)
    val mapped = !graft.log.ColumnMapping.isIdentity(l2p)
    // extra PHYSICAL data columns (e.g. the materialized row-id column):
    // appended to the read schema so files that carry them surface the
    // values and files that don't read as null (parquet schema-on-read)
    val readSchema = StructType(
      (if (mapped) graft.log.ColumnMapping.physicalSchema(schema) else schema)
        .fields ++ extraDataCols.map(_.copy(nullable = true)))

    val ordered: Seq[org.apache.spark.sql.Column] =
      schema.fieldNames.toSeq.map(n =>
        if (l2p(n) == n) col(n) else col(l2p(n)).as(n)) ++
        extraDataCols.map(f => col(f.name)) ++
        (if (withMeta)
           Seq(col("_metadata.file_path").as(MetaPath),
             col("_metadata.row_index").as(MetaRow))
         else Seq.empty)

    // ONE relation over the log-backed file index for every layout:
    // partition values are attached from the LOG (never parsed from
    // paths, so zero-copy imports and clones take the same plan), file
    // statuses come from AddFile entries (no filesystem listing), and
    // listFiles evaluates every pushed partition/data filter against
    // per-file stats — planner-time data skipping on all scans (see
    // GraftFileIndex).
    val df = GraftFileIndex.relation(spark, tableRoot, readSchema,
      partitionColumns, adds, conf)
    if (withMeta || mapped || partitionColumns.nonEmpty || extraDataCols.nonEmpty)
      df.select(ordered: _*)
    else df
  }
}
