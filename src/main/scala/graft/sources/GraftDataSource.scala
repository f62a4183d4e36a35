package graft.sources

import graft.log.{ColumnMapping, WriteMode}
import graft.DeltaTable
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}

/** `format("graft")` — the Spark DataSource registration (delta-spark's
  * own V1 surface), making graft tables first-class citizens of the
  * DataFrame reader/writer and SQL DDL:
  *
  * {{{
  *   spark.read.format("graft").load(path)                      // scan
  *   spark.read.format("graft").option("versionAsOf", 3).load(path)
  *   df.write.format("graft").mode("append")
  *     .partitionBy("day").save(path)                           // commit
  *   df.writeStream.format("graft").option("checkpointLocation", c)
  *     .start(path)                                             // exactly-once
  *   sql(s"CREATE TABLE t USING graft LOCATION '$path'")        // SQL DDL
  * }}}
  *
  * Reads plan through the log-backed [[GraftFileIndex]] (planner-time
  * stats skipping, zero listing) under the SESSION's Hadoop
  * configuration. Snapshots that need scan-side rewrites a bare relation
  * cannot express — active column mapping (physical→logical aliasing) or
  * deletion vectors (the in-scan dead-row filter) — are rejected with a pointer to
  * `DeltaTable.forPath(...).toDF`, never served wrong.
  *
  * The streaming sink supports Append (each micro-batch committed
  * through [[DeltaTable.writeWithTxn]] keyed on the stream's QUERY id +
  * batchId — Delta's SetTransaction handshake, so a replayed batch after
  * driver retry or checkpoint recovery commits exactly once, while a
  * DELETED checkpoint gets a fresh query id and correctly starts over)
  * and Complete (each batch overwrites the table — idempotent by
  * content). Update mode is rejected: appending per-key updates would
  * accumulate duplicates.
  */
class GraftDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("format(\"graft\") requires a path"))

  private def tableFor(sqlContext: SQLContext,
      parameters: Map[String, String]): DeltaTable = {
    require(!(parameters.contains("versionAsOf") && parameters.contains("timestampAsOf")),
      "versionAsOf and timestampAsOf cannot be combined")
    val t = DeltaTable.forPath(pathOf(parameters),
      version = parameters.get("versionAsOf").map(_.toLong),
      conf = org.apache.spark.sql.graftshim.ColumnShim
        .hadoopConf(sqlContext.sparkSession))
    parameters.get("timestampAsOf") match {
      case Some(ts) => t.loadAsTimestamp(parseTimestamp(ts))
      case None => t
    }
  }

  /** delta-reader-style timestamp literals: epoch millis, ISO-8601
    * instants, or `yyyy-MM-dd[ HH:mm:ss[.f]]` in the JVM zone.
    */
  private def parseTimestamp(s: String): Long =
    s.toLongOption.getOrElse {
      try java.time.Instant.parse(s).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          val norm = if (s.contains(" ") || s.contains("T")) s.replace("T", " ")
            else s + " 00:00:00"
          java.sql.Timestamp.valueOf(norm).getTime
      }
    }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    if (parameters.get("readChangeFeed").exists(_.toBoolean))
      return cdfRelation(sqlContext, parameters)
    val t = tableFor(sqlContext, parameters)
    val sch = t.dlog.schema
    require(ColumnMapping.isIdentity(ColumnMapping.logicalToPhysical(sch)),
      "this table uses column mapping (renamed/dropped columns); read it " +
        "with DeltaTable.forPath(...).toDF, which aliases physical names")
    val adds = t.dlog.addActions.values.toSeq
    require(!adds.exists(a => DeletionVectors.refOf(a).isDefined),
      "this snapshot carries deletion vectors; read it with " +
        "DeltaTable.forPath(...).toDF, which applies them")
    GraftFileIndex.baseRelation(sqlContext.sparkSession, t.loc, sch,
      t.dlog.partitionColumns, adds, t.conf)
  }

  /** Batch change feed — delta's `table_changes` surface:
    * `spark.read.format("graft").option("readChangeFeed", "true")` with
    * `startingVersion`/`startingTimestamp` (required, inclusive) and
    * `endingVersion`/`endingTimestamp` (optional, default head).
    * Delegates to [[DeltaTable.changesBetween]], so MoR deletes emit
    * exact rows and rename/drop boundaries inside the range are
    * rejected; no DV/mapping rejection applies here — the CDF scan
    * resolves both. The relation wraps the computed frame as a
    * TableScan (no pushdown — column pruning/filters run above, as with
    * delta's CDF relation).
    */
  private def cdfRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    require(!parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf"),
      "readChangeFeed uses startingVersion/endingVersion, not versionAsOf/timestampAsOf")
    require(parameters.contains("startingVersion") || parameters.contains("startingTimestamp"),
      "readChangeFeed batch reads require startingVersion or startingTimestamp")
    require(!(parameters.contains("startingVersion") && parameters.contains("startingTimestamp")),
      "startingVersion and startingTimestamp cannot be combined")
    require(!(parameters.contains("endingVersion") && parameters.contains("endingTimestamp")),
      "endingVersion and endingTimestamp cannot be combined")
    val spark = sqlContext.sparkSession
    val t = DeltaTable.forPath(pathOf(parameters),
      conf = org.apache.spark.sql.graftshim.ColumnShim.hadoopConf(spark))
    // startingTimestamp = earliest commit at/after; endingTimestamp =
    // latest commit at/before (delta's asymmetric CDF bounds)
    val from = parameters.get("startingVersion").map(_.toLong)
      .getOrElse(t.versionAtOrAfter(parseTimestamp(parameters("startingTimestamp"))))
    val to = parameters.get("endingVersion").map(_.toLong)
      .orElse(parameters.get("endingTimestamp").map(ts => t.versionAt(parseTimestamp(ts))))
      .getOrElse(t.version)
    require(from >= 0L && to >= from,
      s"invalid change-feed range: [$from, $to]")
    val df = t.changesBetween(spark, from - 1, to)
    val ctx = sqlContext
    new BaseRelation with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = df.schema
      override def needConversion: Boolean = false
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    }
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val wm = mode match {
      case SaveMode.Append => WriteMode.Append
      case SaveMode.Overwrite => WriteMode.Overwrite
      case SaveMode.ErrorIfExists => WriteMode.ErrorIfExists
      case SaveMode.Ignore => WriteMode.Ignore
    }
    // writer.partitionBy(...) arrives JSON-encoded under Spark's
    // __partition_columns key; a plain "partitionBy" option also works
    val partitionBy = parameters.get(DataSourceUtils.PARTITIONING_COLUMNS_KEY)
      .map(DataSourceUtils.decodePartitioningColumns)
      .orElse(parameters.get("partitionBy").map(_.split(",").map(_.trim).toSeq))
      .filter(_.nonEmpty)
    // idempotent writes (delta's txnAppId/txnVersion options): a retried
    // job re-running the same (app, version) commits exactly once
    val txn = (parameters.get("txnAppId"), parameters.get("txnVersion")) match {
      case (Some(a), Some(v)) => Some((a, v.toLong))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "txnAppId and txnVersion must be set together")
    }
    // delta's mergeSchema option: appended batches may add columns
    // (null-backfilled on history); without it a schema mismatch throws
    val schemaMode =
      if (parameters.get("mergeSchema").exists(_.toBoolean)) "merge"
      else "overwrite"
    val table = tableFor(sqlContext, parameters)
    val written = txn match {
      case Some((appId, v)) =>
        require(wm == WriteMode.Append,
          s"txnAppId/txnVersion idempotent writes support append mode only, got $wm")
        table.writeWithTxn(data, appId, v, partitionBy)
      case None => table.write(data, mode = wm, schemaMode = schemaMode,
        partitionBy = partitionBy)
    }
    // SaveIntoDataSourceCommand discards the relation — return a cheap
    // schema-only stub instead of re-opening the log (and the READ
    // guards must not run here: a legal append to a mapped/DV table
    // would otherwise commit and THEN throw)
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = written.dlog.schema
    }
  }

  /** `spark.readStream.format("graft")` — the log-versioned source
    * ([[graft.streaming.GraftVersionedSource]]): offsets are table
    * versions, batches are commit ranges, no directory listing. The
    * schema is pinned at stream start (delta parity); mapped snapshots
    * are rejected like the batch read, while the INITIAL snapshot reads
    * through deletion vectors (live rows only) — the append-only
    * contract governs the tail, where a DV re-add aborts per batch.
    */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    sourceSchemaFor(tableFor(sqlContext, parameters), schema, parameters)

  /** [[sourceSchema]] over an already-opened handle — createSource opens
    * the table ONCE and reuses it for schema + start-offset resolution
    * (each open replays checkpoint + log tail; no reason to pay it 2-3x
    * per stream start).
    */
  private def sourceSchemaFor(t: DeltaTable, schema: Option[StructType],
      parameters: Map[String, String]): (String, StructType) = {
    require(t.version >= 0L,
      s"streaming source requires an existing table at ${pathOf(parameters)}")
    val sch = t.dlog.schema
    require(ColumnMapping.isIdentity(ColumnMapping.logicalToPhysical(sch)),
      "this table uses column mapping (renamed/dropped columns); stream it " +
        "through DeltaTable.forPath(...).toDF-based batch feeds instead")
    val base = schema.getOrElse(sch)
    // readChangeFeed appends the CDF meta columns (delta's streaming CDF
    // schema shape); their position is load-bearing — the source's
    // initial-snapshot branch strips the LAST TWO fields to recover the
    // base schema
    val resolved =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        StructType(base.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)))
      else base
    (shortName(), resolved)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val t0 = tableFor(sqlContext, parameters)
    val (_, sch) = sourceSchemaFor(t0, schema, parameters)
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "startingVersion and startingTimestamp cannot be combined")
    // starting point resolved ONCE, at stream start (delta parity):
    // "latest" latches the current head; a timestamp resolves to the
    // EARLIEST version committed at/after it (every change since T —
    // note the asymmetry with timestampAsOf's latest-at-or-before)
    val startAt: Option[Long] = parameters.get("startingVersion").map {
      case "latest" => t0.version + 1
      case s =>
        val v = s.toLong
        require(v >= 0L, s"startingVersion must be >= 0 or 'latest', got $s")
        v
    }.orElse(parameters.get("startingTimestamp").map(ts =>
      t0.versionAtOrAfter(parseTimestamp(ts))))
    new graft.streaming.GraftVersionedSource(
      sqlContext.sparkSession,
      pathOf(parameters),
      sch,
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      conf = org.apache.spark.sql.graftshim.ColumnShim
        .hadoopConf(sqlContext.sparkSession),
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map { s =>
        val n = s.toLong
        require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
        n
      },
      startingVersion = startAt,
      readChangeFeed = parameters.get("readChangeFeed").exists(_.toBoolean),
      ignoreDeletes = parameters.get("ignoreDeletes").exists(_.toBoolean),
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map { v =>
        val n = v.toLong; require(n > 0, s"maxFilesPerTrigger must be positive, got $n"); n
      },
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map { v =>
        val n = v.toLong; require(n > 0, s"maxBytesPerTrigger must be positive, got $n"); n
      },
      skipChangeCommits = parameters.get("skipChangeCommits").exists(_.toBoolean))
  }

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val path = pathOf(parameters)
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete(),
      s"graft sink supports Append and Complete output modes, not $outputMode " +
        "(Update would append per-key revisions as duplicate rows)")
    val complete = outputMode == OutputMode.Complete()
    val pb = if (partitionColumns.nonEmpty) Some(partitionColumns) else None
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val batch0 = org.apache.spark.sql.graftshim.ColumnShim.asBatch(data)
        // relax nullability: the engine hands the sink each batch's
        // OPTIMIZED schema, and Catalyst tightens literal-heavy batches
        // (a CDF initial snapshot's lit-tagged columns) to non-null while
        // data-derived batches stay nullable — the table schema must not
        // flip with batch provenance. `when(c.isNotNull, c)` is the
        // identity, analyzed nullable.
        val batch = batch0.select(batch0.schema.fields.map { f =>
          if (f.nullable) batch0(f.name)
          else org.apache.spark.sql.functions
            .when(batch0(f.name).isNotNull, batch0(f.name)).as(f.name)
        }.toSeq: _*)
        val conf = org.apache.spark.sql.graftshim.ColumnShim
          .hadoopConf(data.sparkSession)
        val t = DeltaTable.forPath(path, conf = conf)
        if (complete)
          // overwrite-per-batch is idempotent by CONTENT: a replayed
          // batch rewrites the same rows
          t.write(batch, mode = WriteMode.Overwrite, partitionBy = pb)
        else {
          // idempotence key: the stream's QUERY id (stable across
          // restarts of one checkpoint, fresh when the checkpoint is
          // deleted — so restarted-from-scratch streams are never
          // silently skipped), overridable for multi-sink topologies
          val appId = parameters.get("txnAppId").getOrElse {
            val qid = data.sparkSession.sparkContext
              .getLocalProperty("sql.streaming.queryId")
            require(qid != null && qid.nonEmpty,
              "graft sink could not determine the streaming query id; " +
                "set option(\"txnAppId\", ...) explicitly")
            s"graft-sink:$qid"
          }
          t.writeWithTxn(batch, appId, batchId, pb)
        }
      }
      override def toString: String = s"GraftSink[$path]"
    }
  }
}
