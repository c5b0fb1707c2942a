package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("txlog").load(root)` — the standard connector
  * surface over [[TxLogTable]], so the format is usable from SQL and the
  * DataFrame reader without importing this library's API. Registered via
  * META-INF/services ([[TxLogSource]]).
  *
  * Filter pushdown is wired into MANIFEST pruning: the `PrunedFilteredScan`
  * filters Catalyst pushes down are translated back into a predicate
  * `Column` and routed through `snapshotWhere`, so min/max range stats,
  * null counts, partition path values AND per-file Bloom filters all skip
  * files before any scan is planned — then the surviving files go through
  * the ordinary vectorized parquet read, which re-pushes the same filters
  * to row groups. Every filter is also reported back as unhandled, so
  * Spark re-applies it on the surviving rows — pruning can only skip,
  * never change results.
  *
  * Options: `version` (time travel), `schema` optional via reader.schema
  * (otherwise inferred from the current snapshot's files — one footer
  * read).
  */
final case class TxLogRelation(sqlContext: SQLContext, root: String,
                               version: Option[Int],
                               userSchema: Option[StructType])
    extends BaseRelation with PrunedFilteredScan {

  private def spark: SparkSession = sqlContext.sparkSession
  private def table: TxLogTable = TxLogTable(spark, root)

  override val schema: StructType = userSchema.getOrElse {
    // the RECORDED logical schema when the table declares one: after a
    // type widening the data files physically DISAGREE (pre-widen int
    // files, post-widen long files) and parquet footer inference
    // returns whichever file it reads first — nondeterministic, and a
    // restarted stream that inferred the narrow loser re-pins the very
    // schema the widening guard tells it to escape. The manifest's
    // #schema line is the contract; footers are only a fallback for
    // raw tables that never declared one.
    version.orElse(table.latestVersion).flatMap(table.schemaOf)
      .orElse(table.fileSchema(version))
      .getOrElse(throw new IllegalArgumentException(
        s"txlog table at $root is empty or absent: pass an explicit schema"))
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters // we only SKIP files; Spark re-applies everything row-level

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    // conservative: a filter that does not translate just prunes nothing
    val pred = filters.flatMap(v2.TxLogV2Table.loosePredicate)
      .reduceOption(_ && _)
    val snap: DataFrame = pred match {
      case Some(p) => table.snapshotWhere(schema, p, version)
      case None => table.snapshot(schema, version)
    }
    val projected =
      if (requiredColumns.isEmpty) snap.select(lit(1).as("__one"))
      else snap.select(requiredColumns.toIndexedSeq.map(col): _*)
    projected.rdd
  }
}

/** The `format("txlog")` registration (DataSourceRegister short name):
  * batch reads ([[TxLogRelation]]) and the streaming change-feed source
  * ([[TxLogStreamSource]]) behind one format name.
  */
final class TxLogSource extends RelationProvider
    with SchemaRelationProvider with DataSourceRegister
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "txlog"

  private def versionOf(parameters: Map[String, String]): Option[Int] =
    parameters.get("version").map(_.toInt)

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("txlog: path required"))

  /** `df.write.format("txlog").mode(...).save(path)` — the batch write
    * side of the connector. SaveMode maps onto the commit protocol:
    * Overwrite → overwrite commit, Append → append commit,
    * ErrorIfExists/Ignore → the standard existence checks. Partitioning
    * via `option("partitionBy", "a,b")` (the V1 writer does not forward
    * `partitionBy()` to relation providers).
    */
  override def createRelation(ctx: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.Dataset[
                                org.apache.spark.sql.Row]): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val root = pathOf(parameters)
    val table = TxLogTable(ctx.sparkSession, root)
    val exists = table.latestVersion.isDefined
    val parts = parameters.get("partitionBy")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    // opt-in schema drift absorption before the write lands
    if (exists && opt(parameters, "mergeSchema").exists(_.toBoolean))
      table.evolveSchemaFor(data.schema)
    // IDEMPOTENT batch writes (the public Delta txnAppId/txnVersion
    // contract): a retried job re-runs its write with the same
    // (application id, application version) and the replay is SKIPPED —
    // any tagged commit with an equal-or-newer version for this app in
    // recent history fences it. The batch twin of the streaming sink's
    // epoch fence; without it an orchestrator retry double-appends.
    val txn = (opt(parameters, "txnAppId"),
      opt(parameters, "txnVersion").map(_.toLong))
    require(txn._1.isDefined == txn._2.isDefined,
      "txnAppId and txnVersion must be passed together")
    val fenced = txn match {
      case (Some(app), Some(ver)) =>
        require(!app.contains(":"),
          s"txnAppId must not contain ':': $app")
        val seen = table.versions.takeRight(TxLogSource.TxnFenceWindow)
          .flatMap(v => table.opOf(v))
          .filter(_.startsWith(s"txn:$app:"))
          .flatMap(_.substring(s"txn:$app:".length).toLongOption)
        seen.nonEmpty && seen.max >= ver
      case _ => false
    }
    val opTag = txn match {
      case (Some(app), Some(ver)) => s"txn:$app:$ver"
      case _ => null
    }
    if (!fenced) mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"txlog table exists: $root")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite =>
        table.commit(data.toDF(), overwrite = true, partitionCols = parts,
          op = opTag)
      case _ => // Append, or first write in any mode
        table.commit(data.toDF(), overwrite = false,
          partitionCols = parts, op = opTag)
    }
    TxLogRelation(ctx, root, None, Some(data.schema))
  }

  // option keys arrive with caller-chosen casing
  private def opt(parameters: Map[String, String],
                  key: String): Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v }

  private def changeFeedOf(parameters: Map[String, String]): Boolean =
    opt(parameters, "readChangeFeed").exists(_.toBoolean)

  // the DATA schema: explicit, or inferred against the CURRENT snapshot
  // at stream start (stable across restarts either way)
  private def dataSchemaOf(ctx: SQLContext, schema: Option[StructType],
                           parameters: Map[String, String]): StructType =
    schema.getOrElse(
      TxLogRelation(ctx, pathOf(parameters), None, None).schema)

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val data = dataSchemaOf(ctx, schema, parameters)
    (shortName(),
      if (changeFeedOf(parameters)) TxLogStreamSource.cdcSchema(data)
      else data)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new TxLogStreamSource(ctx, pathOf(parameters),
      dataSchemaOf(ctx, schema, parameters),
      opt(parameters, "maxVersionsPerTrigger").map { v =>
        val m = v.toInt
        require(m > 0, s"maxVersionsPerTrigger must be positive, got $m")
        m
      },
      includeMaintenance =
        opt(parameters, "includeMaintenance").exists(_.toBoolean),
      startingVersion = {
        val sv = opt(parameters, "startingVersion")
        val st = opt(parameters, "startingTimestamp")
        require(sv.isEmpty || st.isEmpty,
          "startingVersion and startingTimestamp are mutually exclusive")
        sv.map {
          case s if s.equalsIgnoreCase("latest") =>
            // pinned at STREAM CREATION: only commits after this flow
            TxLogTable(ctx.sparkSession, pathOf(parameters))
              .latestVersion.map(_ + 1).getOrElse(0)
          case s =>
            val v = s.toInt
            require(v >= 0, s"startingVersion must be >= 0, got $v")
            // fail at STREAM CREATION, not with a cryptic range require
            // deep in the first getBatch: a version past the head is a
            // caller mistake (head+1 is legal — it means "wait for the
            // next commit", exactly what 'latest' resolves to)
            val head = TxLogTable(ctx.sparkSession, pathOf(parameters))
              .latestVersion.getOrElse(-1)
            require(v <= head + 1,
              s"startingVersion $v is past the table head (latest " +
                s"committed version: $head); pass a committed version, " +
                "or 'latest' to stream only future commits")
            v
        }.orElse(st.map { ts =>
          // the timestamp twin: the first version committed AT-OR-AFTER
          // ts (the public Delta contract — a commit landing exactly at
          // ts is included). Resolved against commit instants at stream
          // creation; a ts before all history starts at 0, past all of
          // it acts like "latest" (wait for the next commit). Epoch
          // millis or a `java.sql.Timestamp` literal.
          val t = TxLogTable(ctx.sparkSession, pathOf(parameters))
          val millis = ts.toLongOption.getOrElse(
            java.sql.Timestamp.valueOf(ts).getTime)
          t.history().find(_.commitMillis.exists(_ >= millis))
            .map(_.version)
            .getOrElse(t.latestVersion.map(_ + 1).getOrElse(0))
        })
      },
      changeFeed = changeFeedOf(parameters),
      maxBytesPerTrigger = opt(parameters, "maxBytesPerTrigger").map { v =>
        val b = v.toLong
        require(b > 0, s"maxBytesPerTrigger must be positive, got $b")
        b
      },
      // vacuum pin per checkpoint, on by default (a stream that holds no
      // cursor can silently lose its window to a routine vacuum); the
      // name derives from metadataPath so restarts resume the same pin
      cursorName =
        if (opt(parameters, "cursor").exists(v => !v.toBoolean)) None
        else opt(parameters, "cursorName")
          .orElse(Some(TxLogStreamSource.cursorNameFor(metadataPath))),
      skipChangeCommits = {
        val skip =
          opt(parameters, "skipChangeCommits").exists(_.toBoolean)
        require(!(skip &&
          opt(parameters, "ignoreChanges").exists(_.toBoolean)),
          "skipChangeCommits and ignoreChanges are mutually exclusive")
        skip
      },
      ignoreChanges =
        opt(parameters, "ignoreChanges").exists(_.toBoolean))

  override def createSink(ctx: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"txlog sink supports Append output mode, got $outputMode " +
        "(route aggregations through foreachBatch + merge)")
    new TxLogStreamSink(ctx, pathOf(parameters), partitionColumns,
      parameters.get("fenceId"),
      mergeSchema = opt(parameters, "mergeSchema").exists(_.toBoolean))
  }

  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    TxLogRelation(ctx,
      parameters.getOrElse("path",
        throw new IllegalArgumentException("txlog: path required")),
      versionOf(parameters), None)

  override def createRelation(ctx: SQLContext,
                              parameters: Map[String, String],
                              schema: StructType): BaseRelation =
    TxLogRelation(ctx,
      parameters.getOrElse("path",
        throw new IllegalArgumentException("txlog: path required")),
      versionOf(parameters), Some(schema))
}

object TxLogSource {
  /** How far back the batch txn fence scans — same reasoning as the
    * streaming sink's window: only commits landed between a job's
    * publish and its retry can sit between the tag and the head, so a
    * bounded scan keeps the check O(window) instead of O(all versions).
    */
  val TxnFenceWindow = 100
}
