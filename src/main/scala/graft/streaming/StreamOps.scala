package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming surface — the north-star incremental-refresh
  * extension (SURVEY §2.10): the reference is strictly batch, so these are
  * engine extensions, not parity. Each transform takes/returns DataFrames so
  * the identical code runs on `read` and `readStream` inputs — the batch
  * golden tests double as streaming correctness checks via
  * `Trigger.AvailableNow`/`processAllAvailable`.
  *
  * Scale: windowed aggregates and dedup are keyed state in the state store —
  * watermarks bound state size; the sessionizer uses
  * `flatMapGroupsWithState` with event-time timeout so idle keys evict.
  */
object StreamOps {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),          // epoch nanos (see Tables)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Epoch-nanos long → event-time timestamp column. */
  def eventTime(df: DataFrame): DataFrame =
    df.withColumn("event_ts",
      timestamp_micros(expr("ts div 1000")))

  /** Tumbling-window counts+sums per event_type with a watermark. */
  def windowedStats(df: DataFrame, window_ : String = "5 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    eventTime(df)
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming form of dd_exact.
    */
  def dedup(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    eventTime(df)
      .withWatermark("event_ts", watermark)
      .dropDuplicates("event_id")

  final case class SessionEvent(user_id: Long, ts: Long)
  final case class SessionState(sessionStart: Long, lastTs: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Long,
                              session_end: Long, n_events: Long)

  /** Gap-based sessionization via flatMapGroupsWithState: emits a session
    * when a gap > `gapNs` arrives (or on state timeout). Batch-mode twin of
    * the w2_sessionize query — the golden comparison in StreamingSpec.
    */
  def sessionize(ds: Dataset[SessionEvent], gapNs: Long)
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, events: Iterator[SessionEvent],
         state: GroupState[List[SessionState]]) =>
          // events within one trigger are not ordered: sort this batch, then
          // fold into the open session carried in state
          val sorted = events.map(_.ts).toSeq.sorted
          var open = state.getOption.flatMap(_.headOption)
          val out = List.newBuilder[SessionOut]
          sorted.foreach { t =>
            open match {
              case Some(s) if t - s.lastTs <= gapNs =>
                open = Some(s.copy(lastTs = t, n = s.n + 1))
              case Some(s) =>
                out += SessionOut(userId, s.sessionStart, s.lastTs, s.n)
                open = Some(SessionState(t, t, 1))
              case None =>
                open = Some(SessionState(t, t, 1))
            }
          }
          open.foreach(s => state.update(List(s)))
          out.result().iterator
      }
  }

  final case class BandRow(doc_id: Long, band: Long, band_key: String)
  final case class BucketOwner(doc_id: Long, band: Long, band_key: String,
                               owner: Long, is_dup: Boolean)

  /** Stateless MinHash banding for a document stream (doc_id, text): pure
    * per-row codegen — the property that makes LSH near-dup detection legal
    * BEFORE a stateful operator (an aggregation-based signature would be
    * disallowed / require its own state).
    */
  def streamingBands(docs: DataFrame): DataFrame =
    graft.queries.TextQueries.statelessBands(docs)

  /** Streaming near-dup detection: the first document to claim an LSH
    * bucket owns it (state = owner doc_id per bucket, forever); every later
    * document sharing the bucket is flagged against that owner. Within one
    * trigger the smallest doc_id claims, so a single-batch replay equals
    * the batch `dd_minhash_cluster` bucket-min assignment; across triggers
    * the semantics are arrival-order — exactly what an incremental ingest
    * pipeline wants (new near-dups of already-ingested docs are flagged,
    * ingested docs never retroactively become dups).
    *
    * Scale: state is one long per distinct bucket key — O(corpus bands),
    * the same asymptotics as the batch cluster assignment's shuffle key
    * space; keys are hash-partitioned across executors by groupByKey.
    */
  def lshOwnership(ds: Dataset[BandRow])
                  (implicit spark: SparkSession): Dataset[BucketOwner] = {
    import spark.implicits._
    ds.groupByKey(r => (r.band, r.band_key))
      .flatMapGroupsWithState[Long, BucketOwner](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[BandRow],
         state: GroupState[Long]) =>
          val batch = rows.toArray.sortBy(_.doc_id)
          val owner = state.getOption.getOrElse(batch.head.doc_id)
          if (state.getOption.isEmpty) state.update(owner)
          batch.iterator.map(r =>
            BucketOwner(r.doc_id, key._1, key._2, owner, r.doc_id != owner))
      }
  }

  /** Stream-stream interval join: purchases matched to the views of the same
    * user within the preceding hour. Both sides carry watermarks so the state
    * store evicts rows once the interval can no longer match — bounded state,
    * the property that lets this run forever at scale.
    */
  def viewsBeforePurchase(purchases: DataFrame, views: DataFrame): DataFrame = {
    val p = eventTime(purchases)
      .withWatermark("event_ts", "1 hour")
      .select(col("event_id"), col("user_id"),
        col("event_ts").as("purchase_time"))
    val v = eventTime(views)
      .withWatermark("event_ts", "2 hours")
      .select(col("user_id").as("v_user"), col("event_ts").as("view_time"),
        col("value").as("view_value"))
    p.join(v, expr(
      """user_id = v_user AND
         view_time <= purchase_time AND
         view_time >= purchase_time - interval 1 hour"""))
      .select("event_id", "user_id", "purchase_time", "view_time",
        "view_value")
  }

  /** Streaming keyed merge into a transaction-log table: each microbatch is
    * applied with delete-then-insert semantics (U8 — every current row whose
    * key appears in the batch is replaced wholesale) and published as ONE
    * tx-log version via the atomic manifest commit, so readers always see a
    * batch boundary, never a half-applied batch — the standard production
    * shape for maintaining a continuously-updated dimension from a stream
    * (Structured Streaming's own sinks are append/complete only; keyed
    * merge needs foreachBatch + a table format, which is exactly what
    * Delta's streaming MERGE does).
    *
    * Restart safety: foreachBatch can replay the last batch after a crash;
    * the merge is idempotent per batch (same keys → same resulting rows),
    * so a replay costs one redundant version, not duplicated data. Scale:
    * per trigger this is one key-shuffled anti-join of snapshot × delta
    * (AQE broadcasts small deltas). When the table's partition columns are
    * a SUBSET of the merge keys, each key pins its partition, so the merge
    * reads and rewrites ONLY the partitions present in the batch
    * (`TxLogTable.commitDynamic` — partition pruning on the read side,
    * dynamic partition overwrite on the write side; the untouched bulk of
    * the table is carried by manifest reference). Otherwise a key's row
    * could move between partitions and the batch goes through the
    * file-targeted copy-on-write `TxLogTable.merge`: manifest key-range
    * stats bound the rewrite to the files that may hold the batch's keys —
    * O(affected files), not O(table).
    *
    * @return the running query; stop it (or `processAllAvailable`) from the
    *         caller.
    */
  def upsertIntoTxLog(updates: DataFrame, table: graft.sources.TxLogTable,
                      keys: Seq[String],
                      checkpointDir: String): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(updates.schema
      .filterNot(f => f.name.startsWith("_")))
    updates.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        // metadata columns ('_'-prefixed, e.g. _commit_version when the
        // stream is a change feed) are dropped from BOTH merge sides: the
        // table schema filter above removes them from the snapshot, and
        // this select removes them from the batch — otherwise the
        // delete-insert unionByName would see asymmetric schemas and fail
        val batch = rawBatch.select(schema.fieldNames.map(col).toSeq: _*)
        // a key can repeat within one batch; resolve to the greatest row
        // (struct ordering over the non-key columns) — content-determined,
        // unlike dropDuplicates' partition-order-dependent "first"
        val others = batch.columns.filterNot(keys.contains).toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(struct(others.map(col): _*).desc)
        val resolved = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // preserve the table's partition layout across merge rewrites —
        // an overwrite with Nil would silently flatten a partitioned table
        val layout = table.latestVersion
          .map(table.partitionColsOf).getOrElse(Nil)
        if (layout.nonEmpty && layout.forall(keys.contains)) {
          // partition-aligned keys: merge touches only the batch's
          // partitions (pruned read + dynamic-partition-overwrite commit).
          // NULL-SAFE join: a null partition value is a real partition
          // (__HIVE_DEFAULT_PARTITION__) that commitDynamic will replace
          // wholesale, so its current rows MUST enter the merge — plain
          // `=` would drop them (null != null) and the rewrite would
          // silently delete every null-partition row absent from the batch
          val parts = resolved.select(layout.map(col): _*).distinct()
            .toDF(layout.map("__part_" + _): _*)
          val partCond = layout
            .map(c => col(c) <=> col("__part_" + c)).reduce(_ && _)
          val currentAffected = table.snapshot(schema)
            .join(broadcast(parts), partCond, "left_semi")
          val merged = graft.operators.Upsert
            .deleteInsert(currentAffected, resolved, keys)
          table.commitDynamic(merged, layout)
        } else {
          // keys don't pin partitions: file-targeted copy-on-write merge —
          // manifest key-range stats bound the read+rewrite to the files
          // that may hold the batch's keys, instead of the full O(table)
          // snapshot rewrite this branch used to cost
          table.merge(schema, resolved, keys)
        }
        ()
      }
      .start()
  }

  /** CONTINUOUS materialized-view maintenance: a streaming query over
    * the MV's source change feed whose every micro-batch triggers one
    * [[graft.operators.MaterializedView.refresh]]. The stream is the
    * TRIGGER and PACING layer — offsets, checkpoint, restart semantics,
    * `Trigger.ProcessingTime`/`AvailableNow` all come from Structured
    * Streaming — while the refresh itself reads exactly its own
    * un-consumed window from the log and commits exactly-once (progress
    * rides the refresh manifest), so a replayed or overlapping batch
    * costs an idempotent no-op, never a double-fold. The batch CONTENT
    * is deliberately unused (`maintenance-skip` keeps it cheap: layout
    * rewrites deliver no rows and a 1-row LIMIT plans per trigger);
    * folding the batch rows directly would duplicate the refresh's
    * triage for zero gain — the refresh already reads only the window's
    * delta files, projected to the view's columns.
    *
    * At 100 TB this is the "view that is never more than one trigger
    * behind" deployment: hourly ProcessingTime for rollup freshness,
    * AvailableNow for catch-up-and-stop backfills.
    *
    * STAR-SCHEMA views: the trigger stream is the UNION of the fact's
    * and every pinned dimension's feed, so a dim update fires a batch
    * like any fact commit — the refresh's own triage then decides the
    * cadence (fact deltas fold against the pinned dims; a moved dim
    * folds as a signed dim delta that re-pins, falling back to a full
    * recompute only past the replayability gates). The fold/recompute
    * decision thus lives in the refresh, the stream merely guarantees
    * it is never more than one trigger late.
    */
  def maintainMv(spark: SparkSession, mvRoot: String,
                 checkpointDir: String,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger
                     .ProcessingTime(0L)): StreamingQuery = {
    val d = graft.operators.MaterializedView.definition(spark, mvRoot)
    // skipChangeCommits: row-changing source versions (COW/DV DML) would
    // refuse the plain append feed, but the batch CONTENT is discarded
    // here — the refresh folds those versions exactly through its own
    // CDC triage, the stream only paces past them
    def tick(root: String): DataFrame =
      spark.readStream.format("txlog")
        .option("skipChangeCommits", "true")
        .load(root)
        // trigger-only: the constant-false filter folds the batch's scan
        // to an empty relation while the source's offsets still advance —
        // the refresh inside foreachBatch is what actually reads the log
        .select(lit(1).as("tick")).filter(lit(false))
    d.dims.map(_.root)
      .foldLeft(tick(d.source))((s, dimRoot) => s.union(tick(dimRoot)))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        graft.operators.MaterializedView.refresh(spark, mvRoot)
        ()
      }
      .start()
  }

  /** CONTINUOUS ANN-index maintenance — [[maintainMv]]'s twin for the
    * serving index: a trigger-only stream over the index's CORPUS whose
    * every micro-batch runs one guarded
    * [[graft.operators.AnnIndex.refreshAuto]] (new vectors route to the
    * existing centroids, codes encode against the persisted
    * codebook/bounds, the pin advances — O(new vectors)), and when the
    * accumulated routed-since-train fraction would cross
    * `maxRoutedFrac` the batch RETRAINS instead — continuous ingest is
    * exactly where frozen-centroid drift accumulates fastest, so the
    * recall floor is bounded by policy, not operator vigilance.
    * `maxRoutedFrac` defaults to
    * [[graft.operators.AnnIndex.DefaultMaxRoutedFrac]] (0.5); an
    * explicit value ≤ 0 disables the guard (plain
    * [[graft.operators.AnnIndex.refresh]], which still absorbs deletes
    * by masking and refuses non-replayable windows loudly).
    */
  def maintainAnn(spark: SparkSession, indexRoot: String,
                  checkpointDir: String,
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger
                      .ProcessingTime(0L),
                  maxRoutedFrac: Double =
                    graft.operators.AnnIndex.DefaultMaxRoutedFrac)
      : StreamingQuery = {
    val corpusRoot = graft.sources.TxLogTable(spark, s"$indexRoot/meta")
      .snapshot(graft.operators.AnnIndex.metaSchema)
      .collect().collectFirst {
        case r if r.getString(0) == "corpus_root" => r.getString(1)
      }.getOrElse(throw new IllegalStateException(
        s"$indexRoot is not a persisted ANN index (no corpus_root meta)"))
    spark.readStream.format("txlog")
      .option("skipChangeCommits", "true")
      .load(corpusRoot)
      .select(lit(1).as("tick")).filter(lit(false))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        if (maxRoutedFrac > 0)
          graft.operators.AnnIndex.refreshAuto(spark, indexRoot,
            maxRoutedFrac)
        else graft.operators.AnnIndex.refresh(spark, indexRoot)
        ()
      }
      .start()
  }

  /** Convenience: run any of the above on a parquet directory as a stream
    * and drain it into an in-memory table (test/driver harness).
    */
  def drainToMemory(spark: SparkSession, sourceDir: String,
                    name: String,
                    transform: DataFrame => DataFrame,
                    mode: OutputMode = OutputMode.Append): DataFrame = {
    val src = spark.readStream.schema(eventSchema).parquet(sourceDir)
    val q = transform(src).writeStream
      .outputMode(mode)
      .format("memory").queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
