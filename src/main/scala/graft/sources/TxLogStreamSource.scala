package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => StreamOffset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("txlog").load(root)` — the tx-log change feed
  * as a Structured Streaming source. Offsets ARE version numbers: each
  * micro-batch is `changesBetween(startV, endV]` — exactly the delta
  * files of those versions, never a rescan. Replay for exactly-once
  * recovery is free because data files are immutable and the manifest is
  * append-only: `getBatch(start, end)` is deterministic for any
  * checkpointed offset pair, as long as `vacuum` retention exceeds the
  * maximum recovery window (the same contract every CDC log source has).
  *
  * Append-only feed: overwrite commits surface their full new file set
  * (a reset, as on [[TxLogTable.changesBetween]]); MOR delete versions
  * contribute no rows here. A COW row-changing commit (delete / merge /
  * replace-where / restore / SQL DML) FAILS the plain stream loudly —
  * its rewritten files would re-deliver carried rows as phantom inserts
  * while the deletions vanish, silently corrupting downstream state.
  * The ways out mirror the public Delta source's contract:
  * `option("readChangeFeed", "true")` for exact insert/delete events,
  * `option("skipChangeCommits", "true")` to skip those commits' rows,
  * or `option("ignoreChanges", "true")` to opt into the re-delivering
  * raw file feed.
  *
  * The batch delta is re-flagged `isStreaming` via the classic session's
  * `internalCreateDataFrame` — the V1 `Source` contract (the rows are the
  * already-planned delta; only the flag changes).
  *
  * `option("maxVersionsPerTrigger", n)` bounds CATCH-UP batches: a stream
  * resumed against a table that committed 10,000 versions while it was
  * down drains them n versions at a time instead of planning one
  * mega-batch over the whole backlog (the `maxFilesPerTrigger` discipline
  * — at 100 TB an unbounded recovery batch is a driver-planning and
  * shuffle-spill hazard). Steady state is unaffected: once caught up,
  * each trigger still reads exactly the newly committed versions.
  * `option("maxBytesPerTrigger", n)` is the BYTE-weighted twin: versions
  * accumulate into a batch until their manifest-diff added bytes pass
  * the cap (always at least one version, so one oversized commit never
  * stalls the stream) — the right knob when commit sizes vary wildly
  * and "2 versions" could mean 2 rows or 2 TB. Both caps compose
  * (whichever bites first); neither caps a full initial snapshot (that
  * is ONE consistent batch by contract).
  *
  * Maintenance commits are SKIPPED by default: the layout rewrites
  * ([[TxLogTable.RewriteOps]]) re-lay files without changing a row, and a
  * feed that diffed file sets blindly would replay the rewritten rows as
  * inserts into every consumer — at 100 TB, one `CALL system.rebucket` on
  * a streamed table is a full-table phantom re-delivery. The `#op=`
  * manifest line identifies them; versions carrying those ops emit zero
  * rows. `option("includeMaintenance", "true")` opts back into the raw
  * file feed for consumers that genuinely track physical files (mirrors
  * the public Delta CDF's `dataChange = false` / `skipChangeCommits`
  * handling).
  *
  * `option("startingVersion", n | "latest")` starts the feed at version
  * n (first batch = changes of versions ≥ n) instead of replaying the
  * whole table as an initial snapshot — the resume-from-a-known-point
  * contract: a consumer that already holds the snapshot as of n-1 (a
  * clone, a batch backfill) streams only the delta since. "latest"
  * pins the table's current version AT STREAM CREATION: only commits
  * landing after the stream starts flow. Requires version n-1's
  * manifest to still exist (vacuum contract, as for any change-feed
  * cursor); honored only on a FRESH stream — a checkpointed offset
  * always wins on restart.
  *
  * The stream maintains a VACUUM CURSOR per checkpoint automatically
  * ([[TxLogTable.registerCursor]], named from the engine's metadataPath
  * hash): registered at stream creation, advanced as each batch is
  * committed, so a lagging or stopped-but-not-abandoned stream pins the
  * history it still needs past vacuum's time floor. Decommissioning a
  * stream for good is `releaseCursor` / `CALL system.release_cursor` —
  * the explicit act after which vacuum may reclaim its window.
  * `option("cursorName", n)` overrides the derived name;
  * `option("cursor", "false")` opts out entirely (an ephemeral consumer
  * that prefers the loud vacuum-horizon reset over holding history).
  *
  * `option("readChangeFeed", "true")` switches to the CDC schema: the
  * data columns plus `_commit_version` and `_change_type`
  * ('insert' | 'delete') — [[TxLogTable.changesWithDeletes]] as a
  * stream. MOR tombstones surface as keys-only delete rows; COW
  * row-changing commits (delete/merge/replace-where/SQL DML) surface
  * as a content diff of their rewritten files — full-row deletes plus
  * the replacement inserts, never a phantom re-insert of carried rows.
  * The keyed-state consumer (counting IVM, replicas) gets deletes
  * pushed instead of diffing snapshots, in BOTH delete modes.
  */
final class TxLogStreamSource(ctx: SQLContext, root: String,
                              val dataSchema: StructType,
                              maxVersionsPerTrigger: Option[Int] = None,
                              includeMaintenance: Boolean = false,
                              startingVersion: Option[Int] = None,
                              changeFeed: Boolean = false,
                              maxBytesPerTrigger: Option[Long] = None,
                              cursorName: Option[String] = None,
                              skipChangeCommits: Boolean = false,
                              ignoreChanges: Boolean = false)
    extends Source {

  private def spark = ctx.sparkSession
  private def table: TxLogTable = TxLogTable(spark, root)

  // The stream's vacuum pin: registered at CREATION (before the first
  // batch even plans, so a concurrent vacuum cannot reclaim the history
  // the stream is about to read) and advanced on every committed batch.
  // Never regress an existing pin — on restart the checkpointed progress
  // (reflected in the surviving cursor) is ahead of startingVersion.
  cursorName.foreach { n =>
    if (!table.cursors().contains(n))
      table.registerCursor(n, startingVersion.map(_ - 1).getOrElse(-1))
  }

  // Batch `end` is durably checkpointed: the next batch diffs FROM
  // manifest `end`, so the pin advances to exactly that version —
  // history behind it is released for vacuum, the window ahead is held.
  override def commit(end: StreamOffset): Unit =
    cursorName.foreach(n => table.registerCursor(n, versionOf(end)))

  override val schema: StructType =
    if (changeFeed) TxLogStreamSource.cdcSchema(dataSchema)
    else dataSchema

  // END of the last batch the engine actually PLANNED (set in getBatch;
  // re-synced from the checkpoint on recovery). The caps are
  // planned-relative, NOT offer-relative: the engine may poll getOffset
  // several times between batches (availability checks), and an
  // offer-relative cursor advances one cap window per POLL — several
  // windows then leak into the next batch and the cap silently
  // over-admits (caught live by the maxBytesPerTrigger spec: a
  // 200-row batch under a 100-row cap). Keying off the getBatch-seen
  // end makes repeated polls idempotent — the offer only advances when
  // a batch is actually planned.
  @volatile private var plannedV: Int = -1

  override def getOffset: Option[StreamOffset] =
    table.latestVersion.map { v =>
      // the version the NEXT batch extends from: the last planned end,
      // or (fresh incremental stream) the configured start
      val from =
        if (plannedV >= 0) Some(plannedV)
        else startingVersion.map(_ - 1)
      val vCapped = (maxVersionsPerTrigger, from) match {
        case (Some(m), Some(f)) => math.min(v, f + m)
        // first trigger of a fresh full stream: the initial snapshot is
        // ONE consistent batch (capping it would expose a torn first
        // read)
        case _ => v
      }
      // BYTE cap: walk the pending versions' manifest-diff weights and
      // stop once the accumulated added bytes pass the cap — always at
      // least one version, so the stream makes progress past any single
      // oversized commit (the maxBytesPerTrigger contract)
      val end = (maxBytesPerTrigger, from) match {
        case (Some(cap), Some(f)) if vCapped > f =>
          // LAZY walk with early stop: the first version past the cap
          // ends the scan, so a long backlog is never re-statted in
          // full on every poll
          val it = table.addedBytesIterator(f, vCapped,
            skipRewrites = !includeMaintenance)
          var acc = 0L
          var last = f
          var open = true
          while (open && it.hasNext) {
            val (ver, b) = it.next()
            if (last == f || acc + b <= cap) { acc += b; last = ver }
            else open = false // cap reached — later versions wait
          }
          last // always ≥ one version: progress past an oversized commit
        case _ => vCapped
      }
      LongOffset(end.toLong)
    }

  private def versionOf(o: StreamOffset): Int = o match {
    case LongOffset(v) => v.toInt
    case other => // checkpoint restore hands back a SerializedOffset
      other.json.trim.toInt
  }

  override def getBatch(start: Option[StreamOffset],
                        end: StreamOffset): DataFrame = {
    // a fresh stream (no checkpointed offset) starts at startingVersion
    // when given; a restart's checkpointed offset always wins
    val fromV = start.map(versionOf)
      .orElse(startingVersion.map(_ - 1)).getOrElse(-1)
    val endV = versionOf(end)
    // A column WIDENED mid-stream makes post-widen files physically
    // wider than this run's pinned schema — the parquet reader cannot
    // narrow and would die with an opaque column-convert error deep in
    // a task. Say what happened and what to do instead. (Rename/add are
    // fine mid-stream: physical bytes still match the pinned names via
    // the colmap, added columns are simply not selected.)
    table.tableSchema.foreach { rec =>
      dataSchema.fields.foreach { f =>
        rec.fields.find(_.name == f.name).foreach { cur =>
          if (cur.dataType != f.dataType &&
              TxLogTable.canWiden(f.dataType, cur.dataType))
            throw new IllegalStateException(
              s"column ${f.name} was widened to " +
                s"${cur.dataType.simpleString} while this stream is " +
                s"pinned at ${f.dataType.simpleString}: restart the " +
                "query — checkpointed offsets carry over, and a restart " +
                "without an explicit .schema() infers the widened one")
        }
      }
    }
    // recovery re-sync: a restarted query replays its checkpointed range
    // first; subsequent getOffset caps must extend from THAT planned
    // end, not from -1
    plannedV = math.max(plannedV, endV)
    val skip = !includeMaintenance
    val delta =
      if (changeFeed)
        table.changesWithDeletes(dataSchema, fromV, endV,
            skipRewrites = skip)
          // the declared CDC schema types _commit_version as LONG; the
          // tombstone branch tags with the Int version literal
          .withColumn("_commit_version",
            org.apache.spark.sql.functions.col("_commit_version")
              .cast("long"))
          .select(schema.fieldNames.map(
            org.apache.spark.sql.functions.col): _*)
      else {
        // The plain feed is APPEND-ONLY by contract. A row-changing
        // rewrite (COW delete/merge/restore) inside the batch would
        // either re-deliver every carried row of its rewritten files or
        // silently lose the deletions — both wrong for a consumer that
        // believes it is reading appends. Fail LOUDLY with the three
        // ways out (the public Delta source's
        // ignoreChanges / skipChangeCommits contract) instead of
        // corrupting downstream state by default.
        val present = table.versions.toSet
        // delete-dv / update-dv change rows without rewriting files
        // (positional masks) — same append-contract violation, same
        // three ways out (skipping one delivers the update's new rows
        // but never the masked deletions, exactly ignoreChanges'
        // documented re-delivery shape)
        val cowVs = (fromV + 1 to endV).filter(present)
          .filter(v => v > 0 && present(v - 1) &&
            (table.opOf(v).exists(TxLogTable.CowDiffOps) ||
              table.opOf(v).exists(Set("delete-dv", "update-dv"))))
        if (cowVs.nonEmpty && !skipChangeCommits && !ignoreChanges)
          throw new IllegalStateException(
            s"append-only txlog stream hit row-changing commit(s) " +
              s"${cowVs.mkString(", ")} at $root " +
              "(delete/merge/replace/restore rewrite rows in place). " +
              "Pick a contract: option(\"readChangeFeed\", \"true\") " +
              "for exact insert/delete events, " +
              "option(\"skipChangeCommits\", \"true\") to skip these " +
              "commits' rows, or option(\"ignoreChanges\", \"true\") " +
              "to accept rewritten files re-delivered as inserts")
        val excl = if (skipChangeCommits) cowVs.toSet else Set.empty[Int]
        table.changesBetweenEx(dataSchema, fromV, endV,
            skipRewrites = skip, excl)
          .drop("_commit_version")
      }
    org.apache.spark.sql.graft.StreamingShim.asStreaming(spark, delta)
  }

  override def stop(): Unit = ()
}

object TxLogStreamSource {
  /** Stable per-checkpoint cursor name: the engine's `metadataPath` is
    * unique per (checkpoint location, source index) and identical across
    * restarts of the same query, so hashing it names the stream's vacuum
    * pin deterministically — two different queries on the same table get
    * independent cursors, one restarted query resumes its own. */
  def cursorNameFor(metadataPath: String): String =
    "ckpt-" + java.security.MessageDigest.getInstance("MD5")
      .digest(metadataPath.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"${b & 0xff}%02x").mkString

  /** The CDC-mode schema: data columns + the two feed-metadata columns. */
  def cdcSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)))
}
