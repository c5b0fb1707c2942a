package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, pmod, xxhash64}
import org.apache.spark.sql.graft.PredicateRanges
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Minimal transaction-log table format — the commit protocol behind the
  * public Delta/Iceberg designs, re-derived for this engine's sink layer
  * (S4): a table is a pile of immutable data files plus an append-only log
  * of version manifests; a version BECOMES VISIBLE in the single atomic
  * create of its manifest file.
  *
  * Why this beats the staging-directory swap of `EtlContext.replace` at
  * 100 TB:
  *  - readers resolve a manifest once and read exactly that file list —
  *    snapshot isolation with no rename window, on stores where directory
  *    rename is not atomic (object stores);
  *  - a writer crash after staging data but before publishing the manifest
  *    leaves only unreferenced files — the table is untouched;
  *  - appends are O(delta) in DATA: new files land, nothing is rewritten.
  *    The manifest WRITE is O(delta) in METADATA too (the Delta
  *    checkpoint-plus-delta shape): a commit whose file-set change is
  *    small against its base is published as a DELTA manifest —
  *    `#delta=<base>` + `#rm=<rel>` removals + added data lines — and a
  *    complete self-contained manifest (a CHECKPOINT) is written whenever
  *    the delta chain reaches [[TxLogTable.DefaultLogCheckpointInterval]]
  *    links or the delta encoding would not actually be smaller (so a
  *    whole-table compaction or overwrite checkpoints for free). The
  *    trade quantified at the design target: 100 TB at the 1 GB
  *    compaction target is ~100k files × ~120 B/line ≈ 12 MB per
  *    SELF-CONTAINED manifest; a trickle-DML or streaming-ingest commit
  *    under the old always-full scheme paid those 12 MB per commit
  *    forever, growing with table size — the delta commit pays bytes
  *    proportional to the files it actually adds/removes plus the table
  *    metadata block. Readers resolve a delta by folding its chain down
  *    to the nearest checkpoint (≤ interval fetches, each cached
  *    process-wide — manifests are write-once so a (size, mtime) stamp
  *    is a sound cache identity). Delta manifests carry
  *    `#minReader=2`: a reader that predates delta resolution must
  *    REFUSE them loudly (silently ignoring unknown `#` keys here would
  *    read a near-empty table), which is exactly what the
  *    [[TxLogTable.SupportedReaderVersion]] gate enforces;
  *  - old versions stay readable (time travel) until vacuumed.
  *
  * Concurrency is optimistic, and every versioned commit runs through one
  * primitive, `optimisticCommit`: resolve the latest version, let the
  * caller plan the full manifest against it, publish that manifest as
  * the next version with [[TxLogTable.putIfAbsent]], and re-plan from
  * the new latest version when another writer claimed the number first.
  * `putIfAbsent` writes the bytes to a temp file beside the target and
  * claims the final name with a hard link, which is atomic and fails if
  * the name exists — so a reader never sees a partially written
  * manifest, and a lost race never overwrites the winner. On a real
  * deployment it maps to HDFS create-no-overwrite / object-store
  * put-if-absent.
  */
object TxLogTable {
  /** Default unreferenced-file age below which `vacuum` refuses to delete —
    * covers the window between a racing writer's `stage()` file moves and
    * its manifest publish.
    */
  val DefaultVacuumMinAgeMillis: Long = 15L * 60 * 1000

  /** Default manifest retention floor: `vacuum` refuses to delete a
    * manifest committed within this window, whatever `keep` says. This is
    * the guard between history GC and every cursor-holding consumer —
    * time travel, clones, and ABOVE ALL lagging change-feed checkpoints:
    * a stream that is N hours behind fails PERMANENTLY if vacuum deletes
    * the manifests its next batch must diff, and its only recovery is a
    * full re-snapshot (a 100 TB re-read). Seven days matches the public
    * Delta `deletedFileRetentionDuration` default; pass `retainMillis = 0`
    * for offline maintenance where no consumer can lag (tests, rebuilds).
    */
  val DefaultVacuumRetainMillis: Long = 7L * 24 * 60 * 60 * 1000

  /** Highest manifest layout this reader understands. 1 = self-contained
    * manifests only; 2 adds delta manifests (`#delta=`/`#rm=`). A manifest
    * declaring `#minReader=N` with N above this is REFUSED loudly — the
    * one meta key exempt from the ignore-unknown-keys rule, because a
    * reader that skipped the delta machinery would resolve a delta
    * manifest to just its added files and silently serve a near-empty
    * table.
    */
  val SupportedReaderVersion: Int = 2

  /** Reader version stamped into every DELTA manifest (`#minReader=2`).
    * Checkpoints (self-contained manifests) stay version-1 readable.
    */
  val DeltaReaderVersion: Int = 2

  /** Checkpoint cadence: a commit whose delta CHAIN (hops to the nearest
    * self-contained manifest) would reach this length writes a full
    * manifest instead. Bounds read-side resolution to ≤ interval manifest
    * fetches (each cached) and bounds how far vacuum's chain floor can
    * lower the drop cut. Conf-overridable:
    * `spark.graft.sql.logCheckpointInterval` (≤ 1 disables deltas —
    * every commit self-contained, the pre-delta behavior).
    */
  val DefaultLogCheckpointInterval: Int = 10

  // the rel path of an encoded data line (everything before the stats tab)
  private[sources] def relOf(line: String): String = line.takeWhile(_ != '\t')

  // how many lost version races an optimistic commit re-plans through
  // before it gives up
  private val CommitAttempts = 10

  /** What one planning pass of an optimistic commit decided: publish the
    * manifest `header` + `data` as the next version and return `result`,
    * or return `result` without committing anything.
    */
  private[sources] sealed trait CommitPlan[+R]
  private[sources] final case class Publish[+R](header: ManifestHeader,
                                                data: Seq[String], result: R)
      extends CommitPlan[R]
  private[sources] final case class Unchanged[+R](result: R)
      extends CommitPlan[R]

  // Suffix of the in-flight temp files `putIfAbsent` and
  // `replaceAtomically` write next to their target. No reader's filter
  // (`v*.manifest`, `*.cursor`, `*.tag`, `mv.def`) matches it, and
  // `vacuum` deletes the ones a crash left behind.
  private val TempSuffix = ".tmp"

  private def tempBeside(target: Path): Path = target.resolveSibling(
    s".${target.getFileName}.${java.util.UUID.randomUUID()}$TempSuffix")

  /** Create `target` holding `bytes`, or throw
    * `FileAlreadyExistsException` when it exists — the put-if-absent
    * every manifest publish rests on. The bytes go to a temp file in the
    * same directory and a hard link then claims the final name: the link
    * is atomic and refuses an existing name, so a reader sees no file or
    * the complete one. (Writing the target in place exposes a partial
    * file; a rename would silently replace a racing winner.)
    */
  private[graft] def putIfAbsent(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = tempBeside(target)
    try {
      Files.write(tmp, bytes)
      Files.createLink(target, tmp)
    } finally Files.deleteIfExists(tmp)
  }

  /** Replace `target` with `bytes` atomically: a temp file in the same
    * directory renamed over it, so a concurrent reader sees the old
    * content or the new, never a torn file.
    */
  private def replaceAtomically(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = tempBeside(target)
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** Root-string marker addressing a branch: `<path>@@branch=<name>`.
    * See the constructor note — the branch rides the root string through
    * every layer that already threads roots around.
    */
  val BranchSep: String = "@@branch="

  /** Root string addressing branch `name` of the table at `path`. */
  def branchRoot(path: String, name: String): String =
    path + BranchSep + name

  /** Filesystem path component of a (possibly branch-encoded) root —
    * what layers that build `<root>/data` paths directly must use.
    */
  def pathOfRoot(root: String): String = root.indexOf(BranchSep) match {
    case -1 => root
    case i => root.substring(0, i)
  }

  // branch names become directory names and ride inside root strings —
  // keep them to a safe alphabet, and never shadow a version number
  private[sources] def validBranchName(name: String): Boolean =
    name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' ||
      c == '-' || c == '.') && name.toIntOption.isEmpty && name != "main"

  // meta keys that ARE the delta encoding — stripped by resolution so a
  // resolved line list is indistinguishable from a self-contained manifest
  // (restore/clone republish resolved lists verbatim)
  private[sources] def isDeltaMachinery(l: String): Boolean =
    l.startsWith("#delta=") || l.startsWith("#rm=") ||
      l.startsWith("#chain=") || l.startsWith("#minReader=")

  /** One resolved manifest: its header lines, decoded once on first use,
    * and its data lines.
    */
  private[sources] final class Resolved(val meta: Seq[String],
                                        val data: Seq[String]) {
    lazy val header: ManifestHeader = ManifestHeader.decode(meta)
  }

  /** Process-wide resolved-manifest cache. Sound because manifests are
    * write-once: published by putIfAbsent, never modified in place, only
    * ever DELETED (vacuum) — so (absolute path, size, mtime) identifies
    * content; a test recreating a table at a reused tmp path misses on
    * the stamp and re-reads. Bounded LRU: resolved line lists are small
    * (≈ file count × 120 B) and 512 versions cover any live working set.
    */
  private val manifestCache =
    new java.util.LinkedHashMap[String, ((Long, Long), Resolved)](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ((Long, Long), Resolved)])
          : Boolean = size() > 512
    }

  private[sources] def cachedManifest(key: String, stamp: (Long, Long))
                                     (load: => Resolved): Resolved =
    manifestCache.synchronized {
      Option(manifestCache.get(key)).collect {
        case (s, r) if s == stamp => r }
    }.getOrElse {
      val r = load
      manifestCache.synchronized {
        manifestCache.put(key, (stamp, r)); () }
      r
    }

  /** Process-wide memo of driver-collected SMALL version snapshots —
    * the row store behind [[TxLogTable.localPinnedSnapshot]]. Keyed by
    * the version's write-once manifest stamp plus the projection, so
    * equal keys imply identical rows (same soundness argument as the
    * manifest cache above; a same-path recreation misses on the stamp).
    * Bounded LRU on BOTH axes: at most 16 entries AND at most
    * [[LocalSnapCacheMaxRows]] total retained rows (each entry is
    * additionally caller-capped) — eviction is by driver heap, not
    * just entry count, so 16 wide near-cap dims cannot pin gigabytes.
    */
  private val LocalSnapCacheMaxRows: Long = 1L << 19
  private val localSnapCache = new java.util.LinkedHashMap[
      ((String, Long, Long), Seq[String]),
      Array[org.apache.spark.sql.Row]](32, 0.75f, true)

  private[sources] def cachedLocalRows(
      key: ((String, Long, Long), Seq[String]))
      (load: => Array[org.apache.spark.sql.Row])
      : Array[org.apache.spark.sql.Row] =
    localSnapCache.synchronized(Option(localSnapCache.get(key)))
      .getOrElse {
        val rows = load
        localSnapCache.synchronized {
          localSnapCache.put(key, rows)
          // evict LRU-first until both bounds hold (the newest entry
          // always stays — a single over-bound snapshot just won't be
          // joined by siblings)
          var totalRows = 0L
          localSnapCache.values.forEach(v => totalRows += v.length)
          val it = localSnapCache.entrySet().iterator()
          while ((localSnapCache.size() > 16 ||
              totalRows > LocalSnapCacheMaxRows) &&
              localSnapCache.size() > 1 && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) {
              totalRows -= e.getValue.length
              it.remove()
            }
          }
        }
        rows
      }

  /** Cap on a table's TOTAL live positional-delete mask rows — the
    * read-side anti-join broadcasts the mask union, so it must stay
    * driver/broadcast-sized (≈ tens of MB at the cap, the same order as
    * the MOR tombstone cap). A delete that would cross it is refused
    * with "compact first" (compaction folds every mask) — the COW path
    * handles bulk deletes. Conf-overridable:
    * `spark.graft.sql.maxDvMaskRows`.
    */
  val MaxDvMaskRows: Long = 4L << 20

  def maxDvMaskRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.sql.maxDvMaskRows")
      .map(_.toLong).getOrElse(MaxDvMaskRows)

  /** When TRUE (the default) an MV refresh that would push the view's
    * positional-delete mask past [[maxDvMaskRows]] folds the masks
    * itself — one ordinary compact commit on the view, then the refresh
    * re-anchors and proceeds — instead of refusing with a "compact the
    * table first" pager. Streaming-cadence views thus self-maintain;
    * conf-off restores the refusal for operators who schedule their own
    * maintenance windows. */
  def mvAutoCompact(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.mv.autoCompact")
      .forall(_.toBoolean)

  /** Cap on the CHANGED-DIM-KEY set a joined-MV refresh will fold as a
    * BROADCAST dim delta (the key set rides the build side of the
    * affected-fact semi-join, so the hint must stay broadcast-sized). A
    * dim window whose changed keys exceed it folds the SAME signed
    * arithmetic through shuffle joins instead — still O(delta +
    * affected) — and only a churn covering most of the dim (where the
    * affected groups approach the whole view anyway) falls back to the
    * one-pass full recompute. Conf-overridable:
    * `spark.graft.mv.maxDimDeltaKeys`. */
  val MaxDimDeltaKeys: Long = 1L << 20

  def maxDimDeltaKeys(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mv.maxDimDeltaKeys")
      .map(_.toLong).getOrElse(MaxDimDeltaKeys)

  /** Cap on a dimension snapshot's MANIFEST row count under which MV
    * enrichment joins carry an explicit broadcast hint (the classic
    * star contract: the dim pins map-side enrichment and the fact never
    * shuffles for the join). A dim past the cap — or one whose exact
    * count the manifest cannot answer (live MOR tombstones) — simply
    * loses the hint: Catalyst/AQE then plan the enrichment like any
    * large join (shuffle on the FK), correct at any dim size instead of
    * a driver OOM at a forced billion-row broadcast. Conf-overridable:
    * `spark.graft.mv.maxBroadcastDimRows`. */
  val MaxBroadcastDimRows: Long = 4L << 20

  def maxBroadcastDimRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mv.maxBroadcastDimRows")
      .map(_.toLong).getOrElse(MaxBroadcastDimRows)

  /** Cap under which a pinned dim snapshot is COLLECTED ONCE per
    * refresh into a driver-local relation instead of being re-read and
    * re-broadcast by every action the refresh runs. A refresh is many
    * actions (delta checkpoints, key counts, uniqueness probes, the
    * commit stage), and EACH action's BroadcastExchange collects the
    * same dim rows to the driver again — one bounded collect up front
    * is the same driver bytes paid once instead of N times, and every
    * downstream plan gets a LocalRelation leaf (no scan subtree to
    * re-analyze, no broadcast-build job). Deliberately far below the
    * broadcast cap: between the two caps the per-action broadcast hint
    * still applies; past both it is an ordinary shuffle join.
    * Conf-overridable: `spark.graft.mv.maxLocalDimRows`. */
  val MaxLocalDimRows: Long = 1L << 18

  def maxLocalDimRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mv.maxLocalDimRows")
      .map(_.toLong).getOrElse(MaxLocalDimRows)

  /** `#op=` values whose commits preserve the table's logical content —
    * pure layout maintenance (file packing / clustering / bucket
    * evolution). The change feed can skip these wholesale: every row in
    * their "new" files already reached consumers under an earlier
    * version. `restore` is deliberately NOT here (it changes visible
    * rows), nor are the metadata-only ops (rename/add/drop-column,
    * add-check — they add no files, so the feed already emits nothing).
    */
  val RewriteOps: Set[String] =
    Set("compact", "compact-small", "compact-where", "zorder", "rebucket",
      "resort")

  /** COPY-ON-WRITE row-changing ops: versions that REWRITE the affected
    * files (old file out, replacement file in) rather than appending.
    * The CDC feed ([[TxLogTable.changesWithDeletes]]) computes these
    * versions' events by DIFFING the removed vs added file contents —
    * the raw file feed would mis-report them (every carried row of a
    * rewritten file would re-arrive as a phantom insert, and the deleted
    * rows would vanish without a delete event). `restore` is here too:
    * a rollback's logical delta is exactly the file-set diff against the
    * version it undoes (usually the blast radius of the bad commit; a
    * restore reaching past a compaction pays an O(table) diff once —
    * the price of exact undo events, chosen by the operator who ran the
    * restore). `overwrite` is deliberately NOT here: a full
    * re-materialization is a RESET by contract, and diffing one is
    * O(table) on EVERY overwrite, not once per operator-invoked undo.
    */
  val CowDiffOps: Set[String] =
    Set("delete", "merge", "replace-where", "restore",
      "row-level-delete", "row-level-update", "row-level-merge")

  /** Per-file arming facts for [[rangeOrder]]: the first-sort-key range
    * (exact integral footer stats, or the `:spre:` order-preserving
    * string encoding) plus whether the file may hold NULL sort keys.
    * The null flag is load-bearing: parquet min/max are computed over
    * NON-NULL values only, so a file holding `{null, 60..100}` reports
    * range [60,100] — disjointness alone would arm it mid-stream while
    * its nulls violate the declared ascending-nulls-first order.
    */
  final case class SortKeyRange(min: Long, max: Long,
                                mayHaveNulls: Boolean)

  /** Ascending first-sort-key range order of `items` iff concatenating
    * the internally-sorted files in that order IS an ascending-nulls-
    * first stream — THE arming rule shared by the SPJ scan's ordering
    * report and [[TxLogTable.resort]]'s damage detection, so the two
    * can never disagree about what is armed. A missing range disarms.
    * Ranges must be pairwise disjoint: strict maxPrev < minNext, except
    * a boundary TIE passes for a SINGLE sort column. Tie soundness:
    * for exact integral stats a tie is a genuine equal boundary value
    * (equal keys adjacent across files still read ascending); for the
    * `:spre:` string encoding, [[strEncCeil]] is defined so that
    * `ceil(maxA) == floor(minB)` PROVES `maxA <= minB` in byte order
    * (see its scaladoc derivation), so the concatenation is ascending
    * there too. With secondary sort columns any tie disarms — a key
    * straddling the boundary could interleave its secondary values.
    * NULL sort keys are allowed ONLY in the
    * range-minimal file: each file is internally ascending-nulls-first,
    * so the first file's nulls open the stream — nulls in any later
    * file would surface mid-stream below keys already emitted.
    */
  def rangeOrder[A](items: Seq[(A, Option[SortKeyRange])],
                    singleSortCol: Boolean): Option[Seq[A]] = {
    if (items.length <= 1) return Some(items.map(_._1))
    if (items.exists(_._2.isEmpty)) return None
    val ordered = items.flatMap { case (a, r) => r.map(a -> _) }
      .sortBy(e => (e._2.min, e._2.max))
    if (ordered.drop(1).exists(_._2.mayHaveNulls)) return None
    val disjoint = ordered.sliding(2).forall {
      case Seq((_, a), (_, b)) =>
        a.max < b.min || (a.max == b.min && singleSortCol)
      case _ => true
    }
    if (disjoint) Some(ordered.map(_._1)) else None
  }

  /** A file's first-sort-key arming facts: exact integral footer
    * stats, else the `:spre:` order-preserving string encoding. The
    * null flag is conservative — only a RECORDED zero `:nulls:` count
    * proves the file null-free for `c`. A file whose sort key is
    * all-null has no min/max at all; when the stats prove that case
    * (nulls == rows), it gets a synthetic below-everything range so it
    * can arm as the stream-opening file instead of disarming its dir
    * forever (otherwise resort could never converge on null-heavy
    * data).
    */
  def sortKeyRangeOf(e: FileEntry, c: String): Option[SortKeyRange] = {
    val nulls = e.stats.get(nullsKey(c)).forall(_._1 > 0)
    e.stats.get(c).map(r => SortKeyRange(r._1, r._2, nulls))
      .orElse(e.stats.get(strKey(c))
        .map(r => SortKeyRange(r._1, r._2, nulls)))
      .orElse {
        val allNull = (e.stats.get(nullsKey(c)), e.stats.get(RowsKey)) match {
          case (Some((n, _)), Some((r, _))) => n == r && r > 0
          case _ => false
        }
        if (allNull)
          Some(SortKeyRange(Long.MinValue, Long.MinValue,
            mayHaveNulls = true))
        else None
      }
  }

  /** KMV sketch size for the `#ndv:` column distinct-count lines: 64
    * minima ≈ ±12% standard error — planner-grade (a broadcast decision
    * needs the order of magnitude, not the exact count) at ~1 KB per
    * column per manifest.
    */
  val KmvK: Int = 64

  /** Default per-file byte target for `rebucket`'s rewrite output —
    * optimize's target_bytes default: large enough that footer/open
    * overhead amortizes, small enough that a task (and any later
    * re-read of one file) stays memory-bounded at scale.
    */
  val RebucketTargetBytes: Long = 128L * 1024 * 1024

  /** Hive partition path segments of a data-file rel path, unescaped:
    * `p=3/q=x%2Fy/batch-....parquet` → Map(p -> "3", q -> "x/y"). The ONE
    * segment-to-map parse every partition-exact decision shares (filtered
    * metadata aggregates, partition-scoped compaction, the partitions
    * procedure) — escaping or sentinel fixes land here once.
    */
  def partitionSegmentsOf(rel: String): Map[String, String] =
    rel.split('/').iterator.collect {
      case seg if seg.contains('=') =>
        val i = seg.indexOf('=')
        seg.substring(0, i) -> unescapePath(seg.substring(i + 1))
    }.toMap

  /** Largest per-column distinct-key set `merge` will collect to Bloom-probe
    * files for a STRING merge key. 10k strings is a few hundred KB of driver
    * memory; a larger batch falls back to "every file may be affected"
    * (conservative — the full rewrite such a wide merge needs anyway).
    */
  val MaxMergeProbeKeys: Int = 10000

  /** Undo Spark's hive-path escaping (`%XX` uppercase-hex of specials) so a
    * partition path segment compares against the raw column value. A `%`
    * not followed by two hex digits is kept literally.
    */
  def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Reserved stats key carrying the file's exact row count. Contains `:`,
    * a wire-format delimiter, so it can NEVER collide with a real column:
    * any column whose parquet dot-string contains a delimiter is dropped
    * from stats at harvest time ([[statsSafe]]) — a real column named
    * `:rows` simply never gets a stats entry.
    */
  val RowsKey = ":rows"

  /** Reserved hive-segment name of a bucketed table's first hidden
    * derived partition column (`_bkt=<id>` dirs) — see
    * [[TxLogTable.bucketSpecsOf]]. Never part of the logical schema;
    * every read's schema projection drops it.
    */
  val BucketCol = "_bkt"

  /** Hidden hive-dir column name of bucket level `i`: `_bkt`, `_bkt1`,
    * `_bkt2`, ... — one level per entry of the table's bucket spec, in
    * spec order, always the INNERMOST partition levels.
    */
  def bucketColAt(i: Int): String =
    if (i == 0) BucketCol else s"$BucketCol$i"

  /** Is `name` one of the reserved hidden bucket-level columns? */
  def isBucketCol(name: String): Boolean =
    name == BucketCol ||
      (name.startsWith(BucketCol) &&
        name.drop(BucketCol.length).forall(_.isDigit))

  /** Reserved hive-segment name of the first hidden TIME partition
    * level (`_tp=2024-01-15` dirs) — Iceberg's hidden partitioning
    * (`days(ts)` & friends) re-derived on the hive layout this format
    * already has. Like [[BucketCol]]: never part of the logical schema,
    * derived at every staging write, dropped by every read.
    */
  val TimeCol = "_tp"

  /** Hidden hive-dir column name of time level `i`: `_tp`, `_tp1`, ... */
  def timeColAt(i: Int): String =
    if (i == 0) TimeCol else s"$TimeCol$i"

  /** Is `name` one of the reserved hidden time-level columns? */
  def isTimeCol(name: String): Boolean =
    name == TimeCol ||
      (name.startsWith(TimeCol) &&
        name.drop(TimeCol.length).forall(_.isDigit))

  /** Any reserved hidden derived partition level (bucket or time). */
  def isHiddenCol(name: String): Boolean =
    isBucketCol(name) || isTimeCol(name)

  /** The granularities a time transform can take. Segment rendering is
    * Iceberg's lexicographic convention (`2024`, `2024-01`,
    * `2024-01-15`, `2024-01-15-08`): string order IS time order, so a
    * time-range slice of dirs is contiguous.
    */
  val TimeUnits: Seq[String] = Seq("year", "month", "day", "hour")

  /** Spark's hive sentinel for a NULL partition value. */
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The time unit a stored `_tp` segment was RENDERED at, recovered
    * from its shape (the lexicographic formats have distinct lengths:
    * `2024` / `2024-01` / `2024-01-15` / `2024-01-15-08`). This is what
    * makes hidden-partition SPEC EVOLUTION (`days(ts)` → `hours(ts)`)
    * a metadata-only change: old files keep their old-unit dirs, and
    * pruning renders each predicate bound at the FILE's own unit before
    * comparing — exact at any mixture. None (caller keeps the file —
    * conservative) for a shape no unit produces.
    */
  def unitOfSeg(seg: String): Option[String] = seg.length match {
    case 4 => Some("year")
    case 7 => Some("month")
    case 10 => Some("day")
    case 13 => Some("hour")
    case _ => None
  }

  /** Driver-side twin of [[timeSegCol]]: the calendar segment containing
    * epoch-micros `us`, same floor-division arithmetic, same rendering —
    * the pruning side and the layout side can never disagree.
    */
  def segOfMicros(us: Long, unit: String): String = {
    val secs = Math.floorDiv(us, 1000000L)
    val days = Math.floorDiv(secs, 86400L)
    val d = java.time.LocalDate.ofEpochDay(days)
    unit match {
      case "year" => f"${d.getYear}%04d"
      case "month" => f"${d.getYear}%04d-${d.getMonthValue}%02d"
      case "day" => d.toString
      case "hour" =>
        f"${d.toString}-${Math.floorMod(secs, 86400L) / 3600L}%02d"
      case other =>
        throw new IllegalArgumentException(s"unknown time unit $other")
    }
  }

  /** The ONE definition of a time-level segment value: the UTC calendar
    * truncation of the source TIMESTAMP, derived zone-FREE from epoch
    * arithmetic (`unix_timestamp` of an instant, day = floor-div 86400,
    * rendered through DateType's zone-free string cast) — NOT
    * `date_format`, whose session-zone rendering would let two writers
    * in different zones split one instant across two dirs. Every
    * staging write derives the hidden dir value from this expression,
    * so layout and maintenance can never disagree. NULL instants derive
    * NULL and land in the hive default partition — sound: a temporal
    * predicate never matches a NULL instant, and the per-file stats
    * carry the nullness for `IS NULL` scans.
    */
  def timeSegCol(key: String, unit: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val e = unix_timestamp(col(key)) // epoch seconds of the instant
    val days = floor(e.cast("double") / 86400d).cast("int")
    val dstr = date_add(to_date(lit("1970-01-01")), days).cast("string")
    unit match {
      case "year" => substring(dstr, 1, 4)
      case "month" => substring(dstr, 1, 7)
      case "day" => dstr
      case "hour" => concat(dstr, lit("-"),
        lpad((pmod(e, lit(86400L)) / 3600L).cast("int").cast("string"),
          2, "0"))
      case other =>
        throw new IllegalArgumentException(s"unknown time unit $other")
    }
  }

  /** The ONE definition of a bucket id: `pmod(xxhash64(key), n)`. Every
    * staging write, every rebucket rewrite, the V2 bucket function and
    * the manifest point-prune all derive from this expression (or its
    * bit-identical interpreted twin) — the layout and the planner can
    * never disagree.
    */
  def bucketIdCol(key: String, n: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col(key)),
      org.apache.spark.sql.functions.lit(n))
      .cast(org.apache.spark.sql.types.IntegerType)

  /** Reserved stats-key prefix carrying a column's exact NULL count
    * (`:nulls:<col>=n:n`). Like [[RowsKey]], the leading `:` is a wire
    * delimiter, so the composite key can never collide with a real
    * column's range entry; the `<col>` part must itself be stats-safe or
    * the entry is not written. Null counts are harvested for EVERY
    * stats-safe column (strings and binaries too — null counting needs no
    * ordering), so IS NULL / IS NOT NULL predicates prune files of any
    * type, not just the integral range-stats columns.
    */
  val NullsKeyPrefix = ":nulls:"

  def nullsKey(column: String): String = NullsKeyPrefix + column

  /** Reserved stats key carrying the version that ADDED the file
    * (`:v=n:n`) — the sequence number merge-on-read tombstones are ordered
    * against: a tombstone deletes only from files added at or before its
    * own version, so re-inserting a deleted key later behaves like SQL
    * (the new row survives). Files from manifests written before this key
    * existed read as version 0 — oldest, every tombstone applies.
    */
  val AddedVKey = ":v"

  /** Reserved stats-key prefix for STRING/BINARY range stats
    * (`:spre:<col>=floorEnc:ceilEnc`): the column's parquet footer
    * min/max bytes, embedded into the existing (Long, Long) stats slot by
    * an order-preserving 7-byte-prefix encoding ([[strEncFloor]] /
    * [[strEncCeil]]). Lets `snapshotWhere` prune string RANGE predicates
    * (`url >= 'h' AND url < 'i'`) from the manifest — the one string
    * shape the per-file Blooms (equality-only) cannot skip.
    */
  val StrKeyPrefix = ":spre:"

  def strKey(column: String): String = StrKeyPrefix + column

  /** Order-preserving 7-byte-prefix embedding of a byte string into a
    * non-negative Long: the first 7 bytes big-endian, right-padded with
    * zero bytes. UTF-8 byte order equals code-point order, so for string
    * columns the embedding is monotone in the column's sort order:
    * a <= b  ⇒  strEncFloor(a) <= strEncFloor(b). The FLOOR form is a
    * lower bound for any string with that prefix; [[strEncCeil]] is the
    * matching upper bound (floor + 1 when truncation dropped bytes).
    * 7 bytes = 56 bits keeps every value strictly positive in a signed
    * Long, so the existing (Long, Long) stats wire format carries it.
    */
  def strEncFloor(bytes: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0L)
      i += 1
    }
    v
  }

  /** Upper bound twin of [[strEncFloor]], defined so that an encoding
    * TIE at a file boundary proves value order — the fact
    * [[rangeOrder]]'s single-column tie pass rests on. Claim: for byte
    * strings a (a file's footer max) and b (the next file's footer
    * min), `strEncCeil(a) == strEncFloor(b)` implies `a <= b`:
    *  - len(a) > 7: ceil = floor(a)+1, so floor(b) > floor(a) — b's
    *    7-byte prefix sorts strictly above a's, hence b > a.
    *  - len(a) <= 7, a NUL-free: floor(b)'s first len(a) bytes equal
    *    a's (all nonzero) and the rest of the 7-byte window is zero,
    *    so b = a ++ NULs (++ anything past byte 7) — a is a prefix of
    *    b, hence a <= b.
    *  - len(a) <= 7, a CONTAINS a NUL byte: zero-padding makes the
    *    embedding non-injective there ("ab"+NUL and "ab" encode
    *    equal though "ab"+NUL > "ab"), so this case also bumps to
    *    floor+1, restoring the strict-prefix argument above.
    * The bump only WIDENS the bound, so range pruning on it stays
    * sound; `StrTieSpec` property-checks the claim over random byte
    * strings including NULs.
    */
  def strEncCeil(bytes: Array[Byte]): Long = {
    val f = strEncFloor(bytes)
    if (bytes.length <= 7 && !bytes.contains(0: Byte)) f
    else f + 1 // truncation (or NUL padding ambiguity): bound strictly above
  }

  def strEncFloor(s: String): Long =
    strEncFloor(s.getBytes(UTF_8))

  def strEncCeil(s: String): Long =
    strEncCeil(s.getBytes(UTF_8))

  /** A column name is stats-safe iff it contains no wire-format delimiter
    * (`=` `;` `:` tab newline — the separators of
    * `rel<TAB>col=min:max;...`). Unsafe names would encode to an
    * unparseable line; dropping their stats only costs pruning (readers
    * treat a missing entry as "cannot prune"), never correctness.
    */
  def statsSafe(name: String): Boolean =
    !name.exists(c => c == '=' || c == ';' || c == ':' ||
      c == '\t' || c == '\n')

  /** A column name entering the MANIFEST METADATA (rename / add) must
    * additionally avoid the `#colmap=` wire delimiters (`>` `,`): the
    * map parser splits on them, so such a name would silently drop its
    * own mapping and resolve to a nonexistent physical column — all-NULL
    * reads from pre-rename files, not a parse error. Unlike stats (where
    * an unsafe name only costs pruning), here the name is load-bearing,
    * so it is rejected at commit time.
    */
  def wireSafeName(name: String): Boolean =
    statsSafe(name) && !name.exists(c => c == '>' || c == ',')

  /** Per-file Bloom filter over one column's values — the point-lookup
    * complement to min/max range stats: a key-scattered layout (every file
    * spans the full key range) defeats range pruning entirely, but a bloom
    * probe still skips every file whose bit pattern excludes the key. This
    * is Delta's bloom-filter index / Iceberg's bloom write property,
    * re-derived for the manifest: the filter rides the manifest line, so
    * the skip decision needs no file open at all.
    *
    * Hashing is canonical-string MD5 so the Spark-side harvest
    * (`md5(cast(c as string))`, codegen'd) and the driver-side probe
    * (`MessageDigest`) agree bit-for-bit: h1 = first 15 hex digits, h2 =
    * hex digits 17-31 (60-bit each — no sign issues), probe positions
    * `(h1 + i*h2) mod m` for i in 1..k. False positives only cost pruning;
    * a false NEGATIVE is impossible for values the harvest saw, which is
    * the soundness contract (`typ` guards the cross-type coercion holes —
    * see [[org.apache.spark.sql.graft.PredicateRanges.Point]]).
    *
    * @param typ 'i' = integral column (probe values normalized to decimal
    *            canonical form), 's' = string column (probed verbatim)
    */
  final case class Bloom(m: Int, k: Int, typ: Char, bits: Array[Long]) {
    def mightContain(canonical: String): Boolean = {
      val (h1, h2) = Bloom.hashes(canonical)
      mightContainHashed(h1, h2)
    }

    /** Probe with a PRE-COMPUTED hash pair — lets a caller testing one
      * value against many blooms pay the MD5 once, not per file (the
      * distributed over-cap merge probe tests every batch key against
      * every candidate file's bloom).
      */
    def mightContainHashed(h1: Long, h2: Long): Boolean =
      (1 to k).forall { i =>
        val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, m.toLong).toInt
        (bits(pos >> 6) & (1L << (pos & 63))) != 0L
      }
  }

  object Bloom {
    /** 8192 bits / 6 hashes ≈ 1% FPP at ~850 distinct values per file,
      * ~1.4 KB base64 per column per manifest line. A 1% false-positive
      * rate costs reading 1% more files than optimal — never correctness.
      */
    val DefaultM = 8192
    val DefaultK = 6

    /** The shared hash: lowercase-hex MD5 of the UTF-8 canonical string,
      * split into two independent 60-bit lanes (Kirsch-Mitzenmacher double
      * hashing). Must match the Spark-side
      * `conv(substring(md5(cast(c as string)), …), 16, 10)` exactly.
      */
    def hashes(canonical: String): (Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(canonical.getBytes(UTF_8))
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16),
        java.lang.Long.parseLong(hex.substring(16, 31), 16))
    }

    def fromPositions(m: Int, k: Int, typ: Char,
                      positions: Iterable[Int]): Bloom = {
      val bits = new Array[Long](m / 64)
      positions.foreach(p => bits(p >> 6) |= (1L << (p & 63)))
      Bloom(m, k, typ, bits)
    }

    /** Wire form `m:k:t:<base64 bits>` — `:` separators are wire-safe
      * (column names containing one never get entries, [[statsSafe]]) and
      * base64's alphabet contains none of `; = tab`, except the `=` pad,
      * which is safe because the enclosing `col=…` split is on the FIRST
      * `=` only.
      */
    def encode(b: Bloom): String = {
      val bb = java.nio.ByteBuffer.allocate(b.bits.length * 8)
      bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.bits.foreach(bb.putLong)
      s"${b.m}:${b.k}:${b.typ}:" +
        java.util.Base64.getEncoder.encodeToString(bb.array())
    }

    def decode(s: String): Option[Bloom] = scala.util.Try {
      val Array(m, k, t, b64) = s.split(':')
      val bytes = java.util.Base64.getDecoder.decode(b64)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val bits = new Array[Long](bytes.length / 8)
      var i = 0
      while (i < bits.length) { bits(i) = bb.getLong(); i += 1 }
      Bloom(m.toInt, k.toInt, t.head, bits)
    }.toOption
  }

  /** One manifest data line: a file path relative to data/, plus optional
    * per-column min/max statistics harvested from the parquet footer at
    * commit time (integral columns only), plus optional per-column Bloom
    * filters. Wire format:
    * `rel/path.parquet<TAB>col=min:max;…<TAB>col=m:k:t:b64;…` — readers
    * that only need the path take the text before the first tab, so
    * stats-free, stats-bearing and bloom-bearing lines coexist in one
    * manifest (the stats field may be empty when only blooms exist).
    */
  final case class FileEntry(rel: String, stats: Map[String, (Long, Long)],
                             blooms: Map[String, Bloom] = Map.empty) {
    def encoded: String = {
      val statsEnc = stats.toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s"$c=$mn:$mx" }.mkString(";")
      val bloomEnc = blooms.toSeq.sortBy(_._1)
        .map { case (c, b) => s"$c=${Bloom.encode(b)}" }.mkString(";")
      if (blooms.nonEmpty) s"$rel\t$statsEnc\t$bloomEnc"
      else if (stats.nonEmpty) s"$rel\t$statsEnc"
      else rel
    }
  }

  /** Type promotions the parquet readers perform natively (verified
    * against both the vectorized and row-based readers): a widened
    * column reads old narrow files and new wide files under one
    * declared type with no rewrite. Anything else (string↔numeric,
    * narrowing, decimal) is refused — a "widening" the reader cannot
    * promote would silently null or crash old files' reads.
    */
  def canWiden(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** One `history()` row: what produced a version, when, and its size. */
  final case class VersionInfo(version: Int, commitMillis: Option[Long],
                               op: Option[String], numFiles: Int)

  /** A registered change-feed cursor: `version` is the last offset its
    * owner has durably committed, so vacuum must preserve every manifest
    * at or after it (the next batch diffs FROM that manifest). */
  final case class Cursor(name: String, version: Int, updatedMillis: Long)

  /** A positional-delete (deletion-vector) manifest entry: `dvRel` is a
    * parquet under data/ holding `(file STRING, pos LONG)` rows — the
    * row positions (parquet `_metadata.row_index`) masked OUT of data
    * file `file`; `n` is the exact number of positions this entry masks
    * in that file (what keeps metadata COUNT(*) exact under live DVs);
    * `v` is the commit that wrote it. One DV parquet typically serves
    * many target files of one DELETE/UPDATE — the manifest carries one
    * `#dv=` line PER TARGET so a later rewrite of one target drops
    * exactly its mask share.
    *
    * Wire format: `#dv=<dvRel>;v=<v>;n=<n>;file=<targetRel>` (see
    * [[ManifestHeader]]); `dvRel` is always an unpartitioned staged path
    * (`batch-<uuid>/part-*.parquet`, no `;`).
    */
  final case class DvEntry(dvRel: String, v: Int, n: Long, file: String)

  /** What a copy-on-write [[TxLogTable.merge]] did: the committed version,
    * how many files were rewritten (their key stats overlapped the batch's
    * key range), how many were carried untouched by manifest reference —
    * and, for deleteWhere/replaceWhere, how many were DROPPED unread
    * (every row provably matched the predicate: the retention fast path).
    * `rewritten + carried + dropped` always accounts for every pre-commit
    * data file.
    */
  final case class MergeStats(version: Int, rewritten: Int, carried: Int,
                              dropped: Int = 0)

  /** Thrown by a head-conditional commit ([[TxLogTable.upsertPos]] with
    * `expectHead`) when the table's head moved off the version the
    * caller's read state was anchored on — the signal a stateful
    * read-fold-write consumer (the MV refresh) uses to retry its WHOLE
    * fold against the winner's state instead of committing a delta
    * computed from a stale base (lost-update/double-fold prevention).
    */
  final class ConcurrentHeadMoved(msg: String)
    extends IllegalStateException(msg)

  // Tolerant stats parse: a malformed `col=min:max` token yields no entry
  // instead of a MatchError — a reader must never fail the whole table over
  // one unparseable stats token (missing stats merely mean "cannot prune").
  def decodeEntry(line: String): FileEntry = {
    def parseStats(enc: String): Map[String, (Long, Long)] =
      enc.split(';').iterator.flatMap { kv =>
        kv.split('=') match {
          case Array(c, range) =>
            // RowsKey itself contains ':' — split from the RIGHT so the
            // reserved key round-trips; a plain column range has exactly
            // one ':' and splits identically either way
            val cut = range.lastIndexOf(':')
            if (cut <= 0 || cut == range.length - 1) None
            else scala.util.Try(
              c -> (range.substring(0, cut).toLong,
                range.substring(cut + 1).toLong)).toOption
          case _ => None
        }
      }.toMap
    // bloom kv splits on the FIRST '=' only: base64 padding may end the
    // value with '=', and column names can never contain one (statsSafe)
    def parseBlooms(enc: String): Map[String, Bloom] =
      enc.split(';').iterator.flatMap { kv =>
        val cut = kv.indexOf('=')
        if (cut <= 0) None
        else Bloom.decode(kv.substring(cut + 1))
          .map(b => kv.substring(0, cut) -> b)
      }.toMap
    line.split('\t') match {
      case Array(rel) => FileEntry(rel, Map.empty)
      case Array(rel, enc) => FileEntry(rel, parseStats(enc))
      case Array(rel, enc, blooms) =>
        FileEntry(rel, parseStats(enc), parseBlooms(blooms))
      case other => FileEntry(other.head, Map.empty)
    }
  }
}

final case class TxLogTable(spark: SparkSession, root: String) {
  import TxLogTable.{Publish, Unchanged}

  // A root of the form `<path>@@branch=<name>` addresses the table's
  // BRANCH log: same data directory (zero-copy, like a clone without the
  // links), own manifest sequence under `_log/branches/<name>`. Encoding
  // the branch in the ROOT STRING is what makes the entire stack —
  // DSv2 catalog table, read rule splice, SPJ scan, relation fallback,
  // streaming, every DML path — branch-capable with no plumbing: each
  // layer already threads `root` through to this one constructor.
  /** The branch this handle addresses (None = main). */
  def branchName: Option[String] = branch

  private val (basePath: String, branch: Option[String]) =
    root.indexOf(TxLogTable.BranchSep) match {
      case -1 => (root, None)
      case i => (root.substring(0, i),
        Some(root.substring(i + TxLogTable.BranchSep.length)))
    }

  private val logDir: Path = branch match {
    case Some(b) => Paths.get(basePath, "_log", "branches", b)
    case None => Paths.get(basePath, "_log")
  }
  private val dataDir: Path = Paths.get(basePath, "data")

  private def manifestPath(v: Int): Path = logDir.resolve(f"v$v%08d.manifest")

  /** Committed versions, ascending; empty for a nonexistent table. */
  def versions: Seq[Int] =
    if (!Files.isDirectory(logDir)) Nil
    else scala.util.Using.resource(Files.list(logDir)) { s =>
      s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toInt }
        .toSeq.sorted
    }

  def latestVersion: Option[Int] = versions.lastOption

  /** Write-once identity stamp of `v`'s manifest (absolute path, size,
    * mtime) — a process-wide memo key for version-pinned derived state:
    * manifests are write-once and data files immutable once published,
    * so equal stamps imply identical version content (the same guard
    * the manifest-line cache uses; a same-path recreation changes the
    * stamp and misses the memo).
    */
  def manifestStamp(v: Int): (String, Long, Long) = {
    val p = manifestPath(v).toAbsolutePath
    (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
  }

  /** The projected snapshot at `v` pinned as a DRIVER-LOCAL relation
    * when the version's EXACT manifest row count is known (no live
    * masks to subtract conservatively) and ≤ `cap`. The rows are
    * collected once per (manifest stamp, projection) PROCESS-WIDE and
    * served as a LocalRelation leaf: every consuming action's broadcast
    * build then runs from in-memory rows (no scan job, no snapshot
    * subtree to re-analyze), and a loop that re-pins the same immutable
    * version (an MV refresh harness, an ANN search sweep) stops paying
    * one collect per iteration. None when the count is unknown or over
    * the cap — callers keep their distributed plan, correctness
    * identical either way.
    */
  def localPinnedSnapshot(schema: StructType, v: Int,
                          cap: Long): Option[DataFrame] =
    metaRowCount(Some(v)).filter(_ <= cap).map { _ =>
      val snap = snapshot(schema, Some(v))
      val key = (manifestStamp(v),
        schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.sql}"))
      val rows = TxLogTable.cachedLocalRows(key)(snap.collect())
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), snap.schema)
    }

  // Manifest format: a [[ManifestHeader]] plus data-file paths relative
  // to data/, each optionally stats-tagged. A DELTA manifest
  // (`#delta=<base>`, `#minReader=2`) additionally carries `#rm=<rel>`
  // removals; its data lines are ADDITIONS against the resolved base.
  // The header is always complete per manifest (only the file LIST is
  // delta'd), so resolution just strips the delta keys from it.
  private def rawManifestLines(v: Int): Seq[String] =
    new String(Files.readAllBytes(manifestPath(v)), UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)

  /** Resolved manifest of `v`: delta chains folded down to the nearest
    * checkpoint, delta-machinery keys stripped — callers see the exact
    * content a self-contained manifest would hold. Cached process-wide
    * (manifests are write-once), so resolving a chain costs one file
    * read per UNCACHED link, and scanning history oldest-first is
    * O(versions) reads total.
    */
  private def resolved(v: Int): TxLogTable.Resolved = {
    val p = manifestPath(v)
    // stamp BEFORE the read: write-once files make a pre-read stamp only
    // conservatively stale (a mismatch re-reads, never serves wrong lines)
    val stamp = (Files.size(p),
      Files.getLastModifiedTime(p).toMillis)
    TxLogTable.cachedManifest(p.toAbsolutePath.toString, stamp) {
      resolveLines(rawManifestLines(v))
    }
  }

  /** The decoded header of version `v`. */
  def headerOf(v: Int): ManifestHeader = resolved(v).header

  private def resolveLines(raw: Seq[String]): TxLogTable.Resolved = {
    raw.collectFirst { case l if l.startsWith("#minReader=") =>
        l.stripPrefix("#minReader=").toInt }
      .filter(_ > TxLogTable.SupportedReaderVersion)
      .foreach { n =>
        throw new IllegalStateException(
          s"table $root requires manifest reader version $n; this " +
            s"reader supports ${TxLogTable.SupportedReaderVersion} — " +
            "upgrade before reading (refusing beats silently dropping " +
            "the lines this reader cannot interpret)")
      }
    val (meta, data) = raw.partition(ManifestHeader.isHeaderLine)
    raw.collectFirst { case l if l.startsWith("#delta=") =>
        l.stripPrefix("#delta=").toInt } match {
      case None => new TxLogTable.Resolved(meta, data)
      case Some(b) =>
        val removed = raw.collect { case l if l.startsWith("#rm=") =>
          l.stripPrefix("#rm=") }.toSet
        val addedRels = data.iterator.map(TxLogTable.relOf).toSet
        // a delta's data lines are additions: an added rel REPLACES a
        // base line of the same rel (stats may have been re-derived);
        // base order then adds, so resolution is deterministic per version
        new TxLogTable.Resolved(
          meta.filterNot(TxLogTable.isDeltaMachinery),
          dataLines(b).filterNot { l =>
            val r = TxLogTable.relOf(l); removed(r) || addedRels(r)
          } ++ data)
    }
  }

  // delta-chain length recorded at `v` (0 = checkpoint/self-contained)
  private def chainLenOf(v: Int): Int =
    rawManifestLines(v).collectFirst {
      case l if l.startsWith("#chain=") => l.stripPrefix("#chain=").toInt
    }.getOrElse(0)

  // the nearest self-contained manifest at or below `v` — what `v`'s
  // resolution chain bottoms out on (vacuum must keep it alive with `v`)
  private def checkpointFloor(v: Int): Int =
    rawManifestLines(v).collectFirst {
      case l if l.startsWith("#delta=") => l.stripPrefix("#delta=").toInt
    } match {
      case Some(b) => checkpointFloor(b)
      case None => v
    }

  // Rewrite `v` in place as its resolved, self-contained form — the
  // vacuum pre-step that lets the drop cut ignore delta chains. The move
  // is atomic and the content logically identical, so this is the one
  // sanctioned exception to write-once manifests; the resolved-lines
  // cache keys on (size, mtime) and re-reads the new encoding.
  private def materializeManifest(v: Int): Unit = {
    val r = resolved(v)
    TxLogTable.replaceAtomically(manifestPath(v),
      (r.meta ++ r.data).mkString("\n").getBytes(UTF_8))
  }

  private def checkpointInterval: Int =
    spark.conf.getOption("spark.graft.sql.logCheckpointInterval")
      .map(_.toInt).getOrElse(TxLogTable.DefaultLogCheckpointInterval)

  /** Encode the commit at `next` whose full content is `header` + `data`:
    * a delta manifest against `next - 1` when the chain stays under the
    * checkpoint interval AND the delta bytes actually undercut the full
    * encoding (a whole-table rewrite naturally fails that test and
    * checkpoints for free); the self-contained list otherwise. Callers
    * keep assembling complete manifests — this single chokepoint owns the
    * wire layout, so every commit path (DML, compaction, schema
    * evolution, streaming sink) gets O(delta) metadata without knowing
    * deltas exist.
    */
  private def encodeManifest(next: Int, header: ManifestHeader,
                             data: Seq[String]): Array[Byte] = {
    val meta = header.lines
    val full = (meta ++ data).mkString("\n").getBytes(UTF_8)
    val interval = checkpointInterval
    if (next == 0 || interval <= 1) return full
    val base = next - 1
    val (baseChain, baseData) =
      try (chainLenOf(base), dataLines(base))
      catch { case scala.util.control.NonFatal(_) => return full }
    if (baseChain + 1 >= interval) return full
    val baseByRel = baseData.map(l => TxLogTable.relOf(l) -> l).toMap
    val newRels = data.iterator.map(TxLogTable.relOf).toSet
    val removes = baseData.map(TxLogTable.relOf).filterNot(newRels)
    // adds = lines absent from the base OR present with different bytes
    // (re-derived stats / retagged version) — resolution replaces by rel
    val adds = data.filterNot(l =>
      baseByRel.get(TxLogTable.relOf(l)).contains(l))
    val delta = (meta ++
      Seq(s"#minReader=${TxLogTable.DeltaReaderVersion}",
        s"#delta=$base", s"#chain=${baseChain + 1}") ++
      removes.map("#rm=" + _) ++ adds).mkString("\n").getBytes(UTF_8)
    if (delta.length < full.length) delta else full
  }

  /** Commit history, oldest first — the DESCRIBE HISTORY surface: which
    * operation produced each surviving version and when. Reads each
    * manifest at most ONCE (driver-side, O(versions) file reads — the
    * header and the data-line count come from the same cached read,
    * which matters on object-store-like backends where each read is a
    * round trip).
    */
  def history(): Seq[TxLogTable.VersionInfo] =
    versions.map { v =>
      val r = resolved(v)
      TxLogTable.VersionInfo(v, r.header.commitMillis, r.header.op,
        r.data.size)
    }

  /** The op recorded at `v` — one manifest read, for callers (like the
    * streaming sink's replay fence) that must not pay [[history]]'s
    * O(all versions) for a single version's metadata.
    */
  def opOf(v: Int): Option[String] = headerOf(v).op

  /** Latest version committed at or before `tsMillis` — timestamp-based
    * time travel (`snapshot(schema, versionAsOf(ts))`). None when the
    * table is empty, nothing was committed yet at `tsMillis`, or history
    * before the first timestamped commit was vacuumed.
    */
  def versionAsOf(tsMillis: Long): Option[Int] =
    history().filter(_.commitMillis.exists(_ <= tsMillis))
      .lastOption.map(_.version)

  // raw data lines (path + optional stats) — what carried-file commits copy
  private def dataLines(v: Int): Seq[String] = resolved(v).data

  // the manifest file content of `header` + `data`
  private def manifestBytes(header: ManifestHeader,
                            data: Seq[String]): Array[Byte] =
    (header.lines ++ data).mkString("\n").getBytes(UTF_8)

  /** Decoded file entries of `version` (default latest): path + stats. */
  def entries(version: Option[Int] = None): Seq[TxLogTable.FileEntry] =
    version.orElse(latestVersion).map(dataLines).getOrElse(Nil)
      .map(TxLogTable.decodeEntry)

  private def readManifest(v: Int): Seq[String] =
    dataLines(v).map(_.takeWhile(_ != '\t'))

  /** The partition layout committed at `v` (empty = unpartitioned). */
  def partitionColsOf(v: Int): Seq[String] = headerOf(v).partitionCols

  /** The bloom-indexed columns recorded at `v` — a TABLE property like the
    * partition layout: set once at a commit, inherited by every subsequent
    * append / merge / delete / compaction so rewritten files keep their
    * filters without each caller re-declaring them.
    */
  def bloomColsOf(v: Int): Seq[String] = headerOf(v).bloomCols

  // the table's current bloom columns (empty for a fresh/never-bloom table)
  private def inheritedBloomCols: Seq[String] =
    latestVersion.map(bloomColsOf).getOrElse(Nil)

  /** The declared within-file sort order recorded at `v` (`#sortCols=`,
    * a TABLE property fixed at CREATE, carried by every commit — see
    * [[create]]'s validation for why it is immutable and
    * partitioned-only). The GUARANTEE behind it is enforced at the one
    * staging chokepoint ([[stage]] sorts every task's rows by
    * partitionCols ++ sortCols before the write), so EVERY data file of
    * a sorted table is internally ordered by these columns ascending,
    * nulls first — which is what lets the SPJ scan report a V2 output
    * ordering and the sort-merge join drop its per-side Sort nodes
    * entirely. At 100 TB that is the difference between sorting both
    * fact tables on every join and sorting neither, ever: the layout
    * paid the sort once, at write time.
    */
  def sortColsOf(v: Int): Seq[String] = headerOf(v).sortCols

  /** Optimize-write table property (`#optimizeWrite=`, set at CREATE,
    * carried like the other table properties): when true, every
    * user-facing data write ([[commit]] append/overwrite,
    * [[commitDynamic]], the merge/DML rewrites) routes its rows through
    * a `REBALANCE` shuffle on the partition layout before the file
    * write, so AQE coalesces trickle partitions and splits skewed ones
    * toward `spark.sql.adaptive.advisoryPartitionSizeInBytes`. This is
    * the small-file-prevention half of the maintenance story: without
    * it, a 200-shuffle-partition job appending into a 100-value hive
    * layout writes up to 20k near-empty files PER COMMIT at 100 TB, and
    * compaction forever chases ingest. Maintenance rewrites
    * (compact/resort/rebucket/zorder) are exempt — they hand-place
    * their output partitioning (range or salted-hash), which a
    * rebalance shuffle would destroy.
    */
  def optimizeWriteOf(v: Int): Boolean = headerOf(v).optimizeWrite

  /** Distinct-count estimates per ndv column at `v`. The columns are
    * named by `#ndvCols=` (a TABLE property set at CREATE like the bloom
    * columns). For each, every append/overwrite folds the batch's
    * k-minimum-value hashes into a `#ndv:<col>=` manifest line
    * ([[TxLogTable.KmvK]] 15-hex-char md5 minima, ~1 KB/column —
    * O(columns) per MANIFEST, independent of file count, which is what
    * makes it carryable at a million files). KMV merges by
    * union-and-keep-k-smallest, so appends cost one bounded fold;
    * row-preserving rewrites carry the lines untouched; deletes/merges
    * leave the estimate stale-HIGH — conservative for the planner use (a
    * high NDV means a low estimated filter selectivity, never an
    * underestimated broadcast). Opt-in because the batch sketch is one
    * extra column scan of the staged files per commit.
    *
    * The estimator: fewer than k minima IS the exact count; otherwise
    * (k-1) / (fraction of the 60-bit hash space below the k-th minimum).
    */
  def ndvOf(v: Int): Map[String, Long] =
    headerOf(v).ndv.toMap.map { case (c, hs) =>
      c -> (if (hs.length < TxLogTable.KmvK) hs.length.toLong
            else {
              val top = java.lang.Long.parseLong(hs.max.substring(0, 15), 16)
              if (top <= 0) hs.length.toLong
              else ((TxLogTable.KmvK - 1).toDouble *
                math.pow(2.0, 60) / top.toDouble).toLong
            })
    }

  /** Batch KMV minima over STAGED encoded lines for the table's declared
    * ndv columns — one bounded column scan of the staged files per
    * column; empty (free) when the table declares none. The fold input
    * is IDEMPOTENT: a rewrite path that re-sketches carried-forward rows
    * merely re-adds the same hashes, so EVERY adding path can fold its
    * staged files without overcounting — which is what keeps the sketch
    * from going stale-LOW after merges/DML insert new values (the
    * dangerous direction: an under-estimated NDV under-sizes a filtered
    * side and broadcasts what should have shuffled).
    */
  private def stagedKmv(staged: Seq[String]): Map[String, Seq[String]] = {
    val cols = latestVersion.map(headerOf(_).ndvCols).getOrElse(Nil)
    if (cols.isEmpty || staged.isEmpty) Map.empty
    else {
      val paths = staged.map(_.takeWhile(_ != '\t'))
        .map(r => dataDir.resolve(r).toString)
      val df = spark.read.parquet(paths: _*)
      cols.filter(df.columns.contains).map { c =>
        c -> graft.functions.Sketches
          .kmvMinima(df, col(c), TxLogTable.KmvK)
          .collect().map(_.getString(0).take(15)).toSeq
      }.toMap
    }
  }

  /** `h` with `batch` folded into its sketches of every declared ndv
    * column (union, keep k smallest); `reset` starts fresh — the
    * whole-table-overwrite contract. Unchanged when no ndv column is
    * declared.
    */
  private def foldNdv(h: ManifestHeader, batch: Map[String, Seq[String]],
                      reset: Boolean): ManifestHeader =
    if (h.ndvCols.isEmpty) h
    else {
      val parent = if (reset) Map.empty[String, Seq[String]] else h.ndv.toMap
      h.copy(ndv = h.ndvCols.map(c => c ->
        (parent.getOrElse(c, Nil) ++ batch.getOrElse(c, Nil))
          .distinct.sorted.take(TxLogTable.KmvK)))
    }

  /** Bloom size in BITS recorded at `base` (`#bloomBits=`, default
    * [[TxLogTable.Bloom.DefaultM]]). A table property like the bloom
    * columns: the 8192-bit default saturates near ~850 distinct values
    * per file (kn/m ≥ 2 pushes the false-positive rate past 50%, at which
    * point a multi-key merge probe clears nothing), so tables whose files
    * carry thousands of keys size up — 10 bits/value holds ~1% FPP, and a
    * power-of-two m keeps the position math a mask.
    */
  private def inheritedBloomBits(base: Option[Int]): Int =
    base.flatMap(headerOf(_).bloomBits).getOrElse(TxLogTable.Bloom.DefaultM)

  /** The LOGICAL table schema recorded at `v` (`#schema=` meta line, JSON).
    * Present on catalog-created tables ([[create]]) and carried by every
    * commit; absent on tables that only ever saw raw `commit` calls, whose
    * schema is inferred from data files as before.
    */
  def schemaOf(v: Int): Option[StructType] = headerOf(v).schema

  /** Current logical schema, when recorded. */
  def tableSchema: Option[StructType] = latestVersion.flatMap(schemaOf)

  /** Logical→physical column-name map at `v` (`#colmap=` meta line).
    * Physical names are what sits in the parquet files, the footer stats,
    * the blooms and the hive paths; logical names are what every API-level
    * schema, predicate and incoming DataFrame uses. A column appears here
    * only after a [[renameColumn]]; unmapped columns are identity. This is
    * the column-mapping design Delta/Iceberg use so RENAME is a pure
    * metadata commit: no data file is ever rewritten, pre-rename files
    * keep their physical column and the map re-labels it at read time.
    */
  def colMapOf(v: Int): Map[String, String] = headerOf(v).colmap

  private def inheritedColMap: Map[String, String] =
    latestVersion.map(colMapOf).getOrElse(Map.empty)

  // the colmap matching the LOGICAL schema of `version` — every
  // version-pinned read path must translate through the map of the
  // version whose schema the caller passes, or a time-traveled read after
  // later renames resolves to a physical column no old file carries
  // (silent all-NULL results)
  private def colMapAt(version: Option[Int]): Map[String, String] =
    version.orElse(latestVersion).map(colMapOf).getOrElse(Map.empty)

  // logical column name → physical (identity when unmapped)
  private def physOf(map: Map[String, String], c: String): String =
    map.getOrElse(c, c)

  // translate a logical-keyed pruning summary to physical keys: manifest
  // stats, blooms and hive path segments are all recorded physical
  private def physKeyed[T](map: Map[String, String],
                           m: Map[String, T]): Map[String, T] =
    if (map.isEmpty) m else m.map { case (c, v) => physOf(map, c) -> v }

  private def physNullness(map: Map[String, String],
                           nn: PredicateRanges.Nullness)
      : PredicateRanges.Nullness =
    if (map.isEmpty) nn
    else PredicateRanges.Nullness(nn.mustBeNull.map(physOf(map, _)),
      nn.mustBeNonNull.map(physOf(map, _)))

  // rename an incoming LOGICAL DataFrame's columns to their physical names
  // before staging, so data files always carry physical columns
  private def toPhysical(df: DataFrame): DataFrame = {
    val map = inheritedColMap
    if (map.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map(c =>
      col(c).as(physOf(map, c))): _*)
  }

  /** Hash-bucket layout recorded at `v` — ONE `#bucketSpec=<key>:<n>`
    * line per bucket LEVEL, in order: the table is hive-partitioned on
    * the HIDDEN derived columns [[TxLogTable.bucketColAt]]
    * `= pmod(xxhash64(key_i), n_i)` — Iceberg's bucket transform
    * re-derived on the hive layout this format already has. The key
    * columns stay plain data columns; the bucket ids are derived at
    * EVERY staging write ([[stage]]), never stored in file bytes, and
    * dropped by every read's schema projection. What it buys at 100 TB:
    * a scan can report `KeyGroupedPartitioning(bucket(n_1, k_1), ...)`,
    * so an equi-join of two tables bucketed the same way on
    * HIGH-CARDINALITY keys plans with zero shuffle exchanges (identity
    * partitioning can only do this for low-cardinality keys — one hive
    * dir per value).
    *
    * COMPOSITE join keys use a GRID of single-key levels
    * (`bucket(4, tenant_id), bucket(4, entity_id)` → `_bkt=i/_bkt1=j`
    * dirs), NOT one tuple-hash transform — deliberately: Spark's SPJ
    * planner only accepts single-argument transforms in a key-grouped
    * partitioning (`KeyGroupedPartitioning.supportsExpressions` requires
    * `transform.children.size == 1`; a multi-arg bucket degrades the
    * scan to UnknownPartitioning and every join shuffles), while a grid
    * of single-key transforms key-groups natively. The grid also prunes
    * better: a predicate on HALF the composite key still prunes its own
    * dir level, where a tuple hash needs the whole tuple.
    */
  def bucketSpecsOf(v: Int): Seq[(String, Int)] = headerOf(v).bucketSpecs

  /** Hidden-TIME-partitioning layout recorded at `v` — ONE
    * `#timeSpec=<col>:<unit>` line per time LEVEL, in order: the table
    * is hive-partitioned on the HIDDEN derived columns
    * [[TxLogTable.timeColAt]] `= utc-truncation(col)` (Iceberg's
    * `days(ts)` transform re-derived on the hive layout, exactly like
    * [[bucketSpecsOf]] re-derives `bucket(n, k)`). The source column
    * stays a plain TIMESTAMP data column; the calendar segments are
    * derived at every staging write and dropped by every read. What it
    * buys at 100 TB: time-clustered ingest with NO user-managed date
    * column — every file's `ts` min/max spans one calendar unit, so the
    * ordinary manifest range stats prune a time-range scan to the
    * matching dirs without any derived-predicate machinery, and
    * partition-scoped maintenance (compactWhere / zorder-where /
    * overwrite) targets one day instead of the table.
    */
  def timeSpecsOf(v: Int): Seq[(String, String)] = headerOf(v).timeSpecs

  // derive the hidden bucket and time columns when this table's layout
  // declares them and the staged frame doesn't already carry them — the
  // ONE chokepoint every write path (append, merge rewrite, delete
  // rewrite, replaceWhere, compaction) funnels through keeps the layout
  // automatic
  private def withBucketCol(df: DataFrame,
                            partitionCols: Seq[String]): DataFrame = {
    val specs = latestVersion.map(bucketSpecsOf).getOrElse(Nil)
    val times = latestVersion.map(timeSpecsOf).getOrElse(Nil)
    val bucketed = specs.zipWithIndex.foldLeft(df) {
      case (acc, ((key, n), i)) =>
        val bc = TxLogTable.bucketColAt(i)
        if (!partitionCols.contains(bc) || acc.columns.contains(bc)) acc
        else acc.withColumn(bc, TxLogTable.bucketIdCol(key, n))
    }
    times.zipWithIndex.foldLeft(bucketed) { case (acc, ((key, u), i)) =>
      val tc = TxLogTable.timeColAt(i)
      if (!partitionCols.contains(tc) || acc.columns.contains(tc)) acc
      else acc.withColumn(tc, TxLogTable.timeSegCol(key, u))
    }
  }

  /** Create an EMPTY table with a declared logical schema — the DDL
    * surface (`CREATE TABLE ... USING txlog` lands here via the catalog).
    * Version 0 is a pure-metadata manifest: schema JSON, partition layout,
    * optional bloom columns, zero data files. Fails if the table exists.
    */
  def create(schema: StructType, partitionCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             bucketSpecs: Seq[(String, Int)] = Nil,
             sortCols: Seq[String] = Nil,
             ndvCols: Seq[String] = Nil,
             optimizeWrite: Boolean = false,
             timeSpecs: Seq[(String, String)] = Nil): Int = {
    require(branch.isEmpty,
      "create targets MAIN — branches FORK an existing table " +
        "(createBranch), they are never created bare")
    ndvCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"ndv column $c not in schema")
      require(TxLogTable.wireSafeName(c),
        s"ndv column '$c' contains a manifest wire delimiter")
    }
    if (sortCols.nonEmpty) {
      require(sortCols.distinct == sortCols,
        s"sort columns must be distinct: $sortCols")
      sortCols.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"sort column $c not in schema")
        require(TxLogTable.wireSafeName(c),
          s"sort column '$c' contains a manifest wire delimiter")
      }
      // partitioned-only: a hive layout forces every write through the
      // staging chokepoint that ENFORCES the sort; an unpartitioned
      // table's native DSv2 batch write bypasses it, and a declared-but-
      // unenforced ordering would make a merge join silently WRONG
      require(partitionCols.nonEmpty,
        "sortCols need a partitioned layout (the staging write path is " +
          "what enforces the sort); partition or bucket the table")
    }
    partitionCols.filterNot(TxLogTable.isHiddenCol)
      .foreach(c => require(schema.fieldNames.contains(c),
        s"partition column $c not in schema"))
    if (timeSpecs.nonEmpty) {
      timeSpecs.foreach { case (k, u) =>
        require(schema.fieldNames.contains(k),
          s"time-partition source column $k not in schema")
        require(schema.fields.find(_.name == k).exists(_.dataType ==
          org.apache.spark.sql.types.TimestampType),
          s"time-partition source $k must be TIMESTAMP (a DATE column " +
            "can identity-partition directly)")
        require(TxLogTable.wireSafeName(k),
          s"time-partition source '$k' contains a manifest wire delimiter")
        require(TxLogTable.TimeUnits.contains(u),
          s"unknown time unit $u: use ${TxLogTable.TimeUnits}")
        require(!partitionCols.contains(k),
          s"time-partition source $k cannot also be an identity " +
            "partition column")
      }
      require(timeSpecs.map(_._1).distinct == timeSpecs.map(_._1),
        s"one time transform per source column: ${timeSpecs.map(_._1)}")
      schema.fieldNames.filter(TxLogTable.isTimeCol).foreach(c =>
        throw new IllegalArgumentException(
          s"column name $c is reserved for hidden time partitioning"))
      // the hidden time levels appear among the NON-bucket levels in
      // spec order (typically outermost: the date ingest layout); the
      // hidden bucket levels stay innermost regardless
      require(partitionCols.filter(TxLogTable.isTimeCol) ==
        timeSpecs.indices.map(TxLogTable.timeColAt),
        s"a time-partitioned table's hidden cols are " +
          s"${timeSpecs.indices.map(TxLogTable.timeColAt)} in spec " +
          s"order, got $partitionCols")
    }
    if (bucketSpecs.nonEmpty) {
      val keys = bucketSpecs.map(_._1)
      require(keys.distinct == keys,
        s"bucket keys must be distinct: $keys")
      bucketSpecs.foreach { case (k, n) =>
        require(schema.fieldNames.contains(k),
          s"bucket key $k not in schema")
        require(TxLogTable.wireSafeName(k),
          s"bucket key '$k' contains a manifest wire delimiter")
        require(!partitionCols.contains(k),
          s"bucket key $k cannot also be an identity partition column")
        require(n > 0 && n <= (1 << 20), s"bucket count out of range: $n")
      }
      schema.fieldNames.filter(TxLogTable.isBucketCol).foreach(c =>
        throw new IllegalArgumentException(
          s"column name $c is reserved for bucketing"))
      // the hidden bucket dirs nest INNERMOST, in spec order: identity
      // prunes (static and DPP) cut whole outer dirs first, the bucket
      // ids refine within
      val expect = bucketSpecs.indices.map(TxLogTable.bucketColAt)
      require(partitionCols.takeRight(expect.length) == expect &&
        partitionCols.count(TxLogTable.isBucketCol) == expect.length,
        "a bucketed table's hidden bucket cols are its INNERMOST " +
          s"partition levels in spec order ($expect), got $partitionCols")
    }
    Files.createDirectories(logDir)
    Files.createDirectories(dataDir)
    TxLogTable.putIfAbsent(manifestPath(0), manifestBytes(
      ManifestHeader.empty.restamp("create").copy(
        partitionCols = partitionCols, bloomCols = bloomCols,
        schema = Some(schema), bucketSpecs = bucketSpecs,
        timeSpecs = timeSpecs, sortCols = sortCols, ndvCols = ndvCols,
        optimizeWrite = optimizeWrite), Nil))
    0
  }

  // Serializable-conflict guard for the stage-then-race write paths
  // (commit / group-replace / dynamic-overwrite stage ONCE before their
  // publish loop): staged files' hidden bucket ids were derived under
  // the spec current at staging, so a CONCURRENT REBUCKET landing before
  // our publish would let the retry publish a silently corrupt layout —
  // files whose `_bkt` segment lies about their content under the new
  // hash, which turns the bucket point-prune into wrong answers. Refuse
  // loudly instead (the same contract as the write-write detection in
  // publishReplace); the caller reruns against the new spec. Paths that
  // stage INSIDE their loop (merge, compactions, rebucket itself)
  // re-derive per attempt and need no guard.
  private[sources] def requireSpecUnchanged(
      stagedSpec: Seq[(String, Int)], base: Option[Int],
      what: String): Unit = {
    val now = base.map(bucketSpecsOf).getOrElse(Nil)
    if (now != stagedSpec)
      throw new java.util.ConcurrentModificationException(
        s"$what: a concurrent rebucket changed the bucket layout " +
          s"($stagedSpec -> $now) after this write staged its files — " +
          "rerun the statement")
  }

  /** THE commit protocol: every write that publishes a version runs
    * through here. Each pass resolves the latest version `base` and hands
    * it with `next = base + 1` to `plan`, which validates against `base`
    * and returns either the full manifest (header and data lines) for
    * `next` or a no-op result. The manifest is encoded (delta or
    * checkpoint) and published with [[TxLogTable.putIfAbsent]]; when
    * another writer claimed `next` first, `plan` runs again against the
    * new latest version. Staging done inside `plan` is redone per pass;
    * files a lost pass staged stay unreferenced until `vacuum`.
    */
  private def optimisticCommit[R](what: String)
      (plan: (Option[Int], Int) => TxLogTable.CommitPlan[R]): R = {
    @scala.annotation.tailrec
    def attempt(n: Int): R = {
      val base = latestVersion
      val next = base.getOrElse(-1) + 1
      plan(base, next) match {
        case Unchanged(result) => result
        case Publish(header, data, result) =>
          val won =
            try {
              TxLogTable.putIfAbsent(manifestPath(next),
                encodeManifest(next, header, data))
              true
            } catch {
              case _: java.nio.file.FileAlreadyExistsException => false
            }
          if (won) result
          else if (n + 1 < TxLogTable.CommitAttempts) attempt(n + 1)
          else throw new IllegalStateException(
            s"$what lost the version race ${TxLogTable.CommitAttempts} " +
              s"times: $root")
      }
    }
    attempt(0)
  }

  // optimisticCommit for the metadata-only commits (schema evolution,
  // restore, branch publish): `build` gets the existing head and returns
  // the full manifest; the result is the committed version
  private def metadataCommit(what: String)
      (build: Int => (ManifestHeader, Seq[String])): Int =
    optimisticCommit(what) { (base, next) =>
      require(base.isDefined, s"$what on nonexistent table $root")
      val (header, data) = build(base.get)
      Publish(header, data, next)
    }

  private def recordedSchema(b: Int, what: String): StructType =
    schemaOf(b).getOrElse(throw new IllegalStateException(
      s"$what needs a recorded #schema (catalog-created table)"))

  // a schema-evolution commit of `b`: every file and property carried,
  // `change` applied to the header
  private def schemaCommit(b: Int, op: String)
      (change: ManifestHeader => ManifestHeader)
      : (ManifestHeader, Seq[String]) = {
    val data = dataLines(b)
    (change(headerOf(b).carry(op, data)), data)
  }

  /** RENAME COLUMN as a pure metadata commit (column mapping): the logical
    * schema gets the new name, the colmap routes it to the unchanged
    * physical column, and NO data file is touched — pre-rename files keep
    * serving rows under the new name through the map. Requires a recorded
    * schema (catalog-created tables). Partition columns are refused (their
    * physical name is baked into every hive path); tables with live MOR
    * tombstones are refused (tombstone files carry physical key columns —
    * compact first, which materializes and clears them).
    */
  def renameColumn(oldName: String, newName: String): Int =
    metadataCommit("renameColumn") { b =>
      val schema = recordedSchema(b, "renameColumn")
      require(schema.fieldNames.contains(oldName),
        s"no such column: $oldName")
      require(!schema.fieldNames.contains(newName),
        s"column already exists: $newName")
      require(TxLogTable.wireSafeName(newName),
        s"column name '$newName' contains a manifest wire delimiter " +
          "(> , = ; : tab newline) — pick another name")
      val h = headerOf(b)
      require(!h.partitionCols.contains(oldName),
        s"cannot rename partition column $oldName (physical hive paths)")
      require(!h.bucketSpecs.exists(_._1 == oldName),
        s"cannot rename bucket key $oldName (the bucket spec and every " +
          "file's hive bucket id derive from it)")
      require(!h.timeSpecs.exists(_._1 == oldName),
        s"cannot rename time-partition source $oldName (the time spec " +
          "and every file's hidden calendar dir derive from it)")
      require(!h.sortCols.contains(oldName),
        s"cannot rename sort column $oldName (every file's physical " +
          "row order derives from it)")
      require(h.tombs.isEmpty,
        "cannot rename with live MOR tombstones: compact first")
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      // bloom columns are recorded by PHYSICAL name already (they are
      // harvested from staged files), so they are untouched
      schemaCommit(b, "rename-column")(_.copy(schema = Some(newSchema),
        colmap = h.colmap - oldName +
          (newName -> physOf(h.colmap, oldName))))
    }

  /** ADD COLUMN as a pure metadata commit: the logical schema gains a
    * NULLABLE column; files written before it simply lack the physical
    * column and the parquet reader fills NULL (the standard add-column
    * evolution contract), files written after carry it. The physical name
    * must not collide with any physical column whose bytes may still sit
    * in old files — one freed by a RENAME (still in the map's values) or
    * by a DROP (the `#droppedPhys=` ledger): re-binding either would
    * resurrect stale data instead of reading NULL.
    */
  def addColumn(name: String, dataType: DataType,
                metadata: org.apache.spark.sql.types.Metadata =
                  org.apache.spark.sql.types.Metadata.empty): Int =
    metadataCommit("addColumn") { b =>
      val schema = recordedSchema(b, "addColumn")
      require(!schema.fieldNames.contains(name),
        s"column already exists: $name")
      require(TxLogTable.wireSafeName(name),
        s"column name '$name' contains a manifest wire delimiter " +
          "(> , = ; : tab newline) — pick another name")
      val h = headerOf(b)
      val livePhysical =
        schema.fieldNames.map(c => h.colmap.getOrElse(c, c)).toSet
      require(!livePhysical.contains(name) &&
        !h.colmap.valuesIterator.contains(name) &&
        !h.droppedPhys.contains(name),
        s"physical name $name is taken (possibly by a renamed or dropped " +
          "column's old files): pick another name")
      // metadata carries Spark's default-value keys (CURRENT_DEFAULT /
      // EXISTS_DEFAULT) when the ALTER declared one — schema.json
      // round-trips field metadata, so defaults persist like any other
      // schema fact and flow back out through tableSchema into the
      // analyzer (INSERT fill-in) and the parquet readers (old-file fill)
      val newSchema = StructType(schema.fields :+
        StructField(name, dataType, nullable = true, metadata))
      schemaCommit(b, "add-column")(_.copy(schema = Some(newSchema)))
    }

  /** DROP COLUMN as a pure metadata commit: the column leaves the logical
    * schema and the map; old files keep the physical bytes (projected away
    * at read — parquet reads only requested columns), new writes simply
    * don't carry it. The freed PHYSICAL name is recorded in the
    * `#droppedPhys=` ledger so [[addColumn]] can never re-bind it. Same
    * restrictions as [[renameColumn]].
    */
  def dropColumn(name: String): Int =
    metadataCommit("dropColumn") { b =>
      val schema = recordedSchema(b, "dropColumn")
      require(schema.fieldNames.contains(name), s"no such column: $name")
      val h = headerOf(b)
      require(!h.partitionCols.contains(name),
        s"cannot drop partition column $name")
      require(!h.bucketSpecs.exists(_._1 == name),
        s"cannot drop bucket key $name")
      require(!h.timeSpecs.exists(_._1 == name),
        s"cannot drop time-partition source $name")
      require(!h.sortCols.contains(name),
        s"cannot drop sort column $name")
      require(h.tombs.isEmpty,
        "cannot drop with live MOR tombstones: compact first")
      require(schema.fields.length > 1, "cannot drop the last column")
      val newSchema = StructType(schema.fields.filterNot(_.name == name))
      schemaCommit(b, "drop-column")(_.copy(schema = Some(newSchema),
        colmap = h.colmap - name,
        droppedPhys = h.droppedPhys + physOf(h.colmap, name)))
    }

  /** WIDEN a column's type as a pure metadata commit — `ALTER TABLE ...
    * ALTER COLUMN c TYPE bigint`. Safe promotions only
    * ([[TxLogTable.canWiden]]): byte→short→int→long and float→double,
    * exactly the set both parquet readers promote natively, so files
    * written before the change keep their narrower physical type and
    * promote at read; files written after carry the wide type — no file
    * is ever rewritten. Bucket keys are refused: bucket ids hash the
    * TYPED value (`xxhash64(int 5) ≠ xxhash64(long 5)`), so new writes
    * of a widened key would land in different buckets than the old
    * files holding equal values, silently breaking co-located joins —
    * rebucket to a new layout instead. Blooms stay valid across the
    * change: they hash the canonical STRING rendering, identical for an
    * integral value at any width. Partition columns are fine too (the
    * hive dir renders `c=5` identically and parses under the declared
    * type).
    */
  def widenColumn(name: String, to: DataType): Int =
    metadataCommit("widenColumn") { b =>
      val schema = recordedSchema(b, "widenColumn")
      val f = schema.fields.find(_.name == name)
      require(f.isDefined, s"no such column: $name")
      require(TxLogTable.canWiden(f.get.dataType, to),
        s"cannot widen ${f.get.dataType.simpleString} to " +
          s"${to.simpleString}: safe promotions are byte/short/int to a " +
          "wider integral and float to double")
      val h = headerOf(b)
      require(!h.bucketSpecs.exists(_._1 == name),
        s"cannot widen bucket key $name (bucket ids hash the typed " +
          "value; old files' rows would sit in different buckets than " +
          "new writes — rebucket instead)")
      require(!h.timeSpecs.exists(_._1 == name),
        s"cannot widen time-partition source $name")
      require(h.tombs.isEmpty,
        "cannot widen with live MOR tombstones: compact first")
      val newSchema = StructType(schema.fields.map(x =>
        if (x.name == name) x.copy(dataType = to) else x))
      schemaCommit(b, "widen-column")(_.copy(schema = Some(newSchema)))
    }

  /** SCHEMA DRIFT absorption (the `mergeSchema` / autoloader pattern):
    * align the recorded schema to an incoming batch's — new columns are
    * ADDED (nullable, old files read NULL), widenable type mismatches
    * are WIDENED ([[TxLogTable.canWiden]]), a batch column NARROWER
    * than the table's is accepted as-is (its files promote at read),
    * and anything else fails loudly before a single row lands. Each
    * adjustment is one metadata commit through the normal optimistic
    * path — a drifting 100 TB ingest pays O(changed columns) manifest
    * writes, never a rewrite. No-op for tables without a recorded
    * `#schema` (path tables take whatever the writer hands them).
    * Returns the number of evolution commits made. Writers opt in via
    * `option("mergeSchema", "true")` — silent evolution on a typo'd
    * column name is worse than a loud mismatch, so drift absorption is
    * never the default.
    */
  def evolveSchemaFor(incoming: StructType): Int =
    tableSchema.fold(0) { rec =>
      var n = 0
      incoming.fields.foreach { f =>
        rec.fields.find(_.name == f.name) match {
          case None =>
            addColumn(f.name, f.dataType); n += 1
          case Some(ex) if ex.dataType == f.dataType => ()
          case Some(ex) if TxLogTable.canWiden(ex.dataType, f.dataType) =>
            widenColumn(f.name, f.dataType); n += 1
          case Some(ex) if TxLogTable.canWiden(f.dataType, ex.dataType) =>
            () // narrower batch: its files promote at read
          case Some(ex) =>
            throw new IllegalArgumentException(
              s"mergeSchema cannot reconcile column ${f.name}: table " +
                s"has ${ex.dataType.simpleString}, batch has " +
                s"${f.dataType.simpleString} (not a safe widening)")
        }
      }
      n
    }

  /** HIDDEN-PARTITION SPEC EVOLUTION: change a time transform's
    * granularity (`days(ts)` → `hours(ts)`, or coarsen back) as a
    * METADATA-ONLY commit — the Iceberg partition-evolution contract.
    * No data file moves: files written before keep their old-unit dirs,
    * files written after land in new-unit dirs, and pruning stays EXACT
    * across the mixture because each file's dir value records its own
    * unit by shape ([[TxLogTable.unitOfSeg]]) and predicate bounds are
    * rendered per file at that unit ([[mayMatchPred]]). At 100 TB this
    * is what lets an aging `days(ts)` table go hourly the day traffic
    * demands it, without the O(table) rewrite; a later full compaction
    * converges the layout to the new unit (and re-arms the SPJ report,
    * which declines while units are mixed).
    */
  def alterTimeUnit(source: String, newUnit: String): Int = {
    require(TxLogTable.TimeUnits.contains(newUnit),
      s"unknown time unit $newUnit (one of " +
        s"${TxLogTable.TimeUnits.mkString(", ")})")
    metadataCommit("set-time-unit") { b =>
      val h = headerOf(b)
      require(h.timeSpecs.exists(_._1 == source),
        s"no time transform on column $source " +
          s"(transforms: ${h.timeSpecs.map(s => s"${s._2}s(${s._1})")
            .mkString(", ")})")
      (h.restamp("set-time-unit").copy(timeSpecs = h.timeSpecs.map {
        case (c, _) if c == source => (c, newUnit)
        case spec => spec
      }), dataLines(b))
    }
  }

  /** Does `v`'s layout hold time-dir values rendered at a unit OTHER
    * than the current spec's — the transient state after
    * [[alterTimeUnit]], before a full compaction converges the layout?
    * While true, the SPJ scan must not report the time transform (a
    * key-grouped partitioning would group same-instant rows under
    * different dir values); pruning needs no such guard — it is
    * per-file-unit exact.
    */
  def timeUnitsMixed(v: Int): Boolean = {
    val specs = timeSpecsOf(v)
    specs.nonEmpty && {
      val expect = specs.zipWithIndex.map { case ((_, u), i) =>
        TxLogTable.timeColAt(i) -> u }.toMap
      entries(Some(v)).exists { e =>
        TxLogTable.partitionSegmentsOf(e.rel).exists { case (c, seg) =>
          expect.get(c).exists(u =>
            seg != TxLogTable.HiveDefaultPartition &&
              !TxLogTable.unitOfSeg(seg).contains(u))
        }
      }
    }
  }

  /** The merge-on-read delete key columns recorded at `v` — fixed at the
    * first [[deleteByKeysMor]] and immutable after (Iceberg's
    * equality-delete field-ids restriction, for the same reason: every
    * reader must know ONE key shape to anti-join on).
    */
  def morKeysOf(v: Int): Seq[String] = headerOf(v).morKeys

  /** Equality-delete tombstones visible at `v`: (tombstone parquet rel
    * under data/, version it was committed at). Tomb lines are `#`-meta
    * (`#tomb=<rel>;v=<n>`) so pre-MOR readers of the data-line section
    * never mistake one for a data file.
    */
  def tombstonesOf(v: Int): Seq[(String, Int)] = headerOf(v).tombs

  /** Positional-delete (deletion-vector) entries visible at `v` — one per
    * (DV parquet, target data file) pair. See [[TxLogTable.DvEntry]]. An
    * entry rides along only while its TARGET file is still referenced
    * ([[ManifestHeader.carry]]) — a rewrite/drop of the target
    * materialized (or discarded) the masked rows, so its mask share must
    * not linger (it would silently undercount [[metaRowCount]]'s
    * subtraction).
    */
  def dvsOf(v: Int): Seq[TxLogTable.DvEntry] = headerOf(v).dvs

  // the header a commit by `op` starts from: `base`'s, carried onto the
  // kept data lines (the empty header for a new table)
  private def carryFrom(base: Option[Int], op: String, kept: Seq[String],
                        overwrite: Boolean = false): ManifestHeader =
    base.fold(ManifestHeader.empty)(headerOf).carry(op, kept, overwrite)

  /** rel → version that added the file, for the snapshot at `version`
    * (0 = the file predates `:v` tagging — oldest, every tombstone
    * applies). These are the sequence numbers the MOR mask orders
    * tombstones against; external readers that apply the mask themselves
    * (the SQL row-level operation scan) need them per file.
    */
  def addedVersions(version: Option[Int] = None): Map[String, Int] =
    entries(version).map(e => e.rel -> addedVOf(e)).toMap

  // version that added file `e` (0 = predates :v tagging, oldest)
  private def addedVOf(e: TxLogTable.FileEntry): Int =
    e.stats.get(TxLogTable.AddedVKey).map(_._1.toInt).getOrElse(0)

  // stamp the committing version into each staged line's stats (inside the
  // retry loop: `next` changes when the manifest race is lost)
  private def tagVersion(staged: Seq[String], v: Int): Seq[String] =
    staged.map { l =>
      val e = TxLogTable.decodeEntry(l)
      e.copy(stats = e.stats +
        (TxLogTable.AddedVKey -> (v.toLong, v.toLong))).encoded
    }

  /** Read `es`'s files with merge-on-read tombstones applied: one
    * left-anti join against the (small, broadcast) union of tombstone key
    * sets, sequence-aware — a tombstone only masks rows from files added
    * at or before its version, so keys re-inserted after a delete survive.
    * With no tombstones this is exactly [[readRels]] (zero overhead on
    * the common path).
    */
  private def readMaskedEntries(schema: StructType,
                                es: Seq[TxLogTable.FileEntry],
                                version: Option[Int],
                                mapOverride: Option[Map[String, String]] =
                                  None): DataFrame =
    readMaskedPos(schema, es, version, mapOverride, withPos = false)._1

  /** The full masked read — MOR tombstones AND positional-delete (DV)
    * masks — with optional `(decoded file path, row position)`
    * passthrough columns. Returns (frame, fileCol, posCol); the extra
    * columns are present only when `withPos = true` (the DV WRITER's
    * read: it needs each surviving row's position to stage new masks).
    *
    * DV masking is one broadcast LEFT ANTI join of the scan's
    * `(file, _metadata.row_index)` against the union of live DV
    * parquets. No sequence logic is needed — a DV entry names its
    * target file, rels are batch-UUID-unique and never reused, and a DV
    * row whose target is not being read matches nothing (which is also
    * why a stale entry, should one ever survive a carry, is harmless to
    * reads). With no live DVs and `withPos = false` this is exactly
    * [[readRels]] — zero overhead on the common path.
    */
  private def readMaskedPos(schema: StructType,
                            es: Seq[TxLogTable.FileEntry],
                            version: Option[Int],
                            mapOverride: Option[Map[String, String]],
                            withPos: Boolean)
      : (DataFrame, String, String) = {
    import org.apache.spark.sql.functions.{broadcast, concat}
    val v = version.orElse(latestVersion)
    // mapOverride: the CDC diff reads OLD versions' files under the
    // CURRENT logical schema, which only the LATEST colmap can
    // translate (physical names are never rebound, so it covers every
    // version); the default remains the version's own map for
    // version-pinned reads (time travel after later renames)
    val cmap = mapOverride.getOrElse(colMapAt(version))
    val tombs = v.map(tombstonesOf).getOrElse(Nil)
    val keys = v.map(morKeysOf).getOrElse(Nil)
    val dvs = v.map(dvsOf).getOrElse(Nil)
    val taken = schema.fieldNames.toSeq
    val fcol = fileTagName(taken)
    val pcol = fileTagName(taken :+ fcol) + "_pos"
    val needPos = withPos || dvs.nonEmpty
    def readPlain(rels: Seq[String]): DataFrame =
      if (!needPos) readRels(schema, rels, cmap)
      else if (rels.isEmpty)
        readRels(schema, Nil, cmap)
          .withColumn(fcol,
            lit(null).cast(org.apache.spark.sql.types.StringType))
          .withColumn(pcol,
            lit(null).cast(org.apache.spark.sql.types.LongType))
      else {
        val phys = StructType(schema.fields.map(f =>
          f.copy(name = physOf(cmap, f.name))))
        spark.read.option("basePath", dataDir.toString)
          .schema(phys)
          .parquet(rels.map(rel => dataDir.resolve(rel).toString): _*)
          .select(schema.fields.toIndexedSeq.map(f =>
            col(physOf(cmap, f.name)).as(f.name)) :+
            decodedFileCol.as(fcol) :+
            col("_metadata.row_index").as(pcol): _*)
      }
    lazy val dvMask = spark.read.parquet(dvs.map(_.dvRel).distinct
        .map(r => dataDir.resolve(r).toString): _*)
      .select(concat(lit(dataDir.toString + "/"), col("file")).as(fcol),
        col("pos").as(pcol))
    def masked(rels: Seq[String]): DataFrame = {
      val d = readPlain(rels)
      if (dvs.isEmpty || rels.isEmpty) d
      else d.join(broadcast(dvMask), Seq(fcol, pcol), "left_anti")
    }
    val out =
      if (tombs.isEmpty || keys.isEmpty) masked(es.map(_.rel))
      else {
        val tombUnion = tombs.map { case (rel, tv) =>
          spark.read.parquet(dataDir.resolve(rel).toString)
            .withColumn("_tomb_v", lit(tv))
        }.reduce(_.unionByName(_))
        val data = es.groupBy(addedVOf).toSeq.map { case (av, group) =>
          masked(group.map(_.rel)).withColumn("_added_v", lit(av))
        }.reduceOption(_.unionByName(_))
          .getOrElse(readPlain(Nil).withColumn("_added_v", lit(0)))
        val cond = keys.map(k => data(k) === tombUnion(k)).reduce(_ && _) &&
          tombUnion("_tomb_v") >= data("_added_v")
        data.join(broadcast(tombUnion), cond, "left_anti").drop("_added_v")
      }
    (if (needPos && !withPos) out.drop(fcol, pcol) else out, fcol, pcol)
  }

  /** Scan of an explicit relative-path file list under data/, empty-with-
    * schema when the list is empty — the shared read path of snapshot /
    * snapshotRange / snapshotWhere / merge.
    */
  private def readRels(schema: StructType, rels: Seq[String],
                       map: Map[String, String]): DataFrame = {
    // Column mapping: the caller's schema is LOGICAL (of the version being
    // read — `map` is that version's colmap); data files carry PHYSICAL
    // columns. Unmapped names are identity, a renamed column is read from
    // its unchanged physical bytes and re-labeled — no file rewrite ever.
    val phys = StructType(schema.fields.map(f =>
      f.copy(name = physOf(map, f.name))))
    if (rels.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      // basePath makes Spark parse the hive `k=v` dirs between data/ and
      // each listed leaf file, restoring partition columns committed with
      // `partitionCols` (files sit directly in partition dirs — see
      // commit). Discovery appends partition columns after the data
      // columns; the select makes the CALLER's declared order
      // authoritative wherever the partition column sits in it.
      spark.read.option("basePath", dataDir.toString)
        .schema(phys)
        .parquet(rels.map(rel => dataDir.resolve(rel).toString): _*)
        .select(schema.fields.toIndexedSeq.map(f =>
          col(physOf(map, f.name)).as(f.name)): _*)
  }

  /** The change feed's read body: ALL of `added`'s files in ONE source
    * scan, each row tagged with the `_commit_version` of the (rel,
    * version) pair that contributed its file — a broadcast join of
    * `input_file_name()` against the tiny rel→version map. The plan has
    * one scan leaf REGARDLESS of how many versions the range spans;
    * the per-version alternative (one scan + N-way `unionByName`) grows
    * driver planning time and codegen size with backlog LENGTH — a
    * 1,000-version catch-up becomes a 1,000-leaf plan before a single
    * byte is read. Wire format: the join key is the DECODED absolute
    * filesystem path on BOTH sides, not the raw URI string —
    * `input_file_name()` returns the Hadoop `Path.toUri.toString` form,
    * which %-encodes space but leaves non-ASCII bytes raw
    * (`…/p=café%20x/…`), while `java.nio.file.Path.toUri` encodes both
    * (`…/p=caf%C3%A9%20x/…`); joining the raw strings silently drops
    * every row under a non-ASCII partition dir. Decoding collapses both
    * encodings to the same bytes: map side is the plain nio path string,
    * scan side strips `scheme:(//authority)?` and URI-decodes with
    * codegen'd builtins ([[decodedFileCol]]). A rel re-added at a SECOND
    * version inside the range (restore after an overwrite) appears twice
    * in the map and its rows correctly emit under both versions — the
    * broadcast join duplicates where a map lookup could not.
    */
  private def readRelsVersioned(schema: StructType,
                                added: Seq[(String, Int)],
                                map: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val rels = added.map(_._1).distinct
    val phys = StructType(schema.fields.map(f =>
      f.copy(name = physOf(map, f.name))))
    val fcol = fileTagName(schema.fieldNames)
    val data = spark.read.option("basePath", dataDir.toString)
      .schema(phys)
      .parquet(rels.map(rel => dataDir.resolve(rel).toString): _*)
      .select(schema.fields.toIndexedSeq.map(f =>
        col(physOf(map, f.name)).as(f.name)) :+
        decodedFileCol.as(fcol): _*)
    val pairs = added.map { case (rel, v) =>
      dataDir.resolve(rel).toString -> v.toLong }
    val vmap = spark.createDataFrame(pairs)
      .toDF(fcol, "_commit_version")
    data.join(broadcast(vmap), fcol).drop(fcol)
  }

  /** `input_file_name()` reduced to the decoded absolute path — the
    * version-map join key. `scheme:(//authority)?` is stripped first
    * (pure-ASCII by RFC 3986, so safe on the still-encoded string), raw
    * `+` is protected as `%2B` because `url_decode` is form-decoding
    * (`+` → space) while URI encoding leaves literal `+` raw, then one
    * `url_decode` pass maps `%XX` (UTF-8) to bytes. All three are
    * codegen'd builtins — no UDF on the CDC hot path.
    */
  private def decodedFileCol: Column =
    expr("url_decode(replace(regexp_replace(input_file_name(), " +
      "'^[a-zA-Z][a-zA-Z0-9+.\\\\-]*:(//[^/]*)?', ''), '+', '%2B'))")

  /** Helper-column name for the file tag, guaranteed not to collide with
    * a user column literally named `_graft_file` (which would make the
    * select ambiguous and break the version-map join).
    */
  private def fileTagName(taken: Seq[String]): String =
    Iterator.from(0)
      .map(i => if (i == 0) "_graft_file" else s"_graft_file_$i")
      .find(n => !taken.contains(n) && n != "_commit_version").get

  /** Snapshot read of `version` (default: latest). Absent table or empty
    * manifest → empty DataFrame with the given schema (DDL bootstrap, S5).
    * Merge-on-read tombstones, if any, are applied ([[deleteByKeysMor]]).
    */
  def snapshot(schema: StructType, version: Option[Int] = None): DataFrame =
    readMaskedEntries(schema, entries(version), version)

  /** Data files of `version` that MAY contain rows with
    * `lo <= column <= hi`, by manifest-stats interval overlap. A file
    * without stats for `column` is always a candidate (correctness over
    * pruning). For PARTITION columns — which never appear in data-file
    * footers — the value is read from the file's hive path segment
    * (`column=v/`), so partition-keyed range scans prune from the manifest
    * too, without even listing the other partitions' files. This is the
    * data-skipping primitive: the decision uses only the manifest — no
    * file is opened, no footer read, no scan planned for a file whose
    * [min,max] excludes the predicate.
    */
  def candidateFiles(column: String, lo: Long, hi: Long,
                     version: Option[Int] = None): Seq[String] = {
    val c = physOf(colMapAt(version), column)
    entries(version).collect {
      case e if mayOverlap(e, c, lo, hi) => e.rel
    }
  }

  // May file `e` contain a row where `column IS NULL`? Only a recorded
  // zero null count proves it cannot.
  private def mayHaveNull(e: TxLogTable.FileEntry, column: String): Boolean =
    e.stats.get(TxLogTable.nullsKey(column)).forall(_._1 > 0)

  // May file `e` contain a row where `column IS NOT NULL`? Only
  // nulls == rows (both recorded) proves the file is all-null for it.
  private def mayHaveNonNull(e: TxLogTable.FileEntry,
                             column: String): Boolean = {
    val nulls = e.stats.get(TxLogTable.nullsKey(column)).map(_._1)
    val rows = e.stats.get(TxLogTable.RowsKey).map(_._1)
    (nulls, rows) match {
      case (Some(n), Some(r)) => n < r
      case _ => true
    }
  }

  // May file `e` contain a row whose `column` equals one of `pts`, judged
  // by the file's Bloom filter? No bloom for the column → "yes" (cannot
  // prune). Each point is normalized to the bloom's recorded column type
  // before probing — a point that does not normalize (string literal that
  // is not an exact Long against an integral column, integral literal
  // against a string column) voids the whole set, because SQL coercion
  // could make it match rows the canonical probe would miss. An EMPTY
  // point set (e.g. `c = 3 AND c = 4`) proves no row can match: prune.
  private def mayMatchBloom(e: TxLogTable.FileEntry, column: String,
                            pts: Set[PredicateRanges.Point]): Boolean =
    e.blooms.get(column) match {
      case None => true
      case Some(b) =>
        val canons = pts.map { p =>
          b.typ match {
            case 'i' =>
              if (!p.isString) Some(p.canon)
              else scala.util.Try(p.canon.trim.toLong.toString).toOption
            case 's' => if (p.isString) Some(p.canon) else None
            case _ => None // unknown future type tag: never prune on it
          }
        }
        if (canons.contains(None)) true
        else canons.flatten.exists(b.mightContain)
    }

  // May file `e` contain a row whose STRING `column` lies in the
  // inclusive [lo, hi] bound, judged by the :spre:-keyed footer stats
  // through the order-preserving prefix embedding? The embedding is
  // monotone, so enc_floor(lo) > ceil-encoded max proves every value is
  // below lo, and enc_ceil(hi) < floor-encoded min proves every value is
  // above hi — either way the file cannot match. No stats → cannot prune.
  private def mayOverlapStr(e: TxLogTable.FileEntry, column: String,
                            b: PredicateRanges.StrBound): Boolean =
    e.stats.get(TxLogTable.strKey(column)) match {
      case None => true
      case Some((encMin, encMax)) =>
        b.lo.forall(lo => encMax >= TxLogTable.strEncFloor(lo)) &&
          b.hi.forall(hi => encMin <= TxLogTable.strEncCeil(hi))
    }

  // May file `e` contain a row matching a predicate summarized as range
  // bounds + nullness constraints + equality point sets + string range
  // bounds? The single pruning decision behind snapshotWhere /
  // deleteWhere / candidateFilesWhere.
  private def mayMatchPred(e: TxLogTable.FileEntry,
                           ranges: Map[String, PredicateRanges.Bound],
                           nn: PredicateRanges.Nullness,
                           points: Map[String, Set[PredicateRanges.Point]] =
                             Map.empty,
                           strRanges: Map[String, PredicateRanges.StrBound] =
                             Map.empty,
                           timeSegs: Seq[(String, Option[Long],
                             Option[Long])] = Nil): Boolean =
    ranges.forall { case (c, b) => mayOverlap(e, c, b.lo, b.hi) } &&
      nn.mustBeNull.forall(mayHaveNull(e, _)) &&
      nn.mustBeNonNull.forall(mayHaveNonNull(e, _)) &&
      points.forall { case (c, pts) => mayMatchBloom(e, c, pts) } &&
      strRanges.forall { case (c, b) => mayOverlapStr(e, c, b) } &&
      timeSegs.forall { case (tc, lo, hi) =>
        e.rel.split('/').iterator
          .collectFirst { case s if s.startsWith(s"$tc=") =>
            TxLogTable.unescapePath(s.stripPrefix(s"$tc=")) } match {
          case None => true // pre-layout file: cannot decide, keep
          case Some(TxLogTable.HiveDefaultPartition) =>
            false // all-NULL instants can never satisfy a bound
          case Some(seg) =>
            // bounds are epoch micros; render each at the FILE's own
            // recorded unit (spec evolution leaves old-unit dirs in
            // place) — same-unit segments totally order, so the floor
            // compare is exact at any granularity mixture
            TxLogTable.unitOfSeg(seg) match {
              case None => true // unknown shape: keep (conservative)
              case Some(u) =>
                lo.forall(seg >= TxLogTable.segOfMicros(_, u)) &&
                  hi.forall(seg <= TxLogTable.segOfMicros(_, u))
            }
        }
      }

  /** Hidden-time-dir bounds derived from the extracted ranges: for each
    * time level whose SOURCE column is bounded (physically keyed —
    * renames refuse time sources, so recorded = physical), floor the
    * epoch-micros bounds to the unit's calendar segment; the file's
    * `_tp` dir value must land inside, compared as STRINGS (the
    * lexicographic segment format makes string order time order). This
    * is what makes `WHERE ts BETWEEN ...` on a `days(ts)`-partitioned
    * table a manifest-only dir slice even when the parquet footers
    * carry no timestamp stats.
    */
  private def timeSegBounds(ranges: Map[String, PredicateRanges.Bound],
                            v: Option[Int])
      : Seq[(String, Option[Long], Option[Long])] =
    v.orElse(latestVersion).map(timeSpecsOf).getOrElse(Nil).zipWithIndex
      .flatMap { case ((src, _), i) =>
        ranges.get(src).flatMap { b =>
          // carried as raw epoch micros: the consumer (mayMatchPred)
          // renders per FILE, at the unit the file's dir was written
          // at — the spec-evolution contract
          val lo = if (b.lo == Long.MinValue) None else Some(b.lo)
          val hi = if (b.hi == Long.MaxValue) None else Some(b.hi)
          if (lo.isEmpty && hi.isEmpty) None
          else Some((TxLogTable.timeColAt(i), lo, hi))
        }
      }

  /** Files of `version` that MAY contain a row matching `pred` — the
    * manifest-level pruning decision behind [[snapshotWhere]] /
    * [[deleteWhere]], exposed so callers can count skipped files: range
    * bounds ([[org.apache.spark.sql.graft.PredicateRanges.extract]])
    * against the min/max stats and hive partition values, plus nullness
    * constraints (`extractNullness`) against the footer null counts — an
    * all-null file cannot match `c IS NOT NULL` or `c > 5`; a no-null
    * file cannot match `c IS NULL`.
    */
  def candidateFilesWhere(pred: org.apache.spark.sql.Column,
                          version: Option[Int] = None): Seq[String] = {
    val map = colMapAt(version)
    val ranges = physKeyed(map, PredicateRanges.extract(pred))
    val nn = physNullness(map, PredicateRanges.extractNullness(pred))
    val points = physKeyed(map, PredicateRanges.extractPoints(pred))
    val strs = physKeyed(map, PredicateRanges.extractStr(pred))
    val buckets = allowedBuckets(points, version)
    val tsegs = timeSegBounds(ranges, version)
    entries(version).collect {
      case e if bucketMayMatch(e, buckets) &&
        mayMatchPred(e, ranges, nn, points, strs, tsegs) => e.rel
    }
  }

  /** Bucket pruning for POINT lookups on a bucketed table: min/max stats
    * on a hash-scattered key prune nothing (every file spans the whole
    * key domain), but an equality/IN constraint maps each value to its
    * ONE `_bkt` dir — `WHERE k = v` on a 100 TB bucketed table reads
    * 1/n of the files from the manifest alone. The hash here must be
    * bit-identical to the write path's `xxhash64(col(k))`, which hashes
    * BY THE COLUMN'S TYPE (hashInt vs hashLong differ!), so each point
    * is interpreted against the RECORDED key type and anything
    * type-ambiguous (coerced literals, unsupported types) disables the
    * prune entirely — no pruning beats wrong pruning. None = table not
    * bucketed or points unusable (prune nothing).
    */
  private def allowedBuckets(
      points: Map[String, Set[PredicateRanges.Point]],
      version: Option[Int]): Map[String, Set[String]] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    val v = version.orElse(latestVersion)
    // one point value interpreted against the RECORDED key type — None
    // when the interpretation is ambiguous (disable this level's prune)
    def hash1(p: PredicateRanges.Point,
              keyType: DataType): Option[Long] = keyType match {
      case LongType if !p.isString =>
        scala.util.Try(p.canon.toLong).toOption
          .map(x => XxHash64Function.hash(x, LongType, 42L))
      case IntegerType if !p.isString =>
        scala.util.Try(p.canon.toInt).toOption
          .map(x => XxHash64Function.hash(x, IntegerType, 42L))
      case StringType if p.isString =>
        Some(XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String
            .fromString(p.canon), StringType, 42L))
      case _ => None
    }
    // each bucket LEVEL prunes independently: a grid-bucketed table's
    // predicate on half the composite key still cuts its own dir level
    (for {
      ((k, n), i) <- v.map(bucketSpecsOf).getOrElse(Nil).zipWithIndex
      pts <- points.get(k).toSeq // keys never colmapped (rename refuses)
      kt <- v.flatMap(schemaOf)
        .flatMap(_.fields.find(_.name == k)).map(_.dataType).toSeq
      hs = pts.toSeq.map(hash1(_, kt))
      if hs.forall(_.isDefined) // one ambiguous value disables the level
    } yield TxLogTable.bucketColAt(i) ->
        hs.flatten.map(h => (((h % n) + n) % n).toString).toSet).toMap
  }

  // a file survives bucket pruning when its every CONSTRAINED level's
  // _bkt* segment is among that level's allowed ids (no segment →
  // survive: sound)
  private def bucketMayMatch(e: TxLogTable.FileEntry,
                             buckets: Map[String, Set[String]]): Boolean =
    buckets.forall { case (bc, ids) =>
      TxLogTable.partitionSegmentsOf(e.rel).get(bc).forall(ids.contains)
    }

  // May file `e` contain a row with `lo <= column <= hi`? Footer stats
  // first, the hive path segment for partition columns, and "yes" when
  // neither bounds the column (correctness over pruning).
  private def mayOverlap(e: TxLogTable.FileEntry, column: String,
                         lo: Long, hi: Long): Boolean = {
    def partValue: Option[Long] =
      e.rel.split('/').iterator
        .collectFirst { case seg if seg.startsWith(s"$column=") =>
          seg.stripPrefix(s"$column=") }
        .flatMap(v => scala.util.Try(v.toLong).toOption)
    e.stats.get(column)
      .map { case (mn, mx) => mx >= lo && mn <= hi }
      .orElse(partValue.map(v => v >= lo && v <= hi))
      .getOrElse(true)
  }

  // May file `e` contain a row whose STRING `column` equals one of `vals`?
  // The hive path segment is exact for partition key columns (batch values
  // are non-null, and a null-partition file can never equality-match, so
  // treating the default-partition sentinel as a literal value is sound in
  // both directions); otherwise the file's manifest Bloom is probed with
  // each value — the same canonical rendering the write side hashed, since
  // bloom type 's' means the column IS a string. No bloom and no partition
  // segment → "yes" (cannot prune).
  private def mayContainKey(e: TxLogTable.FileEntry, column: String,
                            vals: Set[String]): Boolean = {
    val partValue: Option[String] =
      e.rel.split('/').iterator
        .collectFirst { case seg if seg.startsWith(s"$column=") =>
          TxLogTable.unescapePath(seg.stripPrefix(s"$column=")) }
    partValue match {
      case Some(v) => vals.contains(v)
      case None => e.blooms.get(column) match {
        case Some(b) if b.typ == 's' => vals.exists(b.mightContain)
        case _ => true
      }
    }
  }

  /** Distributed any-match probe for OVER-CAP string merge batches: the
    * batch's distinct key values are hashed on the EXECUTORS and tested
    * against the broadcast per-file pruning handles (hive partition
    * segment, else manifest Bloom) — the same pruning decision as the
    * collected probe set, with NO driver-side key materialization at any
    * batch size. Each value pays its MD5 once; per file it is k bit
    * tests, and a partition stops probing once every handle matched.
    * Returns the rels that MAY contain at least one batch value; files
    * without any handle are returned unconditionally (cannot prune).
    */
  private def bloomMatchedFiles(incoming: DataFrame, column: String,
                                physCol: String,
                                es: Seq[TxLogTable.FileEntry])
      : Set[String] = {
    val handles: Array[(String, Either[String, TxLogTable.Bloom])] =
      es.flatMap { e =>
        val part = e.rel.split('/').iterator.collectFirst {
          case seg if seg.startsWith(s"$physCol=") =>
            TxLogTable.unescapePath(seg.stripPrefix(s"$physCol="))
        }
        part match {
          case Some(v) => Some(e.rel -> Left(v))
          case None => e.blooms.get(physCol) match {
            case Some(b) if b.typ == 's' => Some(e.rel -> Right(b))
            case _ => None
          }
        }
      }.toArray
    val noHandle = es.map(_.rel).toSet -- handles.map(_._1)
    if (handles.isEmpty) return noHandle
    val bc = spark.sparkContext.broadcast(handles)
    val words = (handles.length + 63) >> 6
    val matched = incoming.select(col(column).cast("string"))
      .where(col(column).isNotNull).distinct()
      .rdd.mapPartitions { it =>
        val hs = bc.value
        // bit positions depend only on (m, k): compute them once per
        // value per distinct geometry, not once per bloom — the hot loop
        // is then k array-indexed bit tests per (value, file)
        val geoms: Array[(Int, Int)] = hs.collect {
          case (_, Right(b)) => (b.m, b.k) }.distinct
        val geomIdx: Map[(Int, Int), Int] = geoms.zipWithIndex.toMap
        val posBuf = Array.ofDim[Int](geoms.length,
          if (geoms.isEmpty) 0 else geoms.map(_._2).max)
        val bits = new Array[Long](words)
        var nMatched = 0
        while (it.hasNext && nMatched < hs.length) {
          val v = it.next().getString(0)
          var h1 = 0L; var h2 = 0L; var hashed = false
          val posReady = new Array[Boolean](geoms.length)
          var i = 0
          while (i < hs.length) {
            if ((bits(i >> 6) & (1L << (i & 63))) == 0L) {
              val hit = hs(i)._2 match {
                case Left(pv) => pv == v
                case Right(b) =>
                  if (!hashed) {
                    val h = TxLogTable.Bloom.hashes(v)
                    h1 = h._1; h2 = h._2; hashed = true
                  }
                  val g = geomIdx((b.m, b.k))
                  if (!posReady(g)) {
                    var j = 1
                    while (j <= b.k) {
                      posBuf(g)(j - 1) = java.lang.Math
                        .floorMod(h1 + j.toLong * h2, b.m.toLong).toInt
                      j += 1
                    }
                    posReady(g) = true
                  }
                  val ps = posBuf(g)
                  var j = 0
                  var ok = true
                  while (ok && j < b.k) {
                    val p = ps(j)
                    ok = (b.bits(p >> 6) & (1L << (p & 63))) != 0L
                    j += 1
                  }
                  ok
              }
              if (hit) { bits(i >> 6) |= (1L << (i & 63)); nMatched += 1 }
            }
            i += 1
          }
        }
        Iterator.single(bits)
      }.fold(new Array[Long](words)) { (a, b) =>
        var i = 0
        while (i < words) { a(i) |= b(i); i += 1 }
        a
      }
    noHandle ++ handles.iterator.zipWithIndex.collect {
      case ((rel, _), i)
          if (matched(i >> 6) & (1L << (i & 63))) != 0L => rel
    }
  }

  /** COUNT(*) of `version` answered from manifest metadata alone — no
    * scan, no file opened (each line's exact RowsKey footer count summed).
    * None when any file predates stats recording: the caller must fall
    * back to a scan, never trust a partial sum. Data files are immutable
    * and this format has no deletion vectors, so the metadata count is
    * exact — the optimization every table format's `SELECT COUNT(*)` rides.
    */
  def metaRowCount(version: Option[Int] = None): Option[Long] = {
    // MOR tombstones hide rows the per-file counts still include: the
    // manifest cannot answer exactly — fall back to a (masked) scan
    if (version.orElse(latestVersion).exists(tombstonesOf(_).nonEmpty))
      return None
    val es = entries(version)
    val counts = es.flatMap(_.stats.get(TxLogTable.RowsKey).map(_._1))
    if (counts.size != es.size) None
    else {
      // positional deletes keep the count EXACT: each live DV entry
      // records precisely how many positions it masks in its (still
      // referenced) target file, and masks are disjoint by construction
      // — subtract instead of declining (unlike tombstones, whose key
      // match count is unknowable without a scan)
      val live = es.map(_.rel).toSet
      val dvSub = version.orElse(latestVersion).map(dvsOf).getOrElse(Nil)
        .filter(d => live(d.file)).map(_.n).sum
      Some(counts.sum - dvSub)
    }
  }

  /** COUNT(*) under a PARTITION-ONLY predicate, answered from manifest
    * metadata alone — the dashboard query at 100 TB (`COUNT(*) WHERE
    * p_day = x` on an hourly-partitioned table). `preds` maps partition
    * columns to their allowed values in hive-segment string rendering;
    * a file qualifies iff EVERY predicate column's path segment value is
    * in its allowed set. Exact because a partition value is constant per
    * file: each file fully satisfies or fully fails the predicate — no
    * partial file ever exists (the same argument that makes partition
    * pruning exact, applied to counting). The null-partition sentinel
    * compares as a literal: an equality with a real value never matches
    * it, exactly as SQL `p = x` is never true for null p. None (caller
    * falls back to a scan) when tombstones are live, any predicate
    * column is not a partition column, or any file lacks the segment or
    * its footer row count.
    */
  def metaRowCountWhere(preds: Map[String, Set[String]],
                        version: Option[Int] = None): Option[Long] =
    entriesWhere(preds, version).flatMap { es =>
      val counts = es.flatMap(_.stats.get(TxLogTable.RowsKey).map(_._1))
      if (counts.size != es.size) None
      else {
        // DV masks subtract exactly, scoped to the SELECTED files (a
        // partition value is constant per file, so a selected target's
        // masked rows all belonged to the selection)
        val sel = es.map(_.rel).toSet
        val dvSub = version.orElse(latestVersion).map(dvsOf)
          .getOrElse(Nil).filter(d => sel(d.file)).map(_.n).sum
        Some(counts.sum - dvSub)
      }
    }

  /** MIN/MAX of an integral column over the partition-filtered file
    * subset — [[metaMinMax]] with [[entriesWhere]]'s selection, same
    * exactness argument on both axes (footer stats are true per-file
    * extrema; the partition value decides each file wholly). For the
    * PARTITION columns themselves — absent from footers — the hive path
    * segment IS the per-file extremum (every row of the file holds that
    * value). Returns Some(None) for an empty qualifying subset (SQL
    * MIN/MAX over zero rows is NULL — still manifest-answerable), None
    * when the manifest cannot answer (tombstones, missing stats,
    * unparseable segment).
    */
  def metaMinMaxWhere(column: String, preds: Map[String, Set[String]],
                      version: Option[Int] = None)
      : Option[Option[(Long, Long)]] = {
    val v = version.orElse(latestVersion).getOrElse(return None)
    entriesWhere(preds, Some(v)).flatMap { es =>
      // a position-masked row in any SELECTED file could be the extremum
      if (dvsOf(v).exists(d => es.exists(_.rel == d.file))) None
      else if (es.isEmpty) Some(None)
      else {
        val c = physOf(colMapAt(Some(v)), column)
        val isPart = partitionColsOf(v).contains(c)
        val st = es.flatMap { e =>
          if (isPart)
            TxLogTable.partitionSegmentsOf(e.rel).get(c)
              .flatMap(s => scala.util.Try(s.toLong).toOption)
              .map(x => (x, x))
          else e.stats.get(c)
        }
        if (st.size == es.size)
          Some(Some((st.map(_._1).min, st.map(_._2).max)))
        else None
      }
    }
  }

  /** Data-file entries whose hive partition path segments satisfy
    * `preds` (column → allowed string-rendered values) EXACTLY — the
    * selection both filtered metadata aggregates share. None when the
    * manifest cannot decide: live tombstones (per-file counts/extrema
    * include masked rows), a predicate column that is not a partition
    * column, or a file without the segment.
    */
  def entriesWhere(preds: Map[String, Set[String]],
                   version: Option[Int] = None)
      : Option[Seq[TxLogTable.FileEntry]] = {
    val v = version.orElse(latestVersion).getOrElse(return None)
    if (tombstonesOf(v).nonEmpty) return None
    val parts = partitionColsOf(v).toSet
    if (preds.isEmpty || !preds.keySet.subsetOf(parts)) return None
    // The hive null-partition sentinel: a file carrying it holds rows
    // whose partition value is NULL, which no SQL equality ever matches —
    // such files are correctly excluded by the value-set test below. But
    // a predicate LITERAL equal to the sentinel string is ambiguous in
    // the hive layout (a genuine string value spelled like the sentinel
    // lands in the same directory), so the manifest declines and the
    // scan answers.
    if (preds.valuesIterator.exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
      return None
    val es = entries(Some(v))
    val selected = Seq.newBuilder[TxLogTable.FileEntry]
    for (e <- es) {
      val segs = TxLogTable.partitionSegmentsOf(e.rel)
      if (!preds.keySet.subsetOf(segs.keySet)) return None
      if (preds.forall { case (c, vals) => vals.contains(segs(c)) })
        selected += e
    }
    Some(selected.result())
  }

  /** MIN/MAX of an integral column from manifest stats alone (exact:
    * footer stats are true per-file extrema; nulls are excluded exactly as
    * SQL MIN/MAX excludes them). None when any file lacks stats for the
    * column — an all-null or pre-stats file means the manifest cannot
    * bound the answer.
    */
  def metaMinMax(column: String,
                 version: Option[Int] = None): Option[(Long, Long)] = {
    // a tombstoned or position-masked row could be the extremum: the
    // manifest cannot answer (counts subtract exactly; extrema cannot)
    if (version.orElse(latestVersion).exists(v =>
        tombstonesOf(v).nonEmpty || dvsOf(v).nonEmpty))
      return None
    val es = entries(version)
    val st = es.flatMap(_.stats.get(physOf(colMapAt(version), column)))
    if (es.nonEmpty && st.size == es.size)
      Some((st.map(_._1).min, st.map(_._2).max))
    else None
  }

  /** Range scan with manifest-level file skipping: semantically identical
    * to `snapshot(schema).filter(lo <= column <= hi)`, but files whose
    * committed min/max exclude the range are never read — at 100 TB, a
    * time-range query over an hourly-appended table touches the hours'
    * files, not the table (the same job parquet row-group pruning does a
    * level lower; manifest skipping avoids even opening the footers).
    */
  def snapshotRange(schema: StructType, column: String, lo: Long, hi: Long,
                    version: Option[Int] = None): DataFrame = {
    val c = physOf(colMapAt(version), column)
    val es = entries(version).filter(mayOverlap(_, c, lo, hi))
    readMaskedEntries(schema, es, version)
      .filter(col(column) >= lo && col(column) <= hi)
  }

  /** Snapshot scan with automatic manifest skipping for an ARBITRARY
    * predicate: conservative per-column bounds are extracted from the
    * expression tree ([[PredicateRanges]]) and files whose stats (or hive
    * partition value) fall outside every implied range are never read;
    * the full predicate is then applied to the surviving rows, so results
    * are always identical to `snapshot(schema).filter(pred)` — the
    * predicate shapes the extractor doesn't understand just don't prune.
    */
  def snapshotWhere(schema: StructType, pred: org.apache.spark.sql.Column,
                    version: Option[Int] = None): DataFrame = {
    val map = colMapAt(version)
    val ranges = physKeyed(map, PredicateRanges.extract(pred))
    val nn = physNullness(map, PredicateRanges.extractNullness(pred))
    val points = physKeyed(map, PredicateRanges.extractPoints(pred))
    val strs = physKeyed(map, PredicateRanges.extractStr(pred))
    val tsegs = timeSegBounds(ranges, version)
    val es = entries(version)
      .filter(mayMatchPred(_, ranges, nn, points, strs, tsegs))
    readMaskedEntries(schema, es, version).filter(pred)
  }

  /** Rows ADDED in versions `(fromV, toV]`, each tagged with the
    * `_commit_version` that introduced them — the change feed consumers use
    * to process a table incrementally instead of re-scanning the snapshot
    * (at 100 TB the difference between reading the day's delta and the
    * whole table). Append-only semantics: data files are immutable and a
    * version's delta is exactly the manifest's new file set, so the feed
    * costs one manifest diff per version and reads only delta files. An
    * overwrite commit contributes its full new file set (a re-materialized
    * table IS all-new rows); rows it dropped are not represented — document
    * consumers should treat overwrite boundaries as a reset, as append-only
    * CDC contracts do.
    *
    * `skipRewrites` excludes versions whose `#op=` is a row-PRESERVING
    * layout rewrite ([[TxLogTable.RewriteOps]]: compact / compact-small /
    * compact-where / zorder / rebucket): those commits change the file
    * layout but not the logical table content, so a change-feed consumer
    * that received the rewritten files would re-receive every row of the
    * table as phantom inserts — at 100 TB, one `CALL system.rebucket`
    * would replay the ENTIRE table into every downstream stream. The
    * streaming source passes `skipRewrites = true` by default (the public
    * Delta CDF ships the same knob: OPTIMIZE files carry
    * `dataChange = false` and streams ignore them); batch CDC callers that
    * genuinely want the raw file feed keep the default `false`. A skipped
    * version still anchors the NEXT version's diff, so appends landing
    * after a rewrite surface exactly their own files.
    */
  def changesBetween(schema: StructType, fromV: Int, toV: Int,
                     skipRewrites: Boolean = false): DataFrame =
    changesBetweenEx(schema, fromV, toV, skipRewrites, Set.empty)

  // the shared walk, with an exclusion set: the CDC feed routes
  // CowDiffOps versions through the content diff instead of the raw
  // file feed, and the plain stream's skipChangeCommits mode drops
  // them outright; an excluded version still anchors the NEXT
  // version's diff (its file set feeds prevFiles)
  private[sources] def changesBetweenEx(schema: StructType, fromV: Int,
                                        toV: Int, skipRewrites: Boolean,
                                        excludeVs: Set[Int]): DataFrame = {
    require(fromV <= toV, s"changesBetween($fromV, $toV)")
    val present = versions.toSet
    // carry each version's file set into the next iteration's diff — one
    // manifest read per version (op + file list from the same read), not
    // two; on object-store-like backends every extra read is a round trip
    var prevFiles: Option[Set[String]] = None
    val added: Seq[(String, Int)] =
      (fromV + 1 to toV).filter(present).flatMap { v =>
        // A missing predecessor manifest means the cursor predates the
        // vacuum horizon: v's manifest can no longer be diffed, so its
        // carried files would be misreported as "added in v" and the
        // consumer would re-receive rows under a wrong _commit_version.
        // Fail loudly — the consumer must reset from a snapshot, exactly
        // the contract vacuumed change feeds have in the public Delta CDF
        // design. (v == 0 has no predecessor by construction: the empty
        // prev set is genuine.)
        if (v > 0 && !present(v - 1))
          throw new IllegalStateException(
            s"changesBetween($fromV, $toV): version ${v - 1} was vacuumed; " +
              s"the change feed before v${versions.headOption.getOrElse(v)} " +
              s"is gone — reset from snapshot($v) and resume from there")
        val r = resolved(v)
        val files = r.data.map(_.takeWhile(_ != '\t'))
        val op = r.header.op
        val prev = prevFiles.getOrElse(
          if (present(v - 1)) readManifest(v - 1).toSet
          else Set.empty[String])
        prevFiles = Some(files.toSet)
        if ((skipRewrites && op.exists(TxLogTable.RewriteOps)) ||
            excludeVs(v)) Nil
        else files.filterNot(prev).map(_ -> v)
      }
    // CDC contract: `schema` is the CURRENT logical schema, so the latest
    // colmap translates it (physical names never change, so it covers
    // every version's files). One scan + broadcast version tagging —
    // plan width is independent of how many versions the range spans.
    if (added.isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      empty.withColumn("_commit_version", lit(0L)).limit(0)
    } else readRelsVersioned(schema, added, inheritedColMap)
  }

  /** Bytes of the files ADDED at each version in `(fromV, toV]` —
    * the change feed's per-version weight, for byte-based trigger
    * pacing. Manifest diffs + filesystem sizes only, no data read;
    * versions whose op is a row-preserving rewrite report 0 when
    * `skipRewrites` (they add no logical rows, matching what the
    * stream will actually plan). Missing predecessors (vacuumed
    * cursor) are the caller's problem at getBatch time — here a
    * diffless version simply reports its full file set's bytes.
    */
  def addedBytesBetween(fromV: Int, toV: Int,
                        skipRewrites: Boolean): Seq[(Int, Long)] =
    addedBytesIterator(fromV, toV, skipRewrites).toSeq

  /** Lazy form of [[addedBytesBetween]] — the byte-capped trigger
    * consumes this and STOPS at the first version past its cap, so a
    * 10k-version backlog never re-stats its whole tail on every
    * getOffset poll (the walk is O(versions admitted + 1), not
    * O(backlog)).
    */
  def addedBytesIterator(fromV: Int, toV: Int,
                         skipRewrites: Boolean): Iterator[(Int, Long)] = {
    val present = versions.toSet
    var prevFiles: Option[Set[String]] = None
    (fromV + 1 to toV).iterator.filter(present).map { v =>
      val r = resolved(v)
      val files = r.data.map(_.takeWhile(_ != '\t'))
      val op = r.header.op
      val prev = prevFiles.getOrElse(
        if (present(v - 1)) readManifest(v - 1).toSet
        else Set.empty[String])
      prevFiles = Some(files.toSet)
      val bytes =
        if (skipRewrites && op.exists(TxLogTable.RewriteOps)) 0L
        else files.filterNot(prev).map(r =>
          scala.util.Try(Files.size(dataDir.resolve(r))).getOrElse(0L)).sum
      v -> bytes
    }
  }

  /** Data files referenced by `version` (default latest) — the small-file
    * metric `compact` exists to control. */
  def fileCount(version: Option[Int] = None): Int =
    version.orElse(latestVersion).map(readManifest(_).size).getOrElse(0)

  /** Full CDC feed over `(fromV, toV]`: [[changesBetween]]'s added rows
    * tagged `_change_type = 'insert'`, plus one `'delete'` row per key
    * tuple of every MOR tombstone committed in the range — key columns
    * populated from the tombstone, all other schema columns NULL (the
    * tombstone IS keys-only; consumers maintaining keyed state drop the
    * key's rows, the counting-IVM pattern `ivm_refresh_mor` exercises).
    *
    * COPY-ON-WRITE row-changing versions ([[TxLogTable.CowDiffOps]]:
    * delete / merge / replace-where / SQL row-level DML) are computed by
    * CONTENT DIFF of the rewritten file set instead of the raw file
    * feed: removed-files rows minus added-files rows are the `'delete'`
    * events (FULL rows, unlike keys-only MOR tombstones), added minus
    * removed are the `'insert'` events — so a COW update surfaces as
    * delete(old)+insert(new) in the same commit, carried rows inside
    * rewritten files are NOT re-delivered as phantom inserts, and the
    * keyed-state consumer contract holds across both delete modes.
    * Cost is O(files the rewrite touched) read once per side plus one
    * distributed `exceptAll` — proportional to the change, never the
    * table; a full `overwrite` stays a RESET (diffing one would be
    * O(table)). Within one version consumers apply deletes before
    * inserts (a COW update is delete(old)+insert(new) under the same
    * `_commit_version`). Both diff sides read through their version's
    * tombstone mask, so delete events are logically exact — see
    * [[cowDiffEvents]].
    */
  def changesWithDeletes(schema: StructType, fromV: Int,
                         toV: Int,
                         skipRewrites: Boolean = false): DataFrame = {
    val present = versions.toSet
    val cowVs = (fromV + 1 to toV).filter(present)
      .filter(v => v > 0 && present(v - 1) &&
        opOf(v).exists(TxLogTable.CowDiffOps))
    val rawAdds = changesBetweenEx(schema, fromV, toV, skipRewrites,
        cowVs.toSet)
      .withColumn("_change_type", lit("insert"))
    val adds = cowVs.map(cowDiffEvents(schema, _))
      .foldLeft(rawAdds)(_.unionByName(_))
    // tombstones are collected from EVERY manifest in the range, not
    // just toV's: a compaction inside the range FOLDS earlier
    // tombstones out of later manifests (their deletes materialize
    // into rewritten files), and a feed that read only toV would
    // silently lose those delete events — caught by the sql_changes
    // oracle (delete at v2, compact at v4, feed over (1,4]). The
    // tombstone's own commit version tags it; distinct-by-rel dedups
    // the carries between its commit and its fold.
    // positional-delete (DV) events: entries COMMITTED inside the range
    // emit their masked rows as exact delete events. Collected from
    // EVERY manifest in the range for the same reason as tombstones
    // below (a rewrite inside the range folds an entry out of later
    // manifests; its commit-version manifest still carries it, and that
    // manifest's survival keeps both the DV parquet and the target file
    // vacuum-protected). One scan of the distinct target files + a
    // broadcast (file, pos, version) mask — an INNER join, sound to tag
    // versions because masks are disjoint: a position is masked by at
    // most one commit.
    val newDvs = (fromV + 1 to toV).filter(present)
      .flatMap(dvsOf)
      .filter(d => d.v > fromV && d.v <= toV)
      .distinct
    val withDv =
      if (newDvs.isEmpty) adds
      else {
        import org.apache.spark.sql.functions.{broadcast, concat}
        val map = inheritedColMap
        val taken = schema.fieldNames.toSeq
        val fcol = fileTagName(taken)
        val pcol = fileTagName(taken :+ fcol) + "_pos"
        val dcol = fileTagName(taken ++ Seq(fcol, pcol))
        val phys = StructType(schema.fields.map(f =>
          f.copy(name = physOf(map, f.name))))
        val targets = spark.read.option("basePath", dataDir.toString)
          .schema(phys)
          .parquet(newDvs.map(_.file).distinct
            .map(r => dataDir.resolve(r).toString): _*)
          .select(schema.fields.toIndexedSeq.map(f =>
            col(physOf(map, f.name)).as(f.name)) :+
            decodedFileCol.as(fcol) :+
            col("_metadata.row_index").as(pcol): _*)
        val dvRelToV = newDvs.map(d => d.dvRel -> d.v).distinct
        val mask = spark.read.parquet(dvRelToV.map(_._1).distinct
            .map(r => dataDir.resolve(r).toString): _*)
          .select(
            concat(lit(dataDir.toString + "/"), col("file")).as(fcol),
            col("pos").as(pcol), decodedFileCol.as(dcol))
        val vmap = spark.createDataFrame(dvRelToV.map { case (rel, v) =>
            dataDir.resolve(rel).toString -> v.toLong })
          .toDF(dcol, "_commit_version")
        val tagged = mask.join(broadcast(vmap), dcol).drop(dcol)
        val dvDeletes = targets.join(broadcast(tagged), Seq(fcol, pcol))
          .drop(fcol, pcol)
          .withColumn("_change_type", lit("delete"))
        adds.unionByName(dvDeletes)
      }
    val newTombs = (fromV + 1 to toV).filter(present)
      .flatMap(tombstonesOf)
      .filter { case (_, v) => v > fromV && v <= toV }
      .distinct
    if (newTombs.isEmpty) return withDv
    // ONE scan over all tombstone files per distinct key-column set
    // (almost always exactly one — the table's MOR keys at commit time),
    // versions tagged by the same broadcast input_file_name() map the
    // insert side uses: plan width stays independent of how many delete
    // commits the range holds. Grouping by the commit version's recorded
    // key spec keeps a mid-history key change from mixing two tombstone
    // schemas into one scan.
    import org.apache.spark.sql.functions.broadcast
    val deletes = newTombs.groupBy { case (_, v) => morKeysOf(v) }
      .toSeq.map { case (keys, tombs) =>
        // same decoded-path join key as readRelsVersioned — raw URI
        // strings diverge between nio (%-encodes non-ASCII) and Hadoop
        // (leaves it raw) and would drop tombstones under such dirs
        val fcol = fileTagName(keys)
        val keyDf = spark.read.parquet(
          tombs.map { case (rel, _) => dataDir.resolve(rel).toString }: _*)
          .select(keys.map(col) :+
            decodedFileCol.as(fcol): _*)
        val vmap = spark.createDataFrame(tombs.map { case (rel, v) =>
          dataDir.resolve(rel).toString -> v.toLong })
          .toDF(fcol, "_commit_version")
        val tagged = keyDf.join(broadcast(vmap), fcol)
        val cols = schema.fieldNames.toIndexedSeq.map(n =>
          if (keys.contains(n)) col(n)
          else lit(null).cast(schema(n).dataType).as(n))
        tagged.select(cols :+ col("_commit_version"): _*)
          .withColumn("_change_type", lit("delete"))
      }
    deletes.foldLeft(withDv)(_.unionByName(_))
  }

  /** insert/delete events of ONE copy-on-write version by CONTENT DIFF
    * of its rewritten file set: LOGICAL rows of the files the version
    * dropped, minus logical rows of the files it added, are the deletes
    * (full rows); the reverse difference is the inserts. `exceptAll`
    * gives multiset semantics (duplicate rows cancel pairwise) and
    * null-safe equality, so no key declaration is needed — this works
    * on key-less tables where MOR tombstones cannot. Both sides read
    * through their version's tombstone MASK ([[readMaskedEntries]]),
    * which makes the diff logically EXACT: a row already MOR-deleted
    * never re-surfaces as a phantom delete when a later rewrite drops
    * its file — a phantom would kill a key legitimately RE-INSERTED
    * between the tombstone and the rewrite in any keyed consumer fold.
    * Reads ONLY the touched files (carried files appear in both
    * manifests and never enter the diff); translation uses the LATEST
    * colmap, valid for every version's files because physical names
    * are never rebound.
    */
  private def cowDiffEvents(schema: StructType, v: Int): DataFrame = {
    val curE = entries(Some(v))
    val prevE = entries(Some(v - 1))
    val curRels = curE.map(_.rel).toSet
    val prevRels = prevE.map(_.rel).toSet
    val map = inheritedColMap
    val a = readMaskedEntries(schema,
      curE.filterNot(e => prevRels(e.rel)), Some(v), Some(map))
    val r = readMaskedEntries(schema,
      prevE.filterNot(e => curRels(e.rel)), Some(v - 1), Some(map))
    val ins = a.exceptAll(r)
      .withColumn("_commit_version", lit(v.toLong))
      .withColumn("_change_type", lit("insert"))
    val del = r.exceptAll(a)
      .withColumn("_commit_version", lit(v.toLong))
      .withColumn("_change_type", lit("delete"))
    ins.unionByName(del)
  }

  /** Rewrite the current snapshot into `numFiles` files per partition value
    * (one overwrite commit, table layout preserved) — the answer to the
    * small-file problem O(delta) appends accumulate: a year of hourly
    * commits leaves ~10k tiny files whose per-file open/footer cost comes
    * to dominate scans. Readers are never blocked: data files are
    * immutable, the swap is the usual atomic manifest publish, and prior
    * versions (and the change feed before the compaction point) stay
    * readable until `vacuum`.
    */
  def compact(schema: StructType, numFiles: Int = 1): Int = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"compact of empty table: $root"))
    val cols = partitionColsOf(v)
    // a bucketed table's hidden partition col is not in `schema`:
    // re-derive it before clustering so the rewrite packs per bucket
    val snap = withBucketCol(snapshot(schema), cols)
    val packed =
      if (cols.isEmpty) snap.repartition(numFiles)
      else snap.repartition(numFiles, cols.map(col): _*)
    commit(packed, overwrite = true, partitionCols = cols, op = "compact")
  }

  /** Data-file sizes of `version` (bytes, from the filesystem listing —
    * the LIST that object stores return sizes with anyway). The input to
    * [[compactSmall]]'s rewrite decision.
    */
  def fileSizes(version: Option[Int] = None): Seq[(String, Long)] =
    entries(version).map(e =>
      e.rel -> scala.util.Try(Files.size(dataDir.resolve(e.rel)))
        .getOrElse(0L))

  /** INCREMENTAL small-file compaction: rewrite only the files smaller
    * than `minBytes`, packed toward `targetBytes` outputs; every
    * already-large file is carried by manifest reference. This is what
    * OPTIMIZE means at 100 TB — [[compact]]'s full rewrite is O(table)
    * every time, while the steady-state cost here is O(new small files):
    * a year of hourly appends compacts hour-by-hour without ever
    * rewriting the consolidated bulk. Reads through the MOR tombstone
    * mask, so compacting also materializes deletes for the rewritten
    * files (tombstones stay for the carried ones). Same optimistic
    * manifest race as [[merge]].
    *
    * Returns [[TxLogTable.MergeStats]]: rewritten = small files packed,
    * carried = large files untouched.
    */
  def compactSmall(schema: StructType, minBytes: Long,
                   targetBytes: Long = 128L * 1024 * 1024)
      : TxLogTable.MergeStats = {
    require(minBytes > 0 && targetBytes > 0, "compactSmall thresholds")
    optimisticCommit("compactSmall") { (base, next) =>
      val layout = base.map(partitionColsOf).getOrElse(Nil)
      val sizes = base.map(b => fileSizes(Some(b)).toMap)
        .getOrElse(Map.empty)
      val (small, large) = base.map(dataLines).getOrElse(Nil)
        .partition { line =>
          sizes.getOrElse(line.takeWhile(_ != '\t'), 0L) < minBytes }
      if (small.size <= 1) // nothing to pack (or a single straggler)
        Unchanged(TxLogTable.MergeStats(base.getOrElse(-1), 0, large.size))
      else {
        val smallBytes = small.map(l =>
          sizes.getOrElse(l.takeWhile(_ != '\t'), 0L)).sum
        val nOut = math.max(1L, (smallBytes + targetBytes - 1) / targetBytes)
          .toInt
        // partitioned layout: cluster by the partition values so each hive
        // partition's small rows land in ONE task → one packed file per
        // value, instead of round-robin scattering every value across all
        // nOut tasks (which would multiply files, the opposite of OPTIMIZE)
        val smallRows = withBucketCol(readMaskedEntries(schema,
          small.map(TxLogTable.decodeEntry), base), layout)
        val packed =
          if (layout.isEmpty) smallRows.repartition(nOut)
          else smallRows.repartition(nOut, layout.map(col): _*)
        val effBloom = base.map(bloomColsOf).getOrElse(Nil)
        val staged = stageWithStats(packed, layout, effBloom,
          inheritedBloomBits(base))
        Publish(carryFrom(base, "compact-small", large),
          large ++ tagVersion(staged, next),
          TxLogTable.MergeStats(next, small.size, large.size))
      }
    }
  }

  /** PARTITION-SCOPED compaction: rewrite only the files whose hive
    * partition path segments satisfy `preds` (column → allowed values,
    * the same exact per-file decision the filtered metadata aggregates
    * use), packed to `numFiles` per partition value; every other file is
    * carried by manifest reference. This is what OPTIMIZE means on a
    * date-partitioned 100 TB table: yesterday's hot partition compacts
    * without reading — or rewriting — the consolidated bulk, so the
    * steady-state maintenance cost is O(new partition), not O(table).
    * Reads through the MOR mask like [[compactSmall]]: deletes
    * materialize for the rewritten partition, tombstone lines are
    * carried for the untouched rest (sequence-aware readers never
    * re-apply them to the new files). Same optimistic manifest race.
    */
  def compactWhere(schema: StructType, preds: Map[String, Set[String]],
                   numFiles: Int = 1): TxLogTable.MergeStats = {
    require(preds.nonEmpty && preds.valuesIterator.forall(_.nonEmpty),
      "compactWhere needs at least one partition constraint")
    optimisticCommit("compactWhere") { (base, next) =>
      val layout = base.map(partitionColsOf).getOrElse(Nil)
      require(preds.keySet.subsetOf(layout.toSet),
        s"compactWhere constraints must be partition columns of $layout, " +
          s"got ${preds.keySet}")
      val (hit, kept) = base.map(dataLines).getOrElse(Nil).partition {
        line =>
          val segs = TxLogTable.partitionSegmentsOf(
            line.takeWhile(_ != '\t'))
          preds.forall { case (c, vals) =>
            segs.get(c).exists(vals.contains) }
      }
      // convergence: `numFiles` is PER PARTITION VALUE — a multi-value
      // predicate is already compacted when every selected value sits at
      // (or under) the target, and the scheduled-maintenance rerun must
      // then be a no-op, not an endless full re-rewrite of the selection
      val perValue = hit.groupBy { line =>
        val segs = TxLogTable.partitionSegmentsOf(
          line.takeWhile(_ != '\t'))
        layout.map(segs.getOrElse(_, ""))
      }
      if (perValue.valuesIterator.forall(_.size <= numFiles))
        Unchanged(TxLogTable.MergeStats(base.getOrElse(-1), 0,
          kept.size + hit.size))
      else {
        val rows = withBucketCol(readMaskedEntries(schema,
          hit.map(TxLogTable.decodeEntry), base), layout)
        val packed =
          if (layout.isEmpty) rows.repartition(numFiles)
          else rows.repartition(numFiles, layout.map(col): _*)
        val effBloom = base.map(bloomColsOf).getOrElse(Nil)
        val staged = stageWithStats(packed, layout, effBloom,
          inheritedBloomBits(base))
        Publish(carryFrom(base, "compact-where", kept),
          kept ++ tagVersion(staged, next),
          TxLogTable.MergeStats(next, hit.size, kept.size))
      }
    }
  }

  /** Re-arm a SORTED table's ordering report by rewriting ONLY the
    * partition dirs whose file ranges overlap — O(damaged dirs), never
    * O(table). Unordered appends, COW rewrites and wide merges can leave
    * a dir's first-sort-key ranges overlapping; the SPJ scan then
    * (correctly) reports no ordering and every merge join re-grows its
    * Sort nodes. A full `compact` re-arms at O(table); at 100 TB the
    * operator wants to pay only for the buckets that actually
    * de-armed. Damage detection is [[TxLogTable.rangeOrder]] — the SAME
    * rule the scan uses, so resort and the ordering report can never
    * disagree. Rewritten dirs range-split on layout ++ sortCols toward
    * `targetBytes` (like the sorted rebucket path), so re-armed dirs
    * come back multi-file and splittable, not as monster files;
    * untouched dirs are carried by manifest reference. Reads through
    * the MOR mask (rewritten files materialize their deletes). A table
    * whose dirs are all armed returns without committing — scheduled
    * maintenance converges to a no-op.
    */
  def resort(schema: StructType,
             targetBytes: Long = TxLogTable.RebucketTargetBytes)
      : TxLogTable.MergeStats = {
    require(targetBytes > 0, s"resort targetBytes: $targetBytes")
    optimisticCommit("resort") { (base, next) =>
      val b = base.getOrElse(throw new IllegalStateException(
        s"resort of empty table: $root"))
      val sorts = sortColsOf(b)
      require(sorts.nonEmpty,
        s"resort of an unsorted table: $root (sortCols is declared at " +
          "CREATE; resort exists to re-arm that declared ordering)")
      val layout = partitionColsOf(b)
      val single = sorts.length == 1
      val byDir = dataLines(b).groupBy(l =>
        l.takeWhile(_ != '\t').lastIndexOf('/') match {
          case -1 => ""
          case i => l.substring(0, i)
        })
      val (armed, damaged) = byDir.partition { case (_, lines) =>
        TxLogTable.rangeOrder(
          lines.map { l =>
            val e = TxLogTable.decodeEntry(l)
            l -> TxLogTable.sortKeyRangeOf(e, sorts.head)
          }, single).isDefined
      }
      if (damaged.isEmpty)
        Unchanged(TxLogTable.MergeStats(b, 0,
          byDir.valuesIterator.map(_.size).sum))
      else {
        val hit = damaged.valuesIterator.flatten.toSeq
        val kept = armed.valuesIterator.flatten.toSeq
        val sizes = fileSizes(Some(b)).toMap
        val hitBytes = hit.map(l =>
          sizes.getOrElse(l.takeWhile(_ != '\t'), 0L)).sum
        val nOut = math.min(1L << 18, math.max(damaged.size.toLong,
          (hitBytes + targetBytes - 1) / targetBytes)).toInt
        val rows = withBucketCol(readMaskedEntries(schema,
          hit.map(TxLogTable.decodeEntry), base), layout)
        val packed = rows.repartitionByRange(nOut,
          (layout ++ sorts).map(col): _*)
        val effBloom = base.map(bloomColsOf).getOrElse(Nil)
        val staged = stageWithStats(packed, layout, effBloom,
          inheritedBloomBits(base))
        Publish(carryFrom(base, "resort", kept),
          kept ++ tagVersion(staged, next),
          TxLogTable.MergeStats(next, hit.size, kept.size))
      }
    }
  }

  /** Rewrite the current snapshot clustered on the z-order (Morton) curve
    * of two integral columns, `numFiles` files per partition value — the
    * `OPTIMIZE ZORDER BY` maintenance op: after it, every file covers a
    * small rectangle of the (colA, colB) space, so the manifest min/max
    * stats prune range scans on EITHER column (`candidateFiles` /
    * `snapshotRange`), where a plain sort would serve only its leading
    * column. Same atomic overwrite-commit publish as `compact`.
    */
  def compactZOrder(schema: StructType, colA: String, colB: String,
                    numFiles: Int = 8): Int =
    compactZOrder(schema, Seq(colA, colB), numFiles)

  /** N-DIMENSIONAL z-order rewrite: one Morton curve over `zCols` (2+
    * dimensions; each gets `min(16, 63/N)` grid bits —
    * [[graft.operators.ZOrder.bitsFor]]). The two-column overload above
    * is the N=2 special case. Beyond ~4 dimensions the curve's locality
    * dilutes so much that pruning degrades toward random placement —
    * the same guidance the public OPTIMIZE ZORDER BY docs give; pick
    * the dimensions actually queried by range.
    */
  def compactZOrder(schema: StructType, zCols: Seq[String],
                    numFiles: Int): Int = {
    require(zCols.size >= 2,
      "z-order needs at least two dimensions (one dimension is a plain " +
        "sort — use sortCols for that layout)")
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"compactZOrder of empty table: $root"))
    require(sortColsOf(v).isEmpty,
      "zorder and sortCols are competing physical layouts: the staging " +
        "sort would re-order the Morton clustering right back — drop " +
        "one of the two")
    val cols = partitionColsOf(v)
    val snap = snapshot(schema)
    // a STRING dimension rides the curve through the order-preserving
    // prefix encoding (ZOrder.strEnc — the Column twin of the :spre: stats
    // embedding); integral dimensions grid on the raw value as before
    def gridInput(c: String): org.apache.spark.sql.Column =
      schema.find(_.name == c).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.StringType) =>
          graft.operators.ZOrder.strEnc(col(c))
        case _ => col(c).cast("long")
      }
    val enc = zCols.map(gridInput)
    // one pass for every dimension's [min, max]
    val aggs = enc.flatMap(e => Seq(
      org.apache.spark.sql.functions.min(e),
      org.apache.spark.sql.functions.max(e)))
    val mm = snap.agg(aggs.head, aggs.tail: _*).head()
    if (zCols.indices.exists(i => mm.isNullAt(2 * i)))
      return compact(schema, numFiles) // an all-null dim / empty table
    val z = graft.operators.ZOrder.zValueN(
      enc.zipWithIndex.map { case (e, i) =>
        (e, mm.getLong(2 * i), mm.getLong(2 * i + 1)) })
    val packed = snap.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commit(packed, overwrite = true, partitionCols = cols, op = "zorder")
  }

  /** PARTITION-SCOPED z-order: rewrite only the partition dirs matching
    * `preds` (same `col -> values` spec as [[compactWhere]]) clustered
    * on the Morton curve over `zCols`; every other file carries by
    * manifest reference. The incremental-clustering move at 100 TB: a
    * dated table z-orders YESTERDAY's partition after it closes —
    * O(partition) per day, and the table converges to fully-clustered
    * without ever paying [[compactZOrder]]'s O(table) rewrite. The
    * curve grid derives from the SELECTED rows' min/max (finer cells
    * than table-wide bounds would give); pruning soundness never
    * depends on the grid, since file range stats record actual values.
    */
  def compactZOrderWhere(schema: StructType, preds: Map[String, Set[String]],
                         zCols: Seq[String], numFiles: Int = 8)
      : TxLogTable.MergeStats = {
    require(zCols.size >= 2,
      "z-order needs at least two dimensions (one dimension is a plain " +
        "sort — use sortCols for that layout)")
    require(preds.nonEmpty && preds.valuesIterator.forall(_.nonEmpty),
      "compactZOrderWhere needs at least one partition constraint; use " +
        "compactZOrder for the whole table")
    val v0 = latestVersion.getOrElse(throw new IllegalStateException(
      s"compactZOrderWhere of empty table: $root"))
    require(sortColsOf(v0).isEmpty,
      "zorder and sortCols are competing physical layouts: the staging " +
        "sort would re-order the Morton clustering right back — drop " +
        "one of the two")
    zCols.foreach(c => require(!partitionColsOf(v0).contains(c),
      s"z dimension $c is a partition column — constant within every " +
        "rewritten dir, so it cannot cluster anything; drop it"))
    optimisticCommit("compactZOrderWhere") { (base, next) =>
      val layout = base.map(partitionColsOf).getOrElse(Nil)
      require(preds.keySet.subsetOf(layout.toSet),
        s"compactZOrderWhere constraints must be partition columns of " +
          s"$layout, got ${preds.keySet}")
      val (hit, kept) = base.map(dataLines).getOrElse(Nil).partition {
        line =>
          val segs = TxLogTable.partitionSegmentsOf(
            line.takeWhile(_ != '\t'))
          preds.forall { case (c, vals) =>
            segs.get(c).exists(vals.contains) }
      }
      if (hit.isEmpty)
        Unchanged(TxLogTable.MergeStats(base.getOrElse(-1), 0, kept.size))
      else {
        val rows = withBucketCol(readMaskedEntries(schema,
          hit.map(TxLogTable.decodeEntry), base), layout)
        def gridInput(c: String): org.apache.spark.sql.Column =
          schema.find(_.name == c).map(_.dataType) match {
            case Some(org.apache.spark.sql.types.StringType) =>
              graft.operators.ZOrder.strEnc(col(c))
            case _ => col(c).cast("long")
          }
        val enc = zCols.map(gridInput)
        val aggs = enc.flatMap(e => Seq(
          org.apache.spark.sql.functions.min(e),
          org.apache.spark.sql.functions.max(e)))
        val mm = rows.agg(aggs.head, aggs.tail: _*).head()
        val packed =
          if (zCols.indices.exists(i => mm.isNullAt(2 * i)))
            rows.repartition(numFiles, layout.map(col): _*)
          else {
            val z = graft.operators.ZOrder.zValueN(
              enc.zipWithIndex.map { case (e, i) =>
                (e, mm.getLong(2 * i), mm.getLong(2 * i + 1)) })
            rows.withColumn("__z", z)
              .repartitionByRange(numFiles, col("__z"))
              .sortWithinPartitions("__z")
              .drop("__z")
          }
        val effBloom = base.map(bloomColsOf).getOrElse(Nil)
        val staged = stageWithStats(packed, layout, effBloom,
          inheritedBloomBits(base))
        Publish(carryFrom(base, "zorder-where", kept),
          kept ++ tagVersion(staged, next),
          TxLogTable.MergeStats(next, hit.size, kept.size))
      }
    }
  }

  // ---- change-feed cursor registry ----------------------------------
  // One tiny file per cursor under _log/cursors/ — manifest-adjacent so
  // clone/backup tooling that copies the log dir carries retention intent
  // with it. Atomic upsert (replaceAtomically) so a concurrent vacuum
  // reads either the old or the new pin, never a torn file.

  private def cursorsDir: Path = logDir.resolve("cursors")

  // cursor names become file names: keep [A-Za-z0-9._-] bytes, percent-
  // encode everything else (UTF-8, byte-wise) — the same round-trip
  // discipline the partition dirs needed for non-ASCII (r13 CDC fix).
  // The NAME itself is stored inside the file, so reads never decode.
  private def cursorFileName(name: String): String =
    name.getBytes(UTF_8).map { b =>
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
          (b >= '0' && b <= '9') || b == '.' || b == '_' || b == '-')
        b.toChar.toString
      else f"%%${b & 0xff}%02X"
    }.mkString + ".cursor"

  /** Registered change-feed cursors by name. A malformed cursor file is
    * skipped (it cannot pin anything it can no longer describe) — vacuum
    * stays runnable even if a cursor write was interrupted pre-move. */
  def cursors(): Map[String, TxLogTable.Cursor] =
    if (!Files.isDirectory(cursorsDir)) Map.empty
    else scala.util.Using.resource(Files.list(cursorsDir)) { s =>
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".cursor") &&
          Files.isRegularFile(p))
        .flatMap { p =>
          val kv = new String(Files.readAllBytes(p), UTF_8)
            .split("\n").iterator.map(_.split("=", 2))
            .collect { case Array(k, v) => k -> v }.toMap
          for {
            n <- kv.get("name")
            v <- kv.get("version").flatMap(_.toIntOption)
          } yield n -> TxLogTable.Cursor(n, v,
            kv.get("updatedMillis").flatMap(_.toLongOption).getOrElse(0L))
        }.toMap
    }

  /** Upsert cursor `name` at `version`: every manifest at or after
    * `version` survives vacuum until the cursor advances or is
    * [[releaseCursor released]]. The streaming source maintains one per
    * checkpoint automatically (registered at stream creation, advanced on
    * each committed batch); register manually for out-of-band consumers
    * (a batch-incremental `changesBetween` poller, a replica sync). */
  def registerCursor(name: String, version: Int): Unit = {
    require(name.nonEmpty && !name.contains("\n"),
      "cursor name must be non-empty and newline-free")
    Files.createDirectories(cursorsDir)
    val body = s"name=$name\nversion=$version\n" +
      s"updatedMillis=${System.currentTimeMillis()}\n"
    TxLogTable.replaceAtomically(cursorsDir.resolve(cursorFileName(name)),
      body.getBytes(UTF_8))
  }

  /** Drop cursor `name`'s vacuum pin — the explicit operator act that
    * lets history behind an abandoned consumer be reclaimed (the Kafka
    * consumer-group deletion model). Returns false if no such cursor. */
  def releaseCursor(name: String): Boolean =
    Files.deleteIfExists(cursorsDir.resolve(cursorFileName(name)))

  private def tagsDir: Path = logDir.resolve("tags")

  /** Named refs over versions — Iceberg's TAG concept: an IMMUTABLE
    * name for a snapshot ("training-run-2024-06", "audited-q3"), read
    * via `VERSION AS OF 'name'` or `snapshot(schema, versionOfTag(n))`,
    * protected from vacuum for as long as it exists. Immutable means
    * create-once: re-pointing a name silently changes what a consumer
    * reproduces, so moving a tag is drop + re-create, both explicit.
    *
    * Retention: this format keeps contiguous version SUFFIXES (vacuum
    * drops prefixes only — the changesBetween invariant), so a tag
    * pins the floor at its version: everything at-or-after survives.
    * Iceberg pins individual snapshots; the suffix model is this
    * format's analog, and it additionally keeps the tag's CDC window
    * alive.
    */
  def tags(): Map[String, Int] =
    if (!Files.isDirectory(tagsDir)) Map.empty
    else scala.util.Using.resource(Files.list(tagsDir)) { s =>
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".tag") && Files.isRegularFile(p))
        .flatMap { p =>
          val kv = new String(Files.readAllBytes(p), UTF_8)
            .split("\n").iterator.map(_.split("=", 2))
            .collect { case Array(k, v) => k -> v }.toMap
          for {
            n <- kv.get("name")
            v <- kv.get("version").flatMap(_.toIntOption)
          } yield n -> v
        }.toMap
    }

  /** Create tag `name` at `version` (default: latest). Refuses an
    * existing name (immutability), a vacuumed/absent version, and a
    * bare-integer name (`VERSION AS OF '3'` must stay a version).
    * Returns the tagged version. Concurrent same-name creates race on
    * [[TxLogTable.putIfAbsent]] — exactly one wins, the others throw
    * `FileAlreadyExistsException`.
    */
  def tag(name: String, version: Option[Int] = None): Int = {
    require(name.nonEmpty && !name.contains("\n"),
      "tag name must be non-empty and newline-free")
    require(name.toIntOption.isEmpty,
      s"tag name '$name' would be ambiguous with a version number")
    val v = version.orElse(latestVersion).getOrElse(
      throw new IllegalStateException(s"cannot tag an empty table: $root"))
    require(versions.contains(v),
      s"cannot tag version $v of $root: not a surviving version " +
        s"(have ${versions.mkString(",")})")
    require(!tags().contains(name),
      s"tag '$name' already exists on $root — tags are immutable refs; " +
        "drop_tag first to re-point")
    Files.createDirectories(tagsDir)
    val body = s"name=$name\nversion=$v\n" +
      s"createdMillis=${System.currentTimeMillis()}\n"
    TxLogTable.putIfAbsent(tagsDir.resolve(cursorFileName(name)
        .stripSuffix(".cursor") + ".tag"), body.getBytes(UTF_8))
    v
  }

  /** Drop tag `name` — releases its retention pin. False if absent. */
  def dropTag(name: String): Boolean =
    Files.deleteIfExists(tagsDir.resolve(cursorFileName(name)
      .stripSuffix(".cursor") + ".tag"))

  def versionOfTag(name: String): Option[Int] = tags().get(name)

  // ---- Branches: write-audit-publish on the tags foundation ----------
  //
  // A BRANCH is a writable ref (Iceberg branches / Nessie / Delta WAP):
  // fork the current snapshot by name, run any write path against the
  // branch handle — appends, DML, compaction, schema evolution all work,
  // because a branch IS a TxLogTable whose log lives under
  // `_log/branches/<name>` while the data directory is shared — audit
  // the result in isolation (main readers never see branch commits),
  // then FAST-FORWARD publish: the branch head's resolved content is
  // committed onto main as one atomic version (a delta manifest when
  // small — the usual case, since the branch forked from main). The
  // publish REFUSES if main moved since the fork (the Iceberg
  // fast-forward ancestor requirement): rebase = re-branch and replay.

  private def branchesDir: Path =
    Paths.get(basePath, "_log", "branches")

  /** Names of this table's live branches. */
  def branches(): Seq[String] =
    if (!Files.isDirectory(branchesDir)) Nil
    else scala.util.Using.resource(Files.list(branchesDir)) { s =>
      s.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filter(n => Files.isRegularFile(
          branchesDir.resolve(n).resolve(f"v${0}%08d.manifest")))
        .toSeq.sorted
    }

  /** The handle every branch operation runs through: a [[TxLogTable]]
    * addressing the branch log (shared data dir). All read and write
    * paths work on it unchanged; [[vacuum]] alone refuses (it walks the
    * SHARED data dir and must see every log — run it on main).
    */
  def branchTable(name: String): TxLogTable = {
    require(branches().contains(name),
      s"no branch '$name' on $basePath (have: ${branches().mkString(",")})")
    TxLogTable(spark, TxLogTable.branchRoot(basePath, name))
  }

  /** Fork branch `name` from `version` (default: current head). The
    * branch's v0 is a SELF-CONTAINED manifest holding the fork point's
    * resolved content — zero data copied, and the branch never depends
    * on main's manifests (main vacuum stays free to drop history the
    * branch forked across). `rewrite` maps the fork point's annotations
    * to the branch's (the MV pair-fork renumbers `#mvsrc` into the source
    * branch's sequence). Returns the fork version. Concurrent same-name
    * creates race on the v0 putIfAbsent — exactly one wins.
    */
  def createBranch(name: String, version: Option[Int] = None,
                   rewrite: Seq[String] => Seq[String] = identity): Int = {
    require(branch.isEmpty, "branches fork from MAIN (no nested branches)")
    require(TxLogTable.validBranchName(name),
      s"invalid branch name '$name' (letters/digits/._- only, not a " +
        "number, not 'main')")
    val v = version.orElse(latestVersion).getOrElse(
      throw new IllegalStateException(
        s"cannot branch an empty table: $root"))
    require(versions.contains(v),
      s"cannot branch at version $v of $root: not a surviving version " +
        s"(have ${versions.mkString(",")})")
    require(!branches().contains(name),
      s"branch '$name' already exists on $root — drop_branch first")
    val dir = branchesDir.resolve(name)
    Files.createDirectories(dir)
    val h = headerOf(v)
    TxLogTable.putIfAbsent(dir.resolve(f"v${0}%08d.manifest"),
      manifestBytes(h.restamp("branch").copy(forkedFrom = Some(v),
        annotations = rewrite(h.annotations)), dataLines(v)))
    v
  }

  /** The MAIN version a branch handle forked from (None on main). */
  def forkedFrom: Option[Int] = branch.flatMap(_ => headerOf(0).forkedFrom)

  /** Fast-forward publish: commit branch `name`'s head content onto main
    * as one new version (`op=publish`), its annotations mapped through
    * `rewrite`. Requires main unmoved since the fork — a moved main
    * means the branch no longer descends from the head, and silently
    * merging would drop main's interim commits; the refusal names the
    * rebase path. The published manifest delta-encodes
    * against main's head, so publishing N branch commits costs O(their
    * combined file delta), not O(table). The branch stays (audit trail);
    * drop it explicitly when done.
    */
  def publishBranch(name: String,
                    rewrite: Seq[String] => Seq[String] = identity,
                    expectHead: Option[Int] = None): Int = {
    require(branch.isEmpty, "publish runs on the MAIN handle")
    val bt = branchTable(name)
    // `expectHead` makes the publish HEAD-CONDITIONAL on the branch (the
    // write-audit-publish gate): the published content is pinned at the
    // version the caller audited, and a branch commit racing past it is a
    // loud [[TxLogTable.ConcurrentHeadMoved]] refusal instead of silently
    // shipping unaudited rows. Without it the branch's current head
    // publishes (the plain fast-forward).
    val head = expectHead.getOrElse(
      bt.latestVersion.getOrElse(throw new IllegalStateException(
        s"branch '$name' has no readable head: $root")))
    require(bt.versions.contains(head),
      s"branch '$name' has no version $head to publish " +
        s"(have ${bt.versions.mkString(",")})")
    val fork = bt.forkedFrom.getOrElse(throw new IllegalStateException(
      s"branch '$name' records no fork point — not a forked branch"))
    metadataCommit(s"publish branch '$name'") { b =>
      if (b != fork)
        throw new java.util.ConcurrentModificationException(
          s"fast-forward publish of '$name' requires main unmoved since " +
            s"the fork (forked at v$fork, main is at v$b): re-branch " +
            "from the new head, replay the work, and publish that")
      expectHead.foreach { eh =>
        val cur = bt.latestVersion.getOrElse(-1)
        if (cur != eh) throw new TxLogTable.ConcurrentHeadMoved(
          s"branch '$name' moved to v$cur past the audited v$eh — a " +
            "writer committed after the audit gate; re-audit the branch " +
            "and publish again")
      }
      val h = bt.headerOf(head)
      (h.restamp("publish").copy(forkedFrom = None,
        annotations = rewrite(h.annotations)), bt.dataLines(head))
    }
  }

  /** Drop branch `name`: delete its manifest log (data files it alone
    * referenced become unreferenced — main [[vacuum]] reclaims them).
    * False if no such branch.
    */
  def dropBranch(name: String): Boolean = {
    require(branch.isEmpty, "drop_branch runs on the MAIN handle")
    val dir = branchesDir.resolve(name)
    if (!Files.isDirectory(dir)) false
    else {
      scala.util.Using.resource(Files.walk(dir)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete(_))
      }
      true
    }
  }

  /** Garbage-collect history: keep the newest `keep` versions, delete older
    * manifests and every data file no surviving manifest references.
    * Returns (manifests deleted, data files deleted).
    *
    * Two guards protect concurrent writers (the standard Delta-style vacuum
    * protections, since `stage()` publishes data files BEFORE the manifest
    * that references them):
    *  - files under `*.staging` scratch directories are never touched — a
    *    writer is mid-`stage()` there;
    *  - only unreferenced files older than `minAgeMillis` are deleted
    *    (default 15 min) — a just-staged file whose manifest publish is in
    *    flight looks unreferenced for a moment, and deleting it would let
    *    the racing commit publish a manifest pointing at nothing. Pass 0
    *    only when provably no writer is active (tests, offline maintenance).
    *    The same age bound applies to the temp files a crashed manifest,
    *    cursor or tag write leaves under `_log`, which vacuum also deletes.
    *
    * Two FLOORS protect lagging readers (`keep` is a target, not a
    * license — a manifest behind either floor survives regardless):
    *  - the TIME floor: a manifest committed within `retainMillis`
    *    (default 7 days, [[TxLogTable.DefaultVacuumRetainMillis]]) is
    *    never deleted — the bound a change-feed consumer can rely on
    *    ("resume within a week or re-snapshot"), and what makes
    *    `vacuum()` with all-default arguments safe to run on a live
    *    table. A manifest with no readable commit timestamp is treated
    *    as young (cannot prove it old ⇒ keep).
    *  - the CURSOR floor: every registered change-feed cursor
    *    ([[registerCursor]] — the streaming source maintains one per
    *    checkpoint automatically) pins all manifests at or after its
    *    version, however old; a stream lagging past the time floor still
    *    survives until its cursor is [[releaseCursor released]]. This is
    *    the Kafka consumer-group retention model: an abandoned cursor
    *    holds history, and releasing it is an explicit operator act —
    *    after which the feed's existing fail-loud vacuum-horizon check
    *    (not silence) is what the consumer hits.
    *
    * The reset contract preserved: a consumer whose cursor is live never
    * loses its window; a consumer that lost its window (released cursor +
    * floor passed) gets a loud refusal from `changesBetween` and must
    * re-snapshot — never a silent gap.
    *
    * `dryRun = true` computes and returns the same
    * (manifests, data files) counts without deleting anything — the
    * operator's pre-flight before a retention change (Delta's
    * `VACUUM ... DRY RUN`). One caveat: the dry run's data-file count
    * assumes the manifests it WOULD drop are gone, exactly matching
    * what the real run would then delete.
    */
  def vacuum(keep: Int = 1,
             minAgeMillis: Long = TxLogTable.DefaultVacuumMinAgeMillis,
             retainMillis: Long = TxLogTable.DefaultVacuumRetainMillis,
             dryRun: Boolean = false)
      : (Int, Int) = {
    require(branch.isEmpty,
      "vacuum runs on the MAIN handle: branches share the data " +
        "directory, and a branch-scoped walk would reclaim files other " +
        "logs still reference")
    require(keep >= 1, "vacuum must keep at least the latest version")
    require(retainMillis >= 0, "retainMillis must be >= 0")
    if (!Files.isDirectory(dataDir)) return (0, 0) // never-written table
    val vs = versions
    val timeFloor = System.currentTimeMillis() - retainMillis
    val youngByTime: Set[Int] =
      if (retainMillis == 0) Set.empty
      else history().filter(_.commitMillis.forall(_ > timeFloor))
        .map(_.version).toSet
    val cursorFloor: Option[Int] =
      cursors().values.map(_.version).minOption
    // tags pin like cursors: the oldest tagged version floors the drop
    // (a tagged snapshot a consumer can still name must stay readable)
    val tagFloor: Option[Int] = tags().values.minOption
    val candidates = vs.dropRight(keep)
      .filterNot(youngByTime)
      .filterNot(v => cursorFloor.exists(v >= _))
      .filterNot(v => tagFloor.exists(v >= _))
    // survivors must be a contiguous SUFFIX of history: commitMillis is
    // not guaranteed monotonic (clock skew, restored manifests), and a
    // dropped manifest BETWEEN two kept ones would break changesBetween
    // for windows lying entirely within nominally surviving versions —
    // so only the prefix below the oldest survivor is actually dropped
    val minSurvivor = vs.filterNot(candidates.toSet).minOption
    val drop = minSurvivor.fold(candidates)(ms => candidates.filter(_ < ms))
    val survive = vs.filterNot(drop.toSet)
    // tombstone and deletion-vector parquets are referenced too —
    // vacuuming one would silently resurrect its deleted rows. BRANCH
    // logs share the data directory: every live branch version's files
    // (data, tombstones, DVs) are references exactly like main's — a
    // branch head is a vacuum floor by construction, not by courtesy.
    val branchRefs = branches().flatMap { bn =>
      val bt = branchTable(bn)
      bt.versions.flatMap { bv =>
        bt.readManifest(bv) ++ bt.tombstonesOf(bv).map(_._1) ++
          bt.dvsOf(bv).map(_.dvRel)
      }
    }
    val referenced = (survive.flatMap(readManifest) ++
      survive.flatMap(tombstonesOf).map(_._1) ++
      survive.flatMap(dvsOf).map(_.dvRel) ++ branchRefs).toSet
    if (!dryRun) {
      // CHECKPOINT-ON-VACUUM: the oldest survivor may be a delta manifest
      // whose resolution chain runs through links about to drop —
      // materialize it first (atomic tmp+move of its EQUIVALENT
      // self-contained form; content is identical by construction, so a
      // concurrent reader sees either encoding of the same version).
      // Survivors ABOVE it chain to each other (deltas always target
      // v-1, a contiguous-suffix invariant), so one materialization
      // closes the whole retained suffix, and vacuum reclaims exactly
      // the prefix it always did — delta chains never extend retention.
      minSurvivor.foreach { ms =>
        if (drop.nonEmpty && checkpointFloor(ms) < ms)
          materializeManifest(ms)
      }
      drop.foreach(v => Files.delete(manifestPath(v)))
    }
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val dead = scala.util.Using.resource(Files.walk(dataDir)) { s =>
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          Files.isRegularFile(p))
        .map(p => (dataDir.relativize(p).toString, p))
        .filterNot { case (rel, _) =>
          referenced(rel) || rel.contains(".staging") }
        .filter { case (_, p) =>
          Files.getLastModifiedTime(p).toMillis <= cutoff }
        .map(_._1)
        .toSeq
    }
    if (!dryRun) {
      dead.foreach(f => Files.delete(dataDir.resolve(f)))
      staleTemps(cutoff).foreach(Files.deleteIfExists)
    }
    (drop.size, dead.size)
  }

  // Temp files under `_log` (manifests, branch logs, cursors, tags, the
  // MV definition) last modified at or before `cutoff`: what a writer that
  // crashed inside putIfAbsent / replaceAtomically leaves behind. A live
  // writer's temp vanishing mid-walk is skipped, not an error.
  private def staleTemps(cutoff: Long): Seq[Path] = {
    val found = Seq.newBuilder[Path]
    if (Files.isDirectory(logDir))
      Files.walkFileTree(logDir,
        new java.nio.file.SimpleFileVisitor[Path] {
          override def visitFile(p: Path,
              a: java.nio.file.attribute.BasicFileAttributes) = {
            if (p.getFileName.toString.endsWith(TxLogTable.TempSuffix) &&
                a.lastModifiedTime.toMillis <= cutoff) found += p
            java.nio.file.FileVisitResult.CONTINUE
          }
          override def visitFileFailed(p: Path, e: java.io.IOException) =
            java.nio.file.FileVisitResult.CONTINUE
        })
    found.result()
  }

  /** RESTORE TABLE to the state at `toVersion`, published as a NEW version
    * (Delta's `RESTORE TABLE ... TO VERSION AS OF` semantics): the target
    * manifest's FULL content — data lines, partition layout, schema/colmap,
    * tombstones, checks, bloom settings — is republished under the next
    * version number with a fresh timestamp and `op=restore`. O(manifest):
    * no data file is read, written, or moved; history after the target is
    * preserved (a restore can itself be restored away). The bad-write
    * undo button a production table needs — at 100 TB the alternative is
    * re-ingesting the partition, here it is one manifest write.
    *
    * Safe against vacuum by construction: `toVersion`'s manifest must
    * still exist (else the require fires — history was vacuumed past it),
    * and vacuum never deletes data files referenced by a SURVIVING
    * manifest, so every republished line points at a live file.
    *
    * CDC consumers see the restore as EXACT undo events
    * ([[changesWithDeletes]]: `op=restore` is a [[TxLogTable.CowDiffOps]]
    * content diff) — deletes for the bad commit's rows, inserts for what
    * they displaced — so keyed downstream state rolls back with the
    * table instead of diverging at a reset boundary.
    */
  def restore(toVersion: Int): Int =
    metadataCommit("restore") { _ =>
      require(versions.contains(toVersion),
        s"no version $toVersion to restore (vacuumed or never existed); " +
          s"surviving: ${versions.mkString(",")}")
      (headerOf(toVersion).restamp("restore"), dataLines(toVersion))
    }

  /** BUCKET-SPEC EVOLUTION: rewrite the current snapshot with the bucket
    * count changed to `newN` (`CALL system.rebucket` lands here) — the
    * answer to the one way a pinned bucket count fails at 100×: a table
    * bucketed `bucket(8, key)` at 1 TB has 12.5 TB per bucket at 100 TB,
    * and KeyGroupedPartitioning is exactly the plan shape AQE's skew
    * splitting cannot touch, so each co-partition of the zero-shuffle
    * join becomes a monster task. Doubling (or any re-pick of) `n`
    * restores per-bucket bytes; this is Iceberg's partition-spec
    * evolution, except the format keeps ONE spec per version — a full
    * rewrite, not a dual-spec read path, because a mixed-spec manifest
    * would make every bucket prune and every SPJ report version-dependent
    * (and the rewrite is a one-time O(table) cost the operator schedules,
    * against a permanent read-path tax).
    *
    * Mechanics: the masked snapshot re-derives [[TxLogTable.BucketCol]]
    * under `newN` via [[TxLogTable.bucketIdCol]] (bit-identical to every
    * staging write), identity partition levels are preserved, MOR
    * tombstones fold into the rewrite (like any full compaction), and the
    * manifest publishes with the `#bucketSpec=` line bumped — atomically,
    * under the usual optimistic create-if-absent race, so a concurrent
    * DML either lands before (its files are re-read on retry) or after
    * (it re-derives bucket ids under the NEW spec via `withBucketCol`).
    * Readers never see a mixed layout: old files stay referenced only by
    * old manifests.
    *
    * `files` bounds the rewrite's output tasks per partition value
    * (default: one file per bucket via a `repartition` on the layout
    * columns).
    */
  def rebucket(schema: StructType, newN: Int, key: Option[String] = None,
               files: Int = 0,
               targetBytes: Long = TxLogTable.RebucketTargetBytes,
               alsoKeys: Seq[(String, Int)] = Nil): Int = {
    require(newN > 0 && newN <= (1 << 20),
      s"bucket count out of range: $newN")
    alsoKeys.foreach { case (_, n) =>
      require(n > 0 && n <= (1 << 20), s"bucket count out of range: $n") }
    optimisticCommit("rebucket") { (base, next) =>
      require(base.isDefined, s"rebucket of nonexistent table $root")
      val b = base.get
      val specs = bucketSpecsOf(b)
      if (specs.isEmpty) throw new IllegalArgumentException(
        s"rebucket of a non-bucketed table: $root (create with a " +
          "bucket transform first)")
      // which level evolves: the only one, or the named key of a grid;
      // `alsoKeys` evolves FURTHER grid levels in the SAME rewrite —
      // a grid whose both levels outgrew their counts pays ONE O(table)
      // pass and ONE version bump, not one per level
      val targetKey = key.getOrElse {
        require(specs.length == 1,
          s"grid-bucketed table has ${specs.length} bucket levels " +
            s"(${specs.map(_._1).mkString(", ")}): name the key to evolve")
        specs.head._1
      }
      val updates = (targetKey -> newN) +: alsoKeys
      require(updates.map(_._1).distinct.length == updates.length,
        s"duplicate keys in rebucket: ${updates.map(_._1)}")
      updates.foreach { case (k, _) =>
        require(specs.exists(_._1 == k), s"no bucket level on key '$k' " +
          s"(levels: ${specs.map(_._1).mkString(", ")})") }
      val updateMap = updates.toMap
      val newSpecs = specs.map { case (k, n) =>
        (k, updateMap.getOrElse(k, n)) }
      val layout = partitionColsOf(b)
      // masked snapshot (tombstones materialize), EVERY level's id
      // re-derived explicitly under the new spec — withBucketCol then
      // sees the bucket columns present and leaves them alone, so the
      // old spec never touches these rows; it derives only the hidden
      // time levels the output partitioning below needs
      val re = withBucketCol(
        newSpecs.zipWithIndex.foldLeft(snapshot(schema, Some(b))) {
          case (acc, ((k, n), i)) => acc.withColumn(
            TxLogTable.bucketColAt(i), TxLogTable.bucketIdCol(k, n))
        }, layout)
      // Output tasks: enough that the AVERAGE task writes ~targetBytes —
      // the old one-file-per-cell default (min(1024, cells)) emitted
      // multi-GB unsplit files at scale, and for a SORTED table an
      // unsplit monster file is also the end of per-bucket fan-out. A
      // task may hold several cells (partitionBy splits its write per
      // cell), so nOut below the cell count only reduces parallelism,
      // never file granularity; nOut ABOVE it needs within-cell
      // splitting, done by layout:
      //  - sorted: range-repartition on layout ++ sortCols — within-cell
      //    files carry DISJOINT sort-key ranges, so they stay internally
      //    ordered (staging re-sorts each task) AND the multi-file
      //    ordering report stays armed;
      //  - unsorted: a deterministic hash salt over the data columns
      //    spreads each cell across ~nOut/cells tasks.
      val cells = math.max(1L, math.min(1L << 20,
        newSpecs.map(_._2.toLong).product))
      val totalBytes = fileSizes(Some(b)).map(_._2).sum
      require(targetBytes > 0, s"rebucket targetBytes: $targetBytes")
      val byBytes =
        math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      val nOut = if (files > 0) files
        else math.min(1L << 18,
          math.max(byBytes, math.min(cells, 1024L))).toInt
      val sortSpec = sortColsOf(b)
      val packed =
        if (sortSpec.nonEmpty)
          re.repartitionByRange(nOut, (layout ++ sortSpec).map(col): _*)
        else if (nOut > cells) {
          val dataCols = re.columns.filterNot(layout.contains)
          re.withColumn("__rbsalt",
              pmod(xxhash64(dataCols.map(col): _*),
                lit(math.max(1L, nOut / cells))))
            .repartition(nOut, (layout :+ "__rbsalt").map(col): _*)
            .drop("__rbsalt")
        } else re.repartition(nOut, layout.map(col): _*)
      val effBloom = bloomColsOf(b)
      val staged = stageWithStats(packed, layout, effBloom,
        inheritedBloomBits(base))
      // the masked rewrite folded every tombstone and mask: an overwrite
      Publish(carryFrom(base, "rebucket", Nil, overwrite = true)
          .copy(bucketSpecs = newSpecs),
        tagVersion(staged, next), next)
    }
  }

  /** ANALYZE: (re)compute the column NDV sketches from the CURRENT
    * masked snapshot and publish them as a metadata-only commit — the
    * way into stats for a table created without `ndvCols`, and the way
    * BACK to tight estimates after deletes left the incrementally-folded
    * sketch stale-high. One column-pruned scan of the snapshot per
    * analyzed column, zero data files touched, no stream impact (the
    * manifest's data lines are copied verbatim, so the change feed's
    * file diff is empty). `cols` ADD to any existing `#ndvCols=` set;
    * named columns get fresh sketches, previously-declared others keep
    * their carried fold. Subsequent commits keep folding into the fresh
    * baseline.
    */
  def analyze(schema: StructType, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "analyze needs at least one column")
    cols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"analyze column $c not in schema")
      require(TxLogTable.wireSafeName(c),
        s"analyze column '$c' contains a manifest wire delimiter")
    }
    optimisticCommit("analyze") { (base, next) =>
      val b = base.getOrElse(
        throw new IllegalStateException(s"analyze of empty table: $root"))
      // sketches are keyed by PHYSICAL name (the commit-path fold reads
      // staged files, which carry physical columns)
      val map = colMapOf(b)
      val phys = cols.map(c => c -> physOf(map, c))
      val snap = snapshot(schema, Some(b))
      val fresh = phys.map { case (c, p) =>
        p -> graft.functions.Sketches
          .kmvMinima(snap, col(c), TxLogTable.KmvK)
          .collect().map(_.getString(0).take(15)).toSeq
      }.toMap
      val h = headerOf(b)
      val allCols = (h.ndvCols ++ phys.map(_._2)).distinct
      val carriedNdv = h.ndv.toMap
      Publish(h.restamp("analyze").copy(ndvCols = allCols,
          ndv = allCols.map(c =>
            c -> fresh.getOrElse(c, carriedNdv.getOrElse(c, Nil)))),
        dataLines(b), next)
    }
  }

  /** Zero-copy clone of the CURRENT snapshot into a fresh table at
    * `destRoot` (`CREATE TABLE ... CLONE` semantics): the source's latest
    * manifest is republished as the clone's version 0 and every referenced
    * file — data files and MOR tombstone parquets — is HARD-LINKED into
    * the clone's `data/` under its original relative path, so hive
    * partition segments keep parsing and not one data byte is copied.
    * The two tables are fully independent afterwards: the format's files
    * are immutable, and either side's vacuum merely unlinks its own name
    * (the shared inode survives until both drop it). On an object store
    * the same contract would be served by absolute-path manifest
    * references plus reference-counted vacuum — the wire format's
    * unknown-meta-keys tolerance leaves room for that without a version
    * bump; on a filesystem, hard links give the exact semantics with
    * zero format change. O(files) metadata ops, O(0) bytes.
    */
  def cloneTo(destRoot: String): Int = {
    val b = latestVersion.getOrElse(throw new IllegalStateException(
      s"clone of nonexistent table $root"))
    val dest = Paths.get(destRoot)
    require(!Files.isDirectory(dest.resolve("_log")),
      s"clone destination already exists: $destRoot")
    val destData = dest.resolve("data")
    Files.createDirectories(dest.resolve("_log"))
    Files.createDirectories(destData)
    val rels = entries(Some(b)).map(_.rel) ++ tombstonesOf(b).map(_._1) ++
      dvsOf(b).map(_.dvRel).distinct
    rels.foreach { rel =>
      val dst = destData.resolve(rel)
      Option(dst.getParent).foreach(Files.createDirectories(_))
      Files.createLink(dst, dataDir.resolve(rel))
    }
    TxLogTable.putIfAbsent(dest.resolve("_log").resolve(f"v${0}%08d.manifest"),
      manifestBytes(headerOf(b).restamp("clone"), dataLines(b)))
    0
  }

  /** Commit `df` as the next version. `overwrite = false` appends: the new
    * manifest carries the previous version's files plus the delta. Returns
    * the committed version number.
    *
    * Partitioning is a TABLE property, as in hive-layout tables: an append
    * must use the current version's `partitionCols` (mixed layouts under
    * one `basePath` are unreadable — Spark's partition discovery rejects
    * conflicting directory structures); an overwrite may change them.
    */
  // Stage to a scratch dir, then move each data file to its FINAL
  // partition-dir location under data/ with a batch-unique name —
  // invisible until a manifest references it. This is the Delta/Iceberg
  // physical layout: `data/k=v/batch-x-part-*.parquet`, so every file of
  // a version shares ONE partition root (`basePath` = data/) and Spark's
  // partition discovery recovers the columns in a single scan. Keeping
  // hive segments under per-batch subtrees instead is unreadable —
  // discovery rejects k=v segments at differing roots as conflicting
  // directory structures. A crash mid-move leaves only unreferenced
  // files; the table is untouched.
  private def stage(df: DataFrame, partitionCols: Seq[String],
                    rebalanceOk: Boolean = false): Seq[String] = {
    Files.createDirectories(dataDir)
    Files.createDirectories(logDir)
    val batch = "batch-" + java.util.UUID.randomUUID().toString
    val scratch = dataDir.resolve(batch + ".staging")
    // data files always carry PHYSICAL column names (column mapping):
    // renamed logical columns are translated here once, so every commit
    // path — append, merge rewrite, compaction — stays physically uniform
    // with pre-rename files. Partition columns are never mapped
    // (renameColumn refuses them), so the layout needs no translation.
    // Bucketed layouts derive their hidden bucket id here, same reason.
    // SORTED tables enforce their declared ordering here too: each
    // task's rows sort by partitionCols ++ sortCols (ascending, nulls
    // first — Spark's default, the order the SPJ scan reports), so the
    // FileFormatWriter's own partition sort is satisfied by the child
    // ordering and every written file is internally ordered by sortCols
    // within its partition value. Sort cols are never colmapped
    // (renameColumn refuses them), so sorting pre-translation is sound.
    // The sort applies ONLY to data-file staging under the table's
    // layout: MOR tombstone staging passes keys-only frames (and
    // partitionCols = Nil) that need not carry the sort columns — the
    // ordering contract is about DATA files, which tombstones are not.
    val bucketed = withBucketCol(df, partitionCols)
    // optimizeWrite: a REBALANCE shuffle on the partition layout before
    // the file write — AQE coalesces trickle partitions and splits
    // skewed ones toward advisoryPartitionSizeInBytes, so each hive
    // value lands in as few target-sized files as its bytes need,
    // regardless of the incoming plan's partitioning. BEFORE the
    // within-partition sort (the shuffle would destroy it). Only on
    // user-facing writes (rebalanceOk): maintenance rewrites hand-place
    // their range/salted partitioning and must not be reshuffled.
    val sized =
      if (rebalanceOk && latestVersion.exists(optimizeWriteOf))
        (if (partitionCols.isEmpty) bucketed.hint("rebalance")
         else bucketed.hint("rebalance", partitionCols.map(col): _*))
      else bucketed
    val sortCols = latestVersion.map(sortColsOf).getOrElse(Nil)
    val ordered =
      if (sortCols.isEmpty || partitionCols.isEmpty ||
          !sortCols.forall(sized.columns.contains)) sized
      else sized.sortWithinPartitions(
        (partitionCols ++ sortCols).map(col): _*)
    val w = toPhysical(ordered)
      .write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(scratch.toString)
    moveStaged(scratch, batch)
  }

  // move every parquet under `scratch` into data/ under the batch-unique
  // prefix (hive subdirs preserved), clean up the scratch remains, and
  // return the rel paths — the publish half of staging, shared with
  // commitStagedDir
  private def moveStaged(scratch: Path, batch: String): Seq[String] = {
    val stagedFiles = scala.util.Using.resource(Files.walk(scratch)) { s =>
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          Files.isRegularFile(p))
        .toSeq.sortBy(_.toString)
    }
    val staged = stagedFiles.map { p =>
      val rel = scratch.relativize(p) // k=v/.../part-N.parquet or part-N.parquet
      val dest =
        if (rel.getParent == null) Paths.get(s"$batch-${rel.getFileName}")
        else rel.getParent.resolve(s"$batch-${rel.getFileName}")
      Files.createDirectories(dataDir.resolve(dest).getParent)
      Files.move(p, dataDir.resolve(dest))
      dest.toString
    }
    // scratch now holds only empty dirs and _SUCCESS markers
    scala.util.Using.resource(Files.walk(scratch)) { s =>
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    staged
  }

  /** Publish a directory of parquet files an EXTERNAL writer produced —
    * the SQL row-level DML path hands Spark's own file-writer output here
    * — as one atomic OVERWRITE commit: files move under data/, footer
    * stats and blooms are harvested exactly as for any commit, CHECK
    * constraints are re-validated (one scan, only when constraints
    * exist), and the manifest publish is the usual optimistic race.
    * Unpartitioned tables only: an external writer produces a flat
    * layout, and mixing flat files into a hive-partitioned table would
    * make partition-column discovery ambiguous.
    */
  def commitStagedDir(scratch: Path, op: String): Int =
    commitStagedReplace(scratch, replaced = None, op)

  /** Like [[commitStagedDir]], but REPLACES only the named data files:
    * the staged files plus every current file NOT in `replaced` form the
    * new version — the group-replacement commit the SQL row-level DML
    * path needs (the scan reads a pruned file subset, the new content of
    * exactly those groups arrives here, everything else is carried by
    * manifest reference). `replaced = None` replaces the whole table
    * (overwrite).
    */
  def commitStagedReplace(scratch: Path, replaced: Option[Set[String]],
                          op: String,
                          scanBase: Option[Int] = None,
                          scanPred: Option[org.apache.spark.sql.Column] =
                            None): Int = {
    require(latestVersion.map(partitionColsOf).getOrElse(Nil).isEmpty,
      s"commitStagedReplace on a partitioned table: " +
        "use commitReplacingDf (partition-aware re-stage)")
    Files.createDirectories(dataDir)
    Files.createDirectories(logDir)
    val batch = "batch-" + java.util.UUID.randomUUID().toString
    val rels = moveStaged(scratch, batch)
    if (latestVersion.exists(v => checksOf(v).nonEmpty) && rels.nonEmpty) {
      // staged files carry PHYSICAL column names; CHECK expressions are
      // written against the logical schema — relabel before validating
      val raw = spark.read.parquet(
        rels.map(r => dataDir.resolve(r).toString): _*)
      val map = inheritedColMap
      val logical =
        if (map.isEmpty) raw
        else raw.select(raw.columns.toIndexedSeq.map { c =>
          val lg = map.collectFirst { case (l, p) if p == c => l }
          col(c).as(lg.getOrElse(c))
        }: _*)
      validateChecks(logical, latestVersion)
    }
    val effBloom = inheritedBloomCols
    val blooms = bloomStats(rels, effBloom, inheritedBloomBits(latestVersion))
    val staged = rels.map(rel => TxLogTable.FileEntry(rel, footerStats(rel),
      blooms.getOrElse(rel, Map.empty)).encoded)
    publishReplace(staged, replaced, op, scanBase, scanPred,
      partitionCols = Nil, caller = "commitStagedReplace")
  }

  /** Group-replacement commit from a DATAFRAME: stages `df` through the
    * normal partition-aware, column-mapping-aware staging path (hive
    * layout, physical column names), then publishes staged + (current −
    * `replaced`) as one atomic version — the partitioned twin of
    * [[commitStagedReplace]] for SQL row-level DML. Costs one extra pass
    * over the REPLACED subset vs the move-only path (the external
    * writer's flat output is re-staged into the hive layout); the
    * untouched bulk of the table is carried by reference, never read.
    */
  def commitReplacingDf(df: DataFrame, replaced: Option[Set[String]],
                        op: String,
                        scanBase: Option[Int] = None,
                        scanPred: Option[org.apache.spark.sql.Column] =
                          None): Int = {
    val partCols = latestVersion.map(partitionColsOf).getOrElse(Nil)
    validateChecks(df, latestVersion)
    val stagedSpec = latestVersion.map(bucketSpecsOf).getOrElse(Nil)
    val staged = stageWithStats(df, partCols, inheritedBloomCols,
      inheritedBloomBits(latestVersion), rebalanceOk = true)
    publishReplace(staged, replaced, op, scanBase, scanPred,
      partCols, caller = "commitReplacingDf", stagedSpec = stagedSpec)
  }

  // the shared publish half of the group-replacement commits: optimistic
  // manifest race with write-write + write-skew conflict detection
  private def publishReplace(staged: Seq[String],
                             replaced: Option[Set[String]], op: String,
                             scanBase: Option[Int],
                             scanPred: Option[org.apache.spark.sql.Column],
                             partitionCols: Seq[String],
                             caller: String,
                             stagedSpec: Seq[(String, Int)] = Nil): Int = {
    val effBloom = inheritedBloomCols
    val batchKmv = stagedKmv(staged) // staged fixed across retries
    optimisticCommit(caller) { (base, next) =>
      requireSpecUnchanged(stagedSpec, base, caller)
      val current = base.map(dataLines).getOrElse(Nil)
      val carried = replaced match {
        case None => Nil
        case Some(reps) =>
          // write-write conflict detection: the staged content was
          // computed FROM the replaced files — if a concurrent commit
          // rewrote or removed any of them since the scan, publishing
          // would silently drop that writer's change. Fail loudly (the
          // serializable-conflict contract every optimistic table format
          // has); the caller reruns the statement against the new state.
          val currentRels = current.map(_.takeWhile(_ != '\t')).toSet
          val gone = reps -- currentRels
          if (gone.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"$caller: ${gone.size} of the files this " +
                s"operation read were rewritten by a concurrent commit " +
                s"(e.g. ${gone.head}) — rerun the statement")
          // The other half of the serializable contract: files ADDED
          // since the operation's scan (a concurrent append/insert) are
          // carried forward — their rows survive — but the rewrite never
          // CONSIDERED them, so any added file that may hold rows
          // matching the operation's condition makes the publish write
          // skew, not a serial history. Manifest stats decide "may
          // match": a partially-translated (or absent) condition only
          // widens the hazard set — aborts more, never misses a conflict.
          for (bv <- scanBase if base.exists(_ != bv)) {
            val baseRels = dataLines(bv).map(_.takeWhile(_ != '\t')).toSet
            val added = currentRels -- baseRels -- reps
            val hazardous = scanPred match {
              case Some(p) if added.nonEmpty =>
                candidateFilesWhere(p, base).toSet.intersect(added)
              case _ => added
            }
            if (hazardous.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"$caller: ${hazardous.size} file(s) added by " +
                  s"a concurrent commit since version $bv may match this " +
                  s"operation's condition (e.g. ${hazardous.head}) — " +
                  s"rerun the statement")
          }
          current.filterNot(line => reps(line.takeWhile(_ != '\t')))
      }
      // Masks that landed after the scan: the rewrite copied the replaced
      // files' rows without them. A DV aimed at a replaced file would die
      // with its target; a tombstone orders against file versions, and
      // the rewritten files are tagged `next`, past every tombstone — so
      // either mask would be silently undone. Refuse instead.
      for (bv <- scanBase; reps <- replaced if reps.nonEmpty;
           h <- base.map(headerOf)) {
        val lateDvs = h.dvs.filter(d => d.v > bv && reps(d.file))
        if (lateDvs.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$caller: a positional delete committed after version $bv " +
              s"masks rows of a file this operation rewrote " +
              s"(${lateDvs.head.file}) — rerun the statement")
        if (h.tombs.exists(_._2 > bv))
          throw new java.util.ConcurrentModificationException(
            s"$caller: a key delete committed after version $bv may mask " +
              "rows this operation rewrote — rerun the statement")
      }
      // MOR tombstones and DVs on carried files survive a GROUP
      // replacement; a whole-table replace (replaced = None) resets the
      // file set like every other overwrite. SQL DML (UPDATE SET / MERGE
      // INTO insert) can introduce values the sketch never saw — fold the
      // staged rows (idempotent for the rewritten ones).
      val h = foldNdv(
        carryFrom(base, op, carried, overwrite = replaced.isEmpty),
        batchKmv, reset = replaced.isEmpty)
      Publish(h.copy(partitionCols = partitionCols, bloomCols = effBloom),
        carried ++ tagVersion(staged, next), next)
    }
  }

  /** Per-column min/max of one staged file, harvested from the parquet
    * FOOTER — a metadata read, no data scan (Delta gathers the same stats
    * in-task at write; footer harvest keeps this writer-agnostic). Integral
    * columns only (ids, epoch-nanos timestamps — the dominant skipping
    * keys); a column with no usable stats is simply absent, which readers
    * treat as "cannot prune".
    */
  private def footerStats(rel: String): Map[String, (Long, Long)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sessionState.newHadoopConf()
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dataDir.resolve(rel).toString), conf)
    scala.util.Using.resource(ParquetFileReader.open(in)) { r =>
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      // exact file row count (sum of row-group counts) under the reserved
      // RowsKey — lets COUNT(*) come straight off the manifest
      // (metaRowCount), no scan. The key contains a wire delimiter, so the
      // statsSafe drop below guarantees no real column can ever write over
      // it (a user column literally named `_rows` used to corrupt both the
      // metadata count and its own pruning bounds).
      val nRows = r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      acc(TxLogTable.RowsKey) = (nRows, nRows)
      // exact per-column NULL counts (every stats-safe column, any type) —
      // summed across row groups; a single group without the stat voids
      // the column's entry (a partial sum would under-count and could
      // wrongly prune an IS NULL scan)
      val nullAcc = scala.collection.mutable.Map.empty[String, Long]
      val nullBad = scala.collection.mutable.Set.empty[String]
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          val st = c.getStatistics
          if (TxLogTable.statsSafe(name)) {
            if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
              nullAcc(name) = nullAcc.getOrElse(name, 0L) + st.getNumNulls
            else nullBad += name
          }
        }
      }
      (nullAcc.keySet -- nullBad).foreach { name =>
        val n = nullAcc(name)
        acc(TxLogTable.nullsKey(name)) = (n, n)
      }
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val tpe = c.getPrimitiveType.getPrimitiveTypeName
          val st = c.getStatistics
          if ((tpe == INT64 || tpe == INT32) && st != null &&
              !st.isEmpty && st.hasNonNullValue) {
            val (mn0, mx0) = tpe match {
              case INT64 =>
                (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                 st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
              case _ =>
                (st.genericGetMin.asInstanceOf[java.lang.Integer].longValue,
                 st.genericGetMax.asInstanceOf[java.lang.Integer].longValue)
            }
            // TIMESTAMP stats normalize to MICROS — the unit the pruning
            // bounds use (PredicateRanges.litLong) AND the unit Spark's
            // internal TimestampType carries, so the metadata MIN/MAX
            // fast path can serve the stored value verbatim. The footer's
            // logical annotation says which unit the writer used (Spark
            // writes MICROS under the engine sessions' pinned
            // outputTimestampType; a foreign writer may use MILLIS or
            // NANOS): millis multiply exactly, with overflow degrading
            // to "no entry" (never an exception failing the commit);
            // NANOS records NOTHING — under the sessions' pinned
            // nanosAsLong=true such a column reads as LongType in the
            // NANOS domain, so a micros-normalized entry would bound
            // the wrong unit by 1000×, and there is no reader-domain
            // decision to key an exact entry off. INT96 (Spark's legacy
            // default) carries no stats at all and never reaches here.
            val norm: Option[(Long, Long)] =
              c.getPrimitiveType.getLogicalTypeAnnotation match {
                case ts: org.apache.parquet.schema
                    .LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
                  ts.getUnit match {
                    case TimeUnit.MILLIS =>
                      scala.util.Try((Math.multiplyExact(mn0, 1000L),
                        Math.multiplyExact(mx0, 1000L))).toOption
                    case TimeUnit.MICROS => Some((mn0, mx0))
                    case _ => None // NANOS / future units: no entry
                  }
                case _ => Some((mn0, mx0))
              }
            val name = c.getPath.toDotString
            if (TxLogTable.statsSafe(name)) norm.foreach { case (mn, mx) =>
              val next = acc.get(name) match {
                case Some((a, b)) => (math.min(a, mn), math.max(b, mx))
                case None => (mn, mx)
              }
              acc(name) = next
            }
          }
          // STRING/BINARY ranges under the reserved :spre: key — the
          // footer's min/max BYTES, embedded order-preservingly into the
          // (Long, Long) slot as (floor(min), ceil(max)). The footer
          // contract guarantees min <= values <= max in unsigned byte
          // order even when the writer truncated the stats, and the
          // floor/ceil embedding only ever WIDENS, so pruning on these
          // bounds is sound.
          if (tpe == BINARY && st != null && !st.isEmpty &&
              st.hasNonNullValue) {
            val name = c.getPath.toDotString
            if (TxLogTable.statsSafe(name)) {
              val mnB = st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
              val mxB = st.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
              val (mn, mx) =
                (TxLogTable.strEncFloor(mnB), TxLogTable.strEncCeil(mxB))
              val key = TxLogTable.strKey(name)
              val next = acc.get(key) match {
                case Some((a, b)) => (math.min(a, mn), math.max(b, mx))
                case None => (mn, mx)
              }
              acc(key) = next
            }
          }
        }
      }
      acc.toMap
    }
  }

  /** Per-file Bloom filters for `cols` over the just-staged `rels`,
    * computed in ONE distributed pass over the staged data (the only
    * extra cost of enabling bloom columns — Delta's bloom index pays the
    * same write-side pass). Bit positions are computed executor-side with
    * codegen'd built-ins (`md5`/`conv`/`pmod` — no UDF), exploded to
    * (file, column, position) rows, and aggregated with `collect_set`, so
    * the aggregation state is a distinct-position set bounded by m per
    * (file, column) group — never O(rows × k) — and partial aggregation
    * dedups map-side before the shuffle. The driver then collects
    * O(files × cols × m) bounded data, never row-scale. Only string and
    * integral columns get filters (the type tag guards probe-side
    * coercion soundness); partition columns are absent from the data
    * files and are already exactly prunable from their hive path segment.
    * A (file, column) pair with no non-null values yields no group and so
    * no bloom — sound (absent bloom never prunes), and the all-null case
    * is already pruned exactly by the footer null-count stats.
    */
  private def bloomStats(rels: Seq[String], cols: Seq[String],
                         bloomBits: Int)
      : Map[String, Map[String, TxLogTable.Bloom]] = {
    import org.apache.spark.sql.functions.{array, collect_set, conv,
      explode, input_file_name, lit, md5, pmod, sequence, struct,
      substring, transform, when}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType, StringType}
    val safe = cols.filter(TxLogTable.statsSafe)
    if (safe.isEmpty || rels.isEmpty) return Map.empty
    val paths = rels.map(r => dataDir.resolve(r).toString)
    val df = spark.read.parquet(paths: _*)
    val typed: Seq[(String, Char)] = safe.flatMap(c =>
      df.schema.find(_.name == c).map(_.dataType).collect {
        case StringType => c -> 's'
        case LongType | IntegerType | ShortType | ByteType => c -> 'i'
      })
    if (typed.isEmpty) return Map.empty
    val m = bloomBits
    val k = TxLogTable.Bloom.DefaultK
    def positions(c: String) = {
      val hex = md5(col(c).cast("string"))
      val h1 = conv(substring(hex, 1, 15), 16, 10).cast("long")
      val h2 = conv(substring(hex, 17, 15), 16, 10).cast("long")
      // 60-bit lanes: h1 + k*h2 stays well under Long.MaxValue
      when(col(c).isNotNull,
        transform(sequence(lit(1), lit(k)),
          i => pmod(h1 + i.cast("long") * h2, lit(m.toLong))))
    }
    val pairs = df.select(input_file_name().as("_file"),
        explode(array(typed.map { case (c, _) =>
          struct(lit(c).as("c"), positions(c).as("ps")) }: _*)).as("_cp"))
      .select(col("_file"), col("_cp.c").as("_c"),
        explode(col("_cp.ps")).as("_pos"))
    val rows = pairs.groupBy(col("_file"), col("_c"))
      .agg(collect_set(col("_pos")).as("_ps")).collect()
    val relOf: Map[String, String] = paths.zip(rels).map { case (p, r) =>
      Paths.get(p).toUri.getPath -> r }.toMap
    val typOf: Map[String, Char] = typed.toMap
    val out = scala.collection.mutable.Map
      .empty[String, Map[String, TxLogTable.Bloom]]
    rows.foreach { row =>
      val path = scala.util.Try(
        new java.net.URI(row.getString(0)).getPath).getOrElse(row.getString(0))
      relOf.get(path).foreach { rel =>
        val c = row.getString(1)
        val bloom = TxLogTable.Bloom.fromPositions(m, k, typOf(c),
          row.getSeq[Long](2).map(_.toInt))
        out(rel) = out.getOrElse(rel, Map.empty) + (c -> bloom)
      }
    }
    out.toMap
  }

  private def stageWithStats(df: DataFrame, partitionCols: Seq[String],
                             bloomCols: Seq[String] = Nil,
                             bloomBits: Int = TxLogTable.Bloom.DefaultM,
                             rebalanceOk: Boolean = false)
      : Seq[String] = {
    val rels = stage(df, partitionCols, rebalanceOk)
    val withStats = rels.map(rel => rel -> footerStats(rel))
    // ZERO-ROW files never enter the manifest: Spark's writer creates a
    // task's output file eagerly, so an empty partition (a collapsed
    // range boundary, a skewed bucket with nothing in it) stages a
    // 0-row parquet — which carries no column stats and no bloom, so
    // every conservative pruning test would call it "may match" FOREVER
    // (a string-keyed merge rewrote one such file on every batch).
    // Empty files are pure manifest overhead at 100 TB; drop them here,
    // the one chokepoint every staging write passes through.
    val (empty, live) = withStats.partition(
      _._2.get(TxLogTable.RowsKey).exists(_._1 == 0L))
    empty.foreach { case (rel, _) =>
      scala.util.Try(Files.delete(dataDir.resolve(rel))) }
    val blooms = bloomStats(live.map(_._1), bloomCols, bloomBits)
    live.map { case (rel, st) => TxLogTable.FileEntry(rel, st,
      blooms.getOrElse(rel, Map.empty)).encoded }
  }

  /** Dynamic-partition-overwrite commit: replace exactly the partitions
    * `df` writes into, carry every other partition's files untouched —
    * Spark's `partitionOverwriteMode=dynamic` semantics expressed as a
    * manifest diff. At 100 TB this is the difference between a keyed merge
    * rewriting the whole table (`commit(overwrite = true)`) and rewriting
    * only the hour's / tenant's partitions: O(affected partitions) write
    * amplification, with the untouched bulk of the table never read,
    * never rewritten, and still snapshot-isolated behind the same atomic
    * manifest publish.
    */
  def commitDynamic(df: DataFrame, partitionCols: Seq[String]): Int = {
    require(partitionCols.nonEmpty,
      "commitDynamic needs partition columns; use commit() otherwise")
    val effBloom = inheritedBloomCols
    validateChecks(df, latestVersion)
    val stagedSpec = latestVersion.map(bucketSpecsOf).getOrElse(Nil)
    val staged = stageWithStats(df, partitionCols, effBloom,
      inheritedBloomBits(latestVersion), rebalanceOk = true)
    // the replaced partitions are exactly the hive dirs this batch wrote
    val replacedDirs = staged.map { f =>
      val p = Paths.get(f.takeWhile(_ != '\t'))
      // drop the batch-unique file name, keep `k=v[/k2=v2...]/`
      p.getParent.toString + "/"
    }.distinct
    val dynKmv = stagedKmv(staged) // staged fixed across retries
    optimisticCommit("commitDynamic") { (base, next) =>
      requireSpecUnchanged(stagedSpec, base, "commitDynamic")
      base.foreach { b =>
        val cur = partitionColsOf(b)
        require(cur == partitionCols,
          s"dynamic overwrite layout ${partitionCols.mkString(",")} does " +
            s"not match table layout ${cur.mkString(",")} at $root v$b")
      }
      // carry RAW lines so untouched files keep their stats
      val carried = base.map(dataLines).getOrElse(Nil)
        .filterNot(f => replacedDirs.exists(f.startsWith))
      // replaced partitions' vanished values leave the fold stale-high
      // (conservative); the new partitions' values must still enter or
      // the sketch goes stale-LOW
      Publish(foldNdv(carryFrom(base, "dynamic-overwrite", carried),
          dynKmv, reset = false)
          .copy(partitionCols = partitionCols, bloomCols = effBloom),
        carried ++ tagVersion(staged, next), next)
    }
  }

  /** Keyed copy-on-write MERGE (delete-then-insert upsert): every current
    * row whose key tuple appears in `incoming` is replaced, every incoming
    * row inserted — `Upsert.deleteInsert` semantics, but FILE-TARGETED.
    * The manifest key-range stats identify the files that may contain the
    * batch's keys (interval overlap per integral key column, hive
    * partition value for partition keys); only those files are read and
    * rewritten, everything else is carried by manifest reference. At
    * 100 TB this is the difference between a keyed upsert costing
    * O(affected files) and O(table) when the merge keys don't align with
    * the partition layout — with a key-clustered layout (`compact` after
    * range write, or `compactZOrder`) a narrow batch touches a handful of
    * files; an insert-only batch of fresh keys beyond the table's max
    * rewrites ZERO files and degenerates to a pure append.
    *
    * Pruning uses the HULL [min,max] of the batch's keys per integral key
    * column (one small aggregate over the delta) — sound because a file
    * whose range is disjoint from the hull on ANY key column cannot hold
    * any batch key tuple. STRING key columns prune through BOTH string
    * handles: the batch hull against the `:spre:` footer range stats
    * (exact on key-clustered layouts — the true analog of the integral
    * hull, immune to bloom saturation), AND the per-file Bloom filters
    * probed with the batch's distinct values (collected under
    * [[TxLogTable.MaxMergeProbeKeys]]; OVER the cap the probe runs
    * DISTRIBUTED instead — [[bloomMatchedFiles]] hashes the batch keys on
    * the executors against the broadcast file blooms, so scattered-key
    * batches of any size keep the bloom handle; the hull — one tiny agg —
    * prunes regardless). The
    * reference's own employee upsert is keyed on a string (`url_id`), so
    * without these the most common merge shape would silently rewrite the
    * whole table. Key columns with no pruning handle contribute nothing;
    * with none at all, every file is affected and the merge degrades to
    * the full rewrite it replaces. NULL batch keys only insert (SQL
    * equality never matches them), so their absence from the hull / probe
    * set cannot unprune a deletion target.
    *
    * Concurrency: same optimistic manifest race as `commit`, but a lost
    * race RE-PLANS from the new latest version (the carried set may have
    * changed) — stale staged files are left unreferenced for `vacuum`.
    */
  def merge(schema: StructType, incoming: DataFrame, keys: Seq[String],
            mergeSchema: Boolean = false): TxLogTable.MergeStats = {
    require(keys.nonEmpty, "merge needs at least one key column")
    if (mergeSchema) {
      // schema evolution through the keyed merge (Delta's autoMerge
      // analog on the API path): absorb the batch's new/wider columns
      // into the table FIRST (same add/widen rules as the write-path
      // mergeSchema), then merge under the evolved schema with the
      // batch aligned to it — rewritten and carried rows surface the
      // added columns as NULL, exactly like any post-ALTER read
      require(tableSchema.nonEmpty,
        "merge(mergeSchema = true) needs a recorded table schema " +
          "(create the table through the catalog or TxLogTable.create)")
      evolveSchemaFor(incoming.schema)
      val eff = tableSchema.get
      val aligned = incoming.select(eff.fields.toIndexedSeq.map { f =>
        (if (incoming.columns.contains(f.name)) col(f.name)
         else lit(null)).cast(f.dataType).as(f.name)
      }: _*)
      return merge(eff, aligned, keys)
    }
    // only the NEW rows need validation — carried rows passed at ingest
    validateChecks(incoming, latestVersion)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralKeys = keys.filter(k =>
      schema.find(_.name == k).map(_.dataType).exists {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      })
    // one tiny driver-side agg over the delta: the batch key hull
    val bounds: Map[String, (Long, Long)] =
      if (integralKeys.isEmpty) Map.empty
      else {
        val aggs = integralKeys.flatMap(k => Seq(
          org.apache.spark.sql.functions.min(col(k)).cast("long"),
          org.apache.spark.sql.functions.max(col(k)).cast("long")))
        val row = incoming.agg(aggs.head, aggs.tail: _*).head()
        integralKeys.zipWithIndex.collect {
          case (k, i) if !row.isNullAt(2 * i) =>
            k -> (row.getLong(2 * i), row.getLong(2 * i + 1))
        }.toMap
      }
    // STRING merge keys prune via the manifest Blooms: collect the batch's
    // distinct values per string key (one small distinct per column, capped
    // at MaxMergeProbeKeys + 1 rows of driver data). None = over the cap —
    // that column contributes no pruning, conservatively.
    val stringKeys = keys.filter(k =>
      schema.find(_.name == k).exists(_.dataType ==
        org.apache.spark.sql.types.StringType))
    val stringProbes: Map[String, Option[Set[String]]] = stringKeys.map { k =>
      val vals = incoming.select(col(k)).where(col(k).isNotNull)
        .distinct().limit(TxLogTable.MaxMergeProbeKeys + 1)
        .collect().map(_.getString(0))
      k -> (if (vals.length > TxLogTable.MaxMergeProbeKeys) None
            else Some(vals.toSet))
    }.toMap
    // the string-key HULL for :spre range pruning: from the collected
    // probe set when bounded, else one min/max agg (a hull exists for any
    // batch size — the bloom probe set does not)
    val stringHulls: Map[String, PredicateRanges.StrBound] =
      stringKeys.flatMap { k =>
        stringProbes(k) match {
          case Some(vals) if vals.nonEmpty =>
            // UTF-8 byte order, NOT Java's UTF-16 order — the hull must
            // use the same collation as the :spre: stats it probes, or a
            // supplementary-plane key can fall outside its own hull
            Some(k -> PredicateRanges.StrBound(
              Some(vals.min(PredicateRanges.Utf8Ordering)),
              Some(vals.max(PredicateRanges.Utf8Ordering))))
          case Some(_) => None // all-null batch keys: pureInsert below
          case None =>
            val r = incoming.agg(
              org.apache.spark.sql.functions.min(col(k)),
              org.apache.spark.sql.functions.max(col(k))).head()
            if (r.isNullAt(0)) None
            else Some(k -> PredicateRanges.StrBound(
              Some(r.getString(0)), Some(r.getString(1))))
        }
      }.toMap
    // a key column whose batch values are ALL null (empty hull / empty
    // probe set despite the batch) can never equality-match an existing
    // row: the batch is pure insert, zero files need rewriting. No prunable
    // key at all → no pruning handle → every file is affected (the full
    // rewrite this method otherwise replaces).
    val pureInsert = (integralKeys.nonEmpty && bounds.isEmpty) ||
      stringProbes.values.exists(_.exists(_.isEmpty))
    // over-cap string keys (no collected probe set): pruned DISTRIBUTED —
    // the batch's values probe the candidate files' blooms on executors
    val overCapKeys = stringKeys.filter(k => stringProbes(k).isEmpty)
    optimisticCommit("merge") { (base, next) =>
      val layout = base.map(partitionColsOf).getOrElse(Nil)
      val cmap = base.map(colMapOf).getOrElse(Map.empty)
      val (hullAffected, hullCarried) = base.map(dataLines).getOrElse(Nil)
        .partition { line =>
          val e = TxLogTable.decodeEntry(line)
          // a file is affected only when EVERY prunable key column says it
          // may hold a batch value — a disjoint hull or an all-negative
          // bloom probe on ANY key column clears the whole key tuple
          // (keys are logical; stats/blooms are probed by physical name)
          !pureInsert &&
            bounds.forall { case (c, (lo, hi)) =>
              mayOverlap(e, physOf(cmap, c), lo, hi) } &&
            stringHulls.forall { case (c, b) =>
              mayOverlapStr(e, physOf(cmap, c), b) } &&
            stringProbes.forall { case (c, probe) =>
              probe.forall(vals => mayContainKey(e, physOf(cmap, c), vals)) }
        }
      // An over-cap batch used to fall back to hull-only pruning — a
      // scattered 10⁵-key batch (hull ≈ whole domain) silently rewrote
      // the table. The distributed probe keeps the bloom handle at ANY
      // batch size: one pass over the batch per over-cap key column,
      // files cleared on every column move to the carried set.
      val affected =
        if (overCapKeys.isEmpty || pureInsert || hullAffected.isEmpty)
          hullAffected
        else overCapKeys.foldLeft(hullAffected) { (rem, k) =>
          val keep = bloomMatchedFiles(incoming, k, physOf(cmap, k),
            rem.map(TxLogTable.decodeEntry))
          rem.filter(line => keep(line.takeWhile(_ != '\t')))
        }
      val carriedLines = {
        val kept = affected.toSet
        hullCarried ++ hullAffected.filterNot(kept)
      }
      // rewrite reads through the tombstone mask so a MOR-deleted row is
      // never resurrected by a later merge's rewrite
      val merged = graft.operators.Upsert.deleteInsert(
        readMaskedEntries(schema, affected.map(TxLogTable.decodeEntry),
          base),
        incoming, keys)
      val effBloom = base.map(bloomColsOf).getOrElse(Nil)
      val staged = stageWithStats(merged, layout, effBloom,
        inheritedBloomBits(base), rebalanceOk = true)
      // fold the staged (rewritten + new) rows' minima: a merge INSERTS
      // new key values, and without the fold the sketch would go
      // stale-LOW (idempotent re-add for rewritten rows)
      Publish(foldNdv(carryFrom(base, "merge", carriedLines),
          stagedKmv(staged), reset = false),
        carriedLines ++ tagVersion(staged, next),
        TxLogTable.MergeStats(next, affected.size, carriedLines.size))
    }
  }

  /** File-targeted copy-on-write DELETE: rows where `pred` is TRUE are
    * removed; rows where it is FALSE or NULL survive (SQL DELETE
    * semantics). Like [[merge]], the rewrite is confined to the files the
    * manifest cannot prove untouched: per-column bounds are extracted from
    * the predicate tree ([[org.apache.spark.sql.graft.PredicateRanges]] —
    * the same analysis behind `snapshotWhere`) and a file whose stats (or
    * hive partition value) exclude EVERY implied range cannot hold a
    * matching row, so its manifest line is carried by reference. The full
    * predicate is then re-applied to the surviving files' rows, so
    * conjuncts the extractor doesn't understand narrow the delete, never
    * widen it. At 100 TB a retention delete (`ts < horizon`) over a
    * time-clustered table rewrites only the horizon-straddling files —
    * files wholly before it could even be dropped without rewrite; files
    * wholly after are carried — instead of rewriting the table. A
    * predicate with no extractable bound (UDF, non-literal comparison)
    * degrades to the full rewrite it replaces, still correct.
    *
    * Returns [[TxLogTable.MergeStats]]: rewritten = files read+rewritten,
    * carried = files proven untouched. Same optimistic manifest race as
    * `merge`: a lost race re-plans against the new latest version.
    */
  def deleteWhere(schema: StructType, pred: org.apache.spark.sql.Column)
      : TxLogTable.MergeStats =
    cowRewrite(schema, pred, extra = None, opName = "delete")

  // The shared predicate-scoped copy-on-write rewrite behind deleteWhere
  // (extra = None) and replaceWhere (extra = the replacement batch):
  // manifest pruning bounds the rewrite, survivors of the affected files
  // (NULL pred keeps the row, SQL DELETE semantics) are re-staged —
  // unioned with the batch when present — and everything else is carried
  // by reference, under the usual optimistic re-planning race.
  private def cowRewrite(schema: StructType,
                         pred: org.apache.spark.sql.Column,
                         extra: Option[DataFrame], opName: String)
      : TxLogTable.MergeStats = {
    val cmap = inheritedColMap
    val ranges = physKeyed(cmap, PredicateRanges.extract(pred))
    val nn = physNullness(cmap, PredicateRanges.extractNullness(pred))
    val points = physKeyed(cmap, PredicateRanges.extractPoints(pred))
    val strs = physKeyed(cmap, PredicateRanges.extractStr(pred))
    // RETENTION FAST PATH (deletes AND replaceWhere): when the predicate
    // is a complete conjunction of bounds (PredicateRanges.exactBounds —
    // an EXACT characterization, not the may-match hull), a file whose
    // recorded min/max sit wholly inside every bound AND whose bounded
    // columns hold zero NULLs contains ONLY matching rows — it drops
    // from the manifest WITHOUT BEING READ (no surviving row could need
    // re-staging). `DELETE WHERE ts < cutoff` over years of a 100 TB
    // table becomes O(manifest): old days vanish as manifest omissions,
    // only the boundary-straddling files pay a rewrite; a replaceWhere
    // backfill of whole days likewise drops the old days unread and
    // stages only the replacement batch. Sound with MOR tombstones
    // (hidden rows are a subset of the file's rows: dropping loses only
    // already-invisible or matching rows) and with CDC (cowDiffEvents
    // reads the PREVIOUS version's removed files, so a dropped file's
    // rows still feed the change feed as deletes).
    val exact: Option[Map[String, PredicateRanges.Bound]] =
      PredicateRanges.exactBounds(pred).map(physKeyed(cmap, _))
        .filter(_.nonEmpty)
    optimisticCommit(opName) { (base, next) =>
      val layout = base.map(partitionColsOf).getOrElse(Nil)
      val (affected0, carriedLines) = base.map(dataLines).getOrElse(Nil)
        .partition(line => mayMatchPred(TxLogTable.decodeEntry(line),
          ranges, nn, points, strs, timeSegBounds(ranges, base)))
      val (dropped, affected) = exact match {
        case Some(b) => affected0.partition { line =>
          val e = TxLogTable.decodeEntry(line)
          b.forall { case (c, bd) =>
            e.stats.get(c).exists { case (mn, mx) =>
              mn >= bd.lo && mx <= bd.hi } &&
              e.stats.get(TxLogTable.nullsKey(c)).exists(_._1 == 0L)
          }
        }
        case None => (Nil, affected0)
      }
      // Reads through the tombstone mask (no resurrection on rewrite).
      val kept = readMaskedEntries(schema,
          affected.map(TxLogTable.decodeEntry), base)
        .filter(!org.apache.spark.sql.functions.coalesce(pred, lit(false)))
      val out = extra.fold(kept)(d => kept.unionByName(
        d.select(schema.fieldNames.toIndexedSeq.map(col): _*)))
      val effBloom = base.map(bloomColsOf).getOrElse(Nil)
      // nothing to restage when every affected file dropped wholesale
      // and no replacement batch rides along — don't write an empty
      // part file into the manifest
      val staged =
        if (affected.isEmpty && extra.isEmpty) Nil
        else stageWithStats(out, layout, effBloom,
          inheritedBloomBits(base), rebalanceOk = true)
      Publish(carryFrom(base, opName, carriedLines),
        carriedLines ++ tagVersion(staged, next),
        TxLogTable.MergeStats(next, affected.size, carriedLines.size,
          dropped.size))
    }
  }

  /** Predicate-scoped atomic overwrite — the `replaceWhere` idiom: ONE
    * version in which rows matching `pred` are replaced by `data` and
    * everything else is untouched. The idempotent partition/backfill
    * pattern (`replaceWhere("day = '2026-08-12'", recomputedDay)`): rerun
    * it and the slice is simply replaced again — no delete+append window
    * in which readers see neither. File targeting is [[deleteWhere]]'s:
    * only files that may hold a matching row are rewritten (kept
    * non-matching rows re-staged with the new data), the rest are carried
    * by manifest reference. `data` must itself satisfy `pred` (the Delta
    * contract) — otherwise a rerun would not be idempotent — enforced
    * with one aggregate over the batch.
    */
  def replaceWhere(schema: StructType, pred: org.apache.spark.sql.Column,
                   data: DataFrame): TxLogTable.MergeStats = {
    // ONE validation aggregate over the batch: the predicate contract
    // (every incoming row satisfies pred — otherwise a rerun would not be
    // idempotent) and any CHECK constraints, in the same job, so an
    // expensive batch lineage is computed once for validation
    import org.apache.spark.sql.functions.{coalesce, count_if, expr}
    val checks = latestVersion.map(checksOf).getOrElse(Map.empty)
    val aggs = count_if(!coalesce(pred, lit(false))).as("__outside") +:
      checks.toSeq.map { case (n, e) =>
        count_if(!coalesce(expr(e), lit(true))).as(n) }
    val row = data.agg(aggs.head, aggs.tail: _*).head()
    require(row.getLong(0) == 0L,
      s"replaceWhere: ${row.getLong(0)} incoming rows do not satisfy the " +
        "predicate — the replacement would not be idempotent")
    checks.toSeq.zipWithIndex.foreach { case ((n, e), i) =>
      require(row.getLong(i + 1) == 0L,
        s"check '$n' violated by ${row.getLong(i + 1)} rows: $e")
    }
    cowRewrite(schema, pred, extra = Some(data), opName = "replace-where")
  }

  /** Merge-on-read equality DELETE (Iceberg v2 equality-delete /
    * Hudi-MOR shape): instead of rewriting the files that hold the keys
    * ([[merge]]/[[deleteWhere]]'s copy-on-write), the batch of deleted key
    * tuples is written as a TOMBSTONE parquet and recorded in the
    * manifest — an O(delta) commit regardless of how many data files the
    * keys touch. Readers apply tombstones as one broadcast left-anti join
    * ([[readMaskedEntries]]), sequence-aware: a tombstone only masks rows
    * from files added at or before its version, so re-inserting a deleted
    * key later behaves like SQL (the new row survives). The read-side
    * cost is the MOR tradeoff; [[compact]] (or any overwrite) materializes
    * the deletes and clears the tombstones. Write amplification: COW
    * delete = O(affected files) rewrite now, free reads; MOR delete =
    * O(batch) now, an anti-join per read until compaction — at 100 TB the
    * right choice per table is load-shaped, so the format offers both.
    *
    * `deleteKeys`' columns ARE the key set; it is fixed at the first MOR
    * delete (like Iceberg's equality-field ids) and must match thereafter.
    * NULL key tuples never match any row (SQL equality), matching COW.
    */
  def deleteByKeysMor(deleteKeys: DataFrame): Int = {
    val keys = deleteKeys.columns.toSeq
    require(keys.nonEmpty, "deleteByKeysMor needs at least one key column")
    // the tombstone anti-join matches data columns against tombstone-file
    // columns by ONE name — a mapped (renamed) key would make the logical
    // data frame and the physical tombstone disagree
    keys.foreach(k => require(!inheritedColMap.contains(k),
      s"MOR delete key $k is a renamed column: compact before MOR deletes"))
    val staged = stage(deleteKeys, Nil)
    optimisticCommit("deleteByKeysMor") { (base, next) =>
      val existing = base.map(morKeysOf).getOrElse(Nil)
      require(existing.isEmpty || existing == keys,
        s"MOR delete keys $keys do not match the table's $existing")
      val data = base.map(dataLines).getOrElse(Nil)
      val h = carryFrom(base, "delete-mor", data)
      Publish(h.copy(morKeys = keys,
        tombs = h.tombs ++ staged.map(_ -> next)), data, next)
    }
  }

  /** Positional DELETE (deletion-vector style — Iceberg v2 position
    * deletes / Delta deletion vectors): rows matching `pred` are masked
    * by `(file, row position)` instead of rewriting the files that hold
    * them. The commit is O(matched rows): one small DV parquet plus one
    * `#dv=` manifest line per touched file — NO data file is rewritten,
    * where [[deleteWhere]]'s copy-on-write rewrites every affected file
    * whole. This is the arbitrary-predicate complement to
    * [[deleteByKeysMor]] (key-equality only): at 100 TB a trickle of
    * point corrections (`DELETE WHERE id = x AND reason = y` on non-key
    * columns) costs positions, not files.
    *
    * Contract matrix, same as MOR tombstones: reads apply the mask
    * ([[readMaskedPos]]); compaction/resort/rebucket materialize it for
    * the files they rewrite and the carry rule keeps it for the rest;
    * vacuum protects DV parquets referenced by surviving manifests;
    * time travel sees each version's own mask; CDC emits the masked
    * rows as exact delete events ([[changesWithDeletes]]); metadata
    * COUNT(*) stays exact (counts subtract — see [[metaRowCount]]);
    * metadata MIN/MAX declines. Masks are DISJOINT by construction —
    * positions are computed through every live mask, so an
    * already-masked row never re-masks (what keeps both the count
    * subtraction and the CDC events exact).
    *
    * Returns [[TxLogTable.MergeStats]] with `rewritten = 0` always —
    * the zero-rewrite guarantee callers can assert. A predicate
    * matching no rows is a no-op (no version committed).
    */
  def deleteWherePos(schema: StructType, pred: org.apache.spark.sql.Column)
      : TxLogTable.MergeStats =
    posMask(schema, pred, None, "delete-dv")

  /** Positional UPDATE: rows matching `pred` are masked where they sit
    * (same DV commit as [[deleteWherePos]]) and re-written ONCE with
    * `set` applied, as new data files holding ONLY the touched rows —
    * O(matched rows) write amplification, vs [[cowRewrite]]'s O(affected
    * files). `set` maps column name → replacement expression (evaluated
    * against the row's old values, so `col("x") + 1` increments).
    * CHECK constraints validate the updated rows before publish; CDC
    * sees exact delete+insert pairs (the mask's rows and the new files'
    * rows under one `_commit_version`).
    */
  def updateWherePos(schema: StructType, pred: org.apache.spark.sql.Column,
                     set: Seq[(String, org.apache.spark.sql.Column)])
      : TxLogTable.MergeStats = {
    require(set.nonEmpty, "updateWherePos needs at least one assignment")
    set.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"updateWherePos column $c is not in the schema " +
          s"(${schema.fieldNames.mkString(", ")})")
    }
    posMask(schema, pred, Some(set), "update-dv")
  }

  /** Collect a DV mask frame to the driver with the pull BOUNDED by the
    * mask-cap headroom. When the affected files' manifest row counts
    * prove the mask cannot exceed the headroom, the plain one-job
    * collect runs (no extra actions); otherwise an executeTake probe
    * pulls at most headroom+1 rows, so an over-cap DML fails with the
    * clean "compact first" refusal WITHOUT materializing an unbounded
    * mask on the driver. take() returns the complete row set whenever
    * fewer than n rows exist, so an under-cap commit is unchanged.
    */
  private def boundedMaskCollect(hit: DataFrame,
                                 affected: Seq[TxLogTable.FileEntry],
                                 headroom: Long)
      : Array[org.apache.spark.sql.Row] = {
    val upper = affected.iterator
      .map(_.stats.get(TxLogTable.RowsKey).map(_._1))
      .foldLeft(Option(0L)) {
        case (Some(acc), Some(n)) => Some(acc + n)
        case _ => None // any file without row stats: bound unknown
      }
    if (upper.exists(_ <= headroom)) hit.collect()
    else hit.take(math.min(headroom + 1, Int.MaxValue.toLong).toInt)
  }

  private def posMask(schema: StructType,
                      pred: org.apache.spark.sql.Column,
                      set: Option[Seq[(String, org.apache.spark.sql.Column)]],
                      opName: String): TxLogTable.MergeStats = {
    import org.apache.spark.sql.functions.{coalesce, substring}
    val cmap = inheritedColMap
    val ranges = physKeyed(cmap, PredicateRanges.extract(pred))
    val nn = physNullness(cmap, PredicateRanges.extractNullness(pred))
    val points = physKeyed(cmap, PredicateRanges.extractPoints(pred))
    val strs = physKeyed(cmap, PredicateRanges.extractStr(pred))
    val prefixLen = dataDir.toString.length + 1 // abs path → rel
    optimisticCommit(opName) { (base, next) =>
      val layout = base.map(partitionColsOf).getOrElse(Nil)
      val lines = base.map(dataLines).getOrElse(Nil)
      // manifest pruning bounds the scan exactly as for the COW path
      val affEntries = lines.map(TxLogTable.decodeEntry)
      val affected = affEntries.filter(e =>
        mayMatchPred(e, ranges, nn, points, strs,
          timeSegBounds(ranges, base)))
      val noop =
        Unchanged(TxLogTable.MergeStats(base.getOrElse(-1), 0, lines.size))
      if (affected.isEmpty) noop // provably nothing matches
      else {
        // matched rows' positions, read through EVERY live mask (prior
        // DVs and tombstones) so masks stay disjoint
        val (rows, fcol, pcol) = readMaskedPos(schema,
          affected, base, None, withPos = true)
        val hit = rows.filter(coalesce(pred, lit(false)))
        val maskFrame = hit.select(
          substring(col(fcol), prefixLen + 1, Int.MaxValue).as("file"),
          col(pcol).as("pos"))
        // ONE headroom-bounded collect replaces the old stage-write +
        // read-back-count pass (two actions plus a disk round-trip): the
        // per-file counts become plain driver math and the small DV
        // parquet is staged from the local rows as a 1-task write. The
        // mask must stay broadcast-sized anyway (the read-side anti-join
        // carries it), so the driver pull is the same order of memory the
        // table already holds per read — and the pull itself is bounded
        // BEFORE the cap check, so an over-cap bulk delete fails with the
        // clean refusal below instead of materializing an unbounded mask.
        val cap = TxLogTable.maxDvMaskRows(spark)
        val liveTotal = base.map(dvsOf).getOrElse(Nil).map(_.n).sum
        val maskRows = boundedMaskCollect(maskFrame, affected,
          math.max(0L, cap - liveTotal))
        if (maskRows.isEmpty) noop // predicate matched no surviving row
        else {
          // keep the table's TOTAL live mask broadcast-sized: beyond the cap
          // the read-side anti-join and the maintenance paths should not
          // carry it — compact (materializes every mask) or use the COW path
          require(liveTotal + maskRows.length <= cap,
            s"$opName would push the live positional-delete mask past " +
              s"$cap rows: compact the table first (folds every mask), or " +
              "use the copy-on-write path (deleteWhere/merge)")
          // ONE small DV parquet per commit (a target's positions must not
          // span DV files — the manifest carries one line per target)
          val stagedDv = stage(spark.createDataFrame(
            java.util.Arrays.asList(maskRows: _*), maskFrame.schema)
            .coalesce(1), Nil)
          val counts: Seq[(String, Long)] = maskRows.groupBy(_.getString(0))
            .view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
          val dvRel = stagedDv.head
          // update: the touched rows re-staged once with assignments applied
          val stagedData: Seq[String] = set match {
            case Some(assigns) =>
              val updated = hit.drop(fcol, pcol).select(
                schema.fieldNames.toIndexedSeq.map(n =>
                  assigns.collectFirst { case (c, e) if c == n => e.as(n) }
                    .getOrElse(col(n))): _*)
              validateChecks(updated, base)
              stageWithStats(updated, layout,
                base.map(bloomColsOf).getOrElse(Nil),
                inheritedBloomBits(base), rebalanceOk = true)
            case None => Nil
          }
          val h = carryFrom(base, opName, lines)
          // new values can appear only via assignments
          val folded = if (set.isEmpty) h
            else foldNdv(h, stagedKmv(stagedData), reset = false)
          Publish(folded.copy(dvs = h.dvs ++ counts.map { case (rel, n) =>
              TxLogTable.DvEntry(dvRel, next, n, rel) }),
            lines ++ tagVersion(stagedData, next),
            TxLogTable.MergeStats(next, 0, lines.size))
        }
      }
    }
  }

  /** Atomic keyed MOR UPSERT through positional deletes: every CURRENT row
    * whose `keyCols` tuple appears in `newRows` (or `dropKeys`) is masked
    * where it sits, and `newRows` land as new data files — ONE manifest
    * write, so a reader sees the old groups or their replacements, never a
    * gap and never both. This is the O(changed rows) keyed write shape
    * [[merge]]'s copy-on-write cannot give: merge rewrites every FILE
    * holding a matched key (hash-spread keys touch most of a table's
    * files), here the commit is one small DV parquet plus the replacement
    * rows. Same maintenance contract as [[deleteWherePos]]: the live mask
    * accrues until compact/optimize folds it, and `maxDvMaskRows` refuses
    * growth past broadcast size; CDC sees exact delete+insert pairs under
    * one `_commit_version`.
    *
    * `dropKeys` (exactly the `keyCols` columns) removes groups with NO
    * replacement rows — the materialized-view refresh's zero-count groups
    * ([[graft.operators.MaterializedView]], the primary caller).
    * `extraMeta` lines ride the commit's manifest (unknown `#`-keys are
    * ignored by every reader); the MV refresh records its consumed source
    * version this way, which is what makes a refresh exactly-once: the
    * data change and the progress record are one atomic manifest create.
    *
    * Key matching is NULL-SAFE (`<=>`): a NULL-keyed group is a real group
    * to a groupBy consumer, and a null-unsafe join would strand its old
    * rows unmasked. Manifest min/max pruning bounds the position scan only
    * when no key value is NULL (parquet stats are null-blind); the bounds
    * come from one aggregate over the (changed-groups-sized) key frame.
    *
    * Retries stage inside the loop — a lost version race recomputes
    * positions against the new base, so a racing refresh that already
    * upserted the same keys is simply re-masked (idempotent content).
    */
  def upsertPos(schema: StructType, newRows: DataFrame, keyCols: Seq[String],
                dropKeys: Option[DataFrame] = None,
                op: String = "upsert-dv",
                extraMeta: Seq[String] = Nil,
                expectHead: Option[Int] = None): TxLogTable.MergeStats = {
    import org.apache.spark.sql.functions.{broadcast, count, count_if,
      max => fmax, min => fmin, substring}
    require(keyCols.nonEmpty, "upsertPos needs at least one key column")
    keyCols.foreach { k =>
      require(!inheritedColMap.contains(k),
        s"upsert key $k is a renamed column: compact before keyed upserts")
      require(schema.fieldNames.contains(k),
        s"upsert key $k is not in the schema")
    }
    require(newRows.columns.sorted.sameElements(schema.fieldNames.sorted),
      s"newRows columns (${newRows.columns.mkString(",")}) must match " +
        s"the schema (${schema.fieldNames.mkString(",")})")
    dropKeys.foreach(d =>
      require(d.columns.sorted.sameElements(keyCols.sorted),
        s"dropKeys columns (${d.columns.mkString(",")}) must be exactly " +
          s"the key columns (${keyCols.mkString(",")})"))
    ManifestHeader.requireAnnotations(extraMeta)
    tableSchema.foreach { rec =>
      schema.fields.foreach(f => require(
        rec.fields.exists(e => e.name == f.name && e.dataType == f.dataType),
        s"upsertPos column ${f.name}:${f.dataType.simpleString} does not " +
          s"match the table schema (${rec.fields.map(e =>
            s"${e.name}:${e.dataType.simpleString}").mkString(", ")})"))
    }
    val aligned = newRows.select(schema.fieldNames.toIndexedSeq.map(col): _*)
    // reused by the bounds aggregate and the mask join of every retry
    // attempt: checkpoint so the caller's plan (an MV fold) runs once.
    // (Measured alternative, r21: pinning small key sets as a driver-
    // local relation via an executeTake probe ADDED 2-4 jobs per commit
    // — the incremental take scans partitions in scale-up rounds and
    // keyFrame feeds only ONE downstream broadcast, so there is nothing
    // to amortize. Reverted.)
    val keyFrame = dropKeys
      .fold(aligned.select(keyCols.map(col): _*))(d =>
        aligned.select(keyCols.map(col): _*)
          .unionByName(d.select(keyCols.map(col): _*)))
      .distinct().localCheckpoint(false)
    val bAggs = keyCols.flatMap(k => Seq(fmin(col(k)).as(s"__mn_$k"),
      fmax(col(k)).as(s"__mx_$k"),
      count_if(col(k).isNull).as(s"__nl_$k"))) :+ count(lit(1)).as("__n")
    val bRow = keyFrame.agg(bAggs.head, bAggs.tail: _*).head()
    if (bRow.getAs[Long]("__n") == 0L) // no keys at all: clean no-op
      return TxLogTable.MergeStats(latestVersion.getOrElse(-1), 0,
        fileCount())
    val anyNull = keyCols.exists(k => bRow.getAs[Long](s"__nl_$k") > 0L)
    val prunePred: Option[Column] =
      if (anyNull) None
      else Some(keyCols.map(k =>
        col(k) >= lit(bRow.getAs[Any](s"__mn_$k")) &&
          col(k) <= lit(bRow.getAs[Any](s"__mx_$k"))).reduce(_ && _))
    val prefixLen = dataDir.toString.length + 1 // abs path → rel
    optimisticCommit(op) { (base, next) =>
      // head-conditional commit: the caller's newRows/dropKeys were
      // computed from state AT expectHead — any other head means a
      // concurrent commit won and this delta is stale, so refuse here
      // (before staging) rather than land a lost update
      expectHead.foreach { eh =>
        if (!base.contains(eh))
          throw new TxLogTable.ConcurrentHeadMoved(
            s"$op expected head v$eh but found " +
              s"v${base.getOrElse(-1)}: a concurrent commit moved the " +
              s"head — recompute the delta against the new state: $root")
      }
      val layout = base.map(partitionColsOf).getOrElse(Nil)
      val lines = base.map(dataLines).getOrElse(Nil)
      val cmap = inheritedColMap
      val allEntries = lines.map(TxLogTable.decodeEntry)
      val affected = prunePred match {
        case Some(p) =>
          val ranges = physKeyed(cmap, PredicateRanges.extract(p))
          val nn = physNullness(cmap, PredicateRanges.extractNullness(p))
          val points = physKeyed(cmap, PredicateRanges.extractPoints(p))
          val strs = physKeyed(cmap, PredicateRanges.extractStr(p))
          allEntries.filter(e => mayMatchPred(e,
            ranges, nn, points, strs, timeSegBounds(ranges, base)))
        case None => allEntries
      }
      // matched keys' current rows, read through EVERY live mask (prior
      // DVs and tombstones) so masks stay disjoint
      val (stagedDv: Seq[String], counts: Seq[(String, Long)]) =
        if (affected.isEmpty) (Nil, Nil)
        else {
          val (rows, fcol, pcol) = readMaskedPos(schema,
            affected, base, None, withPos = true)
          val cond = keyCols.map(k => rows(k) <=> keyFrame(k))
            .reduce(_ && _)
          val hit = rows.join(broadcast(keyFrame), cond, "left_semi")
            .select(
              substring(col(fcol), prefixLen + 1, Int.MaxValue).as("file"),
              col(pcol).as("pos"))
          // ONE cap-bounded collect replaces the old stage-write +
          // read-back-count pass (two actions): the mask is ≤
          // maxDvMaskRows in every successful commit — enforced below
          // exactly as before — so the driver pull is bounded; the dv
          // file is then staged from the local rows (a 1-task write) and
          // the per-file counts are plain driver math. The pull itself
          // is headroom-bounded, so an OVER-cap upsert fails with the
          // clean refusal below instead of collecting an unbounded mask.
          val cap = TxLogTable.maxDvMaskRows(spark)
          val liveTotal = base.map(dvsOf).getOrElse(Nil).map(_.n).sum
          val maskRows = boundedMaskCollect(hit, affected,
            math.max(0L, cap - liveTotal))
          if (maskRows.isEmpty) (Nil, Nil)
          else {
            require(liveTotal + maskRows.length <= cap,
              s"$op would push the live positional-delete mask past $cap " +
                "rows: compact the table first (folds every mask), or use " +
                "the copy-on-write merge")
            val staged = stage(spark.createDataFrame(
              java.util.Arrays.asList(maskRows: _*), hit.schema)
              .coalesce(1), Nil)
            (staged, maskRows.groupBy(_.getString(0)).view
              .mapValues(_.length.toLong).toSeq.sortBy(_._1))
          }
        }
      validateChecks(aligned, base)
      val stagedData = stageWithStats(aligned, layout,
        base.map(bloomColsOf).getOrElse(Nil), inheritedBloomBits(base),
        rebalanceOk = true)
      if (counts.isEmpty && stagedData.isEmpty) // nothing to mask or add
        Unchanged(TxLogTable.MergeStats(base.getOrElse(-1), 0, lines.size))
      else {
        val h = carryFrom(base, op, lines)
        Publish(foldNdv(h, stagedKmv(stagedData), reset = false).copy(
            dvs = h.dvs ++ counts.map { case (rel, n) =>
              TxLogTable.DvEntry(stagedDv.head, next, n, rel) },
            annotations = extraMeta),
          lines ++ tagVersion(stagedData, next),
          TxLogTable.MergeStats(next, 0, lines.size))
      }
    }
  }

  /** The value of annotation `#key=` recorded at `v`, if any — the
    * generic accessor for per-commit annotations (the MV refresh's
    * `#mvsrc=` progress record). Unknown keys cost nothing to writers
    * because every reader ignores them.
    */
  def metaOf(v: Int, key: String): Option[String] =
    headerOf(v).annotation(key)

  /** The tombstone KEY rows committed AT `v` itself (carried older
    * tombstones excluded) — a MOR delete's exact key set, for consumers
    * that fold keyed deletes (the MV refresh's group drops). None when
    * `v` committed no new tombstone.
    */
  def tombstoneFrameOf(v: Int): Option[DataFrame] = {
    val rels = tombstonesOf(v).collect { case (rel, tv) if tv == v => rel }
    if (rels.isEmpty) None
    else Some(spark.read.parquet(
      rels.map(r => dataDir.resolve(r).toString): _*))
  }

  /** Schema of the live tombstone key files at `v` (None when none live)
    * — a consumer projecting a MASKED snapshot must include these columns
    * for the mask join, whatever its own projection needs; this is where
    * it learns their types (one parquet footer read).
    */
  def tombstoneKeySchema(v: Int): Option[StructType] =
    tombstonesOf(v).headOption.map { case (rel, _) =>
      spark.read.parquet(dataDir.resolve(rel).toString).schema }

  /** TRUE when version `v` REMOVED data files relative to its predecessor
    * — the conservative "this commit may have dropped rows invisibly to
    * the raw file feed" test incremental consumers use to decide between
    * a delta fold and a recompute: an op that only ADDED files is always
    * safe to fold as plain inserts, whatever its name; overwrite /
    * publish-style resets are not. A vacuumed predecessor answers TRUE
    * (cannot prove it safe ⇒ recompute).
    */
  def removedFilesAt(v: Int): Boolean =
    if (v <= 0) false
    else if (!versions.contains(v - 1)) true
    else {
      val cur = readManifest(v).toSet
      readManifest(v - 1).exists(!cur(_))
    }

  /** CHECK constraints recorded at `v`: name → SQL boolean expression
    * every ingested row must satisfy (TRUE or NULL passes, SQL-standard).
    * A table property like the partition layout — constraints survive
    * overwrites; only dropping the table drops them.
    */
  def checksOf(v: Int): Map[String, String] = headerOf(v).checks.toMap

  /** Register a CHECK constraint as a metadata-only commit (no data file
    * touched). Future ingests ([[commit]], [[commitDynamic]], [[merge]]'s
    * incoming rows) validate against it BEFORE publishing and throw with
    * the violation count on failure — Delta's CHECK constraint semantics.
    * The expression must hold for the CURRENT snapshot too: enforcement
    * that starts with a violating table would lie to readers.
    */
  def addCheck(schema: StructType, name: String, expr: String): Int = {
    require(name.nonEmpty && !name.exists(c => c == '=' || c == '\n') &&
      !expr.contains('\n'), s"check name/expr not wire-safe: $name")
    val bad = snapshot(schema)
      .filter(!org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(expr), lit(true))).count()
    require(bad == 0,
      s"cannot add check '$name': $bad existing rows violate ($expr)")
    optimisticCommit("addCheck") { (base, next) =>
      val data = base.map(dataLines).getOrElse(Nil)
      val h = carryFrom(base, "add-check", data)
      Publish(h.copy(checks = h.checks :+ (name -> expr)), data, next)
    }
  }

  // ONE validation job for all constraints: a row fails a check only when
  // the expression is literally FALSE (NULL passes, SQL-standard).
  // Maintenance rewrites (compact/zorder) skip re-validation — their rows
  // all passed at ingest.
  private def validateChecks(df: DataFrame, base: Option[Int]): Unit = {
    val checks = base.map(checksOf).getOrElse(Map.empty)
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, count_if, expr}
    val aggs = checks.toSeq.map { case (n, e) =>
      count_if(!coalesce(expr(e), lit(true))).as(n) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    checks.toSeq.zipWithIndex.foreach { case ((n, e), i) =>
      require(row.getLong(i) == 0L,
        s"check '$n' violated by ${row.getLong(i)} rows: $e")
    }
  }

  /** `bloomCols` non-empty enables per-file Bloom filters on those columns
    * for this commit's files AND records them as a table property every
    * later write inherits; empty inherits the table's current setting.
    * `bloomBits` > 0 sizes the filters (power of two, 2^13..2^20 bits) and
    * is likewise recorded and inherited — size for ~10 bits per distinct
    * value per file (the 8192-bit default saturates near ~850 values).
    * `expectHead` makes the commit HEAD-CONDITIONAL: the write refuses
    * with [[TxLogTable.ConcurrentHeadMoved]] when the table's head is no
    * longer that version — for callers whose batch (or whose decision to
    * commit at all) was derived from state AT that head.
    */
  def commit(df: DataFrame, overwrite: Boolean,
             partitionCols: Seq[String] = Nil,
             op: String = null,
             bloomCols: Seq[String] = Nil,
             bloomBits: Int = 0,
             extraMeta: Seq[String] = Nil,
             expectHead: Option[Int] = None): Int = {
    val opName =
      Option(op).getOrElse(if (overwrite) "overwrite" else "append")
    // per-commit annotation lines (see upsertPos): never carried forward,
    // ignored by every reader that does not ask for them via metaOf
    ManifestHeader.requireAnnotations(extraMeta)
    // bloom columns are a physical-name table property (filters are
    // harvested from staged files): translate CALLER-supplied logical
    // names only — the inherited list is already physical, and pushing it
    // through the map again would mis-route blooms when a rename later
    // reuses a freed logical name
    val effBloom =
      if (bloomCols.nonEmpty) bloomCols.map(physOf(inheritedColMap, _))
      else inheritedBloomCols
    if (bloomBits > 0)
      require(Integer.bitCount(bloomBits) == 1 &&
        bloomBits >= TxLogTable.Bloom.DefaultM && bloomBits <= (1 << 20),
        s"bloomBits must be a power of two in [8192, 1048576]: $bloomBits")
    val effBits =
      if (bloomBits > 0) bloomBits else inheritedBloomBits(latestVersion)
    // SCHEMA GATE for catalog-created tables (recorded #schema): an
    // incoming column must exist in the table (hidden bucket columns
    // derived by staging are exempt) with an equal or NARROWER type
    // (narrower files promote at read). A drifted batch fails LOUDLY
    // here, before any row lands — silent acceptance previously wrote
    // physically-mismatched files the declared schema could not read
    // back. Writers that WANT drift absorbed pass
    // option("mergeSchema", "true"), which evolves the schema first.
    tableSchema.foreach { rec =>
      df.schema.fields.foreach { f =>
        if (!TxLogTable.isHiddenCol(f.name))
          rec.fields.find(_.name == f.name) match {
            case None => throw new IllegalArgumentException(
              s"append column ${f.name} is not in the table schema " +
                s"(${rec.fieldNames.mkString(", ")}): use " +
                "option(\"mergeSchema\", \"true\") to evolve the table, " +
                "or drop the column")
            case Some(ex) if ex.dataType == f.dataType ||
              TxLogTable.canWiden(f.dataType, ex.dataType) => ()
            case Some(ex) => throw new IllegalArgumentException(
              s"append column ${f.name} is ${f.dataType.simpleString} " +
                s"but the table has ${ex.dataType.simpleString}: use " +
                "option(\"mergeSchema\", \"true\") for a safe widening, " +
                "or cast the batch")
          }
      }
    }
    // maintenance rewrites re-stage rows that already passed at ingest
    if (!Set("compact", "zorder", "compact-small")(opName))
      validateChecks(df, latestVersion)
    val stagedSpec = latestVersion.map(bucketSpecsOf).getOrElse(Nil)
    val staged = stageWithStats(df, partitionCols, effBloom, effBits,
      rebalanceOk = !Set("compact", "zorder", "compact-small")(opName))
    // batch KMV from the STAGED files (never re-executes the caller's
    // plan), computed once outside the publish retry loop
    val batchKmv = stagedKmv(staged)
    optimisticCommit("commit") { (base, next) =>
      // head-conditional commit (see upsertPos): a caller that derived
      // this batch — or the decision that an EMPTY batch is the right
      // consumption record — from state at expectHead must not land it
      // over a head someone else moved
      expectHead.foreach { eh =>
        if (!base.contains(eh))
          throw new TxLogTable.ConcurrentHeadMoved(
            s"$opName expected head v$eh but found " +
              s"v${base.getOrElse(-1)}: a concurrent commit moved the " +
              s"head — recompute the batch against the new state: $root")
      }
      requireSpecUnchanged(stagedSpec, base, "commit")
      if (!overwrite) base.foreach { b =>
        val cur = partitionColsOf(b)
        require(cur == partitionCols,
          s"append layout ${partitionCols.mkString(",")} does not match " +
            s"table layout ${cur.mkString(",")} at $root v$b; " +
            "overwrite to repartition the table")
      }
      val carried =
        if (overwrite) Nil else base.map(dataLines).getOrElse(Nil)
      // tombstones die with an overwrite; CHECK constraints survive it.
      // NDV fold: append merges the batch minima into the carried
      // sketch; overwrite starts fresh — the old corpus is gone
      val h = foldNdv(carryFrom(base, opName, carried, overwrite),
        batchKmv, reset = overwrite)
      // A layout-CHANGING overwrite must not carry layout-bound specs
      // into a manifest whose partitionCols no longer support them: a
      // stale #bucketSpec on an unpartitioned table would make every
      // later row-level DML fail the rebucket guard with a phantom
      // conflict, and a stale #sortCols would sort (or crash) writes
      // that no longer flow through a partitioned staging layout. Keep
      // each spec only when the new layout still carries its derived
      // columns in create()'s shape.
      val expectBkt = h.bucketSpecs.indices.map(TxLogTable.bucketColAt)
      val bucketsStillFit = expectBkt.nonEmpty &&
        partitionCols.takeRight(expectBkt.length) == expectBkt &&
        partitionCols.count(TxLogTable.isBucketCol) == expectBkt.length
      val expectTp = h.timeSpecs.indices.map(TxLogTable.timeColAt)
      val timesStillFit = expectTp.nonEmpty &&
        partitionCols.filter(TxLogTable.isTimeCol) == expectTp
      // An explicit bloomBits replaces the carried table property; the
      // carried one serves inheritance otherwise.
      Publish(h.copy(partitionCols = partitionCols, bloomCols = effBloom,
          bloomBits = if (bloomBits > 0) Some(bloomBits) else h.bloomBits,
          bucketSpecs =
            if (overwrite && !bucketsStillFit) Nil else h.bucketSpecs,
          timeSpecs = if (overwrite && !timesStillFit) Nil else h.timeSpecs,
          sortCols =
            if (overwrite && partitionCols.isEmpty) Nil else h.sortCols,
          annotations = extraMeta),
        carried ++ tagVersion(staged, next), next)
    }
  }
}
