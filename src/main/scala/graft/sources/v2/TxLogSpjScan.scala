package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.graft.ManifestFileIndex
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Storage-partitioned-join scan for a HIVE-PARTITIONED txlog table: the
  * scan reports [[KeyGroupedPartitioning]] over the table's partition
  * columns and emits input partitions that each carry their partition
  * key ([[HasPartitionKey]]), so Spark's storage-partitioned join
  * (SPARK-37377, `spark.sql.sources.v2.bucketing.enabled`) can co-locate
  * a join of two tables partitioned on the same key with ZERO shuffle
  * exchanges — at 100 TB the join simply never moves either fact table.
  * An aggregation keyed on the partition columns equally skips its final
  * shuffle ([[KeyGroupedPartitioning]] satisfies the clustered
  * distribution).
  *
  * The physical read is Spark's own vectorized [[ParquetScanBuilder]]
  * machinery over the MANIFEST-PRUNED file subset — same pruning
  * contract as every other read path: the conservatively translated
  * pushed-filter conjunction selects candidate files
  * (`candidateFilesWhere`: range stats, nulls, partition segments,
  * Blooms), every filter stays residual so Spark re-applies it row-level,
  * and the same filters are additionally handed to the parquet builder
  * for row-group pruning (sound for a plain snapshot read — unlike the
  * row-level-DML group scan, no carried rows must survive here).
  *
  * Eligibility is gated by [[TxLogV2Table.spjEligible]]: partitioned,
  * no live MOR tombstones, no column mapping, and the bucketing conf on
  * (the read-rule splice to the native V1 parquet plan — which cannot
  * report partitioning — is skipped under exactly the same condition, so
  * the two paths never fight).
  *
  * One keyed input partition per ~maxSplitBytes task per partition
  * directory: Spark groups same-key partitions back together at plan
  * time, and with partially-clustered distribution enabled it can keep
  * skewed keys split — the scan does not pre-bake one giant task per
  * partition value.
  */
final class TxLogSpjScan(spark: SparkSession, tbl: TxLogV2Table,
                         required: StructType, filters: Array[Filter])
    extends Scan with Batch with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private val version = tbl.asOfVersion

  // manifest pruning: partial translation is sound (files only; rows
  // re-filtered by the residual Filter Spark keeps above the scan)
  private val baseRels: Seq[String] = {
    val pred = filters.toSeq.flatMap(TxLogV2Table.loosePredicate)
      .reduceOption(_ && _)
    pred match {
      case Some(p) => tbl.table.candidateFilesWhere(p, version)
      case None => tbl.table.entries(version).map(_.rel)
    }
  }

  // ---- runtime (dynamic-partition-pruning) filters -------------------
  // Spark's DPP hands the join side's partition-key values here at
  // EXECUTION time (SupportsRuntimeV2Filtering): a star-schema join on
  // the partition key then reads only the matching hive dirs of the
  // 100 TB fact — the V2 twin of FileSourceScanExec's dynamic pruning.
  // Conservative by construction: only IN/= predicates over identity
  // partition columns with integral/string literals translate (the
  // type-checked-rendering rule — a DATE literal's epoch-day digits
  // never equal the calendar segment, so it must NOT translate); any
  // untranslated predicate prunes nothing and the row-level filter
  // above the scan keeps correctness. Bucketed layouts report no filter
  // attributes (the hidden _bkt column is not a query attribute).
  @volatile private var runtimePruned
      : Option[Map[String, Set[String]]] = None

  // dynamic FILE pruning from runtime join-key sets over NON-partition
  // columns: the surviving rel set, decided by the manifest machinery
  // (bucket hashing + per-file Blooms + min/max ranges) when filter()
  // delivers an IN/= over a column [[filterAttributes]] declared
  @volatile private var runtimeKeep: Option[Set[String]] = None

  private def partCols: Seq[String] =
    version.orElse(tbl.table.latestVersion)
      .map(tbl.table.partitionColsOf).getOrElse(Nil)

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // identity levels accept runtime filters via their hive segments.
    // Beyond them, any column with a manifest structure built for point
    // lookups prunes FILES from a runtime join-key set: a bucket key (a
    // value hashes to ONE hidden _bkt dir), a Bloom column (per-file
    // membership), a sort column (range-disjoint files) — dynamic FILE
    // pruning, the star-join read-less story for the join keys a 100 TB
    // fact is NOT partitioned on. The hidden bucket LEVELS themselves
    // are not query attributes and never appear (their prune IS the
    // hash path on the key column). Those structures record PHYSICAL
    // names; the query's attributes are logical — translate through the
    // colmap or a renamed key stops accepting filters.
    val v = version.orElse(tbl.table.latestVersion)
    // time-partition SOURCES join the stats path: each hidden calendar
    // dir's files span one unit, so their min/max ranges prune a
    // runtime instant-set tightly
    val phys = (tbl.bucketSpecs.values.map(_._1) ++
      tbl.timeSpecs.values.map(_._1) ++
      v.map(tbl.table.bloomColsOf).getOrElse(Nil) ++ tbl.sortCols).toSet
    val idParts = partCols.filterNot(graft.sources.TxLogTable.isHiddenCol)
    val cmap = v.map(tbl.table.colMapOf)
      .getOrElse(Map.empty[String, String])
    // ONLY columns this scan actually reads: Spark resolves every
    // reported attribute against the pruned relation output
    // (V2ExpressionUtils.resolveRefs) and an unresolvable one fails the
    // whole query's optimization — a column not in the output can never
    // be a join key anyway
    val read = readSchema().fieldNames.toSet
    val dataCols = readSchema().fields.map(_.name)
      .filter(n => phys(cmap.getOrElse(n, n)))
      .filterNot(idParts.contains)
    (idParts.filter(read) ++ dataCols).map(Expressions.column).toArray
  }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val pcs = partCols.toSet
    val (segPreds, dataPreds) = predicates.toSeq.partition(p =>
      TxLogSpjScan.segmentValues(p).exists(kv => pcs(kv._1)))
    val translated = segPreds.flatMap(TxLogSpjScan.segmentValues)
    if (translated.nonEmpty) {
      val m = translated.groupMapReduce(_._1)(_._2)(_ intersect _)
      runtimePruned = Some(m)
    }
    // non-partition runtime keys prune through candidateFilesWhere —
    // the SAME per-file decision static predicates get (bucket hash,
    // Bloom probe, range overlap), so scan and runtime never disagree
    val cols = dataPreds.flatMap(TxLogSpjScan.pointColumn)
    if (cols.nonEmpty)
      runtimeKeep = Some(
        tbl.table.candidateFilesWhere(cols.reduce(_ && _), version).toSet)
    if (translated.nonEmpty || cols.nonEmpty)
      TxLogSpjScan.lastRuntimePrune.set(
        (baseRels.size, prunedRels.size))
  }

  // runtime-pruned file set: a file survives when every constrained
  // partition column's segment value is in the allowed set (files
  // missing the segment survive — sound, never wrong rows) AND the
  // manifest stats say it may hold a runtime join-key value. Removing
  // files from a sorted dir keeps it armed: a subsequence of pairwise-
  // disjoint ranges is still pairwise disjoint, so the concatenation
  // stays ordered.
  private def prunedRels: Seq[String] = {
    val seg = runtimePruned match {
      case None => baseRels
      case Some(m) => baseRels.filter { r =>
        val segs = graft.sources.TxLogTable.partitionSegmentsOf(r)
        m.forall { case (c, vs) => segs.get(c).forall(vs.contains) }
      }
    }
    runtimeKeep match {
      case None => seg
      case Some(keep) => seg.filter(keep)
    }
  }

  private val dataDir = java.nio.file.Paths.get(
    graft.sources.TxLogTable.pathOfRoot(tbl.root), "data").toString

  // the manifest file index re-types the `k=v` hive segments of the
  // pruned leaves against the declared schema — one partition directory
  // per distinct partition value among the surviving files
  private def mkIndex(rs: Seq[String]): ManifestFileIndex =
    ManifestFileIndex.of(spark, dataDir, rs.sorted, tbl.schema)

  // plan-time index over the manifest-pruned set: readSchema and the
  // reported partition count come from here (runtime filters arrive
  // later, at execution, and only ever shrink the file set)
  private lazy val index = mkIndex(baseRels)

  private lazy val inner = {
    val b = ParquetScanBuilder(spark, index, tbl.schema, tbl.schema,
      CaseInsensitiveStringMap.empty())
    b.pruneColumns(required)
    b.pushDataFilters(filters) // row-group pruning only; rows re-filtered
    b.build()
  }

  private lazy val dirs = index.listFiles(Nil, Nil)

  override def readSchema(): StructType = inner.readSchema()

  override def toBatch: Batch = this

  /** Identity layout → identity transforms over the partition columns;
    * bucketed layout → one single-key `bucket(n, key)` transform PER
    * LEVEL (the hidden `_bkt*` dir values ARE the bucket ids — a grid
    * layout reports one transform per grid dimension, which is the form
    * Spark's SPJ planner accepts: `KeyGroupedPartitioning
    * .supportsExpressions` requires single-argument transforms). Spark
    * resolves each through the catalog's [[TxLogBucketFunction]], so two
    * txlog scans bucketed the same way key-group compatibly and the join
    * plans shuffle-free.
    */
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      index.partitionSchema.fields.map { f =>
        (tbl.bucketSpecs.get(f.name), tbl.timeSpecs.get(f.name)) match {
          case (Some((k, n)), _) => Expressions.bucket(n, k)
            : org.apache.spark.sql.connector.expressions.Expression
          case (_, Some((src, u))) => tbl.timeTransform(src, u)
            : org.apache.spark.sql.connector.expressions.Expression
          case _ => Expressions.identity(f.name)
            : org.apache.spark.sql.connector.expressions.Expression
        }
      },
      dirs.size)

  // ---- sorted-ordering arming over MULTI-file partition dirs ---------
  // Per-file arming facts ([[TxLogTable.sortKeyRangeOf]]: first-sort-
  // column range + may-have-nulls) keyed by the NORMALIZED absolute
  // path — the same `Path(dataDir/rel)` construction mkIndex feeds the
  // file index, so the listed statuses map back exactly (scheme
  // qualification leaves `toUri.getPath` untouched; part-file NAMES are
  // not unique across a batch's partition dirs, so a name key would
  // collide).
  private lazy val sortKeyRangeByPath
      : Map[String, graft.sources.TxLogTable.SortKeyRange] =
    tbl.sortCols.headOption.map { c =>
      tbl.table.entries(version).flatMap { e =>
        graft.sources.TxLogTable.sortKeyRangeOf(e, c)
          .map(r => new org.apache.hadoop.fs.Path(s"$dataDir/${e.rel}")
            .toUri.getPath -> r)
      }.toMap
    }.getOrElse(Map.empty)

  /** The dir's files in ascending first-sort-key range order, iff those
    * ranges are pairwise disjoint — the condition under which
    * concatenating the internally-sorted files IS a sorted stream.
    * "Disjoint" is maxPrev < minNext, with ONE relaxation: a boundary
    * TIE (maxPrev == minNext) passes when the sort spec is a SINGLE
    * column with EXACT integral stats — a heavily duplicated key that
    * straddles a staging range-split touches at the boundary, and ties
    * adjacent across two files still read ascending. The tie must stay
    * refused otherwise:
    *  - with SECONDARY sort columns, a first-key tie straddling two
    *    files could interleave the secondary order wrongly;
    *  - on `:spre:` string stats, the prefix encoding is
    *    order-preserving but not injective — encA < encB proves
    *    a < b, while an encoding-space tie proves nothing about the
    *    underlying strings.
    * A file missing the stat (pre-stats era) disarms its dir. One-file
    * dirs pass trivially (the pre-existing steady state).
    */
  private def rangeOrderedFiles(
      files: Seq[org.apache.spark.sql.execution.datasources
        .FileStatusWithMetadata])
      : Option[Seq[org.apache.spark.sql.execution.datasources
        .FileStatusWithMetadata]] =
    // the arming rule proper lives in TxLogTable.rangeOrder, SHARED with
    // resort's damage detection so scan and maintenance never disagree
    graft.sources.TxLogTable.rangeOrder(
      files.map(f => f -> sortKeyRangeByPath.get(f.getPath.toUri.getPath)),
      singleSortCol = tbl.sortCols.length == 1)

  // plan-time decision, shared by outputOrdering AND planInputPartitions
  // (the two must agree: a reported order every task then honors).
  // Runtime pruning only removes whole dirs, so a subset stays armed.
  private lazy val sortedArmed: Boolean =
    tbl.sortCols.nonEmpty && dirs.nonEmpty &&
      dirs.forall(d => rangeOrderedFiles(d.files).isDefined)

  /** Declared within-file sort order as a V2 output ordering — reported
    * ONLY when it is TRUE of every task this scan will produce:
    *  - the table declares `#sortCols=` (enforced at the staging
    *    chokepoint: every file is internally ordered ascending-nulls-
    *    first by these columns within its partition value; CREATE
    *    refuses the spec on layouts whose writes could bypass the
    *    chokepoint), AND
    *  - every partition dir's files have pairwise-disjoint first-sort-
    *    key ranges ([[rangeOrderedFiles]]), so each dir reads as ONE
    *    task whose files concatenate in range order — sorted without a
    *    single post-write byte moved. One file per dir (the post-
    *    compaction steady state) is the trivial case; range-disjoint
    *    APPENDS (time-ordered ingest keyed on event time, a re-sharded
    *    backfill) arm without compacting — at 100 TB, not rewriting a
    *    bucket just to re-arm its merge join is the difference between
    *    maintenance being optional and mandatory. Overlapping ranges
    *    report nothing: no false ordering beats a dropped Sort — a
    *    wrong one makes the merge join silently wrong.
    *
    * What it buys when it fires: EnsureRequirements sees the required
    * merge-join ordering already satisfied and the SMJ over two sorted
    * bucketed tables plans with ZERO Sort nodes AND zero Exchanges — at
    * 100 TB the join sorts neither side, ever; the layout paid the sort
    * once at write time.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val cols = tbl.sortCols
    if (cols.isEmpty) return Array.empty
    if (!sortedArmed) return Array.empty
    // IDENTITY partition columns lead the reported order: each task
    // holds exactly one partition tuple (one dir), so those columns are
    // CONSTANT per task and any order over them holds trivially —
    // prepending them lets a merge join (or window) keyed on the
    // partition column alone consume the ordering. HIDDEN levels
    // (bucket ids, time segments) are not query attributes and must
    // never appear — Spark resolves every reported ordering column
    // against the relation output and an unresolvable one fails the
    // whole query.
    val leading = partCols.filterNot(graft.sources.TxLogTable.isHiddenCol)
      .filterNot(cols.contains)
    (leading ++ cols).map(c =>
      Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
        : org.apache.spark.sql.connector.expressions.SortOrder).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // runtime filters (if any arrived) shrink the file set between the
    // plan-time report and execution — re-list over the survivors
    val execDirs =
      if (runtimePruned.isEmpty && runtimeKeep.isEmpty) dirs
      else mkIndex(prunedRels).listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, execDirs)
    // SORTED tables never split a file: the reported ordering is a
    // per-task contract and a grouped pair of byte-range splits has no
    // order guarantee. Costless for the joins this layout exists for —
    // Spark's key-grouped planning fuses same-key splits back into ONE
    // task anyway, so per-bucket parallelism comes from the bucket
    // count, not from splitting.
    val splittable = tbl.sortCols.isEmpty
    var nextIdx = -1
    execDirs.iterator.flatMap { d =>
      if (sortedArmed) {
        // ordering is live: ONE task per dir, files concatenated in
        // ascending first-sort-key range order (rangeOrderedFiles is
        // defined for every base dir when armed, and runtime pruning
        // only drops whole dirs) — getFilePartitions would pack by
        // size, losing the range order the reported ordering requires
        val ordered = rangeOrderedFiles(d.files).get
        val pfs = ordered.flatMap(f => PartitionedFileUtil.splitFiles(
          f, f.getPath, isSplitable = false, maxSplit, d.values))
        nextIdx += 1
        Seq(TxLogKeyedPartition(
          FilePartition(nextIdx, pfs.toArray), d.values))
      } else {
        val splits = d.files.flatMap(f => PartitionedFileUtil.splitFiles(
          f, f.getPath, isSplitable = splittable, maxSplit, d.values))
        FilePartition.getFilePartitions(spark, splits, maxSplit)
          .map(fp => TxLogKeyedPartition(fp, d.values))
      }
    }.toArray
  }

  /** Manifest-derived statistics for the (pruned) file set: exact bytes
    * from the filesystem listing and exact rows from the `:rows` footer
    * counts (eligibility already excludes live MOR tombstones, so the
    * per-file counts ARE the visible rows; a file predating row stats
    * leaves numRows unknown rather than wrong). What it buys the
    * planner: join-strategy sizing over a V2 scan (broadcast vs SMJ),
    * and — directly relevant to the skew story — partially-clustered
    * distribution picks which side to replicate "based on table
    * statistics": with both sides reporting real bytes it replicates
    * the small side, never the 100 TB fact.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val sizes = tbl.table.fileSizes(version).toMap
    val bytes = baseRels.iterator.map(sizes.getOrElse(_, 0L)).sum
    val live = baseRels.toSet
    val entryRows = tbl.table.entries(version)
      .filter(e => live(e.rel))
      .map(_.stats.get(graft.sources.TxLogTable.RowsKey).map(_._1))
    val rows: java.util.OptionalLong =
      if (entryRows.nonEmpty && entryRows.forall(_.isDefined))
        java.util.OptionalLong.of(entryRows.flatten.sum)
      else java.util.OptionalLong.empty()
    // Column-level stats for CBO: distinctCount from the table's
    // maintained `#ndv:` KMV sketch (manifest-only — no file opened),
    // nullCount summed from the per-file `:nulls:` footer stats of the
    // live set. What it buys: with spark.sql.cbo.enabled, an equality
    // filter's selectivity is 1/ndv, so a filtered dim's estimated
    // output shrinks below the broadcast threshold and the join flips
    // from a sort-merge of the full side to a broadcast of the filtered
    // one — the pick that matters when the unfiltered side is 100 TB.
    val ndv = version.orElse(tbl.table.latestVersion)
      .map(tbl.table.ndvOf).getOrElse(Map.empty)
    // the ndv sketch, footer stats and blooms are all recorded by
    // PHYSICAL column name; Catalyst keys ColumnStats by the LOGICAL
    // names of readSchema. Translate through the colmap, or stats
    // silently vanish after a RENAME COLUMN
    val cmap = version.orElse(tbl.table.latestVersion)
      .map(tbl.table.colMapOf).getOrElse(Map.empty[String, String])
    val liveEntries = tbl.table.entries(version).filter(e => live(e.rel))
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    readSchema().fields.foreach { f =>
      val c = cmap.getOrElse(f.name, f.name) // physical name
      ndv.get(c).foreach { ndvEst =>
        // the sketch covers the WHOLE table: a partition-/runtime-pruned
        // scan must not report more distinct values than it has rows
        // (FilterEstimation divides by ndv — an over-count under-selects)
        val est =
          if (rows.isPresent) math.min(ndvEst, rows.getAsLong) else ndvEst
        val nulls = {
          val key = graft.sources.TxLogTable.nullsKey(c)
          val perFile = liveEntries.map(_.stats.get(key).map(_._1))
          if (perFile.nonEmpty && perFile.forall(_.isDefined))
            java.util.OptionalLong.of(perFile.flatten.sum)
          else java.util.OptionalLong.empty()
        }
        // value bounds from the manifest ranges — INTEGRAL columns only
        // (the `:spre:` string stats are order-preserving ENCODINGS, not
        // values, and date/timestamp ranges carry epoch ints the catalyst
        // ColumnStat would mistype), boxed to the field's own type: the
        // catalyst side stores them verbatim and FilterEstimation casts
        // by dataType. Range selectivity is what they buy — under CBO a
        // `col > x` filter estimates from (max - x)/(max - min) instead
        // of defaulting.
        import org.apache.spark.sql.types._
        def box(v: Long, dt: DataType): Option[Object] = dt match {
          case LongType => Some(java.lang.Long.valueOf(v))
          case IntegerType => Some(java.lang.Integer.valueOf(v.toInt))
          case ShortType => Some(java.lang.Short.valueOf(v.toShort))
          case ByteType => Some(java.lang.Byte.valueOf(v.toByte))
          case _ => None
        }
        val dt = f.dataType
        val ranges = liveEntries.map(_.stats.get(c))
        val (mn, mx) =
          if (ranges.nonEmpty && ranges.forall(_.isDefined))
            (box(ranges.flatten.map(_._1).min, dt),
              box(ranges.flatten.map(_._2).max, dt))
          else (None, None)
        colStats.put(Expressions.column(f.name),
          new org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(est)
            override def nullCount(): java.util.OptionalLong = nulls
            override def min(): java.util.Optional[Object] =
              mn.map(java.util.Optional.of[Object])
                .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              mx.map(java.util.Optional.of[Object])
                .getOrElse(java.util.Optional.empty[Object]())
          })
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TxLogKeyedReaderFactory(inner.createReaderFactory())

  override def description(): String =
    s"TxLogSpjScan ${tbl.ident} [${index.partitionSchema.fieldNames
      .mkString(", ")}] files=${baseRels.size} groups=${dirs.size}"
}

object TxLogSpjScan {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLiteral, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.types._

  /** (files before, files after) of the most recent runtime prune —
    * ops/test introspection only (the prune itself is per-scan state).
    */
  val lastRuntimePrune = new java.util.concurrent.atomic
    .AtomicReference[(Int, Int)]((0, 0))

  // hive-segment rendering of a DPP literal, BY TYPE: integral and
  // string literals render to exactly the digits/text the write path put
  // in the dir name; anything else (dates carry epoch-day ints, floats
  // format) does NOT translate — no pruning beats wrong pruning
  private def render(l: VLiteral[_]): Option[String] = l.dataType match {
    case IntegerType | LongType | ShortType | ByteType | StringType =>
      Option(l.value).map(_.toString)
    case _ => None
  }

  /** Runtime IN-set cap for the stats path: past this many values the
    * per-file membership probes cost more than they save, so the
    * predicate drops and prunes nothing (rows still re-filter above).
    */
  private val MaxRuntimePoints = 10000

  /** `col IN (v...)` / `col = v` over one NON-partition column → an
    * equivalent [[org.apache.spark.sql.Column]] for the manifest pruning
    * machinery ([[graft.sources.TxLogTable.candidateFilesWhere]]) — the
    * dynamic-FILE-pruning twin of [[segmentValues]], for join keys the
    * table is bucketed/Bloomed/sorted on rather than hive-partitioned
    * on. Integral and string literals only: those are the kinds the
    * manifest point machinery's coercion rules can probe soundly; any
    * other type — or a set past [[MaxRuntimePoints]] — yields None and
    * prunes nothing. String values arrive as catalyst UTF8String and
    * must re-externalize before they can be literals again.
    */
  private[v2] def pointColumn(p: Predicate)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    def colName(e: VExpr): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames.head)
      case _ => None
    }
    def scalaVal(l: VLiteral[_]): Option[Any] = l.dataType match {
      case IntegerType | LongType | ShortType | ByteType =>
        Option(l.value)
      case StringType => Option(l.value).map(_.toString)
      // temporal keys re-externalize (catalyst micros/days → the java
      // values PredicateRanges' literal walk converts back exactly):
      // the IN-set's min..max hull prunes via the micros footer stats
      // and the hidden calendar-dir bounds — the time-partitioned fact
      // joined on its timestamp reads only the dim's window
      case TimestampType => Option(l.value).map(v =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .toJavaTimestamp(v.asInstanceOf[java.lang.Long]))
      case DateType => Option(l.value).map(v =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[java.lang.Integer].longValue)))
      case _ => None
    }
    def qcol(n: String) = col("`" + n.replace("`", "``") + "`")
    p.name match {
      case "IN" if p.children.length > 1 &&
          p.children.length - 1 <= MaxRuntimePoints =>
        for {
          c <- colName(p.children.head)
          vals <- {
            val vs = p.children.tail.toSeq.map {
              case l: VLiteral[_] => scalaVal(l)
              case _ => None
            }
            // one untranslatable value poisons the whole IN: a partial
            // set would wrongly prune files holding the dropped value
            if (vs.forall(_.isDefined)) Some(vs.flatten) else None
          }
        } yield qcol(c).isin(vals: _*)
      case "=" => p.children.toSeq match {
        case Seq(a, l: VLiteral[_]) =>
          for (c <- colName(a); v <- scalaVal(l)) yield qcol(c).isin(v)
        case Seq(l: VLiteral[_], a) =>
          for (c <- colName(a); v <- scalaVal(l)) yield qcol(c).isin(v)
        case _ => None
      }
      case _ => None
    }
  }

  /** `col IN (v...)` / `col = v` over one column → (col, segment values).
    * Anything else → None (sound: untranslated predicates prune nothing;
    * Spark re-filters rows above the scan anyway).
    */
  private[v2] def segmentValues(p: Predicate)
      : Option[(String, Set[String])] = {
    def colName(e: VExpr): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames.head)
      case _ => None
    }
    p.name match {
      case "IN" if p.children.nonEmpty =>
        for {
          c <- colName(p.children.head)
          vals <- {
            val rendered = p.children.tail.toSeq.map {
              case l: VLiteral[_] => render(l)
              case _ => None
            }
            if (rendered.forall(_.isDefined))
              Some(rendered.flatten.toSet)
            else None // one untranslatable value poisons the whole IN
          }
        } yield (c, vals)
      case "=" => p.children.toSeq match {
        case Seq(a, l: VLiteral[_]) =>
          for (c <- colName(a); v <- render(l)) yield (c, Set(v))
        case Seq(l: VLiteral[_], a) =>
          for (c <- colName(a); v <- render(l)) yield (c, Set(v))
        case _ => None
      }
      case _ => None
    }
  }
}

/** A parquet task bundle plus the partition key it belongs to — what
  * Spark's plan-time partition grouping keys on. Delegation (not
  * subclassing `FilePartition`) keeps the wrapper a plain case class;
  * the reader factory unwraps before handing to the parquet reader.
  */
final case class TxLogKeyedPartition(fp: FilePartition, key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** Unwraps [[TxLogKeyedPartition]] back to the [[FilePartition]] the
  * delegate parquet reader factory asserts on.
  */
final class TxLogKeyedReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case TxLogKeyedPartition(fp, _) => fp
    case other => other
  }
  override def createReader(p: InputPartition) =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition) =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}
