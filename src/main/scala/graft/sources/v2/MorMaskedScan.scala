package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileIndex}
import org.apache.spark.sql.types.{DataType, StructType}

/** The MOR-masked variant of the row-level operation scan: wraps the
  * delegate parquet scan over the pruned file subset and drops every row
  * a live merge-on-read tombstone hides, so SQL UPDATE / MERGE INTO /
  * DELETE work on a table with un-compacted MOR deletes instead of
  * refusing ("compact first"). The group-rewrite contract then holds
  * exactly: the scan returns every SURVIVING row of each read file, the
  * write replaces those files with the post-operation content (tombstoned
  * rows are physically gone from the rewritten files), and the carried
  * tombstone lines keep masking the files the rewrite never touched.
  *
  * Masking is SEQUENCE-AWARE, mirroring `TxLogTable.readMaskedEntries`'s
  * anti-join: a tombstone committed at version `tv` hides a key only in
  * files added at or before `tv` — keys re-inserted after the delete
  * survive. Each input partition therefore bundles files of ONE
  * added-version, carrying it to the reader, and the tombstone key set
  * (bounded — the same order of memory the broadcast anti-join of the
  * API read path uses) ships to every task as a driver-built map of
  * key tuple → newest tombstone version.
  *
  * Row-based reads only ([[PartitionReaderFactory.supportColumnarReads]]
  * = false): the mask is a per-row decision, and this scan exists solely
  * under live tombstones — a transient state between MOR deletes and the
  * next compaction, where correctness beats the vectorized fast path.
  */
final class MorMaskedScan(spark: SparkSession, inner: Scan,
                          index: FileIndex, dataDirAbs: String,
                          addedVByRel: Map[String, Int],
                          keyOrds: Array[Int], keyTypes: Array[DataType],
                          tombNewestV: Map[Seq[Any], Int])
    extends Scan with Batch {

  override def readSchema(): StructType = inner.readSchema()

  override def toBatch: Batch = this

  // one FilePartition bundle per added-version group (split for
  // parallelism exactly like any parquet read — a group is typically
  // one ingest batch, many files)
  override def planInputPartitions(): Array[InputPartition] = {
    val dirs = index.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val byAddedV = dirs.flatMap(d => d.files.map(f => (f, d.values)))
      .groupBy { case (f, _) =>
        val p = f.getPath.toUri.getPath
        addedVByRel.getOrElse(p.stripPrefix(dataDirAbs).stripPrefix("/"), 0)
      }
    byAddedV.iterator.flatMap { case (addedV, files) =>
      val splits = files.flatMap { case (f, values) =>
        PartitionedFileUtil.splitFiles(f, f.getPath, isSplitable = true,
          maxSplit, values)
      }
      FilePartition.getFilePartitions(spark, splits, maxSplit)
        .map(fp => MorMaskedPartition(fp, addedV))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MorMaskedReaderFactory(inner.toBatch.createReaderFactory(),
      keyOrds, keyTypes, tombNewestV)

  override def description(): String =
    s"MorMaskedScan tombKeys=${tombNewestV.size} " +
      s"groups=${addedVByRel.values.toSet.size} ${inner.description()}"
}

/** A parquet task bundle whose files all share one added-version — the
  * sequence number the reader's tombstone check compares against.
  */
final case class MorMaskedPartition(fp: FilePartition, addedV: Int)
    extends InputPartition {
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** Wraps the delegate parquet readers with the sequence-aware tombstone
  * filter. A row whose key tuple contains NULL is never masked (SQL
  * equality: a NULL key tombstone matches nothing — null-keyed tuples
  * are excluded from the map at build time for the same reason).
  */
final class MorMaskedReaderFactory(inner: PartitionReaderFactory,
                                   keyOrds: Array[Int],
                                   keyTypes: Array[DataType],
                                   tombNewestV: Map[Seq[Any], Int])
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case MorMaskedPartition(fp, addedV) =>
      val r = inner.createReader(fp)
      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean = {
          while (r.next()) {
            val row = r.get()
            if (survives(row, addedV)) { current = row; return true }
          }
          false
        }
        override def get(): InternalRow = current
        override def close(): Unit = r.close()
      }
    case other => inner.createReader(other)
  }

  private def survives(row: InternalRow, addedV: Int): Boolean = {
    val key = new Array[Any](keyOrds.length)
    var i = 0
    while (i < keyOrds.length) {
      val v = row.get(keyOrds(i), keyTypes(i))
      if (v == null) return true // NULL keys never match any tombstone
      key(i) = v
      i += 1
    }
    // masked iff some tombstone with this key is at least as new as the
    // row's file (the newest suffices for the >= comparison)
    !tombNewestV.get(key.toSeq).exists(_ >= addedV)
  }
}
