package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The file index of one pinned manifest read: the file list comes from
  * the manifest, so planning a scan lists nothing. (Spark's
  * `InMemoryFileIndex` would list the paths again, and past
  * `parallelPartitionDiscovery.threshold` paths that listing is a Spark
  * job of its own.) Each file is stat'ed once on the driver for its
  * length.
  *
  * `files` are `(rel, tags)`: a path relative to `dataDir`, and the file's
  * values for `tagSchema`, per-file constants the read needs (a change
  * feed's `_commit_version`, a file ordinal for the positional-delete
  * anti-join). They are served as partition values after the hive `k=v`
  * columns of the path, so they cost a constant column per batch and no
  * join. A rel may be listed more than once with different tags; its rows
  * are then read once per listing.
  *
  * Hive columns are parsed from the paths exactly as `InMemoryFileIndex`
  * parses them under `basePath = dataDir` (Spark's own partition
  * inference over the leaf dirs, typed by `schema`, hidden `_bkt`/`_tp`
  * levels inferred), so plans and key-grouped scans see the same values.
  *
  * `mayMatch` is the manifest pruning: given the filters Spark pushes to
  * the scan (after optimization, so a filter written above a join or a
  * view reaches it), it says which rels may hold a matching row. It only
  * skips files. Partition filters are then applied exactly to each file's
  * values, because Spark does not re-apply them above the scan.
  *
  * Extends `PartitioningAwareFileIndex` so Spark's V2 `ParquetScanBuilder`
  * takes it too; `private[sql]` partition inference is why it lives here.
  */
final class ManifestFileIndex(spark: SparkSession, val dataDir: String,
                              val files: Seq[(String, Seq[Any])],
                              val schema: StructType, tagSchema: StructType,
                              mayMatch: Seq[Expression] => String => Boolean)
    extends PartitioningAwareFileIndex(spark, Map("basePath" -> dataDir),
      Some(schema)) {

  private lazy val statuses: Map[String, FileStatus] = {
    val fs = new Path(dataDir).getFileSystem(hadoopConf)
    files.iterator.map(_._1).distinct.map(rel =>
      rel -> fs.getFileStatus(new Path(s"$dataDir/$rel"))).toMap
  }

  override lazy val partitionSpec: PartitionSpec =
    if (files.isEmpty) PartitionSpec.emptySpec else inferPartitioning()

  override def partitionSchema: StructType =
    StructType(partitionSpec.partitionColumns ++ tagSchema)

  // each listing's status and full partition-value row, in manifest order
  private lazy val listed: Seq[(String, FileStatus, InternalRow)] = {
    val hive = partitionSpec.partitions.map(p => p.path -> p.values).toMap
    files.map { case (rel, tags) =>
      val st = statuses(rel)
      val dir = hive.get(st.getPath.getParent).map(_.toSeq(
        partitionSpec.partitionColumns)).getOrElse(Nil)
      (rel, st, InternalRow.fromSeq(dir ++ tags))
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val keep = mayMatch(partitionFilters ++ dataFilters)
    val exact = partitionFilters.reduceOption(And).map { p =>
      val ps = partitionSchema
      val resolver = spark.sessionState.conf.resolver
      Predicate.createInterpreted(p.transform {
        case a: AttributeReference =>
          val i = ps.indexWhere(f => resolver(f.name, a.name))
          BoundReference(i, ps(i).dataType, nullable = true)
      })
    }
    val dirs = mutable.LinkedHashMap.empty[InternalRow,
      mutable.ArrayBuffer[FileStatus]]
    listed.foreach { case (rel, st, values) =>
      if (keep(rel) && exact.forall(_.eval(values)))
        dirs.getOrElseUpdate(values, mutable.ArrayBuffer.empty) += st
    }
    dirs.iterator.map { case (v, fs) => PartitionDirectory(v, fs.toArray) }
      .toSeq
  }

  override def rootPaths: Seq[Path] = statuses.values.map(_.getPath).toSeq

  override def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(statuses.values.map(s => s.getPath -> s))

  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.values.toArray.groupBy(_.getPath.getParent)

  // inputFiles and sizeInBytes derive from it
  override def allFiles(): Seq[FileStatus] = statuses.values.toSeq

  // a pinned manifest version never changes
  override def refresh(): Unit = ()

  // Two indexes over the same listings serve the same rows (pruning only
  // skips files that cannot match), so plans over them compare equal —
  // what exchange reuse and the cache manager key on, as they do for
  // `InMemoryFileIndex` over the same paths.
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => dataDir == m.dataDir && files == m.files &&
      schema == m.schema && partitionSchema == m.partitionSchema
    case _ => false
  }

  override def hashCode: Int = (dataDir, files).hashCode
}

object ManifestFileIndex {

  /** An untagged index over `rels` that prunes nothing: the file list of
    * a V2 scan that has already chosen its files. */
  def of(spark: SparkSession, dataDir: String, rels: Seq[String],
         schema: StructType): ManifestFileIndex =
    new ManifestFileIndex(spark, dataDir, rels.map(_ -> Nil), schema,
      new StructType(), _ => _ => true)

  /** The schema `index`'s files declare, for tables that never recorded
    * one: Spark's parquet footer inference, then the partition columns —
    * nullable, as Spark's file sources infer it.
    */
  def inferSchema(spark: SparkSession,
                  index: ManifestFileIndex): Option[StructType] = {
    val parts = index.partitionSchema
    new ParquetFileFormat().inferSchema(spark, Map.empty, index.allFiles())
      .map(d => StructType(d.filterNot(f =>
        parts.fieldNames.contains(f.name)) ++ parts).asNullable)
  }

  /** The parquet relation over `index`, as a DataFrame: `schema`'s
    * columns that are not partition columns are the data schema, and the
    * index's partition columns (hive levels, then tags) follow them. */
  def read(spark: SparkSession, index: ManifestFileIndex,
           schema: StructType): DataFrame = {
    val parts = index.partitionSchema.fieldNames.toSet
    // nullable, as Spark's own file sources read any declared schema
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, StructType(schema.filterNot(f =>
        parts(f.name))).asNullable, None, new ParquetFileFormat,
      Map.empty)(spark))
  }
}
