package graft.sources.v2

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{TxLogRelation, TxLogTable}

/** DataSource V2 catalog for the tx-log format — the SQL DDL surface:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.tx", "graft.sources.v2.TxLogCatalog")
  *   spark.conf.set("spark.sql.catalog.tx.warehouse", "/path/wh")
  *   spark.sql("CREATE TABLE tx.ns.t (id BIGINT, v STRING) USING txlog")
  *   spark.sql("INSERT INTO tx.ns.t VALUES (1, 'a')")
  *   spark.sql("SELECT * FROM tx.ns.t")
  *   spark.sql("ALTER TABLE tx.ns.t RENAME COLUMN v TO val")
  * }}}
  *
  * Tables live at `<warehouse>/<namespace...>/<name>`; the catalog is a
  * thin identifier→path router over [[TxLogTable]], which owns the commit
  * protocol. ALTER TABLE RENAME/DROP COLUMN route to the column-mapping
  * metadata commits ([[TxLogTable.renameColumn]]/[[TxLogTable.dropColumn]])
  * — pure manifest operations, no data rewrite.
  *
  * Read path: [[TxLogV2Table.newScanBuilder]] provides a [[V1Scan]]
  * fallback so any session can query catalog tables, but a session built
  * with `spark.sql.extensions=graft.GraftExtensions` replaces the V2
  * relation with the native parquet plan ([[TxLogReadRule]]) — full
  * vectorized scan + whole-stage codegen + manifest pruning, no
  * InternalRow→Row conversion (the round-5 connector tax, gone).
  */
class TxLogCatalog extends TableCatalog with ProcedureCatalog
    with FunctionCatalog {

  /** Column DEFAULT values, end to end: declaring this capability makes
    * the analyzer (a) rewrite `CREATE TABLE ... DEFAULT expr` /
    * `ALTER TABLE ADD COLUMN ... DEFAULT expr` into the standard
    * field-metadata keys before they reach this catalog, and (b) fill
    * omitted columns in INSERTs from CURRENT_DEFAULT. The metadata
    * persists through `#schema=` JSON like any schema fact; files
    * predating an added-with-default column fill EXISTS_DEFAULT at read
    * (Spark's parquet readers honor it from the requested schema), so
    * the ALTER stays metadata-only even with a non-NULL backfill
    * semantic — the 100 TB alternative is rewriting every file.
    */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** The catalog's one V2 function: `bucket` — what Spark's
    * storage-partitioned-join planner resolves a reported
    * `bucket(n, key)` transform against (V2ExpressionUtils loads
    * `bucket` from the table's FunctionCatalog and binds it). Both join
    * sides resolve THIS function, so their `canonicalName`s match and
    * the key-grouped partitions are compatible; with the V2 bucketed
    * shuffle conf on, Spark can also evaluate it to shuffle a
    * NON-bucketed side into alignment (produceResult below is exactly
    * the write path's hash).
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty[String], "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    if (!(ident.namespace.isEmpty && ident.name == "bucket"))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    TxLogBucketFunction
  }

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
    warehouse = Paths.get(wh)
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): Path =
    ident.namespace.foldLeft(warehouse)(_.resolve(_)).resolve(ident.name)

  private def spark: SparkSession = SparkSession.active

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(warehouse)(_.resolve(_))
    if (!Files.isDirectory(dir)) Array.empty
    else scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala
        .filter(p => Files.isDirectory(p.resolve("_log")))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    Files.isDirectory(pathOf(ident).resolve("_log")) &&
      TxLogTable(spark, pathOf(ident).toString).latestVersion.isDefined

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      return branchTableFor(ident).orElse(metaTableFor(ident)).getOrElse(
        throw new NoSuchTableException(ident))
    }
    TxLogV2Table(spark, pathOf(ident).toString, ident.toString)
  }

  /** Branch identifiers: `cat.db.t.branch_<name>` resolves to branch
    * `<name>` of table `db.t` (the Iceberg `t.branch_audit` surface) —
    * a full read/write relation, so `INSERT INTO t.branch_x`,
    * `UPDATE/DELETE/MERGE` on it, and audit SELECTs all run against the
    * branch log while main stays untouched until `CALL system.publish`.
    */
  private def branchTableFor(ident: Identifier): Option[Table] = {
    if (ident.namespace().length < 1 ||
      !ident.name.startsWith("branch_")) return None
    val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
    if (!tableExists(parent)) return None
    val name = ident.name.stripPrefix("branch_")
    val t = TxLogTable(spark, pathOf(parent).toString)
    if (!t.branches().contains(name)) return None
    Some(TxLogV2Table(spark,
      TxLogTable.branchRoot(pathOf(parent).toString, name),
      ident.toString))
  }

  /** Iceberg-style SELECT-able METADATA TABLES: `cat.db.t.files`,
    * `cat.db.t.history`, `cat.db.t.partitions` resolve as relations —
    * the identifier's namespace tail names the data table, its name the
    * metadata view. Unlike the `CALL system.history/partitions` procs
    * (one-shot summaries), these compose: join `t.files` against a
    * debt threshold, filter `t.history` by op, aggregate `t.partitions`
    * — plain SQL over the manifest. Rows come from the manifest the
    * driver already holds (O(files) strings — the same driver-side data
    * every commit plans against, never the table's rows), served
    * through a LocalScan like the proc results.
    */
  private def metaTableFor(ident: Identifier,
                           asOf: Option[Int] = None): Option[Table] = {
    if (ident.namespace().length < 1) return None
    val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
    if (!tableExists(parent)) return None
    def t = TxLogTable(spark, pathOf(parent).toString)
    asOf.foreach(v => require(
      TxLogTable(spark, pathOf(parent).toString).versions.contains(v),
      s"version $v of ${parent.toString} does not exist (or was vacuumed)"))
    def partOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val fields: Option[(String, () => Seq[Row])] =
      ident.name match {
        case "history" => Some((
          "version INT, commit_millis BIGINT, op STRING, num_files INT",
          () => t.history()
            .filter(h => asOf.forall(h.version <= _))
            .map(h => Row(h.version, h.commitMillis, h.op.getOrElse(""),
              h.numFiles))))
        case "files" => Some((
          "file STRING, partition STRING, rows BIGINT, bytes BIGINT, " +
            "dv_masked BIGINT",
          () => {
            val tbl = t
            val v = asOf.orElse(tbl.latestVersion)
            val sizes = tbl.fileSizes(v).toMap
            val masked = v.map(tbl.dvsOf).getOrElse(Nil)
              .groupBy(_.file).view.mapValues(_.map(_.n).sum).toMap
            tbl.entries(v).map { e =>
              Row(e.rel, partOf(e.rel),
                e.stats.get(TxLogTable.RowsKey).map(_._1),
                sizes.getOrElse(e.rel, 0L),
                masked.getOrElse(e.rel, 0L))
            }
          }))
        case "tags" => Some((TagsSchema, () => tagRows(t)))
        case "cursors" => Some((CursorsSchema, () => cursorRows(t)))
        case "partitions" => Some((
          "partition STRING, num_files BIGINT, rows BIGINT",
          () => {
            val tbl = t
            tbl.entries(asOf.orElse(tbl.latestVersion))
              .groupBy(e => partOf(e.rel)).toSeq.sortBy(_._1)
              .map { case (p, es) =>
                val counts = es.flatMap(_.stats.get(TxLogTable.RowsKey)
                  .map(_._1))
                Row(p, es.size.toLong,
                  // NULL when any file lacks a recorded count — a
                  // wrong number is worse than an absent one
                  Option.when(counts.size == es.size)(counts.sum))
              }
          }))
        case _ => None
      }
    fields.map { case (ddl, mkRows) =>
      val sch = StructType.fromDDL(ddl)
      new Table with SupportsRead {
        override def name(): String = ident.toString
        override def schema(): StructType = sch
        override def capabilities(): util.Set[TableCapability] =
          util.EnumSet.of(TableCapability.BATCH_READ)
        override def newScanBuilder(opts: CaseInsensitiveStringMap)
            : ScanBuilder = () => SystemProcedure.localScan(sch, mkRows())
      }
    }
  }

  // rows shared by the `tags`/`cursors` procedures and metadata tables
  private val TagsSchema = "name STRING, version INT"
  private def tagRows(t: TxLogTable): Seq[Row] =
    t.tags().toSeq.sortBy(_._1).map { case (n, v) => Row(n, v) }
  private val CursorsSchema = "name STRING, version INT, updated_millis BIGINT"
  private def cursorRows(t: TxLogTable): Seq[Row] =
    t.cursors().values.toSeq.sortBy(_.name)
      .map(c => Row(c.name, c.version, c.updatedMillis))

  /** `SELECT ... FROM t VERSION AS OF <n | 'tag'>` — SQL time travel to
    * a manifest version (the format's native coordinate) or a named TAG
    * (the immutable ref `TxLogTable.tag` created — "what did
    * training-run-X read" stays answerable by name).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) {
      // `SELECT ... FROM t.files VERSION AS OF <n | 'tag'>` — metadata
      // tables are versioned relations too: files/partitions serve the
      // manifest AT the coordinate, history truncates there
      val mv = scala.util.Try(version.toInt).toOption
        .orElse(metaParentTagVersion(ident, version))
      return mv.flatMap(v => metaTableFor(ident, Some(v))).getOrElse(
        throw new NoSuchTableException(ident))
    }
    val t = TxLogTable(spark, pathOf(ident).toString)
    val v = scala.util.Try(version.toInt).toOption
      .orElse(t.versionOfTag(version)).getOrElse(
        throw new IllegalArgumentException(
          s"'$version' is neither a version number nor a tag of " +
            s"${ident.toString} (tags: ${t.tags().keys.mkString(",")})"))
    require(t.versions.contains(v),
      s"version $v of ${ident.toString} does not exist (or was vacuumed); " +
        s"surviving versions: ${t.versions.mkString(",")}")
    TxLogV2Table(spark, pathOf(ident).toString, ident.toString, Some(v))
  }

  // tag resolution for a METADATA table's AS OF: the tag lives on the
  // parent data table the metadata ident wraps
  private def metaParentTagVersion(ident: Identifier,
                                   tag: String): Option[Int] = {
    if (ident.namespace().length < 1) return None
    val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
    if (!tableExists(parent)) return None
    TxLogTable(spark, pathOf(parent).toString).versionOfTag(tag)
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF <ts>` — Spark hands micros since
    * epoch; resolve to the latest version committed at or before it.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) {
      // `FROM t.files TIMESTAMP AS OF ts` — same resolution as the data
      // table's, then the metadata view pins to the resolved version
      if (ident.namespace().length >= 1) {
        val parent = Identifier.of(ident.namespace.init,
          ident.namespace.last)
        if (tableExists(parent)) {
          val mt = TxLogTable(spark, pathOf(parent).toString)
            .versionAsOf(timestampMicros / 1000L)
            .flatMap(v => metaTableFor(ident, Some(v)))
          if (mt.isDefined) return mt.get
        }
      }
      throw new NoSuchTableException(ident)
    }
    val t = TxLogTable(spark, pathOf(ident).toString)
    val v = t.versionAsOf(timestampMicros / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"no version of ${ident.toString} existed at " +
          s"epoch-micros $timestampMicros"))
    TxLogV2Table(spark, pathOf(ident).toString, ident.toString, Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident.toString)
    // `PARTITIONED BY ([idCols...,] bucket(n1, k1) [, bucket(n2, k2)...])`
    // — identity hive columns plus hash-bucket transforms on hidden
    // derived columns, ONE KEY COLUMN EACH (the date+bucket fact layout,
    // or a bucket GRID for a composite join key); see
    // TxLogTable.bucketSpecsOf
    val (bucketTs, idTs) = partitions.toSeq.partition(_.name == "bucket")
    // `PARTITIONED BY (years|months|days|hours(ts))` — Iceberg-style
    // HIDDEN time partitioning: the transform becomes a hidden derived
    // calendar level (TxLogTable.timeColAt) and the source stays a
    // plain TIMESTAMP column; see TxLogTable.timeSpecsOf. Non-bucket
    // levels keep the user's declared order.
    val timeUnitOf = Map("years" -> "year", "months" -> "month",
      "days" -> "day", "hours" -> "hour")
    val timeSpecs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val idCols = idTs.map { t =>
      if (timeUnitOf.contains(t.name)) {
        require(t.references.length == 1,
          s"time transform takes exactly one source column: $t")
        val src = t.references.head.fieldNames.mkString(".")
        val tc = TxLogTable.timeColAt(timeSpecs.length)
        timeSpecs += ((src, timeUnitOf(t.name)))
        tc
      } else {
        require(t.name == "identity" && t.references.length == 1,
          s"txlog supports identity, bucket, or years/months/days/hours " +
            s"partitioning, got $t")
        t.references.head.fieldNames.mkString(".")
      }
    }
    val bucketSpecs = bucketTs.map { bt =>
      import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
      val n = bt.arguments.collectFirst {
        case l: VLit[_] if l.dataType ==
            org.apache.spark.sql.types.IntegerType =>
          l.value.asInstanceOf[Int]
      }.getOrElse(throw new IllegalArgumentException(
        s"bucket transform needs an integer bucket count: $bt"))
      val refs = bt.arguments.toSeq.collect { case r: NamedReference => r }
      // a multi-column tuple-hash transform is refused LOUDLY, with the
      // working alternative: Spark's SPJ planner only key-groups
      // single-argument transforms (KeyGroupedPartitioning
      // .supportsExpressions requires transform.children.size == 1 —
      // sql/catalyst partitioning.scala), so bucket(n, k1, k2) would
      // accept the write but silently shuffle every join. The bucket
      // GRID gives composite keys the zero-shuffle join Spark can
      // actually plan.
      require(refs.length == 1,
        s"txlog bucket transform takes exactly ONE key column, got $bt " +
          "— for a composite key use a bucket grid: " +
          "PARTITIONED BY (bucket(n1, k1), bucket(n2, k2))")
      (refs.head.fieldNames.mkString("."), n)
    }
    // the hidden bucket dirs nest INNERMOST (`p=../_bkt=../_bkt1=..`):
    // identity prunes (static and DPP) cut whole date dirs first, the
    // bucket ids refine within
    val partCols = idCols ++
      bucketSpecs.indices.map(TxLogTable.bucketColAt)
    val bloomCols = Option(properties.get("bloomCols")).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    // TBLPROPERTIES('sortCols'='k1,k2'): declared within-file sort order,
    // enforced at the staging chokepoint — what lets the SPJ scan report
    // a V2 output ordering and merge joins skip their Sorts
    val sortCols = Option(properties.get("sortCols")).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    // TBLPROPERTIES('ndvCols'='k1,k2'): maintain a KMV distinct-count
    // sketch per listed column across commits — surfaced to the planner
    // as V2 columnStats (CBO filter selectivity / broadcast sizing)
    val ndvCols = Option(properties.get("ndvCols")).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    // TBLPROPERTIES('optimizeWrite'='true'): route every user-facing
    // write through a REBALANCE shuffle so AQE sizes output files toward
    // the advisory partition size — small-file prevention at ingest
    val optimizeWrite =
      Option(properties.get("optimizeWrite")).exists(_.trim.toBoolean)
    TxLogTable(spark, pathOf(ident).toString)
      .create(schema, partCols, bloomCols, bucketSpecs, sortCols, ndvCols,
        optimizeWrite, timeSpecs.toSeq)
    TxLogV2Table(spark, pathOf(ident).toString, ident.toString)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val t = TxLogTable(spark, pathOf(ident).toString)
    if (t.latestVersion.isEmpty) throw new NoSuchTableException(ident)
    changes.foreach {
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames.length == 1,
          "txlog: nested column rename unsupported")
        t.renameColumn(rc.fieldNames.head, rc.newName)
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "txlog: nested column drop unsupported")
        t.dropColumn(dc.fieldNames.head)
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames.length == 1,
          "txlog: nested column add unsupported")
        require(ac.isNullable,
          "txlog: added columns must be nullable (old files fill NULL, " +
            "or the declared DEFAULT)")
        // a DEFAULT rides as Spark's own field-metadata keys (via the
        // analyzer's conversion, ColumnDefaultsShim): INSERTs omitting
        // the column fill CURRENT_DEFAULT, files predating it fill
        // EXISTS_DEFAULT at read instead of NULL
        t.addColumn(ac.fieldNames.head, ac.dataType,
          metadata = org.apache.spark.sql.graft.ColumnDefaultsShim
            .addColumnMetadata(ac))
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "txlog: nested column type change unsupported")
        t.widenColumn(ut.fieldNames.head, ut.newDataType)
      case other =>
        throw new UnsupportedOperationException(
          s"txlog: unsupported table change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = pathOf(ident)
    if (!Files.isDirectory(root)) return false
    scala.util.Using.resource(Files.walk(root)) { s =>
      s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    true
  }

  override def renameTable(old: Identifier, to: Identifier): Unit = {
    if (!tableExists(old)) throw new NoSuchTableException(old)
    if (tableExists(to))
      throw new TableAlreadyExistsException(to.toString)
    Files.createDirectories(pathOf(to).getParent)
    Files.move(pathOf(old), pathOf(to))
  }

  // ---- SQL maintenance surface: CALL <cat>.system.<procedure>(...) — the
  // lifecycle every table needs at scale, reachable without the library
  // API (Spark 4 stored procedures).

  import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
  import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
  import graft.operators.{AnnIndex, MaterializedView}
  import SystemProcedure.{arg, dynamicProc, opt, proc, req}

  private def tableByName(qualified: String): TxLogTable = {
    val parts = qualified.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"procedure table argument must be 'ns.table', got '$qualified'")
    val ident = Identifier.of(parts.init, parts.last)
    if (tableExists(ident))
      return TxLogTable(spark, pathOf(ident).toString)
    // 'ns.t.branch_<name>' — the same branch-handle surface the
    // relation resolver exposes, so procedures (refresh_mv, compact,
    // …) address a branch exactly like SELECT/DML do
    if (ident.name.startsWith("branch_") && ident.namespace().nonEmpty) {
      val parent = Identifier.of(ident.namespace.init,
        ident.namespace.last)
      val bn = ident.name.stripPrefix("branch_")
      if (tableExists(parent)) {
        val t = TxLogTable(spark, pathOf(parent).toString)
        if (t.branches().contains(bn)) return t.branchTable(bn)
      }
    }
    throw new IllegalArgumentException(s"no such txlog table: $qualified")
  }

  // the recorded schema, else the one the V2 relation infers (tables
  // written before `#schema` was recorded)
  private def schemaOf(t: TxLogTable, qualified: String): StructType =
    t.tableSchema.getOrElse(TxLogV2Table(spark, t.root, qualified).schema)

  // a table argument and its schema; `cols` are the columns the
  // procedure reads by name
  private def tableArg(a: ProcArgs, param: String,
                       cols: String*): (TxLogTable, StructType) = {
    val q = a.str(param)
    val t = tableByName(q)
    val schema = schemaOf(t, q)
    require(cols.forall(schema.fieldNames.contains),
      s"${a.proc} $param needs (${cols.mkString(", ")}) columns")
    (t, schema)
  }

  // warehouse path for a name that is a DIRECTORY of txlog tables (an
  // ANN index root), not itself a table — no existence requirement
  private def indexRoot(a: ProcArgs): String = {
    val parts = a.str("index").split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"procedure path argument must be 'ns.name', got '${a.str("index")}'")
    pathOf(Identifier.of(parts.init, parts.last)).toString
  }

  // the persisted-index rankers the ann_search procedures serve, one
  // dispatch for both: exact cosine or the 8-bit SQ8 codes
  private def annVariant(a: ProcArgs): AnnIndex.Variant =
    a.str("variant") match {
      case "exact" => AnnIndex.Exact
      case "sq8" => AnnIndex.Sq8
      case other => throw new IllegalArgumentException(
        s"ann_search variant must be 'exact' or 'sq8', got $other")
    }

  // warehouse path for a 'ns.table' argument that must NOT exist yet —
  // clone targets, views and result tables are new artifacts, never
  // in-place mutations
  private def newTablePath(a: ProcArgs, param: String): String = {
    val q = a.str(param)
    val parts = q.split('.')
    require(parts.length >= 2 && parts.forall(_.nonEmpty),
      s"${a.proc} $param must be 'ns.table', got '$q'")
    val ident = Identifier.of(parts.init, parts.last)
    require(!tableExists(ident), s"${a.proc} $param already exists: $q")
    pathOf(ident).toString
  }

  // materialize a procedure's result frame as a fresh table at `path`:
  // declared-schema create + one append commit → (version, rows)
  private def writeResultTable(path: String, df: DataFrame): (Int, Long) = {
    val t = TxLogTable(spark, path)
    t.create(df.schema)
    val v = t.commit(df, overwrite = false)
    (v, t.entries(None).flatMap(_.stats.get(TxLogTable.RowsKey))
      .map(_._1).sum)
  }

  // the non-blank items of a `sep`-separated list, trimmed
  private def items(s: String, sep: Char = ','): Seq[String] =
    s.split(sep).toSeq.map(_.trim).filter(_.nonEmpty)

  // `key<kv>value` at the first `kv` (values may contain it again)
  private def pairOf(item: String, kv: Char, what: String): (String, String) = {
    val i = item.indexOf(kv)
    require(i > 0, s"$what entry '$item' is not key${kv}value")
    item.substring(0, i).trim -> item.substring(i + 1).trim
  }

  private def pairs(spec: String, sep: Char, kv: Char,
                    what: String): Seq[(String, String)] =
    items(spec, sep).map(pairOf(_, kv, what))

  // 'col=value' (comma-separated): the partition dirs a rewrite touches
  private def partitionSpec(spec: String): Map[String, Set[String]] =
    pairs(spec, ',', '=', "partition spec")
      .map { case (c, v) => c -> Set(v) }.toMap

  // 'name:expr[;name2:expr2]' — row-local computed columns (date_trunc
  // rollup keys and the like); ';'-separated so the exprs may contain
  // commas
  private def derives(a: ProcArgs): Seq[(String, String)] =
    a.opt[String]("derives").toSeq.flatMap(pairs(_, ';', ':', "derive"))

  // MV measure spec: 'out:src' (sum) or 'out:min:src' / 'out:max:src' —
  // returns (sums, mins, maxs)
  private def parseAggSpec(sv: String): (Seq[(String, String)],
      Seq[(String, String)], Seq[(String, String)]) = {
    val specs = items(sv).map { t =>
      t.split(':') match {
        case Array(out, src) => ("sum", out, src)
        case Array(out, agg, src)
            if Set("sum", "min", "max")(agg) => (agg, out, src)
        case _ => throw new IllegalArgumentException(
          s"measure spec must be 'out:src' or 'out:min|max:src': '$t'")
      }
    }
    (specs.collect { case ("sum", o, c) => o -> c },
      specs.collect { case ("min", o, c) => o -> c },
      specs.collect { case ("max", o, c) => o -> c })
  }

  // rows a positional DML commit masked (a no-op — nothing matched —
  // commits no version)
  private def maskedBy(t: TxLogTable, before: Int, v: Int): Long =
    if (v <= before) 0L
    else t.dvsOf(v).filter(_.v == v).map(_.n).sum

  // the materialized views among a namespace's tables: (qualified, root)
  private def viewsIn(namespace: String): Seq[(String, String)] = {
    val ns = namespace.split('.').filter(_.nonEmpty)
    listTables(ns).toSeq
      .map(id => ((ns :+ id.name).mkString("."), pathOf(id).toString))
      .filter { case (_, root) =>
        Files.exists(Paths.get(root, "_log", "mv.def")) }
  }

  private def ndvText(t: TxLogTable, v: Int): String =
    t.ndvOf(v).toSeq.sortBy(_._1).map { case (c, n) => s"$c≈$n" }
      .mkString(", ")

  private def frame(df: DataFrame): (StructType, Seq[Row]) =
    (df.schema, df.collect().toSeq)

  /** Every `CALL <cat>.system.<name>` procedure, in `listProcedures`
    * order: `listProcedures`, `loadProcedure` and the unknown-name error
    * all read this one table. Each entry declares its parameters in call
    * order and its result schema once, as DDL (see [[SystemProcedure]]).
    *
    * The argument rule, for every procedure alike: an argument that is
    * omitted or passed as SQL NULL takes the parameter's declared
    * default (`arg` a typed value, `opt` NULL → `None`); a parameter
    * declared `req` has no default, and NULL for it fails the call with
    * `IllegalArgumentException("<proc> needs <param>")` before the body
    * runs. Bodies read arguments by name through [[ProcArgs]] and never
    * test for NULL themselves.
    */
  private lazy val procedures: Seq[SystemProcedure] = Seq(
    // CALL c.system.compact('ns.t' [, files [, partition]]): rewrite the
    // current snapshot into `files` files per partition (1 = full
    // compaction; MOR tombstones fold in, the usual prerequisite for
    // row-level DML on a MOR table). With the optional `partition` spec
    // ('col=value', comma-separated for multiple columns) only THAT
    // partition's files rewrite and the rest carry by manifest
    // reference — OPTIMIZE for the hot partition of a 100 TB table,
    // O(partition) instead of O(table).
    proc("compact", "version INT, files_before INT, files_after INT",
        req("table"), arg("files", 1), opt("partition", StringType)) { a =>
      val (t, schema) = tableArg(a, "table")
      val before = t.fileCount()
      val v = a.opt[String]("partition").fold(
        t.compact(schema, a.int("files")))(p =>
        t.compactWhere(schema, partitionSpec(p), a.int("files")).version)
      Seq(Row(v, before, t.fileCount()))
    },
    // CALL c.system.vacuum('ns.t' [, keep [, min_age_ms [, retain_ms
    // [, dry_run]]]]): drop all but the last `keep` manifests and delete
    // unreferenced data files older than min_age_ms (the age guard
    // protects in-flight writers, exactly like the API default).
    // retain_ms is the lagging-reader time floor — a manifest younger
    // than it survives regardless of `keep`; the 7-day default makes a
    // bare CALL safe on a live streamed table. dry_run => true: report
    // what would be reclaimed, touch nothing — the pre-flight before a
    // retention change.
    proc("vacuum", "manifests_deleted INT, files_deleted INT",
        req("table"), arg("keep", 1),
        arg("min_age_ms", TxLogTable.DefaultVacuumMinAgeMillis),
        arg("retain_ms", TxLogTable.DefaultVacuumRetainMillis),
        arg("dry_run", false)) { a =>
      val (manifests, files) = tableByName(a.str("table")).vacuum(
        a.int("keep"), a.long("min_age_ms"), a.long("retain_ms"),
        a.bool("dry_run"))
      Seq(Row(manifests, files))
    },
    // CALL c.system.history('ns.t'): one row per surviving version
    proc("history", "version INT, commit_millis BIGINT, op STRING, " +
        "n_files INT", req("table")) { a =>
      tableByName(a.str("table")).history().map(h =>
        Row(h.version, h.commitMillis, h.op, h.numFiles))
    },
    // CALL c.system.partitions('ns.t'): one row per partition value with
    // file/row counts from the MANIFEST alone — no file opened; SHOW
    // PARTITIONS with sizes, free at any table size. Row counts are exact
    // per-file footer sums; they are NULL (unknown) when a file predates
    // stats or live MOR tombstones hide rows — the same exactness
    // contract as the metadata aggregates. A non-partitioned table
    // reports one row with an empty partition.
    proc("partitions", "partition STRING, n_files INT, n_rows BIGINT",
        req("table")) { a =>
      val t = tableByName(a.str("table"))
      val v = t.latestVersion
      val parts = v.map(t.partitionColsOf).getOrElse(Nil)
      val tombs = v.exists(t.tombstonesOf(_).nonEmpty)
      // positional-delete masks are per target FILE with exact counts,
      // so per-partition rows stay exact by subtraction (tombstones
      // cannot: their match count needs a scan)
      val dvByFile = v.map(t.dvsOf).getOrElse(Nil)
        .groupMapReduce(_.file)(_.n)(_ + _)
      val groups = t.entries(None).groupBy { e =>
        val segs = TxLogTable.partitionSegmentsOf(e.rel)
        parts.flatMap(c => segs.get(c).map(v => s"$c=$v")).mkString("/")
      }
      groups.toSeq.sortBy(_._1).map { case (p, es) =>
        val rows = es.flatMap(_.stats.get(TxLogTable.RowsKey).map(_._1))
        val dvSub = es.map(e => dvByFile.getOrElse(e.rel, 0L)).sum
        Row(p, es.size, Option.when(!tombs && rows.size == es.size)(
          rows.sum - dvSub))
      }
    },
    // CALL c.system.restore('ns.t', version): roll the table back to
    // `version` as a NEW commit — O(manifest), no data file touched,
    // history preserved. The bad-write undo button.
    proc("restore", "version INT, restored_version INT, n_files INT",
        req("table"), req("version", IntegerType)) { a =>
      val t = tableByName(a.str("table"))
      val v = t.restore(a.int("version"))
      Seq(Row(v, a.int("version"), t.fileCount()))
    },
    // CALL c.system.clone('ns.src', 'ns.dst'): zero-copy clone of the
    // source's current snapshot as a fresh catalog table — manifest
    // republished as the clone's v0, data files hard-linked (no byte
    // copied). The dev/test-against-prod-data idiom: at 100 TB a CTAS
    // copy is hours and doubles storage; this is O(files) metadata ops.
    proc("clone", "version INT, n_files INT",
        req("source"), req("dest")) { a =>
      val src = tableByName(a.str("source"))
      src.cloneTo(newTablePath(a, "dest"))
      Seq(Row(0, src.fileCount()))
    },
    // CALL c.system.zorder('ns.t', 'colA', 'colB' [, files
    // [, partition]]): OPTIMIZE ZORDER BY — rewrite the snapshot
    // clustered on the Morton curve so manifest min/max stats prune range
    // scans on EVERY listed dimension (a plain sort serves only its
    // leading column). col_a may carry a comma-separated list for 3+
    // dimensions — 'a,b,c' with col_b NULL — since stored-procedure
    // signatures are fixed-arity; per-dim grid bits shrink as
    // min(16, 63/N). The multi-dimensional skipping layout for the
    // 100 TB point-lookup table. `partition` ('col=value',
    // comma-separated) scopes the rewrite to matching partition dirs
    // (compactZOrderWhere) — the incremental-clustering form: z-order
    // yesterday's partition after it closes, O(partition) per day, never
    // O(table).
    proc("zorder", "version INT, files_after INT",
        req("table"), req("col_a"), opt("col_b", StringType),
        arg("files", 8), opt("partition", StringType)) { a =>
      val (t, schema) = tableArg(a, "table")
      val zCols = items(a.str("col_a")) ++ a.opt[String]("col_b")
      val files = a.int("files")
      val v = a.opt[String]("partition").fold(
        t.compactZOrder(schema, zCols, files))(p =>
        t.compactZOrderWhere(schema, partitionSpec(p), zCols, files)
          .version)
      Seq(Row(v, t.fileCount()))
    },
    // CALL c.system.rebucket('ns.t', new_buckets [, key [, files
    // [, target_bytes [, buckets2, key2]]]]): bucket-spec evolution —
    // full rewrite re-deriving the hidden bucket ids under the new count
    // plus an atomic manifest spec bump. THE maintenance lever when a
    // bucketed table outgrows its CREATE-time count: per-bucket bytes
    // scale with the corpus, and KeyGroupedPartitioning is the one plan
    // AQE skew-splitting cannot touch, so the operator re-picks n
    // (typically 2×) and every subsequent SPJ is balanced again.
    // O(table) once, by choice — see TxLogTable.rebucket for why not a
    // dual-spec read. buckets2/key2 evolve a second grid level in the
    // SAME rewrite — one O(table) pass, one version bump, never two.
    proc("rebucket",
        "version INT, buckets_before INT, buckets_after INT, n_files INT",
        req("table"), req("buckets", IntegerType), opt("key", StringType),
        arg("files", 0), arg("target_bytes", TxLogTable.RebucketTargetBytes),
        opt("buckets2", IntegerType), opt("key2", StringType)) { a =>
      val (t, schema) = tableArg(a, "table")
      val newN = a.int("buckets")
      val key = a.opt[String]("key")
      // a key2 with no buckets2 (or the reverse) fails loudly, never
      // silently dropping the second grid level the caller asked for
      val also = (a.opt[Int]("buckets2"), a.opt[String]("key2")) match {
        case (Some(n2), Some(k2)) => Seq(k2 -> n2)
        case (b2, k2) =>
          require(k2.isEmpty, "rebucket key2 needs buckets2")
          require(b2.isEmpty, "rebucket buckets2 needs key2")
          Nil
      }
      val specs = t.latestVersion.map(t.bucketSpecsOf).getOrElse(Nil)
      val before = key.flatMap(k => specs.find(_._1 == k))
        .orElse(specs.headOption).map(_._2).getOrElse(0)
      val v = t.rebucket(schema, newN, key, a.int("files"),
        targetBytes = a.long("target_bytes"), alsoKeys = also)
      Seq(Row(v, before, newN, t.fileCount()))
    },
    // CALL c.system.semdedup('ns.src', 'ns.dst', tau [, k]): the SQL
    // surface of graft.operators.SemDedup — cluster-blocked semantic
    // dedup over the source's (vec_id, embedding) columns, verdicts
    // (vec_id, cluster, kept) materialized as a fresh txlog table. k = 0
    // (default) derives k from the corpus (the scale path); an explicit
    // k pins it (deterministic replay). The SQL-first user of the 100 TB
    // catalog never has to leave SQL to curate.
    proc("semdedup", "dest_version INT, n_vectors BIGINT",
        req("source"), req("dest"), req("tau", DoubleType),
        arg("k", 0)) { a =>
      implicit val s: SparkSession = spark
      val (src, schema) = tableArg(a, "source", "vec_id", "embedding")
      val dest = newTablePath(a, "dest")
      val emb = src.snapshot(schema)
      val verdicts =
        if (a.int("k") > 0)
          graft.operators.SemDedup.withK(emb, a.int("k"), a.double("tau"))
        else graft.operators.SemDedup(emb, a.double("tau"))
      val (v, n) = writeResultTable(dest, verdicts)
      Seq(Row(v, n))
    },
    // CALL c.system.dedup_near('ns.src', 'ns.dst' [, threshold]): the SQL
    // surface of graft.operators.Dedup.dedupNearExact — MinHash-LSH-gated
    // near-dup removal over the source's (doc_id, source, text) columns,
    // surviving corpus materialized as a fresh txlog table. Same scale
    // shape as the operator: banding + candidate verify + one anti-join,
    // never all-pairs.
    proc("dedup_near", "dest_version INT, n_kept BIGINT",
        req("source"), req("dest"), arg("threshold", 0.5)) { a =>
      val (src, schema) =
        tableArg(a, "source", "doc_id", "source", "text")
      val dest = newTablePath(a, "dest")
      // cache hygiene: the banding the operator caches for its two
      // in-query consumers is one-shot here — the handle the operator
      // returns is released after materializing (finally: a failed write
      // must not leak it either), so a long-lived session never
      // accumulates corpus-sized cache entries across procedure calls
      val (kept, bands) = graft.operators.Dedup
        .dedupNearExactWithHandle(src.snapshot(schema), a.double("threshold"))
      val (v, n) =
        try writeResultTable(dest, kept)
        finally bands.unpersist()
      Seq(Row(v, n))
    },
    // CALL c.system.bm25('ns.docs', 'space-separated terms' [, k]):
    // BM25-ranked top-k retrieval over a documents table — the SQL
    // surface of TextQueries.bm25Scores (same body: query-term-filtered
    // postings, broadcast df/stats, DECIMAL-deterministic scores).
    // Returns (doc_id, n_terms, bm25) ordered by score desc, doc_id asc.
    // k is a bounded result-set size (top-k is driver-small by
    // definition), capped so the LocalScan result can never balloon.
    proc("bm25", "doc_id BIGINT, n_terms BIGINT, bm25 DOUBLE",
        req("table"), req("query"), arg("k", 10)) { a =>
      val (src, schema) = tableArg(a, "table", "doc_id", "text")
      val terms = a.str("query").split("\\s+").toSeq
        .filter(_.nonEmpty).distinct
      val k = a.int("k")
      require(k > 0 && k <= 10000, s"bm25 k must be in [1, 10000], got $k")
      // one-shot scoring: release the per-doc cache the scorer registers
      // once the top-k is materialized (a repeated CALL builds a fresh
      // snapshot plan per table version — without the release each call
      // would leave a corpus-sized entry)
      val (scores, perDoc) = graft.queries.TextQueries
        .bm25ScoresWithHandle(src.snapshot(schema), terms)
      try scores.orderBy(col("bm25").desc, col("doc_id")).limit(k)
        .collect().toSeq
      finally perDoc.unpersist()
    },
    // CALL c.system.optimize('ns.t' [, min_bytes [, target_bytes]]):
    // INCREMENTAL small-file compaction — only files under min_bytes
    // rewrite (packed toward target_bytes outputs), everything already
    // large is carried by manifest reference. This is what OPTIMIZE
    // means at 100 TB: steady-state cost O(new small files), never
    // O(table) — `compact` (the full rewrite) stays for layout resets.
    // Reads through the MOR mask, so optimizing also materializes
    // deletes for the rewritten files.
    proc("optimize", "version INT, rewritten INT, carried INT",
        req("table"), arg("min_bytes", 16L * 1024 * 1024),
        arg("target_bytes", 128L * 1024 * 1024)) { a =>
      val (t, schema) = tableArg(a, "table")
      val st = t.compactSmall(schema, a.long("min_bytes"),
        a.long("target_bytes"))
      Seq(Row(st.version, st.rewritten, st.carried))
    },
    // CALL c.system.detail('ns.t'): DESCRIBE DETAIL — one row of the
    // table's physical identity straight off the manifest (no file
    // opened, free at any size): current version, file/row/byte totals,
    // the partition layout, bucket spec(s), sort order, and bloom
    // columns. The first thing an operator asks of an unfamiliar 100 TB
    // table.
    proc("detail", "version INT, n_files INT, n_rows BIGINT, bytes BIGINT, " +
        "partition_cols STRING, bucket_spec STRING, sort_cols STRING, " +
        "bloom_cols STRING, ndv STRING, cursors STRING, " +
        "optimize_write BOOLEAN", req("table")) { a =>
      val t = tableByName(a.str("table"))
      val v = t.latestVersion.get
      val sizes = t.fileSizes(Some(v))
      Seq(Row(v, sizes.size,
        // metaRowCount handles every exactness case (pre-stats files,
        // tombstones decline, DV masks subtract exactly)
        t.metaRowCount(Some(v)), sizes.map(_._2).sum,
        t.partitionColsOf(v).mkString(","),
        (t.bucketSpecsOf(v).map { case (k, n) => s"bucket($n, $k)" } ++
          t.timeSpecsOf(v).map { case (k, u) => s"${u}s($k)" })
          .mkString(", "),
        t.sortColsOf(v).mkString(","), t.bloomColsOf(v).mkString(","),
        ndvText(t, v),
        // who pins vacuum, at which version — the retention question
        // DESCRIBE DETAIL should answer in one glance
        t.cursors().values.toSeq.sortBy(_.name)
          .map(c => s"${c.name}@v${c.version}").mkString(", "),
        t.optimizeWriteOf(v)))
    },
    // CALL c.system.analyze('ns.t', 'col1,col2'): (re)build the column
    // NDV sketches from the current masked snapshot — stats for tables
    // created without 'ndvCols', and the re-tightening pass after deletes
    // left the incremental fold stale-high. One column-pruned scan per
    // column, metadata-only commit, no change-feed impact.
    proc("analyze", "version INT, ndv STRING",
        req("table"), req("cols")) { a =>
      val (t, schema) = tableArg(a, "table")
      val v = t.analyze(schema, items(a.str("cols")))
      Seq(Row(v, ndvText(t, v)))
    },
    // CALL c.system.resort('ns.t' [, target_bytes]): re-arm a sorted
    // table's ordering report by rewriting ONLY the partition dirs whose
    // file ranges overlap — O(damaged), never O(table); armed dirs are
    // carried by reference and a fully-armed table is a no-op. The
    // targeted twin of `compact` for the sorted layout.
    proc("resort", "version INT, rewritten INT, carried INT", req("table"),
        arg("target_bytes", TxLogTable.RebucketTargetBytes)) { a =>
      val (t, schema) = tableArg(a, "table")
      val st = t.resort(schema, a.long("target_bytes"))
      Seq(Row(st.version, st.rewritten, st.carried))
    },
    // CALL c.system.changes('ns.src', 'ns.dst', from_v [, to_v
    // [, with_deletes]]): the BATCH change feed in pure SQL — rows added
    // in (from_v, to_v] (to_v NULL = latest), tagged _commit_version,
    // materialized as a fresh txlog table; with_deletes additionally
    // surfaces MOR tombstones as keys-only '_change_type = delete' rows
    // (changesWithDeletes). Row-preserving maintenance versions are
    // skipped (the same contract the streaming source defaults to). The
    // SQL-only consumer reads a day's delta of a 100 TB table without
    // ever importing this library. Timestamp twins (from_ts / to_ts —
    // epoch millis or a Timestamp literal) resolve against commit
    // instants with the same AT-OR-AFTER / at-or-before contract as the
    // streaming options: the feed covers every commit landing within
    // [from_ts, to_ts] — "yesterday's delta" without ever looking a
    // version number up.
    proc("changes", "dest_version INT, from_v INT, to_v INT",
        req("source"), req("dest"), opt("from_v", IntegerType),
        opt("to_v", IntegerType), arg("with_deletes", false),
        opt("from_ts", StringType), opt("to_ts", StringType)) { a =>
      val (src, schema) = tableArg(a, "source")
      val (fromTs, toTs) = (a.opt[String]("from_ts"), a.opt[String]("to_ts"))
      require(a.opt[Int]("from_v").isEmpty != fromTs.isEmpty,
        "changes needs exactly one of from_v / from_ts")
      require(a.opt[Int]("to_v").isEmpty || toTs.isEmpty,
        "to_v and to_ts are mutually exclusive")
      def millisOf(s: String): Long = s.toLongOption.getOrElse(
        java.sql.Timestamp.valueOf(s).getTime)
      lazy val hist = src.history()
      val fromV: Int = a.opt[Int]("from_v").getOrElse {
        val m = millisOf(fromTs.get)
        // first commit AT-OR-AFTER from_ts enters the feed; a ts past all
        // history yields an empty window
        hist.find(_.commitMillis.exists(_ >= m)).map(_.version - 1)
          .getOrElse(src.latestVersion.getOrElse(0))
      }
      val toV: Int = a.opt[Int]("to_v").getOrElse(toTs.fold(
        src.latestVersion.getOrElse(fromV)) { ts =>
        val m = millisOf(ts)
        // last commit at-or-before to_ts closes the window; a ts before
        // all history yields an empty window
        hist.reverse.find(_.commitMillis.exists(_ <= m)).map(_.version)
          .getOrElse(fromV)
      })
      val dest = newTablePath(a, "dest")
      val feed =
        if (a.bool("with_deletes"))
          src.changesWithDeletes(schema, fromV, toV, skipRewrites = true)
        else src.changesBetween(schema, fromV, toV, skipRewrites = true)
      Seq(Row(writeResultTable(dest, feed)._1, fromV, toV))
    },
    // CALL c.system.ann_build('ns.corpus', 'ns.idx' [, k [, iters
    // [, pq [, sq8]]]]): train and persist an ANN index over the corpus's
    // CURRENT version (graft.operators.AnnIndex.build) — the index lands
    // as txlog tables under the 'ns.idx' warehouse path
    // (meta/centroids/assignments[/codes/codebook]). The SQL-first
    // operator of the 100 TB catalog builds serving indexes without
    // leaving SQL.
    proc("ann_build", "pinned_version INT",
        req("corpus"), req("index"), arg("k", 8), arg("iterations", 2),
        arg("pq", true), arg("sq8", false)) { a =>
      val idx = indexRoot(a)
      val (src, schema) = tableArg(a, "corpus", "vec_id", "embedding")
      Seq(Row(AnnIndex.build(spark, src.root, idx, schema, a.int("k"),
        a.int("iterations"), a.bool("pq"), a.bool("sq8"))))
    },
    // CALL c.system.ann_refresh('ns.idx' [, max_routed_frac]): advance a
    // persisted index to its corpus head WITHOUT a training pass — new
    // vectors route to the existing centroids, PQ codes encode against
    // the persisted codebook, the pin advances. O(new vectors); the
    // between-rebuilds growth path (AnnIndex.refresh's contract,
    // tombstoned corpora refuse loudly). The STALENESS GUARD
    // (AnnIndex.refreshAuto) is ON BY DEFAULT at
    // AnnIndex.DefaultMaxRoutedFrac (0.5): when absorbing the window
    // would push the routed-since-train fraction past the threshold, the
    // refresh retrains instead — recall decay from frozen centroids is
    // bounded by policy, not operator vigilance. An explicit
    // max_routed_frac overrides; ≤ 0 disables the guard.
    // action ∈ noop|routed|retrained.
    proc("ann_refresh", "pinned_version INT, vectors_added BIGINT, " +
        "action STRING", req("index"),
        opt("max_routed_frac", DoubleType)) { a =>
      val idx = indexRoot(a)
      // omitted → the policy default (0.5): the guard is ON unless the
      // caller passes ≤ 0
      val frac = a.opt[Double]("max_routed_frac")
        .getOrElse(AnnIndex.DefaultMaxRoutedFrac)
      val (v, added, action) =
        if (frac > 0) AnnIndex.refreshAuto(spark, idx, frac)
        else {
          val (v0, a0) = AnnIndex.refresh(spark, idx)
          (v0, a0, if (a0 == 0) "noop" else "routed")
        }
      Seq(Row(v, added, action))
    },
    // CALL c.system.ann_search('ns.idx', query_vec_id [, k [, predicate
    // [, require_fresh [, nprobe [, variant]]]]]): IVF top-k through the
    // persisted index without leaving SQL. The optional predicate — a
    // SQL boolean over the corpus's own columns — restricts candidates
    // INSIDE the probed cells (pre-filter: all k survivors satisfy it);
    // nprobe widens routing to the n best cells (the recall/cost knob).
    // Result is at most k rows, so the driver-side collect is bounded by
    // the ask, never the corpus. variant => 'sq8' ranks the persisted
    // 8-bit codes instead of the full vectors (4x less ranking I/O,
    // near-exact recall; the index must have been built with sq8
    // artifacts). The sq8 path serves unfiltered — its ranking payload
    // carries no corpus attributes; use the exact variant for predicate
    // search.
    proc("ann_search", "vec_id BIGINT, cluster INT, q_cos DOUBLE",
        req("index"), req("query_vec_id", LongType), arg("k", 5),
        opt("predicate", StringType), arg("require_fresh", false),
        arg("nprobe", 1), arg("variant", "exact")) { a =>
      val idx = indexRoot(a)
      val (qid, k) = (a.long("query_vec_id"), a.int("k"))
      require(k > 0, s"ann_search k must be positive, got $k")
      val pred = a.opt[String]("predicate")
        .map(org.apache.spark.sql.functions.expr)
      AnnIndex.search(spark, idx, annVariant(a), Seq(qid), k,
          a.int("nprobe"), pred, a.bool("require_fresh"))
        .drop("q_id").collect().toSeq
    },
    // CALL c.system.ann_build_auto('ns.corpus', 'ns.idx' [, target_cell
    // [, train_sample [, iters [, pq [, sq8]]]]]): the auto-sized build
    // (graft.operators.AnnIndex.buildAuto) — k derives from the corpus so
    // cell SIZE is the invariant, and the quantizer trains on a bounded
    // deterministic sample, so training cost is O(sample × k) at any
    // corpus size.
    proc("ann_build_auto", "pinned_version INT, k INT",
        req("corpus"), req("index"), arg("target_cell", 4096L),
        arg("train_sample", 262144L), arg("iterations", 2),
        arg("pq", true), arg("sq8", false)) { a =>
      val idx = indexRoot(a)
      val (src, schema) = tableArg(a, "corpus", "vec_id", "embedding")
      val (pinned, k) = AnnIndex.buildAuto(spark, src.root, idx, schema,
        a.int("iterations"), a.long("target_cell"), a.long("train_sample"),
        a.bool("pq"), a.bool("sq8"))
      Seq(Row(pinned, k))
    },
    // CALL c.system.ann_status('ns.idx'): the index's drift ledger —
    // routed-since-train fraction (recall-decay proxy: vectors routed to
    // centroids trained on an older distribution) and cell-size
    // imbalance (a quantizer that stopped fitting the data concentrates
    // mass in few cells). O(index) — one meta read + one |cells|-sized
    // aggregate; never scans the corpus.
    proc("ann_status", "pinned_version INT, corpus_version INT, " +
        "total_vectors BIGINT, routed_since_train BIGINT, " +
        "routed_frac DOUBLE, cells BIGINT, mean_cell DOUBLE, " +
        "max_cell BIGINT, imbalance DOUBLE", req("index")) { a =>
      val st = AnnIndex.status(spark, indexRoot(a))
      Seq(Row(st.pinnedVersion, st.corpusVersion, st.totalVectors,
        st.routedSinceTrain, st.routedFrac, st.cells, st.meanCell,
        st.maxCell, st.imbalance))
    },
    // CALL c.system.cursors('ns.t'): one row per registered change-feed
    // cursor — which consumers pin history, at which version, and when
    // they last advanced. The operator's "who is holding my vacuum back"
    // view (Kafka's consumer-group listing).
    proc("cursors", CursorsSchema, req("table")) { a =>
      cursorRows(tableByName(a.str("table")))
    },
    // CALL c.system.release_cursor('ns.t', 'name'): drop a cursor's
    // vacuum pin — the explicit decommissioning act for an abandoned
    // consumer; afterwards its history is reclaimable and a late resume
    // hits the change feed's loud vacuum-horizon refusal.
    proc("release_cursor", "released BOOLEAN",
        req("table"), req("name")) { a =>
      Seq(Row(tableByName(a.str("table")).releaseCursor(a.str("name"))))
    },
    // CALL c.system.delete_pos('ns.t', '<predicate>'): positional
    // (deletion-vector) DELETE — matched rows are masked by (file,
    // position), the commit is O(matched rows) and rewrites ZERO data
    // files (the `files_rewritten` output is the proof). The
    // non-key-predicate complement of the MOR tombstone path; COW
    // `DELETE FROM` remains the bulk path.
    proc("delete_pos", "version INT, rows_deleted BIGINT, " +
        "files_rewritten INT", req("table"), req("predicate")) { a =>
      val (t, schema) = tableArg(a, "table")
      val v0 = t.latestVersion.getOrElse(-1)
      val st = t.deleteWherePos(schema,
        org.apache.spark.sql.functions.expr(a.str("predicate")))
      Seq(Row(st.version, maskedBy(t, v0, st.version), st.rewritten))
    },
    // CALL c.system.update_pos('ns.t', '<predicate>', '<set>'):
    // positional UPDATE — matched rows are masked where they sit and
    // re-staged ONCE with the assignments applied (new files hold ONLY
    // the touched rows). `set` is ';'-separated `col = <expr>` pairs,
    // each expr a SQL expression over the row's old values (`x = x + 1`
    // increments). ';' separates because exprs legitimately contain
    // commas; '=' splits at the first occurrence (column names are
    // wire-safe).
    proc("update_pos", "version INT, rows_updated BIGINT, " +
        "files_rewritten INT", req("table"), req("predicate"),
        req("set")) { a =>
      val (t, schema) = tableArg(a, "table")
      val assigns = pairs(a.str("set"), ';', '=', "set")
        .map { case (c, e) => c -> org.apache.spark.sql.functions.expr(e) }
      val v0 = t.latestVersion.getOrElse(-1)
      val st = t.updateWherePos(schema,
        org.apache.spark.sql.functions.expr(a.str("predicate")), assigns)
      Seq(Row(st.version, maskedBy(t, v0, st.version), st.rewritten))
    },
    // CALL c.system.set_time_unit('ns.t', 'ts', 'hour'): hidden-partition
    // SPEC EVOLUTION — change a time transform's granularity as a
    // metadata-only commit. Old files keep their old-unit dirs (pruning
    // is per-file-unit exact); a later full compaction converges the
    // layout. `mixed_layout` reports whether the table currently holds
    // both units.
    proc("set_time_unit", "version INT, mixed_layout BOOLEAN",
        req("table"), req("source"), req("unit")) { a =>
      val t = tableByName(a.str("table"))
      val v = t.alterTimeUnit(a.str("source"), a.str("unit"))
      Seq(Row(v, t.timeUnitsMixed(v)))
    },
    // CALL c.system.tag('ns.t', 'name' [, version]): create an IMMUTABLE
    // named ref at `version` (default: latest) — read it back with
    // `VERSION AS OF 'name'`; vacuum keeps the floor at the oldest tag.
    // Re-pointing is drop_tag + tag, both explicit.
    proc("tag", "name STRING, version INT",
        req("table"), req("name"), opt("version", IntegerType)) { a =>
      Seq(Row(a.str("name"), tableByName(a.str("table"))
        .tag(a.str("name"), a.opt[Int]("version"))))
    },
    // CALL c.system.drop_tag('ns.t', 'name'): release the ref and its
    // retention pin — the tagged history becomes reclaimable.
    proc("drop_tag", "dropped BOOLEAN", req("table"), req("name")) { a =>
      Seq(Row(tableByName(a.str("table")).dropTag(a.str("name"))))
    },
    // CALL c.system.tags('ns.t'): the named refs and their pinned
    // versions — "which snapshots can still be named".
    proc("tags", TagsSchema, req("table")) { a =>
      tagRows(tableByName(a.str("table")))
    },
    // CALL c.system.ann_search_batch('ns.idx', array(id, ...) [, k
    // [, nprobe [, require_fresh [, variant]]]]): N queries through ONE
    // persisted-index pass (AnnIndex.search — routing is the
    // broadcast k × N centroid product, scoring an equi-join on the
    // probed cell, per-query window top-k). At most k rows PER QUERY
    // cross the driver — bounded by the ask, never the corpus; the
    // nightly-similarity-sweep shape without leaving SQL. The score
    // column is named for the variant: q_cos (exact) or sq8_sim ('sq8'
    // ranks the persisted 8-bit codes — 4× less ranking I/O, near-exact
    // recall; the index needs sq8 artifacts).
    dynamicProc("ann_search_batch", req("index"),
        req("query_vec_ids", ArrayType(LongType)), arg("k", 5),
        arg("nprobe", 1), arg("require_fresh", false),
        arg("variant", "exact")) { a =>
      val idx = indexRoot(a)
      val qids = a.longs("query_vec_ids")
      require(qids.nonEmpty, "ann_search_batch needs query ids")
      val k = a.int("k")
      require(k > 0, s"ann_search_batch k must be positive, got $k")
      val variant = annVariant(a)
      (StructType.fromDDL(
        s"q_id BIGINT, vec_id BIGINT, cluster INT, ${variant.score} DOUBLE"),
        AnnIndex.search(spark, idx, variant, qids, k, a.int("nprobe"),
          requireFresh = a.bool("require_fresh")).collect().toSeq)
    },
    // CALL c.system.branch('ns.t', 'name' [, version]): fork a WRITABLE
    // branch at `version` (default: head) — write-audit-publish. Every
    // write path targets it via the `ns.t.branch_<name>` identifier; main
    // readers never see branch commits until CALL system.publish
    // fast-forwards them.
    proc("branch", "name STRING, forked_from INT",
        req("table"), req("name"), opt("version", IntegerType)) { a =>
      Seq(Row(a.str("name"), tableByName(a.str("table"))
        .createBranch(a.str("name"), a.opt[Int]("version"))))
    },
    // CALL c.system.publish('ns.t', 'name'): fast-forward the branch head
    // onto main as ONE atomic version (op=publish, delta-encoded against
    // main's head). Refuses if main moved since the fork — re-branch and
    // replay, never a silent merge.
    proc("publish", "published_version INT",
        req("table"), req("name")) { a =>
      Seq(Row(tableByName(a.str("table")).publishBranch(a.str("name"))))
    },
    // CALL c.system.drop_branch('ns.t', 'name'): delete the branch log;
    // files only it referenced become vacuum-reclaimable.
    proc("drop_branch", "dropped BOOLEAN", req("table"), req("name")) { a =>
      Seq(Row(tableByName(a.str("table")).dropBranch(a.str("name"))))
    },
    // CALL c.system.branches('ns.t'): live branches, their heads, and
    // fork points — "what work is in flight against this table".
    proc("branches", "name STRING, head INT, forked_from INT",
        req("table")) { a =>
      val t = tableByName(a.str("table"))
      t.branches().map { n =>
        val bt = t.branchTable(n)
        Row(n, bt.latestVersion.getOrElse(-1), bt.forkedFrom.getOrElse(-1))
      }
    },
    // CALL c.system.create_mv('ns.mv', 'ns.src', 'k1,k2',
    // 'total:value[,out2:src2]' [, filter [, derives]]): persist an
    // incrementally-maintained materialized view (GROUP BY group_cols
    // with COUNT(*) AS mv_count and SUM(src) AS out per spec) as a
    // catalog table. The view registers a change-feed cursor on the
    // source so vacuum can never drop its un-consumed window; see
    // graft.operators.MaterializedView for the refresh contract.
    proc("create_mv", "version INT, source_version INT",
        req("view"), req("source"), req("group_cols"), req("sums"),
        opt("filter", StringType), opt("derives", StringType)) { a =>
      val path = newTablePath(a, "view")
      val (src, srcSchema) = tableArg(a, "source")
      val (sums, mins, maxs) = parseAggSpec(a.str("sums"))
      val v = MaterializedView.create(spark, path, a.str("view"), src,
        srcSchema, items(a.str("group_cols")), sums, a.opt[String]("filter"),
        mins, maxs, derives(a))
      Seq(Row(v, src.latestVersion.getOrElse(-1)))
    },
    // CALL c.system.create_mv_joined('ns.mv', 'ns.fact',
    // 'ns.dim[;ns.dim2…]', 'fk:dk[,fk2:dk2][;fk:dk…]', 'group_cols',
    // 'out:src[,..]' [, filter [, derives]]): a STAR-SCHEMA view — fact
    // JOIN dim1 [JOIN dim2 …] (each inner, broadcast; each dim unique on
    // its keys) grouped and summed, group/sum/filter columns from any
    // side; 'derives' (name:expr, ';'-separated) are row-local computed
    // columns that may combine all sides. An N-DIM star lists its dims
    // ';'-separated, join_on aligning positionally (','-separated keys
    // within a dim). Every dim is PINNED independently: fact deltas fold
    // against the pinned snapshots, and each dim change folds as its own
    // DIM DELTA (changed keys → affected groups, telescoped across dims)
    // that re-pins — never O(view).
    proc("create_mv_joined", "version INT, fact_version INT, " +
        "dim_version INT", req("view"), req("fact"), req("dim"),
        req("join_on"), req("group_cols"), req("sums"),
        opt("filter", StringType), opt("derives", StringType)) { a =>
      val path = newTablePath(a, "view")
      val (fact, factSchema) = tableArg(a, "fact")
      val dimNames = items(a.str("dim"), ';')
      val joinSegs = items(a.str("join_on"), ';')
      require(dimNames.nonEmpty && joinSegs.length == dimNames.length,
        s"join_on must carry one ';'-segment per dim: " +
          s"${dimNames.length} dims, ${joinSegs.length} segments")
      val dimSpecs = dimNames.zip(joinSegs).map { case (dn, js) =>
        val dim = tableByName(dn)
        (dim, schemaOf(dim, dn), pairs(js, ',', ':', "join_on"))
      }
      val (sums, mins, maxs) = parseAggSpec(a.str("sums"))
      val v = MaterializedView.createStar(spark, path, a.str("view"), fact,
        factSchema, dimSpecs, items(a.str("group_cols")), sums,
        a.opt[String]("filter"), mins, maxs, derives(a))
      Seq(Row(v, fact.latestVersion.getOrElse(-1),
        dimSpecs.head._1.latestVersion.getOrElse(-1)))
    },
    // CALL c.system.refresh_mv('ns.mv' [, full]): one transactional
    // refresh — O(changed groups) incremental fold of the source's change
    // feed, or a full recompute when the range crosses a reset (or
    // full => true). No-op when already current; progress (#mvsrc) and
    // data ride one atomic commit (exactly-once).
    proc("refresh_mv", "mode STRING, from_version INT, to_version INT, " +
        "groups_changed BIGINT, mv_version INT",
        req("view"), arg("full", false)) { a =>
      val st = MaterializedView.refresh(spark,
        tableByName(a.str("view")).root, a.bool("full"))
      Seq(Row(st.mode, st.fromVersion, st.toVersion, st.groupsChanged,
        st.mvVersion))
    },
    // CALL c.system.mv_status('ns.mv'): the view's maintenance position —
    // consumed source version vs source head, how many versions behind,
    // the definition, and (star views) the pinned dim version vs the dim
    // head — without touching data.
    proc("mv_status", "name STRING, consumed_version INT, " +
        "source_head INT, behind INT, group_cols STRING, sums STRING, " +
        "filter STRING, derives STRING, dim STRING, dim_pinned INT, " +
        "dim_head INT, dim_behind INT", req("view")) { a =>
      val t = tableByName(a.str("view"))
      val d = MaterializedView.definition(spark, t.root)
      val last = MaterializedView.lastSourceVersion(t)
      val head = TxLogTable(spark, d.source).latestVersion.getOrElse(-1)
      val dimPinneds = d.dims.indices.map(MaterializedView.lastDimVersion(t, _))
      val dimHeads = d.dims.map(dm =>
        TxLogTable(spark, dm.root).latestVersion.getOrElse(-1))
      // the N-dim star reports one ';'-joined cell per column: roots,
      // pins, heads; dim_behind is the WORST lag (the number a
      // maintenance scheduler acts on)
      Seq(Row(d.name, last, head, math.max(0, head - last),
        d.groupCols.mkString(","),
        (d.sums.map { case (o, c) => s"$o:$c" } ++
          d.mins.map { case (o, c) => s"$o:min:$c" } ++
          d.maxs.map { case (o, c) => s"$o:max:$c" }).mkString(","),
        d.filterExpr,
        Option.when(d.derives.nonEmpty)(
          d.derives.map { case (n, _, e) => s"$n:$e" }.mkString(";")),
        Option.when(d.dims.nonEmpty)(d.dims.map(_.root).mkString(";")),
        dimPinneds.headOption, dimHeads.headOption,
        Option.when(d.dims.nonEmpty)(dimPinneds.zip(dimHeads)
          .map { case (p, h) => math.max(0, h - p) }.max)))
    },
    // CALL c.system.mvs('ns'): every materialized view in the namespace
    // with its maintenance position — the fleet dashboard (which views
    // exist, what they watch, how far behind). One directory listing +
    // one manifest-meta read per view; no data touched.
    proc("mvs", "table STRING, name STRING, consumed_version INT, " +
        "source_head INT, behind INT", req("namespace")) { a =>
      viewsIn(a.str("namespace")).map { case (qn, root) =>
        // one broken view (vacuumed-away #mvsrc, half-created mv.def,
        // missing source) must not take down the fleet dashboard: flag
        // it with consumed_version = -1 instead
        scala.util.Try {
          val d = MaterializedView.definition(spark, root)
          val last = MaterializedView.lastSourceVersion(
            TxLogTable(spark, root))
          val head = TxLogTable(spark, d.source).latestVersion.getOrElse(-1)
          Row(qn, d.name, last, head, math.max(0, head - last))
        }.getOrElse(Row(qn, Paths.get(root).getFileName.toString, -1, -1, 0))
      }
    },
    // CALL c.system.remove_orphans('ns.t' [, min_age_ms [, dry_run]]):
    // delete data-dir files no reachable version references — crashed
    // writers' leftovers — WITHOUT touching history (vacuum with keep =
    // ALL versions). Same writer guards as vacuum: `.staging` scratch
    // dirs are skipped and only files older than min_age_ms go (a
    // just-staged file whose manifest publish is in flight must
    // survive). The orphan sweep is the maintenance companion Iceberg
    // ships as remove_orphan_files.
    proc("remove_orphans", "files_deleted INT", req("table"),
        arg("min_age_ms", TxLogTable.DefaultVacuumMinAgeMillis),
        arg("dry_run", false)) { a =>
      val (_, files) = tableByName(a.str("table")).vacuum(
        keep = Int.MaxValue, minAgeMillis = a.long("min_age_ms"),
        retainMillis = 0L, dryRun = a.bool("dry_run"))
      Seq(Row(files))
    },
    // CALL c.system.create_mv_distinct('ns.mv', 'ns.src', 'k1,k2',
    // 'out:src' [, filter]): an APPROX-COUNT(DISTINCT) view — the
    // per-group HLL register table of src, maintained by the same
    // incremental fold as every MV (appends fold, deleting windows
    // recompute: the honest sketch contract). Read estimates with CALL
    // system.mv_distinct.
    proc("create_mv_distinct", "version INT, source_version INT",
        req("view"), req("source"), req("group_cols"), req("measure"),
        opt("filter", StringType)) { a =>
      val path = newTablePath(a, "view")
      val (src, srcSchema) = tableArg(a, "source")
      val v = MaterializedView.createDistinct(spark, path, a.str("view"),
        src, srcSchema, items(a.str("group_cols")),
        pairOf(a.str("measure"), ':', "measure"), a.opt[String]("filter"))
      Seq(Row(v, src.latestVersion.getOrElse(-1)))
    },
    // CALL c.system.create_mv_hist('ns.mv', 'ns.src', 'k1,k2', 'out:src'
    // [, filter]): a power-of-2 HISTOGRAM view (bucket = bit length of
    // floor(src), exact counts) — fully additive, so it folds
    // incrementally under every DML shape. Read quantile estimates with
    // CALL system.mv_quantile.
    proc("create_mv_hist", "version INT, source_version INT",
        req("view"), req("source"), req("group_cols"), req("measure"),
        opt("filter", StringType)) { a =>
      val path = newTablePath(a, "view")
      val (src, srcSchema) = tableArg(a, "source")
      val v = MaterializedView.createHist(spark, path, a.str("view"),
        src, srcSchema, items(a.str("group_cols")),
        pairOf(a.str("measure"), ':', "measure"), a.opt[String]("filter"))
      Seq(Row(v, src.latestVersion.getOrElse(-1)))
    },
    // CALL c.system.mv_distinct('ns.mv'): per-group distinct-count
    // estimates from a create_mv_distinct view's registers — a
    // |groups|-sized aggregate over the ≤256 register rows each. The
    // result columns are the view's group columns + distinct_est.
    dynamicProc("mv_distinct", req("view")) { a =>
      frame(MaterializedView.distinctEstimates(spark,
        tableByName(a.str("view")).root))
    },
    // CALL c.system.mv_quantile('ns.mv', q): per-group quantile estimates
    // (±1 power of 2) from a create_mv_hist view; the result columns
    // follow the view's group columns.
    dynamicProc("mv_quantile", req("view"), req("q", DoubleType)) { a =>
      frame(MaterializedView.histQuantiles(spark,
        tableByName(a.str("view")).root, a.double("q")))
    },
    // CALL c.system.mv_branch('ns.mv', 'name'): fork a CONSISTENT
    // (source, view) branch pair for write-audit-publish on derived
    // tables — audit writes go to source.branch_<name>, CALL
    // refresh_mv('ns.mv.branch_<name>') folds them on the branch, CALL
    // mv_publish promotes both. The view must be current.
    proc("mv_branch", "source_fork_version INT, view_fork_version INT",
        req("view"), req("name")) { a =>
      val (f, v) = MaterializedView.branchMv(spark,
        tableByName(a.str("view")).root, a.str("name"))
      Seq(Row(f, v))
    },
    // CALL c.system.mv_publish('ns.mv', 'name'): publish the audited
    // branch pair — fact first, then the view with its consumed version
    // rewritten to the fact's just-published MAIN version. Gated on the
    // branch view having absorbed the branch fact head.
    proc("mv_publish", "source_version INT, view_version INT",
        req("view"), req("name")) { a =>
      val (f, v) = MaterializedView.publishWap(spark,
        tableByName(a.str("view")).root, a.str("name"))
      Seq(Row(f, v))
    },
    // CALL c.system.refresh_all('ns'): one maintenance sweep over every
    // materialized view in the namespace — each stale view gets one
    // transactional refresh (the per-view cost contract is refresh_mv's:
    // O(changed groups)); current views no-op; a broken view is reported
    // as mode='error' without stopping the fleet. Views are refreshed in
    // DEPENDENCY ORDER (a view whose source is itself a view in the sweep
    // runs after it — the exact-distinct pairs and any MV-over-MV chain
    // come out fully current in ONE sweep). The cron body of a 100-view
    // deployment.
    proc("refresh_all", "table STRING, mode STRING, from_version INT, " +
        "to_version INT, groups_changed BIGINT, view_version INT",
        req("namespace")) { a =>
      val views = viewsIn(a.str("namespace")).map { case (qn, root) =>
        // a view depends on its SOURCE and (star views) its DIM — both
        // must refresh first when they are views themselves, or the
        // sweep would fold against a stale upstream and need a second
        // pass
        val deps = scala.util.Try {
          val d = MaterializedView.definition(spark, root)
          d.source +: d.dims.map(_.root)
        }.getOrElse(Nil)
        (qn, root, deps)
      }
      // each view after the views it reads (a depth-first post-order; a
      // cycle — only corrupted defs make one — is cut where the walk
      // re-enters it), then one DAG over those edges. Each refresh turns
      // its own failure into an error row, so a failed upstream still
      // lets its dependents run: its last committed version is a
      // consistent, if stale, source.
      val byRoot = views.map(v => v._2 -> v).toMap
      val order = scala.collection.mutable.LinkedHashSet.empty[String]
      def visit(root: String, path: Set[String]): Unit =
        if (!order(root) && !path(root)) {
          byRoot(root)._3.filter(byRoot.contains)
            .foreach(visit(_, path + root))
          order += root
        }
      views.foreach(v => visit(v._2, Set.empty))
      val ordered = order.toSeq.map(byRoot)
      val at = order.zipWithIndex.toMap
      graft.util.Overlap.inDag(
        ordered.map { case (qn, root, _) => () =>
          scala.util.Try {
            val st = MaterializedView.refresh(spark, root)
            Row(qn, st.mode, st.fromVersion, st.toVersion, st.groupsChanged,
              st.mvVersion)
          }.recover { case e =>
            Row(qn, s"error: ${e.getMessage.take(120)}", -1, -1, -1L, -1)
          }.get
        },
        ordered.map { case (_, root, deps) =>
          deps.flatMap(at.get).filter(_ < at(root)) })
    },
    // CALL c.system.create_mv_distinct_exact('ns.mv', 'ns.src', 'k1,k2',
    // 'u' [, filter]): EXACT incremental COUNT(DISTINCT u) — two composed
    // views (inner keyed by (groups, u) count-only at '<mv>_keys'; outer
    // counts the inner's rows), both fully additive, so distinct counts
    // stay exact AND incremental under every DML shape including
    // deletes. Refresh inner-then-outer (refresh_all orders the pair
    // automatically). Read the count as the outer view's mv_count.
    proc("create_mv_distinct_exact", "keys_version INT, view_version INT, " +
        "source_version INT", req("view"), req("source"), req("group_cols"),
        req("distinct_col"), opt("filter", StringType)) { a =>
      val path = newTablePath(a, "view")
      val (src, srcSchema) = tableArg(a, "source")
      val (v1, v2) = MaterializedView.createDistinctExact(spark, path,
        a.str("view"), src, srcSchema, items(a.str("group_cols")),
        a.str("distinct_col").trim, a.opt[String]("filter"))
      Seq(Row(v1, v2, src.latestVersion.getOrElse(-1)))
    })

  private lazy val procedureByName: Map[String, SystemProcedure] =
    procedures.map(p => p.name -> p).toMap

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      procedures.map(p => Identifier.of(Array("system"), p.name)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got ${ident.toString}")
    procedureByName.getOrElse(ident.name,
      throw new UnsupportedOperationException(
        s"unknown txlog procedure: system.${ident.name} (available: " +
          procedures.map(_.name).mkString(", ") + ")"))
  }
}

/** One `CALL <cat>.system.<name>` procedure of [[TxLogCatalog]]: its
  * parameters in call order, its declared result schema (`None` for the
  * few whose columns depend on the call — a view's group columns, the
  * scored variant) and its body over the typed argument reader. Bound
  * once; every call converts the body's rows through one
  * `CatalystTypeConverters` converter into a LocalScan (driver-side rows
  * are exactly what a maintenance summary is).
  */
private[sources] final class SystemProcedure(
    procName: String, params: Seq[ProcParam], val result: Option[StructType],
    body: ProcArgs => (StructType, Seq[Row]))
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  override def name(): String = procName
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.procedures.BoundProcedure = this
  override def parameters()
      : Array[org.apache.spark.sql.connector.catalog.procedures
        .ProcedureParameter] = params.map(_.toSpark).toArray
  override def isDeterministic: Boolean = false
  override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : util.Iterator[Scan] = {
    val (schema, rows) = body(new ProcArgs(procName, params, input))
    util.List.of[Scan](SystemProcedure.localScan(schema, rows)).iterator()
  }
}

private[sources] object SystemProcedure {
  import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.connector.read.LocalScan
  import org.apache.spark.sql.types.StringType

  /** A procedure whose result schema is the declared `result` DDL. */
  def proc(name: String, result: String, params: ProcParam*)(
      body: ProcArgs => Seq[Row]): SystemProcedure = {
    val schema = StructType.fromDDL(result)
    new SystemProcedure(name, params, Some(schema), a => (schema, body(a)))
  }

  /** A procedure whose body returns its result schema with its rows. */
  def dynamicProc(name: String, params: ProcParam*)(
      body: ProcArgs => (StructType, Seq[Row])): SystemProcedure =
    new SystemProcedure(name, params, None, body)

  /** A parameter without a default: NULL fails the call. */
  def req(name: String, dataType: DataType = StringType): ProcParam =
    ProcParam(name, dataType, ProcParam.Required)

  /** A parameter whose default is NULL, read with `opt`. */
  def opt(name: String, dataType: DataType): ProcParam =
    ProcParam(name, dataType, null)

  /** A parameter whose type is its typed default's. */
  def arg(name: String, default: Any): ProcParam =
    ProcParam(name, Literal(default).dataType, default)

  /** Driver-side rows served as a scan; `mkRows` is evaluated per read. */
  def localScan(schema: StructType, mkRows: => Seq[Row]): LocalScan = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] =
        mkRows.map(toCatalyst(_).asInstanceOf[InternalRow]).toArray
    }
  }
}

/** One declared procedure parameter; `default` is [[ProcParam.Required]],
  * `null` (SQL NULL) or a typed Scala value of `dataType`.
  */
private[sources] final case class ProcParam(name: String,
                                            dataType: DataType,
                                            default: Any) {
  import org.apache.spark.sql.catalyst.expressions.Literal

  def toSpark: org.apache.spark.sql.connector.catalog.procedures
      .ProcedureParameter = {
    val b = org.apache.spark.sql.connector.catalog.procedures
      .ProcedureParameter.in(name, dataType)
    default match {
      case ProcParam.Required => ()
      case null => b.defaultValue("NULL")
      case s: String => b.defaultValue(Literal(s).sql)
      case v => b.defaultValue(v.toString)
    }
    b.build()
  }
}

private[sources] object ProcParam {
  case object Required
}

/** The typed argument reader a procedure body gets: values by parameter
  * name, NULL replaced by the declared default. Construction fails with
  * `IllegalArgumentException("<proc> needs <param>")` when a parameter
  * without a default is NULL, so a body never sees a missing argument.
  */
private[sources] final class ProcArgs(val proc: String,
                                      params: Seq[ProcParam],
                                      input: org.apache.spark.sql.catalyst
                                        .InternalRow) {
  private val values: Map[String, Any] = params.zipWithIndex.map {
    case (p, i) =>
      val v =
        if (input.isNullAt(i)) p.default
        else org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(input.get(i, p.dataType), p.dataType)
      if (v == ProcParam.Required)
        throw new IllegalArgumentException(s"$proc needs ${p.name}")
      p.name -> v
  }.toMap

  def str(name: String): String = values(name).asInstanceOf[String]
  def int(name: String): Int = values(name).asInstanceOf[Int]
  def long(name: String): Long = values(name).asInstanceOf[Long]
  def double(name: String): Double = values(name).asInstanceOf[Double]
  def bool(name: String): Boolean = values(name).asInstanceOf[Boolean]
  def longs(name: String): Seq[Long] =
    values(name).asInstanceOf[scala.collection.Seq[Long]].toSeq
  /** An `opt` parameter: `None` when NULL or omitted. */
  def opt[T](name: String): Option[T] = Option(values(name).asInstanceOf[T])
}

/** The catalog's V2 `bucket` function — the contract behind bucketed
  * storage-partitioned joins. Spark resolves a scan-reported
  * `bucket(n, key)` transform by loading THIS function from the table's
  * catalog and binding it against `(numBuckets INT, key)`; two sides whose
  * bound functions share a `canonicalName` (and bucket count) are
  * key-grouped-compatible, and with the V2 bucketed-shuffle conf Spark
  * evaluates [[bind]]'s `produceResult` to align a non-bucketed side.
  * `produceResult` is bit-identical to the write path's derivation
  * (`pmod(xxhash64(key), n)`, seed 42 — the builtin's seed), so planner
  * grouping and physical layout can never disagree.
  */
object TxLogBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(numBuckets, cols...): txlog bucket id = " +
      "pmod(xxhash64(cols...), n)"

  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length >= 2 &&
      inputType.fields(0).dataType == IntegerType,
      s"bucket expects (numBuckets INT, keys...), got " +
        inputType.catalogString)
    val keyTypes = inputType.fields.drop(1).map(_.dataType).toIndexedSeq
    keyTypes.foreach {
      case LongType | IntegerType | ShortType | ByteType | StringType |
           DateType | TimestampType | TimestampNTZType => ()
      case other => throw new UnsupportedOperationException(
        s"txlog bucket key type unsupported: ${other.catalogString}")
    }
    new org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        (IntegerType +: keyTypes).toArray
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String =
        s"graft.txlog.bucket(${keyTypes.map(_.catalogString)
          .mkString(",")})"
      override def isResultNullable: Boolean = false
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
        val n = input.getInt(0)
        // seed-chained over the key tuple, exactly the builtin xxhash64's
        // multi-child evaluation; a null key leaves the seed untouched
        // (so the write path lands nulls where the planner expects them)
        var h = 42L
        var i = 0
        while (i < keyTypes.length) {
          if (!input.isNullAt(i + 1))
            h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
              .hash(input.get(i + 1, keyTypes(i)), keyTypes(i), h)
          i += 1
        }
        (((h % n) + n) % n).toInt
      }
    }
  }
}

/** A catalog table: declared (or inferred) logical schema, identity
  * partitioning, batch read + batch write. Reads prefer the injected
  * [[TxLogReadRule]] (codegen path); [[newScanBuilder]] is the
  * no-extensions fallback.
  */
final case class TxLogV2Table(spark: SparkSession, root: String,
                              ident: String,
                              asOfVersion: Option[Int] = None) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** `DELETE FROM t WHERE ...` — routed to the file-targeted COW delete.
    * The SQL contract requires EXACT deletion of the matching rows, so
    * the statement is accepted only when every pushed filter translates
    * completely ([[exactPredicate]] — unlike scan pruning, which may
    * translate conservatively because Spark re-filters rows, here the
    * translation IS the executed predicate). `TxLogTable.deleteWhere`
    * then re-applies the full predicate to the files it rewrites, and
    * manifest pruning bounds the rewrite exactly as for the API path.
    */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => TxLogV2Table.exactPredicate(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val pred = filters.toSeq.flatMap(TxLogV2Table.exactPredicate)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    table.deleteWhere(schema, pred)
  }

  /** `UPDATE` / `MERGE INTO` (and DELETE with an untranslatable
    * predicate) via the GROUP-BASED row-level rewrite: Spark reads the
    * table through the operation's scan, computes the complete post-
    * operation content of the groups it read, and hands it to the write
    * side — with no runtime group filtering reported, the read groups are
    * the whole snapshot, so the write is one atomic OVERWRITE commit of
    * the new table state. Semantically exact for every command; write
    * amplification is O(table) — the documented COW worst case. The
    * file-targeted paths ([[graft.sources.TxLogTable.merge]],
    * `deleteWhere`, `replaceWhere`) remain the scale surface for keyed
    * workloads; SQL DELETE with translatable predicates also keeps its
    * targeted route through [[canDeleteWhere]] above, which Spark
    * consults FIRST.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new org.apache.spark.sql.connector.write.RowLevelOperation {
      override def command
          : org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command

      // the data files the operation scan chose to read — exactly the
      // GROUPS the write must replace (None until the scan is built) —
      // plus the snapshot version and pruning condition the scan saw, so
      // the publish can detect concurrent ADDS that the rewrite never
      // considered (write-skew guard in commitStagedReplace)
      @volatile private var readRels: Option[Set[String]] = None
      @volatile private var scanBaseV: Option[Int] = None
      @volatile private var scanPredC: Option[Column] = None
      private[v2] def replacedRels: Option[Set[String]] = readRels

      // The rewrite plans this scan as a genuine BatchScan (the V1Scan
      // special case does not apply to operation scans), so delegate to
      // Spark's own ParquetScan — vectorized and columnar — over the FILE
      // SUBSET the manifest says may hold matching rows. The pushed
      // condition is consumed ONLY for manifest file pruning and is
      // reported fully handled, never forwarded to the parquet reader: a
      // group scan must return EVERY row of each surviving file (carried
      // rows ride the rewrite untouched), so row-group-level filtering
      // would silently drop them.
      //
      // HIVE-PARTITIONED tables: the manifest file index parses the
      // `k=v` segments between data/ and each pruned leaf back into
      // partition columns (typed by the declared schema) — the same
      // reconstruction API reads get.
      //
      // COLUMN-MAPPED tables: files carry PHYSICAL column names, so the
      // parquet scan is built against the physical schema and then
      // wrapped in a Scan that re-labels readSchema() to LOGICAL names:
      // Spark matches the scan relation's attributes to the table's BY
      // NAME, while the rows themselves are consumed POSITIONALLY — a
      // rename changes neither position nor type, so re-naming the
      // schema is the entire translation.
      //
      // LIVE MOR TOMBSTONES: raw parquet cannot apply the mask, so the
      // scan is wrapped in [[MorMaskedScan]] — the sequence-aware
      // tombstone filter — and returns only surviving rows; the commit
      // carries the tombstone lines so unreplaced files stay masked.
      override def newScanBuilder(options: CaseInsensitiveStringMap)
          : ScanBuilder = {
        val t = TxLogV2Table.this.table
        new ScanBuilder with SupportsPushDownFilters {
          private var pushed: Array[Filter] = Array.empty
          override def pushFilters(fs: Array[Filter]): Array[Filter] = {
            pushed = fs
            Array.empty // fully handled: groups are pruned, rows are not
          }
          override def pushedFilters(): Array[Filter] = pushed
          override def build(): Scan = {
            // Live positional-delete masks: the group scan is raw
            // parquet and would resurrect masked rows into the rewrite.
            // Unlike the (bounded, key-shaped) MOR tombstone mask there
            // is no per-row key to check — masking needs file positions
            // the delegate reader does not expose — so the statement
            // asks for a compaction, which folds every mask away.
            require(t.latestVersion.forall(t.dvsOf(_).isEmpty),
              "SQL row-level DML on a table with live positional-delete " +
                "masks (deletion vectors): compact the table first")
            val pred = pushed.toSeq
              .flatMap(f => graft.sources.v2.TxLogV2Table.loosePredicate(f))
              .reduceOption(_ && _)
            val rels = pred match {
              case Some(p) => t.candidateFilesWhere(p).toSet
              case None => t.entries(None).map(_.rel).toSet
            }
            readRels = Some(rels)
            scanBaseV = t.latestVersion
            scanPredC = pred
            val cmap = t.latestVersion.map(t.colMapOf).getOrElse(Map.empty)
            val physFull = StructType(schema.fields.map(f =>
              f.copy(name = cmap.getOrElse(f.name, f.name))))
            val dataDir = java.nio.file.Paths.get(
              graft.sources.TxLogTable.pathOfRoot(root), "data").toString
            val index = org.apache.spark.sql.graft.ManifestFileIndex.of(
              spark, dataDir, rels.toSeq.sorted, physFull)
            // prune to EXACTLY the declared columns: identity layouts keep
            // their partition columns (they're in the schema); a bucketed
            // layout's hidden _bkt dir column is discovered by the index
            // but must NOT surface — the relation has no such attribute
            // (the staging write re-derives it)
            val innerBuilder = org.apache.spark.sql.execution.datasources
              .v2.parquet.ParquetScanBuilder(spark, index, physFull,
                physFull, CaseInsensitiveStringMap.empty())
            innerBuilder.pruneColumns(physFull)
            val inner = innerBuilder.build()
            // Live MOR tombstones: wrap with the sequence-aware mask so
            // only surviving rows ride the rewrite. Key columns are never
            // renamed while tombstones are live (deleteByKeysMor refuses
            // mapped keys), so physical = logical for exactly the columns
            // the mask reads — colmap on OTHER columns composes fine.
            val tombs = t.latestVersion.map(t.tombstonesOf).getOrElse(Nil)
            val morKeys = t.latestVersion.map(t.morKeysOf).getOrElse(Nil)
            val masked: Scan =
              if (tombs.isEmpty || morKeys.isEmpty) inner
              else {
                val rs = inner.readSchema()
                val keyOrds = morKeys.map(rs.fieldIndex).toArray
                val keyTypes = keyOrds.map(rs(_).dataType)
                // Array[Byte] has identity equality — a binary key would
                // make the map lookup silently miss, masking nothing
                require(!keyTypes.exists(
                  _ == org.apache.spark.sql.types.BinaryType),
                  "SQL row-level DML with binary MOR keys: compact first")
                val convs = keyTypes.map(org.apache.spark.sql.catalyst
                  .CatalystTypeConverters.createToCatalystConverter)
                // Bound the driver BEFORE materializing: ONE scan of every
                // tombstone file through limit(cap + 1), so at most cap+1
                // keys ever reach the driver, and a table with 100M live
                // tombstone keys gets the friendly "compact first"
                // refusal instead of the OOM the cap exists to prevent.
                val morCap = TxLogV2Table.maxMorMaskKeys(spark)
                val rows = t.tombstoneKeys(t.latestVersion.get,
                    StructType(morKeys.map(rs(_))))
                  .na.drop("any", morKeys).limit(morCap + 1).collect()
                require(rows.length <= morCap,
                  s"SQL row-level DML with more than $morCap live MOR " +
                    s"tombstone keys (cap $morCap): compact first")
                // the key map — provably under the cap, same order of
                // memory as the broadcast anti-join the API read path uses
                val pairs = rows.toSeq.map(r => (Seq.tabulate[Any](
                  morKeys.length)(i => convs(i)(r.get(i))),
                  r.getInt(morKeys.length)))
                new MorMaskedScan(spark, inner, index, dataDir,
                  t.addedVersions(None), keyOrds, keyTypes,
                  pairs.groupMapReduce(_._1)(_._2)(math.max))
              }
            if (cmap.isEmpty) masked
            else new Scan {
              private val logicalOf = cmap.map(_.swap)
              override def readSchema(): StructType = StructType(
                masked.readSchema().fields.map(f =>
                  f.copy(name = logicalOf.getOrElse(f.name, f.name))))
              override def toBatch = masked.toBatch
              override def description(): String = masked.description()
              override def columnarSupportMode() =
                masked.columnarSupportMode()
              override def supportedCustomMetrics() =
                masked.supportedCustomMetrics()
              override def reportDriverMetrics() =
                masked.reportDriverMetrics()
            }
          }
        }
      }
      // The write side must also be a genuine BatchWrite: delegate the
      // file writing to Spark's own parquet v2 writer aimed at a txlog
      // staging directory, then publish the staged files in
      // BatchWrite.commit as ONE atomic group-replacement version —
      // staged files plus every unread file carried by reference — with
      // stats and blooms harvested as for any commit.
      override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write =
            new org.apache.spark.sql.connector.write.Write {
              private val scratch = java.nio.file.Paths.get(
                graft.sources.TxLogTable.pathOfRoot(root), "data",
                "rowlevel-" + java.util.UUID.randomUUID() + ".staging")
              // Data files always carry PHYSICAL column names (the
              // table-wide column-mapping contract): the delegate writer
              // takes its parquet schema from LogicalWriteInfo, and rows
              // are positional, so presenting the physically-renamed
              // schema is the entire logical→physical translation.
              private val physInfo: LogicalWriteInfo = {
                val cmap = TxLogV2Table.this.table.latestVersion
                  .map(TxLogV2Table.this.table.colMapOf)
                  .getOrElse(Map.empty)
                if (cmap.isEmpty) winfo
                else new LogicalWriteInfo {
                  override def options() = winfo.options()
                  override def queryId() = winfo.queryId()
                  override def schema() = StructType(
                    winfo.schema().fields.map(f =>
                      f.copy(name = cmap.getOrElse(f.name, f.name))))
                  override def rowIdSchema() = winfo.rowIdSchema()
                  override def metadataSchema() = winfo.metadataSchema()
                }
              }
              private val delegate =
                org.apache.spark.sql.execution.datasources.v2.parquet
                  .ParquetWrite(Seq(scratch.toString), "parquet",
                    (_: org.apache.spark.sql.types.DataType) => true,
                    physInfo)
              override def toBatch
                  : org.apache.spark.sql.connector.write.BatchWrite =
                new org.apache.spark.sql.connector.write.BatchWrite {
                  private val inner = delegate.toBatch
                  // Spark's group-based rewrite prepends a
                  // `__row_operation` marker to every row and, when the
                  // operation declares no metadata columns, hands the
                  // UNPROJECTED row to the writer (the projecting task
                  // only engages with a metadata projection) — so the
                  // factory wraps each writer with the data projection
                  // the marker layout implies. Rows already matching the
                  // write schema pass through untouched.
                  override def createBatchWriterFactory(
                      pinfo: org.apache.spark.sql.connector.write
                        .PhysicalWriteInfo) = {
                    val f = inner.createBatchWriterFactory(pinfo)
                    val n = physInfo.schema().length
                    val writeSchema = physInfo.schema()
                    new org.apache.spark.sql.connector.write.DataWriterFactory {
                      override def createWriter(partitionId: Int,
                          taskId: Long) = {
                        val w = f.createWriter(partitionId, taskId)
                        new org.apache.spark.sql.connector.write.DataWriter[
                            org.apache.spark.sql.catalyst.InternalRow] {
                          private val proj =
                            org.apache.spark.sql.catalyst.ProjectingInternalRow(
                              writeSchema, (1 to n).toIndexedSeq)
                          override def write(
                              r: org.apache.spark.sql.catalyst.InternalRow)
                              : Unit =
                            if (r.numFields == n) w.write(r)
                            else {
                              // the only layout the projection is sound
                              // for is [marker, data...]; anything else
                              // would silently shift column values
                              require(r.numFields == n + 1,
                                s"row-level write expected $n data fields" +
                                  s" (+1 marker), got ${r.numFields}")
                              proj.project(r); w.write(proj)
                            }
                          override def commit() = w.commit()
                          override def abort() = w.abort()
                          override def close() = w.close()
                        }
                      }
                    }
                  }
                  override def commit(
                      messages: Array[org.apache.spark.sql.connector.write
                        .WriterCommitMessage]): Unit = {
                    inner.commit(messages)
                    // replace exactly the groups the scan read; files the
                    // manifest pruning skipped are carried by reference —
                    // file-targeted SQL UPDATE/MERGE, like the API paths
                    val t = TxLogV2Table.this.table
                    val opName = "row-level-" + info.command.toString
                      .toLowerCase(java.util.Locale.ROOT)
                    val partCols = t.latestVersion.map(t.partitionColsOf)
                      .getOrElse(Nil)
                    if (partCols.isEmpty)
                      t.commitStagedReplace(scratch, replacedRels,
                        op = opName,
                        scanBase = scanBaseV, scanPred = scanPredC)
                    else {
                      // HIVE-PARTITIONED table: the delegate staged FLAT
                      // files (partition values still inline as data
                      // columns, physical names). Read them back, relabel
                      // to logical, and re-stage through the partition-
                      // aware commit — one extra pass over the REPLACED
                      // subset only; the untouched bulk is carried by
                      // manifest reference, never read.
                      try {
                        t.commitReplacingDf(TxLogV2Table.readStaged(spark,
                            scratch, physInfo.schema(), winfo.schema()),
                          replacedRels,
                          op = opName,
                          scanBase = scanBaseV, scanPred = scanPredC)
                      } finally TxLogV2Table.dropDir(scratch)
                    }
                  }
                  override def abort(
                      messages: Array[org.apache.spark.sql.connector.write
                        .WriterCommitMessage]): Unit = {
                    inner.abort(messages)
                    // delete the scratch dir outright: vacuum deliberately
                    // PROTECTS .staging paths (in-flight writers), so an
                    // aborted write must clean up after itself or leak
                    TxLogV2Table.dropDir(scratch)
                  }
                  override def useCommitCoordinator: Boolean =
                    inner.useCommitCoordinator
                }
            }
        }
    }

  def table: TxLogTable = TxLogTable(spark, root)

  override def name(): String = ident

  override lazy val schema: StructType =
    asOfVersion.flatMap(table.schemaOf)
      .orElse(table.tableSchema)
      .getOrElse(
        TxLogRelation(spark.sqlContext, root, asOfVersion, None).schema)

  // declared within-file sort order of the version being read
  private[v2] def sortCols: Seq[String] =
    asOfVersion.orElse(table.latestVersion)
      .map(table.sortColsOf).getOrElse(Nil)

  // bucket levels of the version being read (empty = not bucketed),
  // keyed by their hidden partition column name
  private[v2] def bucketSpecs: Map[String, (String, Int)] =
    asOfVersion.orElse(table.latestVersion)
      .map(table.bucketSpecsOf).getOrElse(Nil).zipWithIndex
      .map { case (kn, i) =>
        graft.sources.TxLogTable.bucketColAt(i) -> kn }.toMap

  // hidden time levels of the version being read, keyed by their hidden
  // partition column name → (source column, unit)
  private[v2] def timeSpecs: Map[String, (String, String)] =
    asOfVersion.orElse(table.latestVersion)
      .map(table.timeSpecsOf).getOrElse(Nil).zipWithIndex
      .map { case (ku, i) =>
        graft.sources.TxLogTable.timeColAt(i) -> ku }.toMap

  private[v2] def timeTransform(src: String, unit: String): Transform =
    unit match {
      case "year" => Expressions.years(src)
      case "month" => Expressions.months(src)
      case "day" => Expressions.days(src)
      case "hour" => Expressions.hours(src)
    }

  override def partitioning(): Array[Transform] = {
    val cols = asOfVersion.orElse(table.latestVersion)
      .map(table.partitionColsOf).getOrElse(Nil)
    val specs = bucketSpecs
    val times = timeSpecs
    cols.map { c =>
      (specs.get(c), times.get(c)) match {
        case (Some((k, n)), _) => Expressions.bucket(n, k): Transform
        case (_, Some((src, u))) => timeTransform(src, u)
        case _ => Expressions.identity(c): Transform
      }
    }.toArray
  }

  /** Spark refuses a table that declares V1_BATCH_WRITE and hands back a
    * non-V1 Write (and vice versa), so the capability must agree with
    * what [[TxLogWriteBuilder.build]] will choose: native DSv2 batch
    * write for unpartitioned tables, the V1 `partitionBy` staging pass
    * for hive-partitioned ones.
    */
  override def capabilities(): util.Set[TableCapability] = {
    // optimizeWrite tables declare the V1 capability even unpartitioned:
    // build() routes them to the V1 staging write (the rebalance owner),
    // and Spark picks the V1 exec only for tables that declare it
    val partitioned = asOfVersion.orElse(table.latestVersion)
      .exists(v => table.partitionColsOf(v).nonEmpty ||
        table.optimizeWriteOf(v))
    if (partitioned)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER)
    else
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER)
  }

  /** Storage-partitioned-join eligibility: hive-partitioned, no live MOR
    * tombstones (raw parquet cannot apply the mask), no column mapping
    * (the SPJ scan reads physical = logical), and the SPJ conf ON. Under
    * exactly this condition [[TxLogReadRule]] leaves the relation alone
    * and [[TxLogScanBuilder.build]] returns a [[TxLogSpjScan]] that
    * reports [[org.apache.spark.sql.connector.read.partitioning
    * .KeyGroupedPartitioning]] — a join of two tables partitioned on the
    * same key then plans with zero shuffle exchanges. In every other
    * state the splice to the native parquet plan wins (it handles masks
    * and relabels, but cannot report partitioning).
    */
  private[v2] def spjEligible: Boolean =
    spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED) && {
      val v = asOfVersion.orElse(table.latestVersion)
      // timeUnitsMixed: after a spec evolution (days→hours) and before
      // the converging compaction, the SPJ report would key-group
      // same-instant rows under different dir values — decline; the
      // splice path (with per-file-unit pruning) serves instead
      v.exists(ver => table.partitionColsOf(ver).nonEmpty &&
        table.tombstonesOf(ver).isEmpty && table.dvsOf(ver).isEmpty &&
        table.colMapOf(ver).isEmpty && !table.timeUnitsMixed(ver))
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new TxLogScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TxLogWriteBuilder(this, info)
}

object TxLogV2Table {
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.sources._

  /** Cap on live MOR tombstone keys the row-level-DML mask collects to
    * the driver (≈ tens of MB at the cap — the broadcast anti-join of
    * the API read path holds the same set). Beyond it the statement asks
    * for a compaction, which folds the tombstones away entirely. The
    * cap is enforced by an executor-side count BEFORE any driver
    * materialization, so the refusal itself never risks the OOM it
    * guards against. Conf-overridable for ops tuning (and so the spec
    * can exercise the refusal without 4M real keys).
    */
  val MaxMorMaskKeys: Int = 4 << 20

  def maxMorMaskKeys(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.sql.maxMorMaskKeys")
      .map(_.toInt).getOrElse(MaxMorMaskKeys)

  // an external writer's files under `scratch`, read back under their
  // physical schema `phys` and relabeled to the `logical` schema's names
  private[v2] def readStaged(spark: SparkSession, scratch: java.nio.file.Path,
                             phys: StructType, logical: StructType)
      : DataFrame =
    spark.read.schema(phys).parquet(scratch.toString).select(
      phys.fieldNames.toIndexedSeq.zip(logical.fieldNames).map { case (p, l) =>
        org.apache.spark.sql.functions.col("`" + p.replace("`", "``") + "`")
          .as(l)
      }: _*)

  // best-effort recursive delete of a staging scratch dir (abort/cleanup)
  private[v2] def dropDir(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.isDirectory(dir))
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .foreach(p =>
            scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
      }

  /** CONSERVATIVE Filter → Column translation for GROUP pruning: a
    * partially translated conjunction prunes fewer files, never wrong
    * rows (the full condition logic lives inside the rewritten query).
    */
  // A legal column name containing a dot would parse as struct access
  // through col(name); quote it so the translated predicate resolves the
  // literal column (backticks doubled per the quoting grammar).
  private def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private[sources] def loosePredicate(f: Filter): Option[Column] = f match {
    case And(l, r) =>
      (loosePredicate(l), loosePredicate(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b) // one conjunct still prunes soundly
      }
    case other => exactPredicate(other)
  }

  /** EXACT source-Filter → Column translation for DELETE FROM: every
    * shape must translate or the statement is refused — a partial
    * translation here would delete the wrong rows (contrast with scan
    * pruning, where partial is sound because rows are re-filtered).
    */
  private[v2] def exactPredicate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(qcol(a) === lit(v))
    case EqualNullSafe(a, v) => Some(qcol(a) <=> lit(v))
    case GreaterThan(a, v) => Some(qcol(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(qcol(a) >= lit(v))
    case LessThan(a, v) => Some(qcol(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(qcol(a) <= lit(v))
    case In(a, vs) if vs.nonEmpty => Some(qcol(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(qcol(a).isNull)
    case IsNotNull(a) => Some(qcol(a).isNotNull)
    case StringStartsWith(a, v) => Some(qcol(a).startsWith(v))
    case StringEndsWith(a, v) => Some(qcol(a).endsWith(v))
    case StringContains(a, v) => Some(qcol(a).contains(v))
    case And(l, r) =>
      for (a <- exactPredicate(l); b <- exactPredicate(r)) yield a && b
    case Or(l, r) =>
      for (a <- exactPredicate(l); b <- exactPredicate(r)) yield a || b
    case Not(c) => exactPredicate(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** Fallback scan (sessions without the extension rule): pushes projection
  * and filters into manifest pruning via the same translation as the V1
  * connector, then surfaces rows through [[V1Scan]]. Pays the V1 row
  * conversion — the extension path exists precisely to avoid it.
  */
final class TxLogScanBuilder(tbl: TxLogV2Table) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = tbl.schema
  private var filters: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all filters re-applied by Spark: pruning only ever skips files
  }

  override def pushedFilters(): Array[Filter] = filters

  /** SPJ-eligible reads get the key-grouped parquet batch scan (the
    * read-rule splice is skipped under the same condition); everything
    * else keeps the V1 fallback, which the splice replaces anyway.
    */
  override def build(): Scan =
    if (tbl.spjEligible)
      new TxLogSpjScan(tbl.spark, tbl, required, filters)
    else v1Fallback

  private def v1Fallback: Scan = new V1Scan {
    override def readSchema(): StructType = required

    override def toV1TableScan[T <: BaseRelation with TableScan](
        ctx: SQLContext): T = {
      val rel = TxLogRelation(ctx, tbl.root, tbl.asOfVersion, Some(tbl.schema))
      val req = required
      val fs = filters
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = req
        override def buildScan(): RDD[Row] =
          rel.buildScan(req.fieldNames, fs)
      }.asInstanceOf[T]
    }
  }
}

/** INSERT INTO / INSERT OVERWRITE via the commit protocol: append commit,
  * or overwrite commit when Spark requests truncation. The write side
  * reuses the V1 DataFrame path ([[V1Write]]) — writes stage through
  * `df.write.parquet` either way, so there is no codegen tax to avoid.
  */
final class TxLogWriteBuilder(tbl: TxLogV2Table, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var overwrite = false
  // predicate-scoped overwrite (`INSERT OVERWRITE t PARTITION (p=3)`,
  // `df.writeTo(t).overwrite(cond)`): routed to [[TxLogTable.replaceWhere]]
  private var replacePred: Option[Column] = None

  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** Static partition overwrite / overwrite-by-condition. Every filter
    * must translate EXACTLY — a partially-translated condition would
    * replace the wrong rows (same contract as SQL DELETE) — and
    * `replaceWhere` additionally validates that every incoming row
    * satisfies the condition, so a bad static INSERT OVERWRITE fails
    * loudly instead of leaking rows into foreign partitions.
    */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    import org.apache.spark.sql.sources.AlwaysTrue
    if (filters.isEmpty || filters.forall(_ == AlwaysTrue())) {
      overwrite = true
    } else {
      val preds = filters.toSeq.map(f =>
        TxLogV2Table.exactPredicate(f).getOrElse(
          throw new UnsupportedOperationException(
            s"txlog: cannot overwrite by filter $f (untranslatable)")))
      replacePred = Some(preds.reduce(_ && _))
    }
    this
  }

  /** UNPARTITIONED tables write NATIVELY: Spark's own vectorized parquet
    * v2 writer stages `InternalRow`s straight to a txlog staging dir —
    * no InternalRow→Row conversion anywhere on the write side — and the
    * staged files publish through the usual commit (stats + bloom
    * harvest, CHECK re-validation, optimistic manifest race). Append is
    * the degenerate group-replacement: replace nothing, carry everything.
    *
    * HIVE-PARTITIONED tables keep the V1 `InsertableRelation` route: its
    * single `partitionBy` staging pass writes the hive layout directly,
    * which beats a native flat write followed by a partition-aware
    * re-stage (two passes over the batch) — the row conversion is the
    * cheaper tax there until the writer routes partitions itself.
    */
  override def build(): Write = {
    val layout = tbl.table.latestVersion
      .map(tbl.table.partitionColsOf).getOrElse(Nil)
    // optimizeWrite tables take the V1 staging route even unpartitioned:
    // right-sizing needs to OWN a shuffle (stage()'s REBALANCE hint),
    // which a DSv2 Write cannot inject for a keyless rebalance —
    // RequiresDistributionAndOrdering only shuffles for a non-empty
    // clustering (DistributionAndOrderingUtils skips empty
    // distributions), so the native path would write the incoming
    // partitioning as-is, tiny files included. The row-conversion tax
    // is the price of target-sized files; tables that keep the native
    // zero-conversion write simply leave optimizeWrite off.
    val ow = tbl.table.latestVersion.exists(tbl.table.optimizeWriteOf)
    if (layout.nonEmpty || ow) v1Write else nativeWrite
  }

  private def v1Write: Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      (data: DataFrame, ovr: Boolean) => {
        val t = tbl.table
        val layout =
          t.latestVersion.map(t.partitionColsOf).getOrElse(Nil)
        replacePred match {
          case Some(pred) => t.replaceWhere(tbl.schema, pred, data)
          case None => t.commit(data, overwrite = overwrite || ovr,
            partitionCols = layout)
        }
      }
  }

  private def nativeWrite: Write = new Write {
    private val scratch = java.nio.file.Paths.get(
      graft.sources.TxLogTable.pathOfRoot(tbl.root), "data",
      "insert-" + java.util.UUID.randomUUID() + ".staging")
    // data files carry PHYSICAL column names; rows are positional, so
    // re-naming the writer's schema is the whole translation (same
    // contract as the row-level write path)
    private val physInfo: LogicalWriteInfo = {
      val cmap = tbl.table.latestVersion
        .map(tbl.table.colMapOf).getOrElse(Map.empty)
      if (cmap.isEmpty) info
      else new LogicalWriteInfo {
        override def options() = info.options()
        override def queryId() = info.queryId()
        override def schema() = StructType(info.schema().fields.map(f =>
          f.copy(name = cmap.getOrElse(f.name, f.name))))
        override def rowIdSchema() = info.rowIdSchema()
        override def metadataSchema() = info.metadataSchema()
      }
    }
    private val delegate =
      org.apache.spark.sql.execution.datasources.v2.parquet
        .ParquetWrite(Seq(scratch.toString), "parquet",
          (_: org.apache.spark.sql.types.DataType) => true, physInfo)

    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
      new org.apache.spark.sql.connector.write.BatchWrite {
        private val inner = delegate.toBatch
        override def createBatchWriterFactory(
            pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo) =
          inner.createBatchWriterFactory(pinfo)
        override def commit(
            messages: Array[org.apache.spark.sql.connector.write
              .WriterCommitMessage]): Unit = {
          inner.commit(messages)
          replacePred match {
            case Some(pred) =>
              // predicate-scoped overwrite: re-read the staged batch
              // (batch-sized, not table-sized) and route through
              // replaceWhere's validated predicate-scoped commit
              try tbl.table.replaceWhere(tbl.schema, pred,
                TxLogV2Table.readStaged(SparkSession.active, scratch,
                  physInfo.schema(), info.schema()))
              finally TxLogV2Table.dropDir(scratch)
            case None =>
              tbl.table.commitStagedReplace(scratch,
                replaced = if (overwrite) None else Some(Set.empty),
                op = if (overwrite) "overwrite" else "append")
          }
        }
        override def abort(
            messages: Array[org.apache.spark.sql.connector.write
              .WriterCommitMessage]): Unit = {
          inner.abort(messages)
          // vacuum deliberately protects .staging paths, so an aborted
          // write must delete its own scratch dir or leak it
          TxLogV2Table.dropDir(scratch)
        }
        override def useCommitCoordinator: Boolean =
          inner.useCommitCoordinator
      }
  }
}
