package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.MaterializedView
import graft.sources.TxLogTable

/** `dml_refresh`: a commit train on a `lineitem` TxLogTable larger than the
  * local-snapshot memo, with an aggregate MV and a star MV over `part` (a
  * dimension that fits the local-dim cap), then the serving reads on the
  * table the commits just changed. Each cycle appends new orders, merges
  * re-drawn measures into a block of live orders, deletes another live
  * block, updates `part`, refreshes both views, reads one orderkey range
  * through `snapshotWhere`, and sends four queries through the `graftcat`
  * catalog: a point lookup, a range aggregate, a `lineitem ⋈ orders` join
  * under a seeded date filter and an ANN search. Every cycle has the same
  * ops, so the cycle time does not depend on how many cycles fit in a run.
  *
  * Merges and deletes only touch orders above [[StableOrders]], drawn from
  * the benchmark's own model of the table so each hits live rows; the
  * queries only ask about orders up to it, so their answers can be checked
  * against the raw generated inputs. */
final class DmlRefresh(run: Run) extends Workload with AdaptiveSparkPlanHelper {
  val BaseOrders = 150000L            // 600k lineitem rows > the memo
  val MemoRows = 1L << 19             // TxLogTable's local-snapshot memo cap
  val StableOrders = 75000L           // orders no merge or delete touches
  val BlockOrders = 500L              // a delete block: 2,000 rows
  val MergeOrders = 250L              // a merge batch: 1,000 rows
  val AppendOrders = 500L             // an append batch: 2,000 rows
  val DimUpdateParts = 200L
  val RangeOrders = 2000L
  val JoinDays = 30
  val Vectors = 10000L
  val Dim = 32
  val Cells = 16
  val LoadFiles = 64
  val Checked = 3                     // queries per type re-run over raw inputs

  private val spark = run.spark
  private val seed = run.seed
  private val wh = run.dir.resolve("warehouse")
  private val Cat = "graftcat.bench"
  private val li = TxLogTable(spark, wh.resolve("bench/lineitem").toString)
  private val part = TxLogTable(spark, wh.resolve("bench/part").toString)
  private val aggMv = wh.resolve("mv/mv_flags").toString
  private val starMv = wh.resolve("mv/mv_brand").toString
  private var liSchema: StructType = _
  private var partSchema: StructType = _

  private val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
  private val deleted = mutable.Set.empty[Long]          // deleted block ids
  private var nextOrder = BaseOrders + 1
  private var round = 0
  // the table's history as plain batches, replayed by the check
  private sealed trait Step
  private final case class Append(first: Long, salt: Int) extends Step
  private final case class Merge(first: Long, salt: Int) extends Step
  private final case class Delete(lo: Long, hi: Long) extends Step
  private final case class DimUpdate(first: Long, salt: Int) extends Step
  private val steps = mutable.ArrayBuffer.empty[Step]
  private val mergeStats = mutable.ArrayBuffer.empty[TxLogTable.MergeStats]
  private val deleteStats = mutable.ArrayBuffer.empty[TxLogTable.MergeStats]
  private val refreshes = mutable.ArrayBuffer.empty[MaterializedView.RefreshStats]
  // executed queries, re-checked over the raw generated inputs afterwards
  private val asked = mutable.ArrayBuffer.empty[(String, Long, Array[Row])]
  private val annTop = mutable.ArrayBuffer.empty[(Long, Long)]
  private val plans = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val fileFracs = mutable.ArrayBuffer.empty[Double]
  private var inputBytes = 0L
  private var whBytes0 = 0L

  private def inputs: Seq[(String, DataFrame)] = Seq(
    "lineitem" -> Gen.lineitem(spark, seed, 1, BaseOrders, slices = LoadFiles),
    "part" -> Gen.part(spark, seed, 1, Gen.Parts),
    "orders" -> Gen.orders(spark, seed, StableOrders, slices = LoadFiles / 2),
    "embeddings" -> Gen.embeddings(spark, seed, Vectors, Dim, Cells, slices = 4))

  def setup(): Seq[(String, Any)] = {
    inputs.foreach { case (t, df) => df.createOrReplaceTempView(s"gen_$t") }
    liSchema = spark.table("gen_lineitem").schema
    partSchema = spark.table("gen_part").schema
    Seq("lineitem_rows" -> BaseOrders * Gen.LinesPerOrder,
      "lineitem_files" -> LoadFiles, "part_rows" -> Gen.Parts,
      "orders_rows" -> StableOrders, "embeddings_rows" -> Vectors,
      "embedding_dim" -> Dim, "ann_cells" -> Cells,
      "lineitem_bytes" -> BaseOrders * Gen.LinesPerOrder * Gen.LineitemRowBytes,
      "part_bytes" -> Gen.Parts * Gen.PartRowBytes,
      "local_snapshot_memo_rows" -> MemoRows,
      "lineitem_exceeds_memo" -> (BaseOrders * Gen.LinesPerOrder > MemoRows),
      "part_fits_local_dim_cap" -> (Gen.Parts <= TxLogTable.MaxLocalDimRows),
      "orders_fits_local_dim_cap" -> (StableOrders <= TxLogTable.MaxLocalDimRows),
      "append_rows" -> AppendOrders * Gen.LinesPerOrder,
      "merge_rows" -> MergeOrders * Gen.LinesPerOrder,
      "delete_rows" -> BlockOrders * Gen.LinesPerOrder,
      "dim_update_rows" -> DimUpdateParts)
  }

  def load(): Unit = run.call("load") {
    // the generator emits rows in key order, one slice per file: tables
    // clustered on their key in modest files, so a merge or delete block
    // touches one or two of them
    li.create(liSchema)
    li.commit(spark.table("gen_lineitem"), overwrite = false)
    part.create(partSchema)
    part.commit(spark.table("gen_part"), overwrite = false)
    MaterializedView.create(spark, aggMv, "mv_flags", li, liSchema,
      Seq("l_returnflag", "l_linestatus"),
      Seq("sum_qty" -> "l_quantity", "sum_price" -> "l_extendedprice"))
    MaterializedView.createJoined(spark, starMv, "mv_brand", li, liSchema,
      part, partSchema, Seq("l_partkey" -> "p_partkey"),
      Seq("p_brand"), Seq("sum_qty" -> "l_quantity"))
    spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.TxLogCatalog")
    spark.conf.set("spark.sql.catalog.graftcat.warehouse", wh.toString)
    Seq("orders", "embeddings").foreach(t =>
      spark.sql(s"CREATE TABLE $Cat.$t USING txlog AS SELECT * FROM gen_$t"))
    spark.sql(s"CALL graftcat.system.ann_build('bench.embeddings', " +
      s"'bench.emb_idx', $Cells, 2, false)").collect()
  }

  /** A live block above the stable orders (not yet deleted), uniformly
    * drawn. */
  private def liveBlock(): Long = {
    val (lo, hi) = (StableOrders / BlockOrders, BaseOrders / BlockOrders)
    var b = lo + rnd.nextLong(hi - lo)
    while (deleted.contains(b)) b = lo + rnd.nextLong(hi - lo)
    b
  }

  private def append(): Unit = {
    val first = nextOrder
    nextOrder += AppendOrders
    run.call("append")(li.commit(
      Gen.lineitem(spark, seed, first, AppendOrders, salt = 100), overwrite = false))
    steps += Append(first, 100)
    inputBytes += AppendOrders * Gen.LinesPerOrder * Gen.LineitemRowBytes
  }

  private def merge(): Unit = {
    val first = liveBlock() * BlockOrders + 1 + rnd.nextLong(BlockOrders - MergeOrders)
    val salt = 1000 + round
    run.call("merge")(li.merge(liSchema,
      Gen.lineitem(spark, seed, first, MergeOrders, salt = salt),
      Seq("l_orderkey", "l_linenumber"))).foreach(mergeStats += _)
    steps += Merge(first, salt)
    inputBytes += MergeOrders * Gen.LinesPerOrder * Gen.LineitemRowBytes
  }

  private def delete(): Unit = {
    val b = liveBlock()
    deleted += b
    val (lo, hi) = (b * BlockOrders + 1, (b + 1) * BlockOrders + 1)
    run.call("delete")(li.deleteWhere(liSchema,
      col("l_orderkey") >= lo && col("l_orderkey") < hi))
      .foreach(deleteStats += _)
    steps += Delete(lo, hi)
  }

  private def dimUpdate(): Unit = {
    val first = 1 + rnd.nextLong(Gen.Parts - DimUpdateParts)
    val salt = 10 * (round + 1)
    run.call("dim_update")(part.merge(partSchema,
      Gen.part(spark, seed, first, DimUpdateParts, salt = salt), Seq("p_partkey")))
    steps += DimUpdate(first, salt)
    inputBytes += DimUpdateParts * Gen.PartRowBytes
  }

  private def refresh(mv: String): Unit =
    run.call("refresh")(MaterializedView.refresh(spark, mv))
      .foreach(refreshes += _)

  private def scan(): Unit = {
    val lo = 1 + rnd.nextLong(BaseOrders - RangeOrders)
    run.call("scan")(li.snapshotWhere(liSchema,
        col("l_orderkey").between(lo, lo + RangeOrders))
      .agg(count(lit(1)), sum("l_quantity")).collect())
  }

  private def pointSql(t: String, k: Long) =
    s"SELECT * FROM $t WHERE l_orderkey = $k"
  private def rangeSql(t: String, lo: Long) =
    s"SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      s"CAST(sum(l_quantity) AS DECIMAL(18,2)) AS qty FROM $t " +
      s"WHERE l_orderkey BETWEEN $lo AND ${lo + RangeOrders} " +
      "GROUP BY l_returnflag, l_linestatus"
  private def joinSql(li: String, o: String, day: Int) =
    s"SELECT o_orderpriority, count(*) AS n, " +
      s"CAST(sum(l_extendedprice) AS DECIMAL(18,2)) AS rev FROM $li " +
      s"JOIN $o ON l_orderkey = o_orderkey " +
      s"WHERE o_orderdate >= timestamp_seconds(${day.toLong * 86400}) " +
      s"AND o_orderdate < timestamp_seconds(${(day + JoinDays).toLong * 86400}) " +
      "GROUP BY o_orderpriority"

  /** One catalog query; when tracing, time its planning and count the
    * files its scans read. */
  private def query(op: String, param: Long, sql: String): Unit =
    run.call(op) {
      val df = spark.sql(sql)
      if (run.trace.isDefined && run.timing) {
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan
        plans.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - t0) / 1e6
      }
      val rows = df.collect()
      if (run.trace.isDefined && run.timing && op == "range")
        fileFracs += collect(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum.toDouble / li.fileCount()
      rows
    }.foreach(rows => asked += ((op, param, rows)))

  private def reads(): Unit = {
    val k = 1 + rnd.nextLong(StableOrders)
    query("point", k, pointSql(s"$Cat.lineitem", k))
    val lo = 1 + rnd.nextLong(StableOrders - RangeOrders)
    query("range", lo, rangeSql(s"$Cat.lineitem", lo))
    val day = Gen.ShipEpochDay + rnd.nextInt(Gen.ShipDays - JoinDays)
    query("join", day, joinSql(s"$Cat.lineitem", s"$Cat.orders", day))
    val q = rnd.nextLong(Vectors)
    run.call("ann")(spark.sql(
      s"CALL graftcat.system.ann_search('bench.emb_idx', $q, 10)").collect())
      .foreach(r => annTop += (q -> r.headOption.map(_.getLong(0)).getOrElse(-1L)))
  }

  /** One call of each op type; the star view's refresh takes both the
    * fact and the dimension path. */
  def warm(): Unit = {
    append(); merge(); delete(); dimUpdate(); refresh(starMv); scan(); reads()
    mergeStats.clear(); deleteStats.clear(); refreshes.clear()
    inputBytes = 0L
    whBytes0 = Layers.bytesUnder(wh)
  }

  def cycle(): Unit = {
    round += 1
    append(); merge(); delete(); dimUpdate()
    refresh(aggMv); refresh(starMv)
    scan(); reads()
  }

  /** The lineitem table as plain DataFrame operations over the batches. */
  private def replay(): DataFrame = {
    val keys = Seq("l_orderkey", "l_linenumber")
    steps.foldLeft(Gen.lineitem(spark, seed, 1, BaseOrders)) {
      case (df, Append(first, salt)) =>
        df.unionByName(Gen.lineitem(spark, seed, first, AppendOrders, salt))
      case (df, Merge(first, salt)) =>
        val b = Gen.lineitem(spark, seed, first, MergeOrders, salt)
        df.join(b.select(keys.map(col): _*), keys, "left_anti").unionByName(b)
      case (df, Delete(lo, hi)) =>
        df.filter(!(col("l_orderkey") >= lo && col("l_orderkey") < hi))
      case (df, DimUpdate(_, _)) => df
    }
  }

  private def partReplay(): DataFrame =
    steps.foldLeft(Gen.part(spark, seed, 1, Gen.Parts)) {
      case (df, DimUpdate(first, salt)) =>
        val b = Gen.part(spark, seed, first, DimUpdateParts, salt)
        df.join(b.select("p_partkey"), Seq("p_partkey"), "left_anti").unionByName(b)
      case (df, _) => df
    }

  /** Row count and an order-free content fingerprint: the sum of every
    * row's 64-bit hash (two scans, no shuffle). */
  private def fingerprint(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def diff(what: String, got: DataFrame, want: DataFrame): Option[String] = {
    val (gn, gh) = fingerprint(got, want.columns.toSeq)
    val (wn, wh) = fingerprint(want, want.columns.toSeq)
    if (gn == wn && gh == wh) None
    else Some(s"dml_refresh $what: $gn rows (fingerprint $gh), expected $wn ($wh)")
  }

  private def viewDiff(mvRoot: String, src: DataFrame): Option[String] = {
    val d = MaterializedView.definition(spark, mvRoot)
    val aggs = d.sums.map { case (out, c) =>
      sum(col(c).cast(MaterializedView.SumType)).as(out) } :+
      count(lit(1)).as(MaterializedView.CountCol)
    val want = src.groupBy(d.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    diff(s"view ${d.name}",
      TxLogTable(spark, mvRoot).snapshot(d.mvSchema), want)
  }

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** The first queries of each type against the same SQL over the raw
    * generated inputs (the stable orders never change), and every ANN
    * search's first hit against its query vector. */
  private def readMismatches(): Seq[String] = {
    val rawLineitem = Gen.lineitem(spark, seed, 1, StableOrders).cache()
    rawLineitem.createOrReplaceTempView("raw_lineitem")
    spark.table("gen_orders").createOrReplaceTempView("raw_orders")
    val checked = asked.groupBy(_._1).toSeq.flatMap(_._2.take(Checked))
    try checked.flatMap { case (op, p, got) =>
      val want = spark.sql(op match {
        case "point" => pointSql("raw_lineitem", p)
        case "range" => rangeSql("raw_lineitem", p)
        case "join" => joinSql("raw_lineitem", "raw_orders", p.toInt)
      }).collect()
      if (canon(got) == canon(want)) None
      else Some(s"dml_refresh $op($p): ${got.length} rows differ from the " +
        s"raw inputs' ${want.length}")
    } ++ annTop.collect { case (q, top) if top != q =>
      s"dml_refresh ann($q): first hit $top, not the query itself" }
    finally rawLineitem.unpersist()
  }

  def check(): Seq[String] = readMismatches() ++ {
    val liNow = li.snapshot(liSchema).cache()
    val partNow = part.snapshot(partSchema)
    try Seq(
      diff("lineitem vs replay", liNow, replay()),
      diff("part vs replay", partNow, partReplay()),
      viewDiff(aggMv, liNow),
      viewDiff(starMv, liNow.join(partNow, col("l_partkey") === col("p_partkey"))))
      .flatten
    finally liNow.unpersist()
  }

  def layers(tr: Trace): Map[String, Double] = {
    def frac(ss: Seq[TxLogTable.MergeStats]) = {
      val rw = ss.map(_.rewritten).sum.toDouble
      rw / math.max(1.0, rw + ss.map(_.carried).sum)
    }
    val incr = refreshes.filter(_.mode == "incremental")
    Map(
      "merge.rewrite_frac" -> frac(mergeStats.toSeq),
      "delete.rewrite_frac" -> frac(deleteStats.toSeq),
      "table.files" -> li.fileCount().toDouble,
      "table.log_bytes" -> Layers.bytesUnder(wh.resolve("bench/lineitem/_log")).toDouble,
      "table.write_amp" ->
        (Layers.bytesUnder(wh) - whBytes0).toDouble / math.max(1L, inputBytes),
      "refresh.incremental_frac" ->
        incr.size.toDouble / math.max(1, refreshes.size),
      "refresh.groups_changed" -> Layers.mean(incr.map(_.groupsChanged.toDouble).toSeq),
      "point.plan_ms" -> Layers.mean(plans.getOrElse("point", Nil).toSeq),
      "range.plan_ms" -> Layers.mean(plans.getOrElse("range", Nil).toSeq),
      "join.plan_ms" -> Layers.mean(plans.getOrElse("join", Nil).toSeq),
      "range.files_read_frac" -> Layers.mean(fileFracs.toSeq),
      "ann.plan_ms" -> Layers.mean(tr.timedSpans("ann").flatMap(_.firstJobMs)
        .map(_.toDouble)))
  }
}
