package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.ScheduleFlatten
import graft.operators.Upsert
import graft.sources.Tables

/** Driver-visible oracle queries for the ETL-only operators that round 1
  * covered only by golden tests: U2–U4/U6 insert-only-column upserts, A7
  * count write-back, and the E3/E4 schedule flatten with the F4 heterogeneous
  * element rule (`/root/reference/iis_etl/logic.py:23-50,90-121,256-267,
  * 317-385`).
  *
  * The flatten queries synthesize deterministic schedule JSON from `customer`
  * columns and run the REAL `ScheduleFlatten.flatten` machinery over it
  * (parse_json → Variant map/array explodes → per-field try_variant_get);
  * the DuckDB oracle computes the expected output directly from the source
  * columns — independent arithmetic, so the whole JSON path is hash-checked,
  * not round-tripped.
  */
object EtlQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private def istr(c: Column): Column = c.cast(StringType)

  /** Serialize an array column for the driver's scalar-only comparer. */
  private def joined(c: Column): Column =
    array_join(transform(c, _.cast(StringType)), "|")

  /** Register the `graftcat` txlog catalog once per session and return its
    * warehouse path. Catalog instances are cached by name at first use, so
    * the warehouse conf is only set when absent — every query (and every
    * bench re-run) then agrees on the one directory the cached instance
    * captured, and `DROP TABLE IF EXISTS` keeps re-runs idempotent.
    */
  private[queries] def ensureCatalog(s: SparkSession): String = {
    val key = "spark.sql.catalog.graftcat.warehouse"
    if (s.conf.getOption(key).isEmpty) {
      s.conf.set("spark.sql.catalog.graftcat",
        "graft.sources.v2.TxLogCatalog")
      s.conf.set(key,
        java.nio.file.Files.createTempDirectory("graftcat-wh").toString)
    }
    s.conf.get(key)
  }

  // E3 search vector input: subject ∥ subject_full ∥ entity_name ∥ rooms.
  private def lexOf(parts: String) = TextQueries.sqlLexemesOf(parts)

  val queries: Seq[Query] = Seq(

    // Manifest-stats data skipping (TxLogTable.snapshotRange): events land
    // as three ts-banded commits, so each data file's manifest line carries
    // a disjoint [min,max] for ts; the mid-band range scan then reads ONLY
    // the files whose stats overlap the predicate — the require() proves
    // files were actually skipped, the oracle proves skipping lost no rows.
    // At 100 TB this is the time-range-over-hourly-appends pattern: the
    // query cost is the band's files, not the table scan.
    // `(mx - mn)` is positive, so DuckDB's floor-division `//` equals the
    // Scala Long truncating division used to place the commit boundaries.
    Query("skip_range_scan",
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
                    FROM events),
          mm AS (SELECT min(ts_us) AS mn, max(ts_us) AS mx FROM e),
          b AS (SELECT mn + (mx - mn) // 3 AS b1,
                       mn + 2 * ((mx - mn) // 3) AS b2 FROM mm)
         SELECT event_id, ts_us, event_type, value
         FROM e, b
         WHERE ts_us >= b1 AND ts_us <= b2 - 1""")((s, dir) => {
      // microseconds, not nanos: DuckDB truncates TIMESTAMP(NANOS) to µs on
      // read, so the oracle can only see epoch_us — `ts div 1000` (floor;
      // ts is positive) makes both sides band on identical integers
      val ev = t(s, dir, "events")
        .select(col("event_id"), expr("ts div 1000").as("ts_us"),
          col("event_type"), col("value"))
      val mm = ev.agg(min("ts_us"), max("ts_us")).head
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val b1 = mn + (mx - mn) / 3
      val b2 = mn + 2L * ((mx - mn) / 3)
      val tmp = java.nio.file.Files.createTempDirectory("graft-skip")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      // parallel writes: every file in a band inherits the band's ts range,
      // so pruning selects the mid band's files whatever their count
      tbl.commit(ev.filter(col("ts_us") < b1), overwrite = true)
      tbl.commit(ev.filter(col("ts_us") >= b1 && col("ts_us") < b2),
        overwrite = false)
      tbl.commit(ev.filter(col("ts_us") >= b2), overwrite = false)
      val pruned = tbl.candidateFiles("ts_us", b1, b2 - 1).size
      require(pruned < tbl.fileCount(),
        s"range scan skipped nothing: $pruned of ${tbl.fileCount()} files")
      tbl.snapshotRange(ev.schema, "ts_us", b1, b2 - 1)
    }),

    // Z-order clustering (TxLogTable.compactZOrder + operators.ZOrder):
    // events rewritten along the (user_id, ts) Morton curve, then range-
    // scanned on user_id — the SECOND clustering dimension, which a plain
    // time-sorted layout could never prune. The require() proves files
    // were skipped via manifest stats; the oracle proves the rewrite +
    // pruned scan lost no rows.
    Query("zorder_scan",
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
                    FROM events),
          mm AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM e),
          b AS (SELECT mn + (mx - mn) // 4 AS lo,
                       mn + (mx - mn) // 2 AS hi FROM mm)
         SELECT event_id, user_id, ts_us, value
         FROM e, b
         WHERE user_id >= lo AND user_id <= hi""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
      val mm = ev.agg(min("user_id"), max("user_id")).head
      val (umn, umx) = (mm.getLong(0), mm.getLong(1))
      val lo = umn + (umx - umn) / 4
      val hi = umn + (umx - umn) / 2
      val tmp = java.nio.file.Files.createTempDirectory("graft-zorder")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev, overwrite = true)
      tbl.compactZOrder(ev.schema, "user_id", "ts_us", numFiles = 16)
      val pruned = tbl.candidateFiles("user_id", lo, hi).size
      require(pruned < tbl.fileCount(),
        s"z-order scan skipped nothing: $pruned of ${tbl.fileCount()} files")
      // the AUTOMATIC skipping path: bounds extracted from the predicate
      // tree (PredicateRanges), not passed explicitly
      tbl.snapshotWhere(ev.schema,
        col("user_id") >= lo && col("user_id") <= hi)
    }),

    // ANN index lifecycle in pure SQL (CALL system.ann_build /
    // ann_refresh): the serving index is built, grown and re-pinned
    // without leaving SQL — build trains once over the corpus's current
    // version, the corpus moves on, refresh routes ONLY the new vectors
    // to the existing centroids (no training pass, O(new)). The requires
    // pin the build's version, the refresh's exact added count and the
    // advanced pin; the returned top-5 search serves the union corpus
    // and hash-matches the train-on-original / serve-on-union oracle.
    Query("sql_ann_lifecycle",
      graft.queries.SimQueries.ivfOracle(serveAppended = true))((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .createOrReplaceTempView("emb_ann_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ann_corpus")
      s.sql("CREATE TABLE graftcat.db.ann_corpus USING txlog AS " +
        "SELECT vec_id, embedding FROM emb_ann_src")
      // a pre-existing index root is fine: build overwrites every index
      // table (a rebuild is just the next version of each)
      val b = s.sql("CALL graftcat.system.ann_build('db.ann_corpus', " +
        "'db.ann_idx', 8, 2, false, true)").collect().head
      s.sql("INSERT INTO graftcat.db.ann_corpus " +
        "SELECT vec_id + 1000000, embedding FROM emb_ann_src " +
        "WHERE vec_id < 4")
      val r = s.sql("CALL graftcat.system.ann_refresh('db.ann_idx')")
        .collect().head
      require(r.getLong(1) == 4L,
        s"refresh must add exactly the appended vectors: $r")
      require(r.getInt(0) > b.getInt(0),
        s"refresh must advance the pin past the build's: $r vs $b")
      // FILTERED search through SQL: the predicate (a boolean over the
      // corpus's own columns) applies inside the probed cell, so every
      // survivor satisfies it — here, only pre-append vectors
      val filtered = s.sql("CALL graftcat.system.ann_search(" +
        "'db.ann_idx', 0, 5, 'vec_id < 1000000', true)").collect()
      require(filtered.nonEmpty &&
        filtered.forall(_.getLong(0) < 1000000L),
        s"predicate search must exclude the appended clones: " +
          filtered.mkString(","))
      // SQ8 variant through SQL: ranks the persisted 8-bit codes (the
      // refresh encoded the appended clones against the pinned bounds);
      // the self-match and its identical clone tie at 1.0, vec_id first
      val sq = s.sql("CALL graftcat.system.ann_search('db.ann_idx', " +
        "0, 5, NULL, true, 1, 'sq8')").collect()
      require(sq.nonEmpty && sq.head.getLong(0) == 0L,
        s"sq8 serving must surface the self-match: ${sq.mkString(",")}")
      // the search the oracle replays, through the SQL surface too
      s.sql("CALL graftcat.system.ann_search('db.ann_idx', 0, 5, " +
        "NULL, true)")
    }),

    // ANN STALENESS GUARD (CALL system.ann_status / ann_refresh with a
    // retrain threshold): the routed-since-train ledger rides every
    // refresh, ann_status reports the recall-decay proxies (routed
    // fraction, cell imbalance) from O(index) reads, and a refresh that
    // would cross max_routed_frac RETRAINS through buildAuto instead of
    // routing to frozen centroids — drift is bounded by policy. The
    // requires pin the action sequence (routed below the threshold,
    // retrained above, ledger reset after); the returned status row is
    // pure corpus arithmetic the oracle recomputes.
    // corpus arithmetic: 500-at-sf0.01 originals + 30 clones + a full
    // second copy, minus the 10 deleted ids; ledger reset to 0 by the
    // retrain and untouched by the masked delete, pin current
    Query("sql_ann_status",
      """SELECT CAST(2 * (SELECT count(*) FROM embeddings) + 20
             AS BIGINT) AS total_vectors,
           CAST(0 AS BIGINT) AS routed_since_train,
           CAST(0.0 AS DOUBLE) AS routed_frac,
           TRUE AS current""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .createOrReplaceTempView("emb_st_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ann_st_corpus")
      s.sql("CREATE TABLE graftcat.db.ann_st_corpus USING txlog AS " +
        "SELECT vec_id, embedding FROM emb_st_src")
      s.sql("CALL graftcat.system.ann_build_auto('db.ann_st_corpus', " +
        "'db.ann_st_idx', 64, 262144, 2, false, false)").collect()
      val st0 = s.sql("CALL graftcat.system.ann_status('db.ann_st_idx')")
        .head
      require(st0.getLong(3) == 0L && st0.getDouble(4) == 0.0,
        s"a fresh build must start with a zero drift ledger: $st0")
      // a small append stays UNDER the threshold: routed, ledger grows
      s.sql("INSERT INTO graftcat.db.ann_st_corpus SELECT " +
        "vec_id + 1000000, embedding FROM emb_st_src WHERE vec_id < 30")
      val r1 = s.sql("CALL graftcat.system.ann_refresh(" +
        "'db.ann_st_idx', 0.4)").head
      require(r1.getString(2) == "routed" && r1.getLong(1) == 30L,
        s"a small window must route, not retrain: $r1")
      val st1 = s.sql("CALL graftcat.system.ann_status('db.ann_st_idx')")
        .head
      require(st1.getLong(3) == 30L && st1.getDouble(4) > 0.0,
        s"the ledger must account the routed window: $st1")
      // DOUBLING the corpus would push routed_frac past 0.4: the guard
      // reroutes the refresh into a full buildAuto retrain (k re-derived
      // for the grown corpus), resetting the ledger
      s.sql("INSERT INTO graftcat.db.ann_st_corpus SELECT " +
        "vec_id + 2000000, embedding FROM emb_st_src")
      val r2 = s.sql("CALL graftcat.system.ann_refresh(" +
        "'db.ann_st_idx', 0.4)").head
      require(r2.getString(2) == "retrained",
        s"crossing the threshold must retrain: $r2")
      // DELETES absorb incrementally: the departed ids mask out of the
      // index tables (no retrain, no phantom neighbors), the live total
      // drops, and the drift ledger is untouched — the GDPR trickle at
      // 100 TB costs O(deleted), not O(corpus)
      s.sql("DELETE FROM graftcat.db.ann_st_corpus " +
        "WHERE vec_id >= 2000000 AND vec_id < 2000010")
      val r3 = s.sql("CALL graftcat.system.ann_refresh(" +
        "'db.ann_st_idx', 0.4)").head
      require(r3.getString(2) == "routed" && r3.getLong(1) == 0L,
        s"a deleting window must absorb by masking, not retrain: $r3")
      s.sql("CALL graftcat.system.ann_status('db.ann_st_idx')")
        .selectExpr("total_vectors", "routed_since_train", "routed_frac",
          "(pinned_version = corpus_version) AS current")
    }),

    // Column DEFAULT values end-to-end (TableCatalogCapability
    // .SUPPORT_COLUMN_DEFAULT_VALUE): CREATE declares defaults, INSERTs
    // omitting the column fill CURRENT_DEFAULT, and ALTER ADD COLUMN
    // DEFAULT is METADATA-ONLY — files written before the column read
    // back the declared default via EXISTS_DEFAULT instead of NULL
    // (in-query require pins zero data files touched). At 100 TB the
    // alternative to that metadata line is rewriting every file to
    // backfill a constant. Oracle recomputes the defaulted state
    // relationally.
    Query("sql_column_defaults",
      """SELECT r_regionkey, r_name, 'active' AS status,
           'standard' AS tier
         FROM region""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "region").createOrReplaceTempView("region_dflt_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.region_dflt")
      s.sql("CREATE TABLE graftcat.db.region_dflt (r_regionkey INT, " +
        "r_name STRING, status STRING DEFAULT 'active') USING txlog")
      s.sql("INSERT INTO graftcat.db.region_dflt (r_regionkey, r_name) " +
        "SELECT r_regionkey, r_name FROM region_dflt_src")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/region_dflt")
      val filesBefore = tbl.fileCount()
      s.sql("ALTER TABLE graftcat.db.region_dflt ADD COLUMN tier STRING " +
        "DEFAULT 'standard'")
      require(tbl.fileCount() == filesBefore,
        "ALTER ADD COLUMN DEFAULT must touch no data file")
      s.sql("SELECT r_regionkey, r_name, status, tier " +
        "FROM graftcat.db.region_dflt")
    }),

    // Partition-scoped OPTIMIZE ZORDER (CALL system.zorder ... partition):
    // only the named partition's files rewrite clustered on the Morton
    // curve; every other dir carries by manifest reference. The
    // incremental-clustering workflow at 100 TB — z-order yesterday's
    // partition after it closes, O(partition) per day, never paying the
    // whole-table rewrite. The requires prove the op committed as
    // zorder-where, a foreign partition's file census is untouched, and
    // a range scan inside the clustered partition prunes on a curve
    // dimension. Oracle recomputes the returned rows relationally.
    Query("sql_zorder_scoped",
      """SELECT event_type, event_id, user_id, value FROM events""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("events_zw_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.events_zw")
      s.sql("CREATE TABLE graftcat.db.events_zw " +
        "(event_type STRING, event_id BIGINT, user_id BIGINT, " +
        "value DOUBLE) USING txlog PARTITIONED BY (event_type)")
      s.sql("INSERT INTO graftcat.db.events_zw " +
        "SELECT /*+ REPARTITION(6) */ event_type, event_id, user_id, " +
        "value FROM events_zw_src")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/events_zw")
      val before = tbl.fileCount()
      val res = s.sql("CALL graftcat.system.zorder(" +
        "`table` => 'db.events_zw', col_a => 'user_id', " +
        "col_b => 'event_id', files => 8, " +
        "partition => 'event_type=click')").collect()
      require(res.length == 1, s"zorder result: ${res.mkString(",")}")
      require(tbl.history().last.op.contains("zorder-where"),
        s"expected zorder-where, got ${tbl.history().last.op}")
      // the clustered partition prunes on a curve dimension; the scan
      // candidate set shrank below the table's file census
      val hull = tbl.snapshot(tbl.tableSchema.get)
        .agg(min("user_id"), max("user_id")).head
      val (lo, hi) = (hull.getLong(0), hull.getLong(0) +
        (hull.getLong(1) - hull.getLong(0)) / 8)
      require(tbl.candidateFiles("user_id", lo, hi).size <
        tbl.fileCount(),
        s"scoped zorder pruned nothing ($before files before)")
      s.sql("SELECT event_type, event_id, user_id, value " +
        "FROM graftcat.db.events_zw")
    }),

    // Schema evolution THROUGH the keyed merge (Delta's autoMerge analog):
    // a batch carrying a brand-new column evolves the table in the same
    // operation that merges its rows — no separate ALTER, the exact shape
    // of a CDC upsert feed whose producer added a field. Carried and
    // untouched rows surface the new column as NULL (any post-ALTER
    // read's contract); the oracle recomputes the evolved state
    // relationally. The require proves the merge stayed file-targeted
    // even while evolving — the ALTER is metadata-only, so it must not
    // degrade the rewrite into a full-table pass.
    Query("merge_schema_evolution",
      """SELECT n_nationkey,
           CASE WHEN n_nationkey >= 20 THEN 'E-' || n_name
                ELSE n_name END AS n_name,
           CASE WHEN n_nationkey >= 20 THEN 'evolved'
                ELSE NULL END AS batch_tag
         FROM nation""")((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-mse")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("nation").toString)
      tbl.create(n.schema)
      tbl.commit(n.repartitionByRange(4, col("n_nationkey")),
        overwrite = false)
      val upd = n.filter(col("n_nationkey") >= 20)
        .select(col("n_nationkey"),
          concat(lit("E-"), col("n_name")).as("n_name"),
          lit("evolved").as("batch_tag"))
      val st = tbl.merge(n.schema, upd, Seq("n_nationkey"),
        mergeSchema = true)
      require(tbl.tableSchema.exists(_.fieldNames.contains("batch_tag")),
        "merge(mergeSchema) must evolve the table schema")
      require(st.carried > 0,
        s"evolving merge must stay file-targeted: ${st.carried} carried")
      tbl.snapshot(tbl.tableSchema.get)
    }),

    // File-targeted copy-on-write MERGE (TxLogTable.merge): customer lands
    // key-clustered (repartitionByRange on c_custkey → 8 files with
    // disjoint key bands), then (1) a keyed UPDATE batch confined to a
    // narrow band rewrites only the band's files — the first require
    // proves most files were carried by reference — and (2) an INSERT-only
    // batch of fresh keys beyond the table max rewrites ZERO files (its
    // key hull is disjoint from every file's range — the merge degenerates
    // to a pure append). The oracle recomputes the end state relationally,
    // so both merges' delete-insert semantics are hash-checked. At 100 TB
    // this is the reference's signature keyed upsert at O(affected files)
    // instead of O(table) when keys don't align with partitions.
    Query("merge_cow",
      """WITH base AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                              c_mktsegment FROM customer),
          mm AS (SELECT min(c_custkey) AS mn, max(c_custkey) AS mx FROM base),
          b AS (SELECT mn + (mx - mn) // 3 AS lo,
                       mn + (mx - mn) // 3 + (mx - mn) // 10 AS hi FROM mm)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM base, b WHERE c_custkey < lo OR c_custkey > hi
         UNION ALL
         SELECT c_custkey, 'M-' || c_name AS c_name, c_nationkey,
                c_acctbal + 1000 AS c_acctbal, 'MERGED' AS c_mktsegment
         FROM base, b WHERE c_custkey >= lo AND c_custkey <= hi
         UNION ALL
         SELECT c_custkey + 600000 AS c_custkey,
                'N-' || CAST(c_custkey AS VARCHAR) AS c_name,
                CAST(7 AS INT) AS c_nationkey, 0.5 AS c_acctbal,
                'FRESH' AS c_mktsegment
         FROM base WHERE c_custkey % 11 = 0""")((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val mm = c.agg(min("c_custkey"), max("c_custkey")).head
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val lo = mn + (mx - mn) / 3
      val hi = lo + (mx - mn) / 10
      val tmp = java.nio.file.Files.createTempDirectory("graft-merge")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("customer").toString)
      tbl.commit(c.repartitionByRange(8, col("c_custkey")),
        overwrite = true)
      val upd = c.filter(col("c_custkey") >= lo && col("c_custkey") <= hi)
        .select(col("c_custkey"),
          concat(lit("M-"), col("c_name")).as("c_name"),
          col("c_nationkey"),
          (col("c_acctbal") + 1000).as("c_acctbal"),
          lit("MERGED").as("c_mktsegment"))
      val st1 = tbl.merge(c.schema, upd, Seq("c_custkey"))
      require(st1.carried > 0 && st1.rewritten < st1.carried,
        s"keyed update rewrote ${st1.rewritten} of " +
          s"${st1.rewritten + st1.carried} files — no file targeting")
      val ins = c.filter(col("c_custkey") % 11 === 0).select(
        (col("c_custkey") + 600000).as("c_custkey"),
        concat(lit("N-"), istr(col("c_custkey"))).as("c_name"),
        lit(7).cast(IntegerType).as("c_nationkey"),
        lit(0.5).as("c_acctbal"),
        lit("FRESH").as("c_mktsegment"))
      val st2 = tbl.merge(c.schema, ins, Seq("c_custkey"))
      require(st2.rewritten == 0,
        s"insert-only merge rewrote ${st2.rewritten} files")
      tbl.snapshot(c.schema)
    }),

    // STRING-keyed copy-on-write MERGE (round-6 headline): the reference's
    // own employee upsert key is a string (models.py:37 url_id, upserted at
    // logic.py:186-194), and a string key has no footer min/max hull — so
    // file targeting must come from the per-file manifest Bloom filters.
    // supplier lands clustered by s_suppkey (s_name correlates 1:1) with
    // blooms on s_name; the merge keys are ONLY ["s_name"], so the integral
    // hull contributes nothing and every pruned file below is pruned by a
    // bloom probe of the batch's collected key set. (1) a keyed UPDATE
    // batch from a narrow band rewrites only the band's files; (2) an
    // INSERT-only batch of fresh names rewrites ZERO files — at the table's
    // per-file cardinality (≤ ~1.2k names at sf0.1) the 8192-bit blooms'
    // false-positive mass is ≪ 1 across every probe, so both requires are
    // deterministic in practice. The oracle recomputes the end state
    // relationally, hash-checking the delete-insert semantics.
    Query("merge_cow_str",
      """WITH base AS (SELECT s_suppkey, s_name, s_nationkey, s_acctbal
                       FROM supplier),
          mm AS (SELECT min(s_suppkey) AS mn, max(s_suppkey) AS mx FROM base),
          b AS (SELECT mn + (mx - mn) // 3 AS lo,
                       mn + (mx - mn) // 3 + (mx - mn) // 10 AS hi FROM mm)
         SELECT s_suppkey, s_name, s_nationkey, s_acctbal
         FROM base, b WHERE s_suppkey < lo OR s_suppkey > hi
         UNION ALL
         SELECT s_suppkey, s_name, s_nationkey,
                s_acctbal + 500 AS s_acctbal
         FROM base, b WHERE s_suppkey >= lo AND s_suppkey <= hi
         UNION ALL
         SELECT s_suppkey + 90000 AS s_suppkey,
                'FreshSupplier#' || CAST(s_suppkey AS VARCHAR) AS s_name,
                CAST(3 AS INT) AS s_nationkey, 1.25 AS s_acctbal
         FROM base WHERE s_suppkey % 9 = 0""")((s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"),
        col("s_nationkey"), col("s_acctbal"))
      val mm = sup.agg(min("s_suppkey"), max("s_suppkey")).head
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val lo = mn + (mx - mn) / 3
      val hi = lo + (mx - mn) / 10
      val tmp = java.nio.file.Files.createTempDirectory("graft-merge-str")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("supplier").toString)
      tbl.commit(sup.repartitionByRange(8, col("s_suppkey")),
        overwrite = true, bloomCols = Seq("s_name"))
      val upd = sup.filter(col("s_suppkey") >= lo && col("s_suppkey") <= hi)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          (col("s_acctbal") + 500).as("s_acctbal"))
      val st1 = tbl.merge(sup.schema, upd, Seq("s_name"))
      require(st1.carried > 0 && st1.rewritten < st1.carried,
        s"string-keyed update rewrote ${st1.rewritten} of " +
          s"${st1.rewritten + st1.carried} files — no bloom targeting")
      val ins = sup.filter(col("s_suppkey") % 9 === 0).select(
        (col("s_suppkey") + 90000).as("s_suppkey"),
        concat(lit("FreshSupplier#"), istr(col("s_suppkey"))).as("s_name"),
        lit(3).cast(IntegerType).as("s_nationkey"),
        lit(1.25).as("s_acctbal"))
      val st2 = tbl.merge(sup.schema, ins, Seq("s_name"))
      require(st2.rewritten == 0,
        s"insert-only string merge rewrote ${st2.rewritten} files")
      tbl.snapshot(sup.schema)
    }),

    // File-targeted copy-on-write DELETE (TxLogTable.deleteWhere): customer
    // lands key-clustered (8 files with disjoint c_custkey bands), then
    // (1) a banded retention delete — with an extra non-range conjunct the
    // bounds extractor cannot see (c_mktsegment <> 'BUILDING'), so the
    // full predicate must be re-applied to surviving rows — rewrites only
    // the band's files (first require), and (2) a delete whose key range
    // lies beyond the table max rewrites ZERO files (metadata-only no-op
    // commit, second require). The oracle recomputes the end state with
    // SQL NOT(...), so DELETE-where-TRUE semantics are hash-checked. At
    // 100 TB this is the retention/GDPR delete at O(straddling files)
    // instead of O(table).
    Query("delete_cow",
      """WITH base AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                              c_mktsegment FROM customer),
          mm AS (SELECT min(c_custkey) AS mn, max(c_custkey) AS mx FROM base),
          b AS (SELECT mn + (mx - mn) // 3 AS lo,
                       mn + (mx - mn) // 3 + (mx - mn) // 10 AS hi FROM mm)
         SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM base, b
         WHERE NOT (c_custkey >= lo AND c_custkey <= hi
                    AND c_mktsegment <> 'BUILDING')""")((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val mm = c.agg(min("c_custkey"), max("c_custkey")).head
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val lo = mn + (mx - mn) / 3
      val hi = lo + (mx - mn) / 10
      val tmp = java.nio.file.Files.createTempDirectory("graft-delete")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("customer").toString)
      tbl.commit(c.repartitionByRange(8, col("c_custkey")),
        overwrite = true)
      val st1 = tbl.deleteWhere(c.schema,
        col("c_custkey") >= lo && col("c_custkey") <= hi &&
          col("c_mktsegment") =!= "BUILDING")
      require(st1.carried > 0 && st1.rewritten < st1.carried,
        s"banded delete rewrote ${st1.rewritten} of " +
          s"${st1.rewritten + st1.carried} files — no file targeting")
      val st2 = tbl.deleteWhere(c.schema, col("c_custkey") > mx + 1000000L)
      require(st2.rewritten == 0,
        s"out-of-range delete rewrote ${st2.rewritten} files")
      tbl.snapshot(c.schema)
    }),

    // Manifest skipping from IN-list and disjunctive predicates
    // (PredicateRanges OR/IN extension): events land as three event_id
    // bands; the probe predicate is `id IN (...) OR  a range` — both
    // shapes the round-4 extractor couldn't bound. The require proves the
    // manifest pruned files on the extracted hull; the oracle proves
    // pruning lost no rows.
    Query("skip_in_scan",
      """WITH e AS (SELECT event_id, user_id, event_type, value FROM events),
          mm AS (SELECT min(event_id) AS mn, max(event_id) AS mx FROM e),
          b AS (SELECT mn + (mx - mn) // 3 AS b1 FROM mm)
         SELECT event_id, user_id, event_type, value
         FROM e, b
         WHERE event_id IN (b1 + 1, b1 + 5, b1 + 9)
            OR (event_id >= b1 + 20 AND event_id <= b1 + 40)""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val mm = ev.agg(min("event_id"), max("event_id")).head
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val b1 = mn + (mx - mn) / 3
      val b2 = mn + 2L * ((mx - mn) / 3)
      val tmp = java.nio.file.Files.createTempDirectory("graft-skip-in")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") < b1), overwrite = true)
      tbl.commit(ev.filter(col("event_id") >= b1 && col("event_id") < b2),
        overwrite = false)
      tbl.commit(ev.filter(col("event_id") >= b2), overwrite = false)
      // hull of IN ∪ OR-range = [b1+1, b1+40] — inside the mid band
      val pruned = tbl.candidateFiles("event_id", b1 + 1, b1 + 40).size
      require(pruned < tbl.fileCount(),
        s"IN scan skipped nothing: $pruned of ${tbl.fileCount()} files")
      tbl.snapshotWhere(ev.schema,
        col("event_id").isin(b1 + 1, b1 + 5, b1 + 9) ||
          (col("event_id") >= b1 + 20 && col("event_id") <= b1 + 40))
    }),

    // Per-file BLOOM-FILTER skipping (TxLogTable bloomCols + the
    // PredicateRanges point extractor): documents land SCATTERED — files
    // hash-bucketed by doc_id % 8, so every file spans ~the whole id range
    // and min/max stats prune NOTHING (the first require proves it). A
    // point lookup / IN-list probe then skips via each file's bloom bits
    // instead (second require). At 100 TB this is the id-lookup-on-an-
    // unclustered-table shape — the case range stats fundamentally cannot
    // serve — answered from the manifest without opening a single footer.
    // The oracle proves bloom pruning lost no rows.
    Query("skip_bloom_scan",
      """WITH d AS (SELECT doc_id, lang, source, n_chars FROM documents),
          mm AS (SELECT min(doc_id) AS mn FROM d)
         SELECT doc_id, lang, source, n_chars
         FROM d, mm
         WHERE doc_id IN (mn + 7, mn + 123, mn + 311)""")((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("source"), col("n_chars"))
      val mn = d.agg(min("doc_id")).head.getLong(0)
      val probes = Seq(mn + 7, mn + 123, mn + 311)
      val tmp = java.nio.file.Files.createTempDirectory("graft-skip-bloom")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("documents").toString)
      tbl.commit(d.repartition(8, pmod(col("doc_id"), lit(8))),
        overwrite = true, bloomCols = Seq("doc_id"))
      val total = tbl.fileCount()
      val rangeCand = tbl.candidateFiles("doc_id", probes.head, probes.head)
      require(rangeCand.size == total,
        s"scatter failed: ranges pruned ${total - rangeCand.size} files")
      val bloomCand = tbl.candidateFilesWhere(
        col("doc_id").isin(probes: _*)).size
      require(bloomCand < total,
        s"bloom skipped nothing: $bloomCand of $total files")
      tbl.snapshotWhere(d.schema, col("doc_id").isin(probes: _*))
    }),

    // Merge-on-read equality DELETE (TxLogTable.deleteByKeysMor): the
    // delete batch commits as a TOMBSTONE key file — zero data files
    // rewritten (first require) — and readers apply it as one broadcast
    // anti-join, sequence-aware: keys re-inserted AFTER the delete
    // survive (the second half of the oracle's union). At 100 TB this is
    // the write-cheap half of the delete tradeoff (COW delete_cow is the
    // read-cheap half); compaction materializes tombstones away.
    Query("delete_mor",
      """WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
         SELECT c_custkey, c_name, c_acctbal FROM c WHERE c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, 'R-' || c_name AS c_name,
                c_acctbal + 1 AS c_acctbal
         FROM c WHERE c_custkey % 14 = 0""")((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-mor")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("customer").toString)
      tbl.commit(c.repartition(4, pmod(col("c_custkey"), lit(4))),
        overwrite = true)
      val before = tbl.fileCount()
      tbl.deleteByKeysMor(
        c.filter(col("c_custkey") % 7 === 0).select("c_custkey"))
      require(tbl.fileCount() == before,
        "MOR delete must rewrite zero data files")
      val reinserted = c.filter(col("c_custkey") % 14 === 0).select(
        col("c_custkey"),
        concat(lit("R-"), col("c_name")).as("c_name"),
        (col("c_acctbal") + 1).as("c_acctbal"))
      tbl.commit(reinserted, overwrite = false)
      tbl.snapshot(reinserted.schema)
    }),

    // Manifest NULL-count skipping (footer null counts + the nullness
    // extractor): events land as two commits — one whose synthesized `v`
    // is ALL NULL, one with no nulls. An IS NOT NULL scan prunes the
    // all-null files, an IS NULL scan prunes the no-null files, BOTH from
    // the manifest alone (no footer opened; `v` is a double, so there are
    // no integral range stats to ride — this is pruning the min/max path
    // cannot do). The requires prove files were skipped; the oracle proves
    // skipping lost no rows. At 100 TB this is the reference's P2/P3
    // current-version IS NULL filter shape answered without touching the
    // closed-version bulk of the table.
    Query("skip_null_scan",
      """SELECT event_id, user_id, value AS v
         FROM events WHERE event_id % 3 <> 0""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        when(col("event_id") % 3 =!= 0, col("value")).as("v"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-skip-null")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 3 === 0), overwrite = true)
      tbl.commit(ev.filter(col("event_id") % 3 =!= 0), overwrite = false)
      val total = tbl.fileCount()
      val cNotNull = tbl.candidateFilesWhere(col("v").isNotNull).size
      require(cNotNull < total,
        s"IS NOT NULL skipped nothing: $cNotNull of $total files")
      val cNull = tbl.candidateFilesWhere(col("v").isNull).size
      require(cNull < total,
        s"IS NULL skipped nothing: $cNull of $total files")
      tbl.snapshotWhere(ev.schema, col("v").isNotNull)
    }),

    // Vacuum under readers (TxLogTable.vacuum): three versions, garbage-
    // collect history down to the latest (age guard disabled — no
    // concurrent writer in-query), then read. The requires prove old
    // manifests AND their unreferenced data files are actually gone; the
    // oracle proves the surviving snapshot is intact. At 100 TB vacuum is
    // what keeps time travel from meaning infinite storage.
    Query("vacuum_scan",
      """SELECT event_id, user_id, value FROM events
         WHERE event_id % 3 <> 2""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-vac")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 3 === 0), overwrite = true)
      tbl.commit(ev.filter(col("event_id") % 3 === 1), overwrite = false)
      // overwrite orphans v0/v1's files: vacuum may then delete them
      tbl.commit(ev.filter(col("event_id") % 3 =!= 2), overwrite = true)
      // retainMillis = 0 too: the query PROVES GC, and every manifest
      // here is seconds old — the 7-day default floor would spare all
      val (manifests, files) =
        tbl.vacuum(keep = 1, minAgeMillis = 0, retainMillis = 0)
      require(manifests == 2 && files > 0,
        s"vacuum removed nothing: $manifests manifests, $files files")
      require(tbl.versions == Seq(2), s"history not pruned: ${tbl.versions}")
      tbl.snapshot(ev.schema)
    }),

    // One-pass table profiling — the ANALYZE TABLE shape: row count,
    // per-column null counts, key extrema and a decimal-exact measure sum
    // in a single aggregate (one scan, map-side partials, 1-row result).
    // The profiling pass every ingest pipeline runs before publishing.
    Query("analyze_profile",
      """SELECT count(*) AS n_rows,
           count(*) FILTER (user_id IS NULL) AS null_user_id,
           count(*) FILTER (value IS NULL) AS null_value,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id,
           count(DISTINCT event_type) AS n_event_types,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events""")((s, dir) =>
      t(s, dir, "events").agg(
        count(lit(1)).as("n_rows"),
        count_if(col("user_id").isNull).as("null_user_id"),
        count_if(col("value").isNull).as("null_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        countDistinct(col("event_type")).as("n_event_types"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
          .as("sum_value"))),

    // Hive partition-value pruning from the manifest path segments (the
    // mayOverlap partValue route): events committed day-partitioned via
    // dynamic overwrite; a day-range snapshotWhere prunes every other
    // day's files from the manifest ALONE — no footer stats needed, the
    // partition dir name is the statistic. The require proves files were
    // skipped; the oracle proves pruning lost no rows.
    Query("skip_partition_scan",
      """WITH e AS (SELECT event_id, user_id, value,
             epoch_us(ts) // 86400000000 AS p_day FROM events),
          mm AS (SELECT min(p_day) AS lo FROM e)
         SELECT event_id, user_id, value, p_day
         FROM e, mm WHERE p_day = lo""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          expr("(ts div 1000) div 86400000000").as("p_day"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-part")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commitDynamic(ev, Seq("p_day"))
      val days = ev.agg(min("p_day"), max("p_day")).head
      val (lo, hi) = (days.getLong(0), days.getLong(1))
      require(hi > lo, "need multiple days to prune")
      val cand = tbl.candidateFilesWhere(col("p_day") === lo).size
      require(cand < tbl.fileCount(),
        s"partition pruning skipped nothing: $cand of ${tbl.fileCount()}")
      tbl.snapshotWhere(ev.schema, col("p_day") === lo)
    }),

    // Schema evolution (add-column) on the tx-log format: v0 commits two
    // columns, v1 appends files carrying a third; a snapshot read with
    // the WIDER schema serves old files with NULL for the missing column
    // — parquet schema-on-read, no rewrite of history (at 100 TB an
    // add-column that rewrote the table would be a non-starter). The
    // oracle recomputes the unioned shape with explicit NULLs.
    Query("schema_evolution",
      """SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type
         FROM events WHERE event_id % 2 = 0
         UNION ALL
         SELECT event_id, user_id, event_type
         FROM events WHERE event_id % 2 <> 0""")((s, dir) => {
      val ev = t(s, dir, "events")
      val tmp = java.nio.file.Files.createTempDirectory("graft-evo")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id")), overwrite = true)
      tbl.commit(ev.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id"), col("user_id"), col("event_type")),
        overwrite = false)
      val wide = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType)))
      tbl.snapshot(wide)
    }),

    // Predicate-scoped atomic overwrite (TxLogTable.replaceWhere — the
    // partition/backfill idiom): customer lands key-clustered, then ONE
    // commit replaces the mid band with a recomputed slice — no
    // delete+append window, file-targeted like deleteWhere (first require
    // proves carry-by-reference), and run a SECOND time with the same
    // slice to prove idempotence (row count unchanged). A batch violating
    // the predicate is refused (third require). The oracle recomputes
    // non-band ∪ recomputed-band relationally.
    Query("replace_where",
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
          mm AS (SELECT min(c_custkey) AS mn, max(c_custkey) AS mx FROM base),
          b AS (SELECT mn + (mx - mn) // 3 AS lo,
                       mn + (mx - mn) // 3 + (mx - mn) // 10 AS hi FROM mm)
         SELECT c_custkey, c_name, c_acctbal
         FROM base, b WHERE c_custkey < lo OR c_custkey > hi
         UNION ALL
         SELECT c_custkey, 'R-' || c_name AS c_name,
                c_acctbal * 2 AS c_acctbal
         FROM base, b WHERE c_custkey >= lo AND c_custkey <= hi""")((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal"))
      val mm = c.agg(min("c_custkey"), max("c_custkey")).head
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val lo = mn + (mx - mn) / 3
      val hi = lo + (mx - mn) / 10
      val tmp = java.nio.file.Files.createTempDirectory("graft-replace")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("customer").toString)
      tbl.commit(c.repartitionByRange(8, col("c_custkey")),
        overwrite = true)
      val pred = col("c_custkey") >= lo && col("c_custkey") <= hi
      val slice = c.filter(pred).select(col("c_custkey"),
        concat(lit("R-"), col("c_name")).as("c_name"),
        (col("c_acctbal") * 2).as("c_acctbal"))
      val st1 = tbl.replaceWhere(c.schema, pred, slice)
      require(st1.carried > 0 && st1.rewritten < st1.carried,
        s"replaceWhere rewrote ${st1.rewritten} of " +
          s"${st1.rewritten + st1.carried} files — no file targeting")
      val n1 = tbl.snapshot(c.schema).count()
      tbl.replaceWhere(c.schema, pred, slice) // idempotent rerun
      require(tbl.snapshot(c.schema).count() == n1,
        "replaceWhere rerun changed the row count — not idempotent")
      val threw =
        try { tbl.replaceWhere(c.schema, pred,
          c.filter(col("c_custkey") < lo).limit(5)); false }
        catch { case _: IllegalArgumentException => true }
      require(threw, "batch outside the predicate must be refused")
      tbl.snapshot(c.schema)
    }),

    // STRING range skipping (round-6 #8): documents land clustered by
    // `source` (repartitionByRange on the string column → files covering
    // disjoint name ranges), and each file's manifest line carries the
    // parquet footer's min/max BYTES embedded order-preservingly into the
    // (Long, Long) stats slot (:spre: key, 7-byte-prefix floor/ceil).
    // A string RANGE predicate — the one string shape the equality-only
    // Blooms cannot skip — then prunes files straight off the manifest:
    // the require proves files were skipped, the oracle proves skipping
    // lost no rows. At 100 TB this is retention/tenant scans on
    // string-keyed layouts (url prefixes, tenant codes) at O(band files).
    Query("skip_string_range",
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE source >= 'src3' AND source <= 'src5'""")((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-skip-str")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("docs").toString)
      tbl.commit(d.repartitionByRange(6, col("source")), overwrite = true)
      val pred = col("source") >= "src3" && col("source") <= "src5"
      val pruned = tbl.candidateFilesWhere(pred).size
      require(pruned < tbl.fileCount(),
        s"string range skipped nothing: $pruned of ${tbl.fileCount()} files")
      tbl.snapshotWhere(d.schema, pred)
    }),

    // SQL DDL surface (DSv2 TxLogCatalog): CREATE TABLE ... USING txlog,
    // INSERT INTO ×2, SELECT with a WHERE — all pure SQL, no library API.
    // The in-query require proves the read went through the native parquet
    // plan (extension read rule): whole-stage-codegen FileScan, no V1
    // InternalRow→Row conversion node — the round-5 connector tax the DSv2
    // path exists to remove. The oracle recomputes the same select
    // relationally, hash-checking the whole create→insert→read cycle.
    Query("sql_ddl_catalog",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         WHERE n_nationkey >= 5""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "nation").createOrReplaceTempView("nation_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.nation_tx")
      s.sql("CREATE TABLE graftcat.db.nation_tx " +
        "(n_nationkey INT, n_name STRING, n_regionkey INT) USING txlog")
      val ins = s.sql("INSERT INTO graftcat.db.nation_tx " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_src " +
        "WHERE n_nationkey % 2 = 0")
      // the write side is the NATIVE DSv2 batch write (InternalRows
      // staged straight to parquet), not the V1 InsertableRelation
      // fallback with its row-conversion tax
      val insPlan = ins.queryExecution.commandExecuted.collectFirst {
        case c: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
          c.commandPhysicalPlan.toString
      }.getOrElse("")
      require(insPlan.contains("AppendData") &&
        !insPlan.contains("AppendDataExecV1"),
        s"INSERT INTO must ride the native batch write:\n$insPlan")
      s.sql("INSERT INTO graftcat.db.nation_tx " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_src " +
        "WHERE n_nationkey % 2 = 1")
      val out = s.sql("SELECT n_nationkey, n_name, n_regionkey " +
        "FROM graftcat.db.nation_tx WHERE n_nationkey >= 5")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("FileScan parquet"),
        s"catalog read must hit the native parquet scan:\n$plan")
      require(!plan.contains("ExistingRDD") && !plan.contains("RDDScan"),
        s"V1 row-conversion scan leaked into the catalog read:\n$plan")
      out
    }),

    // DELETE FROM in pure SQL (DSv2 SupportsDelete → TxLogTable's
    // file-targeted COW delete): the statement is accepted only when
    // every pushed filter translates EXACTLY (partial translation would
    // delete the wrong rows — the inverse of scan pruning's contract),
    // then manifest pruning bounds the rewrite as for the API path. The
    // oracle recomputes the survivors with SQL NOT(...); the in-query
    // require proves the commit went through the delete op.
    Query("sql_delete_from",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
         FROM orders
         WHERE NOT (o_totalprice > 150000 AND o_orderstatus = 'F')""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "orders").createOrReplaceTempView("orders_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.orders_del")
      s.sql("CREATE TABLE graftcat.db.orders_del USING txlog AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders_src")
      s.sql("DELETE FROM graftcat.db.orders_del " +
        "WHERE o_totalprice > 150000 AND o_orderstatus = 'F'")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/orders_del")
      require(tbl.history().last.op.contains("delete"),
        "DELETE FROM must commit through the delete op")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM graftcat.db.orders_del")
    }),

    // MERGE INTO in pure SQL (DSv2 SupportsRowLevelOperations, group-based
    // rewrite): the operation scan prunes candidate files from the
    // MANIFEST only — the pushed ON-condition never reaches the parquet
    // reader, because a group scan must return every row of each
    // surviving file — and the write publishes staged groups + carried
    // files as ONE atomic version. The in-query require proves the commit
    // went through the row-level op. Oracle recomputes the post-merge
    // state relationally.
    Query("sql_merge_into",
      """SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN 'M-' || c_name
                ELSE c_name END AS c_name,
           CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000
                ELSE c_acctbal END AS c_acctbal
         FROM customer""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("customer_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_merge")
      s.sql("CREATE TABLE graftcat.db.cust_merge USING txlog AS " +
        "SELECT c_custkey, c_name, c_acctbal FROM customer_src")
      s.sql("""
        MERGE INTO graftcat.db.cust_merge t
        USING (SELECT c_custkey, concat('M-', c_name) AS c_name,
                      c_acctbal + 1000 AS c_acctbal
               FROM customer_src WHERE c_custkey % 10 = 0) s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET t.c_name = s.c_name,
                                     t.c_acctbal = s.c_acctbal
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
                              VALUES (s.c_custkey, s.c_name, s.c_acctbal)""")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/cust_merge")
      require(tbl.history().last.op.contains("row-level-merge"),
        "MERGE INTO must commit through the row-level op")
      s.sql("SELECT c_custkey, c_name, c_acctbal " +
        "FROM graftcat.db.cust_merge")
    }),

    // MERGE ... WHEN NOT MATCHED BY SOURCE (the r14 VERDICT's #2): the
    // most common warehouse-sync clause after matched/not-matched —
    // target rows ABSENT from the source soft-close (UPDATE) or drop
    // (DELETE) in the SAME atomic merge that refreshes matches and
    // inserts arrivals. Runs through the group-based row-level rewrite;
    // with an NMBS clause every target row is a candidate by semantics,
    // so the operation scan correctly reads all groups (the clause is
    // WHY full-outer sync exists). Oracle recomputes the post-merge
    // state relationally: matched → refreshed, absent-from-source →
    // closed, arrivals → inserted.
    Query("sql_merge_not_matched_by_source",
      """SELECT s_suppkey, s_name,
           CASE WHEN s_nationkey >= 6 AND s_nationkey < 18
                THEN s_acctbal + 500 ELSE s_acctbal END AS s_acctbal,
           CAST(CASE WHEN s_nationkey < 6 THEN 0 ELSE 1 END
             AS INTEGER) AS live
         FROM supplier
         WHERE s_nationkey < 18""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "supplier").createOrReplaceTempView("supp_nmbs_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.supp_nmbs")
      // target = suppliers of nations 0..11, all live
      s.sql("CREATE TABLE graftcat.db.supp_nmbs USING txlog AS " +
        "SELECT s_suppkey, s_name, s_acctbal, " +
        "CAST(1 AS INT) AS live FROM supp_nmbs_src " +
        "WHERE s_nationkey < 12")
      // source = current feed: nations 6..17 with refreshed balances
      s.sql("""
        MERGE INTO graftcat.db.supp_nmbs t
        USING (SELECT s_suppkey, s_name, s_acctbal + 500 AS s_acctbal
               FROM supp_nmbs_src WHERE s_nationkey >= 6
                 AND s_nationkey < 18) s
        ON t.s_suppkey = s.s_suppkey
        WHEN MATCHED THEN UPDATE SET t.s_acctbal = s.s_acctbal
        WHEN NOT MATCHED THEN
          INSERT (s_suppkey, s_name, s_acctbal, live)
          VALUES (s.s_suppkey, s.s_name, s.s_acctbal, 1)
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.live = 0""")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/supp_nmbs")
      require(tbl.history().last.op.contains("row-level-merge"),
        "NMBS merge must commit through the row-level op")
      s.sql("SELECT s_suppkey, s_name, s_acctbal, live " +
        "FROM graftcat.db.supp_nmbs")
    }),

    // Optimize-write in pure SQL (TBLPROPERTIES('optimizeWrite'='true')):
    // every INSERT routes through a REBALANCE shuffle before the file
    // write, so AQE coalesces the incoming plan's fragmentation toward
    // the advisory partition size — small-file PREVENTION at ingest, the
    // complement of sql_maintenance's compaction CURE. The requires prove
    // a deliberately fragmented insert landed as ONE file per partition
    // value while a property-less control fragments; the returned SELECT
    // hash-checks that right-sizing never changed a row. At 100 TB this
    // is what keeps a 200-task hourly ingest into a dated layout from
    // minting thousands of near-empty files per commit.
    Query("sql_optimize_write",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "nation").createOrReplaceTempView("nation_ow_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.nation_ow")
      s.sql("DROP TABLE IF EXISTS graftcat.db.nation_ow_ctl")
      s.sql("CREATE TABLE graftcat.db.nation_ow " +
        "(n_nationkey INT, n_name STRING, n_regionkey INT) USING txlog " +
        "PARTITIONED BY (n_regionkey) TBLPROPERTIES " +
        "('optimizeWrite'='true')")
      s.sql("CREATE TABLE graftcat.db.nation_ow_ctl " +
        "(n_nationkey INT, n_name STRING, n_regionkey INT) USING txlog " +
        "PARTITIONED BY (n_regionkey)")
      // REPARTITION hint fragments the incoming plan — the shape a busy
      // multi-task ingest job hands the sink
      val ins = "SELECT /*+ REPARTITION(8) */ n_nationkey, n_name, " +
        "n_regionkey FROM nation_ow_src"
      s.sql(s"INSERT INTO graftcat.db.nation_ow $ins")
      s.sql(s"INSERT INTO graftcat.db.nation_ow_ctl $ins")
      val owFiles = graft.sources.TxLogTable(s, s"$wh/db/nation_ow")
        .fileCount()
      val ctlFiles = graft.sources.TxLogTable(s, s"$wh/db/nation_ow_ctl")
        .fileCount()
      require(owFiles == 5, // one per n_regionkey value
        s"optimizeWrite must land one file per partition value: $owFiles")
      require(ctlFiles > owFiles,
        s"control should fragment past $owFiles, got $ctlFiles")
      s.sql("SELECT n_nationkey, n_name, n_regionkey " +
        "FROM graftcat.db.nation_ow")
    }),

    // SQL maintenance lifecycle (Spark 4 stored procedures): many small
    // INSERTs fragment the table, `CALL graftcat.system.compact` rewrites
    // the snapshot into one file per partition, `system.history` exposes
    // the version log, `system.vacuum` collects the unreferenced
    // pre-compaction files — all pure SQL, no library API. The requires
    // prove the file count shrank to 1, the compact op is in history, and
    // vacuum deleted the dead files; the returned SELECT hash-checks that
    // maintenance never changed a row. At 100 TB this lifecycle is what
    // keeps a hot table's file count (and thus planning time) bounded.
    Query("sql_maintenance",
      """SELECT r_regionkey, r_name FROM region""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "region").createOrReplaceTempView("region_maint_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.region_mnt")
      s.sql("CREATE TABLE graftcat.db.region_mnt " +
        "(r_regionkey INT, r_name STRING) USING txlog")
      (0 until 5).foreach(i => s.sql(
        "INSERT INTO graftcat.db.region_mnt " +
          s"SELECT r_regionkey, r_name FROM region_maint_src " +
          s"WHERE r_regionkey % 5 = $i"))
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/region_mnt")
      val before = tbl.fileCount()
      require(before >= 5, s"expected a fragmented table, got $before files")
      val res = s.sql("CALL graftcat.system.compact('db.region_mnt')")
        .collect()
      require(res.length == 1 && res(0).getInt(2) == 1,
        s"compact must report 1 file after: ${res.mkString(",")}")
      require(tbl.fileCount() == 1,
        s"compact left ${tbl.fileCount()} files")
      val hist = s.sql("CALL graftcat.system.history('db.region_mnt')")
        .collect()
      require(hist.last.getString(2) == "compact",
        s"history must record the compact op: ${hist.last}")
      val vac =
        s.sql("CALL graftcat.system.vacuum('db.region_mnt', 1, 0, 0)")
        .collect()
      require(vac(0).getInt(1) >= 5,
        s"vacuum must collect the pre-compaction files: ${vac(0)}")
      s.sql("SELECT r_regionkey, r_name FROM graftcat.db.region_mnt")
    }),

    // CALL system.restore: roll a table back to an earlier version as a
    // NEW commit — Delta's RESTORE semantics, O(manifest). The bad-write
    // undo button: at 100 TB the alternative to this one manifest write
    // is re-ingesting the damaged slice. The requires prove the restore
    // commits through op=restore, touches NO data file (the restored
    // file set is exactly the target version's, by reference), preserves
    // the bad-write history (time travel still sees it), and is
    // bit-equal to `VERSION AS OF` the target. Oracle replays the
    // pre-damage state relationally.
    Query("sql_restore",
      """SELECT p_partkey, p_name, p_retailprice FROM part""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "part").createOrReplaceTempView("part_rst_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.part_rst")
      s.sql("CREATE TABLE graftcat.db.part_rst USING txlog AS " +
        "SELECT p_partkey, p_name, p_retailprice FROM part_rst_src")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/part_rst")
      val good = tbl.latestVersion.get
      val goodRels = tbl.entries(Some(good)).map(_.rel).toSet
      // two bad commits: a fat-fingered UPDATE and a destructive DELETE
      s.sql("UPDATE graftcat.db.part_rst SET p_retailprice = 0 " +
        "WHERE p_partkey % 2 = 0")
      s.sql("DELETE FROM graftcat.db.part_rst WHERE p_partkey % 3 = 0")
      val damaged = tbl.latestVersion.get
      val res = s.sql(
        s"CALL graftcat.system.restore('db.part_rst', $good)").collect()
      require(res.length == 1 && res(0).getInt(1) == good,
        s"restore must echo the target version: ${res.mkString(",")}")
      require(tbl.history().last.op.contains("restore"),
        "restore must commit as op=restore")
      require(tbl.entries(None).map(_.rel).toSet == goodRels,
        "restore must republish the target's file set BY REFERENCE " +
          "(no data file written)")
      require(tbl.latestVersion.get == damaged + 1,
        "restore must preserve history (a new version, not a truncation)")
      val now = s.sql("SELECT * FROM graftcat.db.part_rst")
      val asOf = s.sql(
        s"SELECT * FROM graftcat.db.part_rst VERSION AS OF $good")
      require(now.exceptAll(asOf).isEmpty && asOf.exceptAll(now).isEmpty,
        "restored state must be bit-equal to VERSION AS OF the target")
      s.sql("SELECT p_partkey, p_name, p_retailprice " +
        "FROM graftcat.db.part_rst")
    }),

    // CALL system.clone: zero-copy clone of a partitioned table — the
    // source's manifest republished as the clone's v0, every data file
    // HARD-LINKED (same inode, proven by Files.isSameFile below), not
    // one byte copied. The dev/test-against-prod idiom: at 100 TB a CTAS
    // copy is hours and doubles storage; this is O(files) metadata ops.
    // The requires prove the link identity, the layout survival, and
    // the independence contract: a destructive DELETE on the SOURCE
    // after the clone leaves the clone's rows intact. Oracle replays
    // the clone (= the source's pre-delete state) relationally.
    Query("sql_clone",
      """SELECT c_custkey, c_acctbal, c_nationkey FROM customer""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_cl_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_cl")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_cl2")
      s.sql("CREATE TABLE graftcat.db.cust_cl USING txlog " +
        "PARTITIONED BY (c_nationkey) AS " +
        "SELECT c_custkey, c_acctbal, c_nationkey FROM cust_cl_src")
      val src = graft.sources.TxLogTable(s, s"$wh/db/cust_cl")
      val srcRels = src.entries(None).map(_.rel).toSet
      val preCount = s.table("graftcat.db.cust_cl").count()
      s.sql("CALL graftcat.system.clone('db.cust_cl', 'db.cust_cl2')")
      val dst = graft.sources.TxLogTable(s, s"$wh/db/cust_cl2")
      require(dst.entries(None).map(_.rel).toSet == srcRels,
        "clone must reference the source's exact file set")
      require(srcRels.forall { rel =>
        java.nio.file.Files.isSameFile(
          java.nio.file.Paths.get(s"$wh/db/cust_cl/data/$rel"),
          java.nio.file.Paths.get(s"$wh/db/cust_cl2/data/$rel")) },
        "clone files must be hard links (same inode), not copies")
      // independence: a destructive delete on the SOURCE cannot leak
      // into the clone (immutable files; each side vacuums its own names)
      s.sql("DELETE FROM graftcat.db.cust_cl WHERE c_custkey % 3 = 0")
      require(s.table("graftcat.db.cust_cl2").count() == preCount,
        "source DELETE leaked into the clone")
      s.sql("SELECT c_custkey, c_acctbal, c_nationkey " +
        "FROM graftcat.db.cust_cl2")
    }),

    // CALL system.partitions: per-partition file/row counts from the
    // MANIFEST alone — SHOW PARTITIONS with sizes, no file opened, free
    // at any table size (the 100 TB table-health dashboard). Row counts
    // are exact footer sums; the require proves the result arrives as a
    // LocalTableScan (driver-computed rows, no scan node). The oracle
    // recomputes the per-partition counts relationally; n_files is
    // layout-dependent (shuffle width) so only the deterministic columns
    // leave the query.
    Query("sql_partitions",
      """SELECT 'n_regionkey=' || CAST(n_regionkey AS VARCHAR) AS part,
           count(*) AS n_rows
         FROM nation GROUP BY n_regionkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "nation").createOrReplaceTempView("nation_parts_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.nation_parts")
      s.sql("CREATE TABLE graftcat.db.nation_parts (n_nationkey INT, " +
        "n_name STRING, n_regionkey INT) USING txlog " +
        "PARTITIONED BY (n_regionkey)")
      s.sql("INSERT INTO graftcat.db.nation_parts " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_parts_src")
      val out = s.sql(
        "CALL graftcat.system.partitions('db.nation_parts')")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan") &&
        !plan.contains("FileScan") && !plan.contains("BatchScan"),
        s"partitions() must answer from the manifest:\n$plan")
      require(out.collect().forall(r => r.getInt(1) >= 1 && !r.isNullAt(2)),
        "every partition must report files and an exact row count")
      out.select(col("partition").as("part"), col("n_rows"))
    }),

    // MERGE INTO on a HIVE-PARTITIONED, COLUMN-MAPPED table — the default
    // 100 TB layout plus the most common schema evolution, in one
    // statement. The operation scan reconstructs partition columns from
    // the hive paths (basePath discovery over the manifest-pruned file
    // subset) and re-labels the renamed column's physical bytes to its
    // logical name; the write re-stages the replaced subset through the
    // partition-aware commit. The requires prove: the commit went through
    // the row-level op, the hive layout survived, and files of partitions
    // the ON condition excludes were carried by reference (manifest
    // pruning on the partition key bounded the rewrite). Oracle
    // recomputes the post-merge state relationally.
    Query("sql_merge_partitioned",
      """SELECT s_suppkey,
           CASE WHEN s_nationkey = 3 THEN 'M-' || s_name
                ELSE s_name END AS s_name,
           s_nationkey,
           CASE WHEN s_nationkey = 3 THEN s_acctbal + 500
                ELSE s_acctbal END AS bal
         FROM supplier""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "supplier").createOrReplaceTempView("supplier_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.supp_part")
      s.sql("CREATE TABLE graftcat.db.supp_part USING txlog " +
        "PARTITIONED BY (s_nationkey) AS " +
        "SELECT s_suppkey, s_name, s_acctbal, s_nationkey " +
        "FROM supplier_src")
      s.sql("ALTER TABLE graftcat.db.supp_part " +
        "RENAME COLUMN s_acctbal TO bal")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/supp_part")
      val untouched = tbl.entries(None).map(_.rel)
        .filterNot(_.contains("s_nationkey=3")).toSet
      s.sql("""
        MERGE INTO graftcat.db.supp_part t
        USING (SELECT s_suppkey, concat('M-', s_name) AS s_name,
                      s_acctbal + 500 AS bal
               FROM supplier_src WHERE s_nationkey = 3) src
        ON t.s_suppkey = src.s_suppkey AND t.s_nationkey = 3
        WHEN MATCHED THEN UPDATE SET t.s_name = src.s_name,
                                     t.bal = src.bal""")
      require(tbl.history().last.op.contains("row-level-merge"),
        "MERGE INTO must commit through the row-level op")
      require(tbl.entries(None).forall(_.rel.contains("s_nationkey=")),
        "hive layout lost by the row-level rewrite")
      require(untouched.subsetOf(tbl.entries(None).map(_.rel).toSet),
        "merge rewrote partitions the ON condition excludes")
      s.sql("SELECT s_suppkey, s_name, s_nationkey, bal " +
        "FROM graftcat.db.supp_part")
    }),

    // Static partition overwrite in pure SQL: `INSERT OVERWRITE ...
    // PARTITION (key = v)` routes through SupportsOverwrite →
    // TxLogTable.replaceWhere — ONE atomic version replacing exactly the
    // named partition's rows (the idempotent backfill idiom). The
    // requires prove the commit is a replace-where op and that the other
    // partitions' files were carried by manifest reference, untouched.
    // Oracle recomputes the post-overwrite state relationally.
    Query("sql_overwrite_partition",
      """SELECT n_nationkey,
           CASE WHEN n_regionkey = 2 THEN 'R2-' || n_name
                ELSE n_name END AS n_name,
           n_regionkey
         FROM nation""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "nation").createOrReplaceTempView("nation_sow_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.nation_sow")
      s.sql("CREATE TABLE graftcat.db.nation_sow " +
        "(n_nationkey INT, n_name STRING, n_regionkey INT) USING txlog " +
        "PARTITIONED BY (n_regionkey)")
      s.sql("INSERT INTO graftcat.db.nation_sow " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_sow_src")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/nation_sow")
      val untouched = tbl.entries(None).map(_.rel)
        .filterNot(_.contains("n_regionkey=2")).toSet
      s.sql("INSERT OVERWRITE graftcat.db.nation_sow " +
        "PARTITION (n_regionkey = 2) " +
        "SELECT n_nationkey, concat('R2-', n_name) FROM nation_sow_src " +
        "WHERE n_regionkey = 2")
      require(tbl.history().last.op.contains("replace-where"),
        "static partition overwrite must commit through replace-where")
      require(untouched.subsetOf(tbl.entries(None).map(_.rel).toSet),
        "overwrite rewrote partitions outside the PARTITION spec")
      s.sql("SELECT n_nationkey, n_name, n_regionkey " +
        "FROM graftcat.db.nation_sow")
    }),

    // Metadata-only aggregates in PURE SQL: the injected read rule
    // collapses an ungrouped, unfiltered COUNT(*)/MIN/MAX over a txlog
    // catalog table into a LocalRelation computed from the manifest's
    // exact per-file footer stats — the executed plan has NO scan node at
    // all (required in-query). At 100 TB this is the difference between a
    // dashboard's `SELECT count(*)` being free and it being a full-table
    // scan. Exactness guards: live MOR tombstones or any file without
    // stats disable the rewrite (metaRowCount/metaMinMax return None) —
    // the second require proves a filtered count still scans. Oracle
    // recomputes all three aggregates relationally.
    Query("sql_meta_count",
      """SELECT count(*) AS n_rows, min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key FROM orders""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "orders").createOrReplaceTempView("ord_meta_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ord_meta")
      s.sql("CREATE TABLE graftcat.db.ord_meta USING txlog AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice FROM ord_meta_src")
      val out = s.sql("SELECT count(*) AS n_rows, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key " +
        "FROM graftcat.db.ord_meta")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan"),
        s"metadata aggregate must collapse to a local relation:\n$plan")
      require(!plan.contains("FileScan") && !plan.contains("BatchScan") &&
        !plan.contains("RDDScan"),
        s"metadata aggregate must not open a single file:\n$plan")
      // a FILTERED count cannot be answered from the manifest: same
      // statement + WHERE must keep the real scan (soundness guard)
      val filtered = s.sql("SELECT count(*) AS n FROM graftcat.db.ord_meta " +
        "WHERE o_custkey > 0").queryExecution.executedPlan.toString
      require(!filtered.contains("LocalTableScan"),
        s"filtered count must NOT ride the metadata shortcut:\n$filtered")
      out
    }),

    // Metadata-only COUNT(*) UNDER A PARTITION FILTER: a partition value
    // is constant per file, so `COUNT(*) WHERE p = x` is still answered
    // exactly from the manifest (partition path segment + per-file footer
    // row counts) and collapses to a LocalRelation with NO scan — the
    // dashboard query at 100 TB ("how many rows landed today?") on a
    // day-partitioned table. MIN/MAX over the same filtered subset
    // collapse too (footer extrema of the qualifying files). The
    // collapse demands COMPLETE predicate translation (equality/IN on
    // partition columns under AND): the last require proves a filter
    // touching a NON-partition column keeps the real scan (partial
    // translation would be unsound for counting). Oracle recomputes
    // every aggregate relationally.
    Query("sql_meta_count_filtered",
      """SELECT (SELECT count(*) FROM customer WHERE c_nationkey = 3)
           AS n_eq,
           (SELECT min(c_custkey) FROM customer WHERE c_nationkey = 3)
           AS mn_eq,
           (SELECT max(c_custkey) FROM customer WHERE c_nationkey = 3)
           AS mx_eq,
           (SELECT count(*) FROM customer
            WHERE c_nationkey IN (1, 2) AND c_nationkey IN (2, 7))
           AS n_in""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_metaf_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_metaf")
      s.sql("CREATE TABLE graftcat.db.cust_metaf (c_custkey BIGINT, " +
        "c_acctbal DOUBLE, c_nationkey INT) USING txlog " +
        "PARTITIONED BY (c_nationkey)")
      s.sql("INSERT INTO graftcat.db.cust_metaf " +
        "SELECT c_custkey, c_acctbal, c_nationkey FROM cust_metaf_src")
      val eq = s.sql("SELECT count(*) AS n_eq, min(c_custkey) AS mn_eq, " +
        "max(c_custkey) AS mx_eq FROM graftcat.db.cust_metaf " +
        "WHERE c_nationkey = 3")
      val in = s.sql("SELECT count(*) AS n_in FROM graftcat.db.cust_metaf " +
        "WHERE c_nationkey IN (1, 2) AND c_nationkey IN (2, 7)")
      for (q <- Seq(eq, in)) {
        val plan = q.queryExecution.executedPlan.toString
        require(plan.contains("LocalTableScan"),
          s"partition-filtered count must collapse to the manifest:\n$plan")
        require(!plan.contains("FileScan") && !plan.contains("BatchScan") &&
          !plan.contains("RDDScan"),
          s"partition-filtered count must not open a file:\n$plan")
      }
      // soundness guard: a non-partition-column conjunct disables the
      // collapse — counting (unlike pruning) cannot drop a conjunct
      val mixed = s.sql("SELECT count(*) AS n FROM graftcat.db.cust_metaf " +
        "WHERE c_nationkey = 3 AND c_custkey > 0")
        .queryExecution.executedPlan.toString
      require(!mixed.contains("LocalTableScan"),
        s"non-partition conjunct must NOT ride the metadata shortcut:\n" +
          mixed)
      eq.crossJoin(in)
    }),

    // STORAGE-PARTITIONED JOIN (SPARK-37377): both sides are txlog tables
    // hive-partitioned on the join key, the scans report
    // KeyGroupedPartitioning with per-partition-value keyed splits, and
    // Spark plans the sort-merge join WITH ZERO SHUFFLE EXCHANGES — at
    // 100 TB neither fact table ever moves; the join (and the final
    // aggregation, whose clustering the key-grouped partitioning already
    // satisfies) runs entirely partition-local. The requires pin exactly
    // that: a SortMergeJoin over two TxLogSpjScans and not one Exchange
    // node in the whole executed plan. Oracle recomputes the join+agg
    // relationally.
    Query("sql_spj_join",
      """SELECT c.c_nationkey AS nationkey, count(*) AS pairs,
           CAST(SUM(CAST(c.c_acctbal + s.s_acctbal AS DECIMAL(18,2)))
             AS DOUBLE) AS bal_sum
         FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
         GROUP BY c.c_nationkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_spj_src")
      t(s, dir, "supplier").createOrReplaceTempView("supp_spj_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_spj")
      s.sql("DROP TABLE IF EXISTS graftcat.db.supp_spj")
      s.sql("CREATE TABLE graftcat.db.cust_spj USING txlog " +
        "PARTITIONED BY (c_nationkey) AS " +
        "SELECT c_custkey, c_acctbal, c_nationkey FROM cust_spj_src")
      s.sql("CREATE TABLE graftcat.db.supp_spj USING txlog " +
        "PARTITIONED BY (s_nationkey) AS " +
        "SELECT s_suppkey, s_acctbal, s_nationkey FROM supp_spj_src")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true") // the Spark 4 default, pinned for the proof
      try {
        val out = s.sql("""
          SELECT /*+ MERGE(c) */ c.c_nationkey AS nationkey,
                 count(*) AS pairs,
                 CAST(SUM(CAST(c.c_acctbal + s.s_acctbal AS DECIMAL(18,2)))
                   AS DOUBLE) AS bal_sum
          FROM graftcat.db.cust_spj c
          JOIN graftcat.db.supp_spj s ON c.c_nationkey = s.s_nationkey
          GROUP BY c.c_nationkey""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin"),
          s"expected a sort-merge join:\n$plan")
        require(plan.contains("TxLogSpjScan"),
          s"expected the key-grouped txlog scans:\n$plan")
        require(!plan.contains("Exchange"),
          s"storage-partitioned join must plan zero shuffles:\n$plan")
        out
      } finally s.conf.set(key, prev)
    }),

    // Runtime dynamic partition pruning through the V2 scan: the classic
    // star-schema shape — fact partitioned on the join key, dim filtered
    // at runtime — must read ONLY the dim-selected partitions. The scan
    // implements SupportsRuntimeV2Filtering; the requires prove the DPP
    // subquery is in the executed plan AND that the scan's file set
    // actually shrank at runtime (the introspection hook records
    // before/after). At 100 TB this is "read 3 days, not 3 years". The
    // dim side reads the driver's parquet (file-backed — an in-memory
    // dim constant-folds its filter away and DPP declines, correctly).
    Query("sql_dpp_join",
      """SELECT c.c_nationkey AS nationkey, count(*) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE n.n_regionkey = 2
         GROUP BY c.c_nationkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_dpp_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_dpp")
      s.sql("CREATE TABLE graftcat.db.cust_dpp (c_custkey BIGINT, " +
        "c_acctbal DOUBLE, c_nationkey INT) USING txlog " +
        "PARTITIONED BY (c_nationkey)")
      s.sql("INSERT INTO graftcat.db.cust_dpp " +
        "SELECT c_custkey, c_acctbal, c_nationkey FROM cust_dpp_src")
      s.read.parquet(s"$dir/nation.parquet")
        .createOrReplaceTempView("nation_dpp")
      val key =
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
      val prev = s.conf.get(key)
      s.conf.set(key, "false")
      graft.sources.v2.TxLogSpjScan.lastRuntimePrune.set((0, 0))
      try {
        val out = s.sql("""
          SELECT c.c_nationkey AS nationkey, count(*) AS n_cust,
                 CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2)))
                   AS DOUBLE) AS bal
          FROM graftcat.db.cust_dpp c
          JOIN nation_dpp n ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = 2
          GROUP BY c.c_nationkey""")
        require(out.queryExecution.executedPlan.toString
          .toLowerCase.contains("dynamicpruning"),
          "DPP subquery missing from the executed plan")
        val rows = out.collect()
        val (before, after) =
          graft.sources.v2.TxLogSpjScan.lastRuntimePrune.get()
        require(before > after && after > 0,
          s"runtime prune must shrink the fact scan: $before -> $after")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1),
          out.schema)
      } finally s.conf.set(key, prev)
    }),

    // Dynamic FILE pruning — DPP's twin for the join keys a fact is NOT
    // hive-partitioned on: the fact is BUCKETED by the key, the dim's
    // runtime IN-set hashes each value to its one hidden _bkt dir, and
    // the scan reads only the matching dirs (manifest decision — same
    // candidateFilesWhere machinery as static point lookups). The dim
    // filter selects 5 of 25 nationkeys regardless of scale factor, so
    // the 16-bucket fact always skips dirs; the requires prove the DPP
    // subquery planned AND the file set shrank at runtime. At 100 TB
    // this is the star join reading 5/16ths of a fact nobody thought to
    // partition by that key.
    Query("sql_file_skip_join",
      """SELECT c.c_nationkey AS nationkey, count(*) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE n.n_regionkey = 2
         GROUP BY c.c_nationkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_dfp_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_dfp")
      s.sql("CREATE TABLE graftcat.db.cust_dfp (c_custkey BIGINT, " +
        "c_acctbal DOUBLE, c_nationkey INT) USING txlog " +
        "PARTITIONED BY (bucket(16, c_nationkey))")
      s.sql("INSERT INTO graftcat.db.cust_dfp " +
        "SELECT c_custkey, c_acctbal, c_nationkey FROM cust_dfp_src")
      s.read.parquet(s"$dir/nation.parquet")
        .createOrReplaceTempView("nation_dfp")
      val key =
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
      val prev = s.conf.get(key)
      s.conf.set(key, "false")
      graft.sources.v2.TxLogSpjScan.lastRuntimePrune.set((0, 0))
      try {
        val out = s.sql("""
          SELECT c.c_nationkey AS nationkey, count(*) AS n_cust,
                 CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2)))
                   AS DOUBLE) AS bal
          FROM graftcat.db.cust_dfp c
          JOIN nation_dfp n ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = 2
          GROUP BY c.c_nationkey""")
        require(out.queryExecution.executedPlan.toString
          .toLowerCase.contains("dynamicpruning"),
          "runtime filter subquery missing from the executed plan")
        val rows = out.collect()
        val (before, after) =
          graft.sources.v2.TxLogSpjScan.lastRuntimePrune.get()
        require(before > after && after > 0,
          s"bucket-hash runtime prune must shrink the fact scan: " +
            s"$before -> $after")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1),
          out.schema)
      } finally s.conf.set(key, prev)
    }),

    // HIDDEN time partitioning (Iceberg's days(ts), re-derived on the
    // hive layout): the table declares PARTITIONED BY (days(ts)), every
    // write derives the calendar dir from the instant (zone-free epoch
    // arithmetic), reads never see the hidden level, and a ts-range
    // predicate prunes to the matching dirs from the MANIFEST ALONE —
    // the derived segment bounds decide, no timestamp footer stats
    // needed. The require proves a 7-of-30-day range reads only those
    // days' files. At 100 TB: time-clustered ingest with no
    // user-managed date column, and "read the week, not the month".
    Query("sql_hidden_partitioning",
      """SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
         FROM events
         WHERE epoch_ns(ts) >= 1704412800000000000
           AND epoch_ns(ts) < 1705017600000000000""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_hp_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_hp")
      s.sql("CREATE TABLE graftcat.db.ev_hp (event_id BIGINT, " +
        "ts TIMESTAMP, value DOUBLE) USING txlog " +
        "PARTITIONED BY (days(ts))")
      // source ts is epoch-nanos LongType (Tables contract) → micros
      s.sql("INSERT INTO graftcat.db.ev_hp " +
        "SELECT event_id, timestamp_micros(CAST(ts DIV 1000 AS BIGINT))," +
        " value FROM ev_hp_src")
      val tl = graft.sources.TxLogTable(s, s"$wh/db/ev_hp")
      val lo = java.time.Instant.parse("2024-01-05T00:00:00Z")
      val hi = java.time.Instant.parse("2024-01-12T00:00:00Z")
      import org.apache.spark.sql.functions.lit
      val all = tl.entries(None).map(_.rel)
      val hit = tl.candidateFilesWhere(
        org.apache.spark.sql.functions.col("ts") >= lit(lo) &&
          org.apache.spark.sql.functions.col("ts") < lit(hi))
      val okDays = (5 to 11).map(d => f"_tp=2024-01-$d%02d/")
      require(hit.nonEmpty && hit.size < all.size &&
        hit.forall(r => okDays.exists(r.startsWith)),
        s"7-day range must prune to its dirs: ${hit.size} of " +
          s"${all.size}: $hit")
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        FROM graftcat.db.ev_hp
        WHERE ts >= timestamp_seconds(1704412800)
          AND ts < timestamp_seconds(1705017600)""")
    }),

    // RETENTION DELETE as a manifest omission: `DELETE WHERE ts < cutoff`
    // over time-banded commits drops the fully-covered files WITHOUT
    // READING THEM (PredicateRanges.exactBounds characterizes the
    // predicate completely; per-file min/max + zero-null stats prove
    // every row matches) — the require pins "no new files, strictly
    // fewer files". At 100 TB this is deleting a year of history in
    // O(manifest), with only boundary-straddling files ever rewritten.
    // SQL DELETE routes through the same deleteWhere, so the fast path
    // needs no special API. Oracle recomputes the surviving aggregate.
    Query("sql_retention_delete",
      """SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(min(epoch_ns(ts) // 1000) AS BIGINT) AS first_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
         FROM events
         WHERE epoch_ns(ts) >= 1704931200000000000""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_ret_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_ret")
      s.sql("CREATE TABLE graftcat.db.ev_ret (event_id BIGINT, " +
        "ts_us BIGINT, value DOUBLE) USING txlog")
      // three time-banded commits → disjoint ts_us ranges per file set
      val bandsUs = Seq(
        (1704067200000000L, 1704931200000000L), // Jan 1-10
        (1704931200000000L, 1705795200000000L), // Jan 11-20
        (1705795200000000L, 1706745600000000L)) // Jan 21-30
      bandsUs.foreach { case (lo, hi) =>
        s.sql("INSERT INTO graftcat.db.ev_ret " +
          s"SELECT event_id, ts DIV 1000 AS ts_us, value FROM ev_ret_src " +
          s"WHERE ts DIV 1000 >= $lo AND ts DIV 1000 < $hi")
      }
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/ev_ret")
      val before = tbl.entries(None).map(_.rel).toSet
      s.sql("DELETE FROM graftcat.db.ev_ret WHERE ts_us < 1704931200000000")
      val after = tbl.entries(None).map(_.rel).toSet
      require(after.nonEmpty && after.subsetOf(before) &&
        after.size < before.size,
        s"retention delete must drop old files by manifest omission: " +
          s"${before.size} -> ${after.size} (new files: " +
          s"${(after -- before).size})")
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(min(ts_us) AS BIGINT) AS first_us,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        FROM graftcat.db.ev_ret""")
    }),

    // Iceberg-style METADATA TABLES: `cat.db.t.files` / `.history` /
    // `.partitions` resolve as plain relations (namespace tail = the
    // data table, name = the metadata view) — composable in joins,
    // filters and aggregates, unlike the one-shot CALL procs. Rows are
    // the manifest the driver already holds: O(files) strings, never
    // the table's data. In-query requires pin the cross-view algebra
    // (aggregating `files` reproduces `partitions`; `history` counts
    // the commits); the oracle re-derives the per-partition row counts
    // relationally from the source.
    Query("sql_meta_tables",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY event_type""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_meta_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_meta")
      s.sql("CREATE TABLE graftcat.db.ev_meta (event_id BIGINT, " +
        "event_type STRING, value DOUBLE) USING txlog " +
        "PARTITIONED BY (event_type)")
      s.sql("INSERT INTO graftcat.db.ev_meta " +
        "SELECT event_id, event_type, value FROM ev_meta_src")
      val nv = s.sql("SELECT count(*) FROM graftcat.db.ev_meta.history")
        .head.getLong(0)
      require(nv == 2, s"create + insert must be 2 versions, got $nv")
      val fromFiles = s.sql("SELECT partition, sum(rows) AS n " +
        "FROM graftcat.db.ev_meta.files GROUP BY partition").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val parts = s.sql("SELECT partition, rows " +
        "FROM graftcat.db.ev_meta.partitions").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      require(fromFiles == parts,
        s"files must aggregate to partitions: $fromFiles vs $parts")
      s.sql("""
        SELECT regexp_extract(partition, 'event_type=(.*)', 1)
                 AS event_type,
               CAST(rows AS BIGINT) AS n
        FROM graftcat.db.ev_meta.partitions""")
    }),

    // TAGS — immutable named refs over versions (Iceberg's TAG concept;
    // Delta has none): `CALL system.tag` pins "what training-run-X
    // read" by NAME, `VERSION AS OF 'name'` reads it back, vacuum
    // floors at the oldest tag so the named snapshot stays readable,
    // and reclaiming it is an explicit drop_tag. The in-query requires
    // walk that whole lifecycle — tag at v1, two more commits, a
    // keep=1 vacuum that must stop at the tag — and the returned frame
    // is the TAGGED snapshot read by name after the vacuum, which the
    // oracle recomputes as the first slice of the source.
    Query("sql_tags",
      """SELECT event_id, user_id, value FROM events
         WHERE event_id % 2 = 0""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_tag_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_tag")
      s.sql("CREATE TABLE graftcat.db.ev_tag (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_tag SELECT event_id, user_id, " +
        "value FROM ev_tag_src WHERE event_id % 2 = 0")
      val tv = s.sql("CALL graftcat.system.tag('db.ev_tag', 'baseline')")
        .head
      require(tv.getString(0) == "baseline" && tv.getInt(1) == 1,
        s"tag must pin the insert version: $tv")
      s.sql("INSERT INTO graftcat.db.ev_tag SELECT event_id, user_id, " +
        "value FROM ev_tag_src WHERE event_id % 2 = 1")
      s.sql("UPDATE graftcat.db.ev_tag SET value = 0 " +
        "WHERE event_id % 100 = 7")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/ev_tag")
      s.sql("CALL graftcat.system.vacuum('db.ev_tag', 1, 0, 0)").collect()
      require(tbl.versions.head == 1,
        s"keep=1 vacuum must floor at the tagged v1: ${tbl.versions}")
      s.sql("SELECT event_id, user_id, value FROM graftcat.db.ev_tag " +
        "VERSION AS OF 'baseline'")
    }),

    // WRITABLE BRANCHES + WRITE-AUDIT-PUBLISH (the r15 VERDICT's #2):
    // fork 'audit' off the seeded table, route a candidate load AND a
    // quality DELETE through the branch identifier
    // (`ns.t.branch_audit` — full DSv2 read/write relation over the
    // branch log, shared data dir), require main is unchanged while the
    // audit runs and that the audit gate passes ON the branch, then
    // `CALL system.publish` fast-forwards the branch head onto main as
    // ONE atomic commit (op=publish, delta-encoded against main's
    // head). Returned frame = main AFTER publish; the oracle recomputes
    // the WAP outcome from the raw source. At 100 TB this is staging
    // without a second copy: the branch shares every data file with
    // main and the publish is one manifest PUT.
    Query("sql_branches",
      """WITH wap AS (
           SELECT event_id, user_id, value FROM events
           WHERE event_id % 3 IN (0, 1))
         SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
         FROM wap WHERE value >= 10 GROUP BY user_id""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_br_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_br")
      s.sql("CREATE TABLE graftcat.db.ev_br (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_br SELECT event_id, user_id, " +
        "value FROM ev_br_src WHERE event_id % 3 = 0")
      val br = s.sql("CALL graftcat.system.branch('db.ev_br', 'audit')")
        .head
      require(br.getString(0) == "audit" && br.getInt(1) == 1,
        s"branch must fork at the insert version: $br")
      s.sql("INSERT INTO graftcat.db.ev_br.branch_audit " +
        "SELECT event_id, user_id, value FROM ev_br_src " +
        "WHERE event_id % 3 = 1")
      s.sql("DELETE FROM graftcat.db.ev_br.branch_audit WHERE value < 10")
      val mainN = s.sql("SELECT count(*) FROM graftcat.db.ev_br")
        .head.getLong(0)
      val srcN = s.sql("SELECT count(*) FROM ev_br_src " +
        "WHERE event_id % 3 = 0").head.getLong(0)
      require(mainN == srcN,
        s"branch writes must stay invisible on main: $mainN != $srcN")
      val bad = s.sql("SELECT count(*) FROM " +
        "graftcat.db.ev_br.branch_audit WHERE value < 10").head.getLong(0)
      require(bad == 0, s"the audit runs against the BRANCH state: $bad")
      s.sql("CALL graftcat.system.publish('db.ev_br', 'audit')").collect()
      s.sql("CALL graftcat.system.drop_branch('db.ev_br', 'audit')")
        .collect()
      s.sql("SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv " +
        "FROM graftcat.db.ev_br GROUP BY user_id")
    }),

    // O(DELTA) COMMIT METADATA (the r15 VERDICT's #1) through SQL: a
    // trickle of 12 INSERTs plus a DELETE publishes as `#delta=`
    // manifests (adds/removes only), with a self-contained CHECKPOINT
    // landing when the chain reaches the interval — the requires pin
    // that most commits ARE deltas, that a mid-history checkpoint
    // exists, and that the newest delta's bytes undercut the newest
    // checkpoint's (commit cost scales with the commit, not the
    // table). Time travel to a mid-chain version must answer exactly
    // (resolution folds the chain). Returned frame = final state;
    // oracle recomputes it from the raw source.
    Query("sql_log_checkpoint",
      """SELECT n_nationkey AS k, n_name AS name, n_regionkey AS rk
         FROM nation WHERE n_regionkey <> 0""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "nation").createOrReplaceTempView("nat_ck_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.nat_ck")
      s.sql("CREATE TABLE graftcat.db.nat_ck (k BIGINT, name STRING, " +
        "rk BIGINT) USING txlog")
      (0 until 12).foreach { i =>
        s.sql("INSERT INTO graftcat.db.nat_ck SELECT n_nationkey, " +
          s"n_name, n_regionkey FROM nat_ck_src WHERE n_nationkey % 12 = $i")
      }
      s.sql("DELETE FROM graftcat.db.nat_ck WHERE rk = 0")
      val raw = (v: Int) => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$wh/db/nat_ck/_log",
          f"v$v%08d.manifest")),
        java.nio.charset.StandardCharsets.UTF_8)
      val isDelta = (v: Int) =>
        raw(v).linesIterator.exists(_.startsWith("#delta="))
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/nat_ck")
      val vs = tbl.versions
      val deltas = vs.filter(v => v > 0 && isDelta(v))
      val checkpoints = vs.filter(v => v > 0 && !isDelta(v))
      require(deltas.size >= 8,
        s"trickle DML must publish deltas, got ${deltas.size} of $vs")
      require(checkpoints.nonEmpty,
        s"the chain must checkpoint within the interval: $vs")
      require(raw(deltas.max).length < raw(checkpoints.max).length,
        "a delta's commit bytes must undercut a checkpoint's")
      val mid = s.sql("SELECT count(*) FROM graftcat.db.nat_ck " +
        "VERSION AS OF 6").head.getLong(0)
      val midExp = s.sql("SELECT count(*) FROM nat_ck_src " +
        "WHERE n_nationkey % 12 < 6").head.getLong(0)
      require(mid == midExp,
        s"mid-chain time travel must fold the delta chain: $mid != $midExp")
      s.sql("SELECT k, name, rk FROM graftcat.db.nat_ck")
    }),

    // PERSISTED INCREMENTAL MATERIALIZED VIEW (operators
    // .MaterializedView through the SQL surface): a per-user rollup
    // over an events table is created once, then maintained by CALL
    // system.refresh_mv as the source takes an append, a row-level
    // DELETE and another append. Each refresh folds exactly the change
    // feed of the un-consumed window and writes O(changed groups) —
    // one DV mask over the touched groups' current rows plus the
    // replacements, ONE atomic commit that also records the consumed
    // source version (#mvsrc: exactly-once by the commit protocol
    // itself). The requires pin the modes (incremental, incremental,
    // then noop); the oracle recomputes the final rollup from the raw
    // source, so fold ≡ recompute is hash-checked end-to-end. At
    // 100 TB this is the hourly-refresh pattern: the hour's files in,
    // the changed groups out, the other billion groups carried by
    // manifest reference.
    Query("sql_mv_incremental",
      """WITH src AS (
           SELECT user_id, value FROM events
           WHERE (event_id % 4 IN (0, 1) AND value >= 5)
              OR event_id % 4 = 2)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM src GROUP BY user_id""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_mv_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_user")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_mv")
      s.sql("CREATE TABLE graftcat.db.ev_mv (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_mv SELECT event_id, user_id, " +
        "value FROM ev_mv_src WHERE event_id % 4 = 0")
      s.sql("CALL graftcat.system.create_mv('db.mv_user', 'db.ev_mv', " +
        "'user_id', 'total:value')").collect()
      s.sql("INSERT INTO graftcat.db.ev_mv SELECT event_id, user_id, " +
        "value FROM ev_mv_src WHERE event_id % 4 = 1")
      s.sql("DELETE FROM graftcat.db.ev_mv WHERE value < 5")
      val r1 = s.sql("CALL graftcat.system.refresh_mv('db.mv_user')")
        .head
      require(r1.getString(0) == "incremental",
        s"refresh 1 must fold incrementally: $r1")
      s.sql("INSERT INTO graftcat.db.ev_mv SELECT event_id, user_id, " +
        "value FROM ev_mv_src WHERE event_id % 4 = 2")
      val r2 = s.sql("CALL graftcat.system.refresh_mv('db.mv_user')")
        .head
      require(r2.getString(0) == "incremental",
        s"refresh 2 must fold incrementally: $r2")
      val r3 = s.sql("CALL graftcat.system.refresh_mv('db.mv_user')")
        .head
      require(r3.getString(0) == "noop",
        s"a current view must refresh as a noop: $r3")
      s.sql("SELECT user_id, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.mv_user")
    }),

    // FILTERED MV (WHERE before aggregation — the common production
    // view shape): the filter is row-local so it commutes with the
    // change feed, and the incremental fold stays exact under DML that
    // moves rows across the filter boundary (the DELETE here removes
    // both matching and non-matching rows). CALL system.mv_status
    // reports the maintenance position; the oracle recomputes the
    // filtered rollup from the raw source.
    Query("sql_mv_filtered",
      """WITH src AS (
           SELECT user_id, value FROM events
           WHERE value <= 400 AND event_type = 'click' AND value > 1)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM src GROUP BY user_id""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_mvf_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_clicks")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_mvf")
      s.sql("CREATE TABLE graftcat.db.ev_mvf (event_id BIGINT, " +
        "user_id BIGINT, event_type STRING, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_mvf SELECT event_id, user_id, " +
        "event_type, value FROM ev_mvf_src WHERE event_id % 2 = 0")
      s.sql("CALL graftcat.system.create_mv('db.mv_clicks', " +
        "'db.ev_mvf', 'user_id', 'total:value', " +
        "'event_type = ''click'' AND value > 1')").collect()
      s.sql("INSERT INTO graftcat.db.ev_mvf SELECT event_id, user_id, " +
        "event_type, value FROM ev_mvf_src WHERE event_id % 2 = 1")
      s.sql("DELETE FROM graftcat.db.ev_mvf WHERE value > 400")
      val r = s.sql("CALL graftcat.system.refresh_mv('db.mv_clicks')")
        .head
      require(r.getString(0) == "incremental",
        s"the filtered view must fold incrementally: $r")
      val st = s.sql("CALL graftcat.system.mv_status('db.mv_clicks')")
        .head
      require(st.getInt(3) == 0, s"mv_status must report current: $st")
      require(st.getString(6).contains("click"),
        s"mv_status must report the filter: $st")
      // the namespace-wide listing (CALL system.mvs) finds the view and
      // agrees it is current
      val ls = s.sql("CALL graftcat.system.mvs('db')").collect()
      require(ls.exists(r => r.getString(0) == "db.mv_clicks" &&
          r.getInt(4) == 0),
        s"mvs must list the current view: ${ls.mkString(",")}")
      s.sql("SELECT user_id, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.mv_clicks")
    }),

    // U9 — ATOMIC KEYED DV-UPSERT (TxLogTable.upsertPos, the
    // materialized-view write path as a first-class DML op): one commit
    // masks every current row of the touched keys where it sits (one
    // small DV parquet) and appends the replacements — updates, fresh
    // inserts, and keyed deletes (dropKeys) together, ZERO data files
    // rewritten (the require pins MergeStats.rewritten == 0). This is
    // the O(changed rows) keyed upsert merge's copy-on-write cannot
    // give when keys hash-spread across every file. Oracle recomputes
    // the final state from the raw source.
    Query("u9_upsert_pos",
      """WITH base AS (
           SELECT c_custkey, c_name, c_acctbal FROM customer),
         kept AS (
           SELECT c_custkey, c_name, c_acctbal FROM base
           WHERE c_custkey % 7 <> 0 AND c_custkey % 13 <> 0),
         upd AS (
           SELECT c_custkey, 'U9-' || c_name AS c_name,
             c_acctbal + 10 AS c_acctbal
           FROM base WHERE c_custkey % 7 = 0),
         fresh AS (
           SELECT c_custkey + 900000 AS c_custkey, 'F' AS c_name,
             1.5 AS c_acctbal
           FROM base WHERE c_custkey % 11 = 0)
         SELECT * FROM kept
         UNION ALL SELECT * FROM upd
         UNION ALL SELECT * FROM fresh""")((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        col("c_name"), col("c_acctbal"))
      val k = col("c_custkey")
      val tmp = java.nio.file.Files.createTempDirectory("graft-u9")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("c").toString)
      tbl.commit(c, overwrite = true)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType)))
      val newRows = c.filter(k % 7 === 0).select(k,
          concat(lit("U9-"), col("c_name")).as("c_name"),
          (col("c_acctbal") + 10).as("c_acctbal"))
        .unionByName(c.filter(k % 11 === 0).select(
          (k + 900000).as("c_custkey"), lit("F").as("c_name"),
          lit(1.5).as("c_acctbal")))
      val drops = c.filter(k % 13 === 0).select("c_custkey").distinct()
      val filesBefore = tbl.fileCount()
      val st = tbl.upsertPos(schema, newRows, Seq("c_custkey"),
        dropKeys = Some(drops))
      require(st.rewritten == 0,
        s"upsertPos must not rewrite data files: $st")
      require(tbl.fileCount() > filesBefore,
        "replacement rows must land as NEW files, old ones carried")
      tbl.snapshot(schema)
    }),

    // MV WITH MIN/MAX MEASURES ('out:min|max:src' in the CALL spec):
    // extrema fold incrementally over APPEND-ONLY windows (an insert
    // can only extend them); a row-changing version can remove the
    // extremum itself, so such a window routes to a GROUP-TARGETED
    // partial recompute — re-aggregate exactly the affected groups
    // from the snapshot, O(affected) write, never O(view) (all three
    // refreshes pin "incremental"). The oracle recomputes count, sum,
    // min and max per group from the raw source.
    Query("sql_mv_minmax",
      """WITH src AS (
           SELECT user_id, value FROM events
           WHERE (event_id % 3 IN (0, 1) AND value <= 450)
              OR event_id % 3 = 2)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total,
           min(value) AS lo, max(value) AS hi
         FROM src GROUP BY user_id""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_mm_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_mm")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_mm")
      s.sql("CREATE TABLE graftcat.db.ev_mm (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_mm SELECT event_id, user_id, " +
        "value FROM ev_mm_src WHERE event_id % 3 = 0")
      s.sql("CALL graftcat.system.create_mv('db.mv_mm', 'db.ev_mm', " +
        "'user_id', 'total:value,lo:min:value,hi:max:value')").collect()
      // ONE batched window: append + a delete that can remove the
      // extremum — the row-changing window routes to the targeted
      // partial recompute (re-aggregate EXACTLY the affected groups,
      // never O(view)), still mode=incremental
      s.sql("INSERT INTO graftcat.db.ev_mm SELECT event_id, user_id, " +
        "value FROM ev_mm_src WHERE event_id % 3 = 1")
      s.sql("DELETE FROM graftcat.db.ev_mm WHERE value > 450")
      val r1 = s.sql("CALL graftcat.system.refresh_mv('db.mv_mm')").head
      require(r1.getString(0) == "incremental",
        s"a deleting window must route to the targeted recompute: $r1")
      s.sql("INSERT INTO graftcat.db.ev_mm SELECT event_id, user_id, " +
        "value FROM ev_mm_src WHERE event_id % 3 = 2")
      val r2 = s.sql("CALL graftcat.system.refresh_mv('db.mv_mm')").head
      require(r2.getString(0) == "incremental",
        s"an append-only window folds the extrema directly: $r2")
      s.sql("SELECT user_id, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total, lo, hi FROM graftcat.db.mv_mm")
    }),

    // APPROX-COUNT(DISTINCT) MV (CALL system.create_mv_distinct): the
    // view IS the per-group HLL register table — (group, md5 bucket,
    // max rank) rows built on the generic row-local-derive machinery,
    // so the O(changed groups) fold, exactly-once #mvsrc and vacuum
    // cursors apply verbatim. Registers are insert-additive: appends
    // fold incrementally (r1, r3); a deleting window cannot LOWER a
    // register by folding, so it routes to the group-targeted partial
    // recompute — exactly the affected (group, bucket) registers
    // re-aggregate from the snapshot (r2 pinned "incremental", still
    // exact, never O(view)). The oracle rebuilds
    // the registers from the raw source with the same deterministic
    // integer math (md5 → bucket/rank), so sketch-fold ≡ recompute is
    // hash-checked bit-for-bit; the float estimate (CALL
    // system.mv_distinct) stays off the hashed path by design.
    Query("sql_mv_distinct",
      """WITH src AS (
           SELECT user_id % 8 AS grp, event_id AS val FROM events
           WHERE (event_id % 3 IN (0, 1) AND event_id % 7 <> 0)
              OR event_id % 3 = 2),
         h AS (
           SELECT grp, md5(CAST(val AS VARCHAR)) AS h FROM src
           WHERE val IS NOT NULL),
         b AS (
           SELECT grp, CAST('0x' || substring(h, 1, 2) AS BIGINT)
               AS bucket,
             CAST('0x' || substring(h, 3, 15) AS BIGINT) AS v
           FROM h)
         SELECT grp, bucket,
           MAX(CASE WHEN v = 0 THEN CAST(61 AS BIGINT)
                    ELSE 61 - length(bin(v)) END) AS r,
           CAST(count(*) AS BIGINT) AS n
         FROM b GROUP BY grp, bucket""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_dst_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_dst")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_dst")
      s.sql("CREATE TABLE graftcat.db.ev_dst (event_id BIGINT, " +
        "grp BIGINT, val BIGINT) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_dst SELECT event_id, " +
        "user_id % 8, event_id FROM ev_dst_src WHERE event_id % 3 = 0")
      s.sql("CALL graftcat.system.create_mv_distinct('db.mv_dst', " +
        "'db.ev_dst', 'grp', 'uids:val')").collect()
      // ONE batched window: appends + a deleting version — a delete
      // cannot LOWER a register by folding, so the window routes to the
      // targeted partial recompute of exactly the affected registers
      s.sql("INSERT INTO graftcat.db.ev_dst SELECT event_id, " +
        "user_id % 8, event_id FROM ev_dst_src WHERE event_id % 3 = 1")
      s.sql("DELETE FROM graftcat.db.ev_dst WHERE val % 7 = 0")
      val r1 = s.sql("CALL graftcat.system.refresh_mv('db.mv_dst')").head
      require(r1.getString(0) == "incremental",
        s"a deleting window re-aggregates exactly the affected " +
          s"registers (targeted partial recompute): $r1")
      s.sql("INSERT INTO graftcat.db.ev_dst SELECT event_id, " +
        "user_id % 8, event_id FROM ev_dst_src WHERE event_id % 3 = 2")
      val r2 = s.sql("CALL graftcat.system.refresh_mv('db.mv_dst')").head
      require(r2.getString(0) == "incremental",
        s"appends fold into the registers after the recompute: $r2")
      // the estimate read face: within HLL tolerance of the exact count
      val est = s.sql("CALL graftcat.system.mv_distinct('db.mv_dst')")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val exact = s.sql("SELECT grp, count(DISTINCT val) " +
        "FROM graftcat.db.ev_dst GROUP BY grp").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.foreach { case (g, n) =>
        require(math.abs(est(g) - n) / math.max(n, 1L) < 0.25,
          s"grp=$g exact=$n est=${est(g)} — estimator off tolerance")
      }
      s.sql("SELECT grp, uids_bucket AS bucket, uids AS r, " +
        "mv_count AS n FROM graftcat.db.mv_dst")
    }),

    // POWER-OF-2 HISTOGRAM MV (CALL system.create_mv_hist): bucket =
    // bit length of floor(value) with EXACT counts — fully additive
    // state, so unlike the register view this folds incrementally
    // under deletes too (r2 pinned "incremental": the departed row
    // just decrements its bucket, a bucket leaves the view at 0). The
    // histogram is an exact integer function of the multiset — the
    // oracle recomputes it directly and the hash check is exact; only
    // the quantile read (CALL system.mv_quantile) is ±1 power of 2.
    Query("sql_mv_hist",
      """SELECT user_id % 8 AS grp,
           length(bin(CAST(floor(value) AS BIGINT))) AS vb,
           CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE value IS NOT NULL AND value >= 0 AND value <= 300
         GROUP BY 1, 2""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_h_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_h")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_h")
      s.sql("CREATE TABLE graftcat.db.ev_h (event_id BIGINT, " +
        "grp BIGINT, val DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_h SELECT event_id, " +
        "user_id % 8, value FROM ev_h_src WHERE event_id % 2 = 0")
      s.sql("CALL graftcat.system.create_mv_hist('db.mv_h', " +
        "'db.ev_h', 'grp', 'vb:val')").collect()
      // ONE batched window: appends + deletes — bucket counts are
      // fully additive, so the mixed window folds in one refresh
      s.sql("INSERT INTO graftcat.db.ev_h SELECT event_id, " +
        "user_id % 8, value FROM ev_h_src WHERE event_id % 2 = 1")
      s.sql("DELETE FROM graftcat.db.ev_h WHERE val > 300")
      val r1 = s.sql("CALL graftcat.system.refresh_mv('db.mv_h')").head
      require(r1.getString(0) == "incremental",
        s"appends and deletes must fold into bucket counts: $r1")
      // quantile read face: within one power of 2 of the exact median
      val q = s.sql(
        "CALL graftcat.system.mv_quantile('db.mv_h', 0.5)").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val exactQ = s.sql("SELECT grp, percentile(val, 0.5) FROM " +
        "graftcat.db.ev_h WHERE val >= 0 GROUP BY grp").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      exactQ.foreach { case (g, m) =>
        require(q(g) >= m / 2 - 1 && q(g) <= m * 2 + 1,
          s"grp=$g exact=$m est=${q(g)} — outside the 2x contract")
      }
      s.sql("SELECT grp, vb, mv_count AS n FROM graftcat.db.mv_h")
    }),

    // VARIANCE/STDDEV MV — no new machinery, pure composition: the
    // derive computes val*val row-locally, two SUM measures accumulate
    // first and second moments in exact decimals, and variance =
    // s2/n - (s/n)^2 is a read-time expression. Incremental under
    // appends AND deletes (sums are fully additive). The oracle
    // recomputes both moments with the same decimal casts.
    Query("sql_mv_variance",
      """WITH src AS (
           SELECT user_id % 8 AS grp, value AS val FROM events
           WHERE value <= 250)
         SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) AS s,
           CAST(SUM(CAST(val * val AS DECIMAL(38,6))) AS DOUBLE) AS s2
         FROM src GROUP BY grp""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_v_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_var")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_v")
      s.sql("CREATE TABLE graftcat.db.ev_v (event_id BIGINT, " +
        "grp BIGINT, val DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_v SELECT event_id, " +
        "user_id % 8, value FROM ev_v_src WHERE event_id % 2 = 0")
      s.sql("CALL graftcat.system.create_mv('db.mv_var', 'db.ev_v', " +
        "'grp', 's:val,s2:val2', NULL, 'val2:val * val')").collect()
      // ONE batched window (append + delete; 250 keeps the delete
      // NON-EMPTY at every SF — sf0.001's max value is ~327, and a
      // zero-match delete would make the mode pin vacuous)
      s.sql("INSERT INTO graftcat.db.ev_v SELECT event_id, " +
        "user_id % 8, value FROM ev_v_src WHERE event_id % 2 = 1")
      s.sql("DELETE FROM graftcat.db.ev_v WHERE val > 250")
      val r1 = s.sql("CALL graftcat.system.refresh_mv('db.mv_var')").head
      require(r1.getString(0) == "incremental",
        s"moment sums fold under appends and deletes: $r1")
      s.sql("SELECT grp, mv_count AS n, CAST(s AS DOUBLE) AS s, " +
        "CAST(s2 AS DOUBLE) AS s2 FROM graftcat.db.mv_var")
    }),

    // EXACT INCREMENTAL COUNT(DISTINCT) (CALL
    // system.create_mv_distinct_exact — the two-level composition that
    // closes the distinct carve-out exactly where the HLL view closes
    // it approximately): an inner view keyed by (grp, u) carrying only
    // the count and an outer view counting the inner's rows. Both
    // levels are fully additive, so — unlike the register view, whose
    // deleting windows force a recompute — EVERY refresh here is
    // pinned "incremental", including the two absorbing a DELETE. The
    // oracle recomputes COUNT(DISTINCT) from the raw source; the hash
    // check is exact.
    Query("sql_mv_distinct_exact",
      """WITH src AS (
           SELECT user_id % 8 AS grp, user_id % 100 AS u FROM events
           WHERE (user_id % 100) % 5 <> 0)
         SELECT grp, CAST(COUNT(DISTINCT u) AS BIGINT) AS uniques
         FROM src GROUP BY grp""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_de_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_de")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_de_keys")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_de")
      s.sql("CREATE TABLE graftcat.db.ev_de (event_id BIGINT, " +
        "grp BIGINT, u BIGINT) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_de SELECT event_id, " +
        "user_id % 8, user_id % 100 FROM ev_de_src " +
        "WHERE event_id % 3 = 0")
      s.sql("CALL graftcat.system.create_mv_distinct_exact(" +
        "'db.mv_de', 'db.ev_de', 'grp', 'u')").collect()
      // ONE batched window: appends + a DELETE — both levels are fully
      // additive, so the mixed window folds incrementally at each level
      s.sql("INSERT INTO graftcat.db.ev_de SELECT event_id, " +
        "user_id % 8, user_id % 100 FROM ev_de_src " +
        "WHERE event_id % 3 IN (1, 2)")
      s.sql("DELETE FROM graftcat.db.ev_de WHERE u % 5 = 0")
      val r1k = s.sql(
        "CALL graftcat.system.refresh_mv('db.mv_de_keys')").head
      val r1 = s.sql("CALL graftcat.system.refresh_mv('db.mv_de')").head
      require(r1k.getString(0) == "incremental" &&
        r1.getString(0) == "incremental",
        s"exact distinct folds appends and deletes: $r1k / $r1")
      s.sql("SELECT grp, mv_count AS uniques FROM graftcat.db.mv_de")
    }),

    // DERIVED-GROUP-KEY MV ('derives' in CALL create_mv — the generic
    // row-local computed-column machinery the sketch views build on,
    // exercised here in its most common production shape: a DAILY
    // rollup grouped by a day bucket computed from the raw timestamp).
    // A derive is a pure function of one row, so it commutes with the
    // change feed and both refreshes fold incrementally — including
    // the one absorbing a DELETE. Oracle recomputes the rollup with
    // the same day arithmetic from the raw source.
    Query("sql_mv_rollup",
      """SELECT epoch_ns(ts) // 86400000000000 AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM events WHERE value >= 2 GROUP BY 1""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_r_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_day")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_r")
      s.sql("CREATE TABLE graftcat.db.ev_r (event_id BIGINT, " +
        "ts BIGINT, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_r SELECT event_id, ts, " +
        "value FROM ev_r_src WHERE event_id % 2 = 0")
      s.sql("CALL graftcat.system.create_mv('db.mv_day', 'db.ev_r', " +
        "'day', 'total:value', NULL, " +
        "'day:CAST(ts DIV 86400000000000 AS BIGINT)')").collect()
      // ONE batched window: append + delete under the derived key
      s.sql("INSERT INTO graftcat.db.ev_r SELECT event_id, ts, " +
        "value FROM ev_r_src WHERE event_id % 2 = 1")
      s.sql("DELETE FROM graftcat.db.ev_r WHERE value < 2")
      val r1 = s.sql("CALL graftcat.system.refresh_mv('db.mv_day')").head
      require(r1.getString(0) == "incremental",
        s"appends and deletes fold under a derived group key: $r1")
      s.sql("SELECT day, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.mv_day")
    }),

    // WRITE-AUDIT-PUBLISH FOR DERIVED TABLES (CALL system.mv_branch /
    // mv_publish — the composition of branches and incremental MVs):
    // mv_branch forks a CONSISTENT (source, view) pair; audit-cadence
    // INSERTs land on the source's branch; refresh_mv on the view's
    // branch_<name> handle folds THAT branch while main stays frozen
    // (both requires pin it); mv_publish promotes fact then view with
    // the consumed version rewritten to the fact's just-published MAIN
    // version — so the post-publish refresh is pinned "noop" and
    // ordinary maintenance continues seamlessly. The oracle recomputes
    // the final rollup (base + audited batch) from the raw source.
    Query("sql_mv_wap",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM events GROUP BY user_id""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_w_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_w")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_w")
      s.sql("CREATE TABLE graftcat.db.ev_w (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_w SELECT event_id, user_id, " +
        "value FROM ev_w_src WHERE event_id % 2 = 0")
      s.sql("CALL graftcat.system.create_mv('db.mv_w', 'db.ev_w', " +
        "'user_id', 'total:value')").collect()
      s.sql("CALL graftcat.system.mv_branch('db.mv_w', 'audit')")
        .collect()
      s.sql("INSERT INTO graftcat.db.ev_w.branch_audit SELECT " +
        "event_id, user_id, value FROM ev_w_src WHERE event_id % 2 = 1")
      val r1 = s.sql(
        "CALL graftcat.system.refresh_mv('db.mv_w.branch_audit')").head
      require(r1.getString(0) == "incremental",
        s"the view's branch must fold the source's branch: $r1")
      // the audit window: branch rollup absorbed the batch, main froze
      val bn = s.sql("SELECT count(*) FROM graftcat.db.mv_w.branch_audit")
        .head.getLong(0)
      val mn = s.sql("SELECT count(*) FROM graftcat.db.mv_w")
        .head.getLong(0)
      val bTotal = s.sql("SELECT CAST(SUM(CAST(total AS DOUBLE)) AS " +
        "DOUBLE) FROM graftcat.db.mv_w.branch_audit").head.getDouble(0)
      val mTotal = s.sql("SELECT CAST(SUM(CAST(total AS DOUBLE)) AS " +
        "DOUBLE) FROM graftcat.db.mv_w").head.getDouble(0)
      require(bn >= mn && bTotal > mTotal,
        s"main must stay frozen through the audit: " +
          s"branch($bn, $bTotal) main($mn, $mTotal)")
      s.sql("CALL graftcat.system.mv_publish('db.mv_w', 'audit')")
        .collect()
      val r2 = s.sql("CALL graftcat.system.refresh_mv('db.mv_w')").head
      require(r2.getString(0) == "noop",
        s"post-publish bookkeeping must be seamless: $r2")
      s.sql("SELECT user_id, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.mv_w")
    }),

    // STAR-SCHEMA MV (CALL system.create_mv_joined): the view is
    // fact ⋈ dim (inner, broadcast, dim unique on its key) grouped by a
    // DIM attribute — fact DML folds incrementally against the PINNED
    // dim snapshot (r1, r2 incremental), a dim UPDATE folds as a DIM
    // DELTA that re-pins (r3 incremental — changed dim keys → affected
    // groups only, never O(view)), and fact deltas fold again under the
    // new pin (r4 incremental). The oracle recomputes the final rollup
    // with the updated dim from the raw source — the slowly-changing-
    // dimension cadence a production star rollup actually has,
    // hash-checked end-to-end.
    Query("sql_mv_joined",
      """WITH f AS (
           SELECT user_id, value FROM events
           WHERE (event_id % 3 IN (0, 1) AND value >= 5)
              OR event_id % 3 = 2),
         d AS (
           SELECT DISTINCT user_id AS uid,
             CASE WHEN user_id % 5 = 0 THEN 99 ELSE user_id % 5 END
               AS segment
           FROM events)
         SELECT d.segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(f.value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM f JOIN d ON f.user_id = d.uid
         GROUP BY d.segment""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_mvj_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_seg")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_mvj")
      s.sql("DROP TABLE IF EXISTS graftcat.db.dim_users")
      s.sql("CREATE TABLE graftcat.db.ev_mvj (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("CREATE TABLE graftcat.db.dim_users (uid BIGINT, " +
        "segment BIGINT) USING txlog")
      s.sql("INSERT INTO graftcat.db.dim_users SELECT DISTINCT " +
        "user_id, user_id % 5 FROM ev_mvj_src")
      s.sql("INSERT INTO graftcat.db.ev_mvj SELECT event_id, user_id, " +
        "value FROM ev_mvj_src WHERE event_id % 3 = 0")
      s.sql("CALL graftcat.system.create_mv_joined('db.mv_seg', " +
        "'db.ev_mvj', 'db.dim_users', 'user_id:uid', 'segment', " +
        "'total:value')").collect()
      // ONE batched fact window (append + delete) against the pin
      s.sql("INSERT INTO graftcat.db.ev_mvj SELECT event_id, user_id, " +
        "value FROM ev_mvj_src WHERE event_id % 3 = 1")
      s.sql("DELETE FROM graftcat.db.ev_mvj WHERE value < 5")
      val r1 = s.sql("CALL graftcat.system.refresh_mv('db.mv_seg')").head
      require(r1.getString(0) == "incremental",
        s"fact-only DML must fold: $r1")
      s.sql("UPDATE graftcat.db.dim_users SET segment = 99 " +
        "WHERE uid % 5 = 0")
      val r3 = s.sql("CALL graftcat.system.refresh_mv('db.mv_seg')").head
      require(r3.getString(0) == "incremental",
        s"a dim change must fold as a dim delta and re-pin: $r3")
      s.sql("INSERT INTO graftcat.db.ev_mvj SELECT event_id, user_id, " +
        "value FROM ev_mvj_src WHERE event_id % 3 = 2")
      val r4 = s.sql("CALL graftcat.system.refresh_mv('db.mv_seg')").head
      require(r4.getString(0) == "incremental",
        s"fact deltas must fold under the new pin: $r4")
      s.sql("SELECT segment, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.mv_seg")
    }),

    // DIM-DELTA fold, every dim DML shape: a joined MV grouped by a dim
    // attribute absorbs dim UPDATE (group migration: old segment
    // decrements, new grows), dim DELETE (enrichment departs — groups
    // shrink, emptied ones leave the view), dim INSERT (previously
    // unenriched fact rows join in), and a MIXED window (fact insert +
    // dim update before one refresh) — ALL with mode=incremental: the
    // refresh reads O(dim delta) events, semi-joins the changed keys'
    // fact rows, and re-enriches exactly those groups (±signed counting
    // delta), never recomputing the view. The oracle replays the whole
    // program's net dim state against the raw source and hash-checks
    // the final rollup.
    // the net dim state after the program's four DML steps, replayed in
    // application order: %13=4 update last, the %7=0 rows inserted at 77,
    // the %5=2 migration to 102, the %11=3 rows (non-%7=0) deleted
    Query("sql_mv_joined_dimfold",
      """WITH du AS (SELECT DISTINCT user_id AS uid FROM events),
         d AS (
           SELECT uid,
             (CASE WHEN uid % 13 = 4 THEN 55
                  WHEN uid % 7 = 0 THEN 77
                  WHEN uid % 5 = 2 THEN 102
                  ELSE uid % 5 END) +
             (CASE WHEN uid % 17 = 6 THEN 200 ELSE 0 END) AS segment
           FROM du
           WHERE uid % 7 = 0 OR uid % 11 <> 3),
         f AS (
           SELECT user_id, value FROM events WHERE event_id % 3 IN (0, 1))
         SELECT d.segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(f.value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM f JOIN d ON f.user_id = d.uid
         GROUP BY d.segment""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_dimf_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_dimf")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_dimf")
      s.sql("DROP TABLE IF EXISTS graftcat.db.dim_segf")
      s.sql("CREATE TABLE graftcat.db.ev_dimf (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("CREATE TABLE graftcat.db.dim_segf (uid BIGINT, " +
        "segment BIGINT) USING txlog")
      s.sql("INSERT INTO graftcat.db.dim_segf SELECT DISTINCT " +
        "user_id, user_id % 5 FROM ev_dimf_src WHERE user_id % 7 <> 0")
      s.sql("INSERT INTO graftcat.db.ev_dimf SELECT event_id, user_id, " +
        "value FROM ev_dimf_src WHERE event_id % 3 = 0")
      s.sql("CALL graftcat.system.create_mv_joined('db.mv_dimf', " +
        "'db.ev_dimf', 'db.dim_segf', 'user_id:uid', 'segment', " +
        "'total:value')").collect()
      def refreshInc(tag: String): Unit = {
        val r = s.sql("CALL graftcat.system.refresh_mv('db.mv_dimf')")
          .head
        require(r.getString(0) == "incremental",
          s"$tag must fold as a dim delta, not recompute: $r")
      }
      // ONE batched dim window carrying every DML shape: UPDATE (group
      // keys drawn from the dim MIGRATE, 2 → 102), DELETE (enrichment
      // departs — affected groups shrink, emptied ones leave), INSERT
      // (fact rows that never enriched join in) — the K extraction
      // reads the whole window's net change events in one pass
      s.sql("UPDATE graftcat.db.dim_segf SET segment = segment + 100 " +
        "WHERE uid % 5 = 2")
      s.sql("DELETE FROM graftcat.db.dim_segf WHERE uid % 11 = 3")
      s.sql("INSERT INTO graftcat.db.dim_segf SELECT DISTINCT " +
        "user_id, 77 FROM ev_dimf_src WHERE user_id % 7 = 0")
      refreshInc("dim UPDATE+DELETE+INSERT window")
      // MIXED window: fact delta + dim delta before ONE refresh —
      // the fact fold (old pin) composes with the dim correction
      s.sql("INSERT INTO graftcat.db.ev_dimf SELECT event_id, user_id, " +
        "value FROM ev_dimf_src WHERE event_id % 3 = 1")
      s.sql("UPDATE graftcat.db.dim_segf SET segment = 55 " +
        "WHERE uid % 13 = 4")
      refreshInc("mixed fact+dim window")
      // OVER-CAP window: force the changed-key set past the broadcast
      // cap — the same signed arithmetic must route through the
      // SHUFFLE-join path and stay incremental (the r18 cliff paid a
      // full recompute here); churn is ~1/17 of the dim, far under the
      // covers-most-of-the-dim crossover that legitimately recomputes
      s.sql("SET spark.graft.mv.maxDimDeltaKeys=2")
      try {
        s.sql("UPDATE graftcat.db.dim_segf SET segment = segment + 200 " +
          "WHERE uid % 17 = 6")
        refreshInc("over-cap dim window (shuffle fold)")
      } finally s.sql("RESET spark.graft.mv.maxDimDeltaKeys")
      s.sql("SELECT segment, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.mv_dimf")
    }),

    // DIM CHURN ON A MIN/MAX STAR VIEW — the round-19 composition: the
    // dim-delta machinery derives the exact affected-group set from the
    // changed join keys (old enrichment ∪ new enrichment), and those
    // groups route through the GROUP-TARGETED partial recompute from
    // (fact@head ⋈ dim@head) — mode stays "incremental" on every dim
    // update/delete/insert window and on a mixed fact-DML + dim-churn
    // window, never O(view), where r18 still paid a full recompute.
    // The oracle replays the dim program's net state and recomputes
    // count/sum/min/max from the raw source.
    // same dim program as joined_dimfold MINUS its over-cap %17 window;
    // fact is %3 in (0,1) minus the value<3 deletes (NULL values
    // survive a < predicate)
    Query("sql_mv_minmax_dimfold",
      """WITH du AS (SELECT DISTINCT user_id AS uid FROM events),
         d AS (
           SELECT uid,
             CASE WHEN uid % 13 = 4 THEN 55
                  WHEN uid % 7 = 0 THEN 77
                  WHEN uid % 5 = 2 THEN 102
                  ELSE uid % 5 END AS segment
           FROM du
           WHERE uid % 7 = 0 OR uid % 11 <> 3),
         f AS (
           SELECT user_id, value FROM events
           WHERE event_id % 3 IN (0, 1)
             AND (value >= 3 OR value IS NULL))
         SELECT d.segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(f.value AS DECIMAL(38,6))) AS DOUBLE) AS total,
           min(f.value) AS lo, max(f.value) AS hi
         FROM f JOIN d ON f.user_id = d.uid
         GROUP BY d.segment""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_mmd_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_mmd")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_mmd")
      s.sql("DROP TABLE IF EXISTS graftcat.db.dim_segmd")
      s.sql("CREATE TABLE graftcat.db.ev_mmd (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("CREATE TABLE graftcat.db.dim_segmd (uid BIGINT, " +
        "segment BIGINT) USING txlog")
      s.sql("INSERT INTO graftcat.db.dim_segmd SELECT DISTINCT " +
        "user_id, user_id % 5 FROM ev_mmd_src WHERE user_id % 7 <> 0")
      s.sql("INSERT INTO graftcat.db.ev_mmd SELECT event_id, user_id, " +
        "value FROM ev_mmd_src WHERE event_id % 3 = 0")
      s.sql("CALL graftcat.system.create_mv_joined('db.mv_mmd', " +
        "'db.ev_mmd', 'db.dim_segmd', 'user_id:uid', 'segment', " +
        "'total:value,lo:min:value,hi:max:value')").collect()
      def refreshInc(tag: String): Unit = {
        val r = s.sql("CALL graftcat.system.refresh_mv('db.mv_mmd')")
          .head
        require(r.getString(0) == "incremental",
          s"$tag on a MIN/MAX star view must route to the dim-targeted " +
            s"group recompute, not a full recompute: $r")
      }
      // UPDATE: group keys drawn from the dim MIGRATE (2 → 102) — the
      // extrema travel with their rows to the new group
      s.sql("UPDATE graftcat.db.dim_segmd SET segment = segment + 100 " +
        "WHERE uid % 5 = 2")
      refreshInc("dim UPDATE (group migration)")
      // DELETE: the departing enrichment may hold a group's extremum —
      // exactly why the signed fold is blocked and the targeted
      // recompute is the right route
      s.sql("DELETE FROM graftcat.db.dim_segmd WHERE uid % 11 = 3")
      refreshInc("dim DELETE")
      // INSERT: fact rows that never enriched join in now
      s.sql("INSERT INTO graftcat.db.dim_segmd SELECT DISTINCT " +
        "user_id, 77 FROM ev_mmd_src WHERE user_id % 7 = 0")
      refreshInc("dim INSERT")
      // MIXED window: fact append + fact DELETE (row-changing) + dim
      // churn before ONE refresh — both targeted-key sources union
      s.sql("INSERT INTO graftcat.db.ev_mmd SELECT event_id, user_id, " +
        "value FROM ev_mmd_src WHERE event_id % 3 = 1")
      s.sql("DELETE FROM graftcat.db.ev_mmd WHERE value < 3")
      s.sql("UPDATE graftcat.db.dim_segmd SET segment = 55 " +
        "WHERE uid % 13 = 4")
      refreshInc("mixed fact DML + dim churn window")
      s.sql("SELECT segment, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total, lo, hi FROM graftcat.db.mv_mmd")
    }),

    // N-DIMENSIONAL STAR MV in ONE view handle (round-19): TWO dims,
    // each with its own version pin, vacuum cursor and delta gate —
    // created by ONE create_mv_joined with ';'-separated dims. DML on
    // the fact and on BOTH dims absorbs all-incremental in one
    // refresh_mv: fact deltas fold against the pinned snapshots, each
    // moved dim folds as its own signed correction applied in dim order
    // (correction i sees dims before it at their new heads — the
    // telescoping sum is exactly the recompute). No star-over-star
    // chain, no second stored view, one refresh hop. The oracle
    // recomputes the 2-dim join from the raw source with both dims'
    // net states.
    // both dims' NET states: users %5=2 → 102 then %11=3 deleted;
    // 'click' → 'hot', 'view' → 'cold', the rest at their initial
    // '<type>_c' class; the fact is all three append windows
    Query("sql_mv_star_2dim",
      """WITH du AS (
           SELECT uid,
             CASE WHEN uid % 5 = 2 THEN 102 ELSE uid % 5 END AS seg
           FROM (SELECT DISTINCT user_id AS uid FROM events)
           WHERE uid % 11 <> 3),
         dt AS (
           SELECT tkey,
             CASE WHEN tkey = 'click' THEN 'hot'
                  WHEN tkey = 'view' THEN 'cold'
                  ELSE tkey || '_c' END AS tclass
           FROM (SELECT DISTINCT event_type AS tkey FROM events)),
         f AS (SELECT user_id, event_type, value FROM events)
         SELECT du.seg, dt.tclass, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(f.value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM f
         JOIN du ON f.user_id = du.uid
         JOIN dt ON f.event_type = dt.tkey
         GROUP BY du.seg, dt.tclass""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_s2_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_s2")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_s2")
      s.sql("DROP TABLE IF EXISTS graftcat.db.dim_us2")
      s.sql("DROP TABLE IF EXISTS graftcat.db.dim_ts2")
      s.sql("CREATE TABLE graftcat.db.ev_s2 (event_id BIGINT, " +
        "user_id BIGINT, event_type STRING, value DOUBLE) USING txlog")
      s.sql("CREATE TABLE graftcat.db.dim_us2 (uid BIGINT, " +
        "seg BIGINT) USING txlog")
      s.sql("CREATE TABLE graftcat.db.dim_ts2 (tkey STRING, " +
        "tclass STRING) USING txlog")
      s.sql("INSERT INTO graftcat.db.dim_us2 SELECT DISTINCT " +
        "user_id, user_id % 5 FROM ev_s2_src")
      s.sql("INSERT INTO graftcat.db.dim_ts2 SELECT DISTINCT " +
        "event_type, event_type || '_c' FROM ev_s2_src")
      s.sql("INSERT INTO graftcat.db.ev_s2 SELECT event_id, user_id, " +
        "event_type, value FROM ev_s2_src WHERE event_id % 3 = 0")
      s.sql("CALL graftcat.system.create_mv_joined('db.mv_s2', " +
        "'db.ev_s2', 'db.dim_us2;db.dim_ts2', " +
        "'user_id:uid;event_type:tkey', 'seg,tclass', " +
        "'total:value')").collect()
      def refreshInc(tag: String): Unit = {
        val r = s.sql("CALL graftcat.system.refresh_mv('db.mv_s2')").head
        require(r.getString(0) == "incremental",
          s"$tag on the 2-dim star must fold incrementally: $r")
      }
      // fact-only window: folds against BOTH pinned dims
      s.sql("INSERT INTO graftcat.db.ev_s2 SELECT event_id, user_id, " +
        "event_type, value FROM ev_s2_src WHERE event_id % 3 = 1")
      refreshInc("fact append")
      // dim 0 churn alone: user segments migrate (2 → 102)
      s.sql("UPDATE graftcat.db.dim_us2 SET seg = seg + 100 " +
        "WHERE uid % 5 = 2")
      refreshInc("dim0 UPDATE")
      // dim 1 churn alone: event-type reclass
      s.sql("UPDATE graftcat.db.dim_ts2 SET tclass = 'hot' " +
        "WHERE tkey = 'click'")
      refreshInc("dim1 UPDATE")
      // the N-dim window: fact delta + BOTH dims churn before ONE
      // refresh — the per-dim corrections telescope
      s.sql("INSERT INTO graftcat.db.ev_s2 SELECT event_id, user_id, " +
        "event_type, value FROM ev_s2_src WHERE event_id % 3 = 2")
      s.sql("DELETE FROM graftcat.db.dim_us2 WHERE uid % 11 = 3")
      s.sql("UPDATE graftcat.db.dim_ts2 SET tclass = 'cold' " +
        "WHERE tkey = 'view'")
      refreshInc("mixed fact + both-dims window")
      val again = s.sql("CALL graftcat.system.refresh_mv('db.mv_s2')")
        .head
      require(again.getString(0) == "noop",
        s"a current 2-dim star must noop: $again")
      s.sql("SELECT seg, tclass, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.mv_s2")
    }),

    // MV-OVER-MV CHAINS as first-class sources: a 3-level rollup chain
    // (per-user → per-decile → per-tercile) built entirely through CALL
    // create_mv with a VIEW as the source — the view's refresh commits
    // (DV-upsert) feed the downstream level exact delete+insert events,
    // so every level folds incrementally under appends AND deletes. ONE
    // refresh_all sweep brings the whole chain current in Kahn
    // dependency order (base delta → L1 → L2 → L3, each O(changed
    // groups)); the oracle recomputes the 3-level cascade from the raw
    // source and hash-checks the top.
    // the 3-level cascade over the surviving base rows (event_id%4 in
    // 0..2 inserted, value<3 deleted; NULL value survives a < delete)
    Query("sql_mv_chain",
      """WITH base AS (
           SELECT user_id, value FROM events
           WHERE event_id % 4 IN (0, 1, 2)
             AND (value >= 3 OR value IS NULL)),
         l1 AS (
           SELECT user_id, SUM(CAST(value AS DECIMAL(38,6))) AS t1
           FROM base GROUP BY user_id),
         l2 AS (
           SELECT user_id % 10 AS g2, SUM(t1) AS t2
           FROM l1 GROUP BY 1)
         SELECT g2 % 3 AS g3, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(t2) AS DOUBLE) AS t3
         FROM l2 GROUP BY 1""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_chain_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mvc3")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mvc2")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mvc1")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_chain")
      s.sql("CREATE TABLE graftcat.db.ev_chain (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_chain SELECT event_id, " +
        "user_id, value FROM ev_chain_src WHERE event_id % 4 = 0")
      s.sql("CALL graftcat.system.create_mv('db.mvc1', 'db.ev_chain', " +
        "'user_id', 't1:value')").collect()
      s.sql("CALL graftcat.system.create_mv('db.mvc2', 'db.mvc1', " +
        "'g2', 't2:t1', NULL, 'g2:user_id % 10')").collect()
      s.sql("CALL graftcat.system.create_mv('db.mvc3', 'db.mvc2', " +
        "'g3', 't3:t2', NULL, 'g3:g2 % 3')").collect()
      def sweep(tag: String): Unit = {
        val modes = s.sql("CALL graftcat.system.refresh_all('db')")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        Seq("db.mvc1", "db.mvc2", "db.mvc3").foreach { v =>
          require(modes.get(v).contains("incremental"),
            s"$tag: $v must fold incrementally in the sweep, got " +
              s"${modes.get(v)} (all: $modes)")
        }
      }
      // ONE batched base window (appends + a delete): every level of
      // the chain folds the mixed feed incrementally in one sweep
      s.sql("INSERT INTO graftcat.db.ev_chain SELECT event_id, " +
        "user_id, value FROM ev_chain_src WHERE event_id % 4 IN (1, 2)")
      s.sql("DELETE FROM graftcat.db.ev_chain WHERE value < 3")
      sweep("append+delete window")
      // current chain: a second sweep is all-noop for the chain
      val again = s.sql("CALL graftcat.system.refresh_all('db')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      Seq("db.mvc1", "db.mvc2", "db.mvc3").foreach { v =>
        require(again.get(v).contains("noop"),
          s"post-sweep chain must be current: $v → ${again.get(v)}")
      }
      s.sql("SELECT g3, mv_count AS n, CAST(t3 AS DOUBLE) AS t3 " +
        "FROM graftcat.db.mvc3")
    }),

    // STAR OVER A CHAIN: a joined MV whose DIM is itself an MV — the
    // engine's two maintenance paths compose. The dim view (per-user
    // profile rollup) refreshes from base DML; its mv-refresh commit is
    // a DV-upsert whose exact delete+insert events then drive the
    // DOWNSTREAM star view's DIM-DELTA fold: changed user profiles →
    // affected segments only, mode=incremental at every level, never
    // O(view). One refresh_all sweep orders base→dim-view→star. The
    // oracle recomputes the cascade (profile rollup, re-segmentation,
    // star join) from the raw source.
    // the star-over-chain cascade: per-user profile over the surviving
    // base rows, activity segment = bit length of the user's count,
    // star rollup joins each base row to its user's segment
    Query("sql_mv_star_mvdim",
      """WITH base AS (
           SELECT user_id, value FROM events
           WHERE event_id % 3 IN (0, 1)
             AND (value >= 4 OR value IS NULL)),
         prof AS (
           SELECT user_id AS uid, CAST(count(*) AS BIGINT) AS n
           FROM base GROUP BY 1),
         seg AS (
           SELECT uid, CAST(length(bin(n)) AS BIGINT) AS seg FROM prof)
         SELECT s.seg, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(b.value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM base b JOIN seg s ON b.user_id = s.uid
         GROUP BY s.seg""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_smd_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.star_smd")
      s.sql("DROP TABLE IF EXISTS graftcat.db.prof_smd")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_smd")
      s.sql("CREATE TABLE graftcat.db.ev_smd (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.ev_smd SELECT event_id, user_id, " +
        "value FROM ev_smd_src WHERE event_id % 3 = 0")
      // the DIM VIEW: per-user profile, keyed by a derived 'uid' so the
      // star's fact/dim projections stay name-disjoint
      s.sql("CALL graftcat.system.create_mv('db.prof_smd', " +
        "'db.ev_smd', 'uid', 'spend:value', NULL, 'uid:user_id')")
        .collect()
      // the STAR over it: each fact row enriches with its user's
      // ACTIVITY SEGMENT — a derive over the dim view's own mv_count
      // (power-of-2 bucket of the user's event count); base DML moves
      // users between segments, exercising group migration end-to-end
      s.sql("CALL graftcat.system.create_mv_joined('db.star_smd', " +
        "'db.ev_smd', 'db.prof_smd', 'user_id:uid', 'seg', " +
        "'total:value', NULL, " +
        "'seg:CAST(length(bin(mv_count)) AS BIGINT)')").collect()
      def sweep(tag: String, want: String): Unit = {
        val modes = s.sql("CALL graftcat.system.refresh_all('db')")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        Seq("db.prof_smd", "db.star_smd").foreach { v =>
          require(modes.get(v).contains(want),
            s"$tag: $v must be $want in the sweep, got ${modes.get(v)} " +
              s"(all: $modes)")
        }
      }
      // base DML drives BOTH folds in ONE sweep: the dim view refreshes
      // first (Kahn orders source AND dim edges), its DV-upsert commit
      // feeds the star exact profile changes, and the star's refresh
      // composes the fact fold with the dim-delta fold in one commit
      s.sql("INSERT INTO graftcat.db.ev_smd SELECT event_id, user_id, " +
        "value FROM ev_smd_src WHERE event_id % 3 = 1")
      s.sql("DELETE FROM graftcat.db.ev_smd WHERE value < 4")
      sweep("append+delete window", "incremental")
      sweep("current chain", "noop")
      s.sql("SELECT seg, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.star_smd")
    }),

    // JOINED-VIEW WAP through SQL (CALL system.mv_branch / mv_publish
    // on a star view): the fork is the (fact, dim, view) TRIPLE; audit
    // writes land on BOTH branch sides (fact inserts + a dim UPDATE
    // that migrates groups), the branch refresh folds them — dim delta
    // included — while main stays frozen, and ONE publish promotes all
    // three with seamless bookkeeping (post-publish refresh noops).
    // The oracle recomputes the published star from the raw source.
    // the published star: all events, dim with %4=1 re-segmented to 77
    Query("sql_mv_wap_joined",
      """WITH d AS (
           SELECT DISTINCT user_id AS uid,
             CASE WHEN user_id % 4 = 1 THEN 77 ELSE user_id % 4 END
               AS segment
           FROM events)
         SELECT d.segment, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM events e JOIN d ON e.user_id = d.uid
         GROUP BY d.segment""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_wj_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.mv_wj")
      s.sql("DROP TABLE IF EXISTS graftcat.db.dim_wj")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_wj")
      s.sql("CREATE TABLE graftcat.db.ev_wj (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE) USING txlog")
      s.sql("CREATE TABLE graftcat.db.dim_wj (uid BIGINT, " +
        "segment BIGINT) USING txlog")
      s.sql("INSERT INTO graftcat.db.dim_wj SELECT DISTINCT user_id, " +
        "user_id % 4 FROM ev_wj_src")
      s.sql("INSERT INTO graftcat.db.ev_wj SELECT event_id, user_id, " +
        "value FROM ev_wj_src WHERE event_id % 2 = 0")
      s.sql("CALL graftcat.system.create_mv_joined('db.mv_wj', " +
        "'db.ev_wj', 'db.dim_wj', 'user_id:uid', 'segment', " +
        "'total:value')").collect()
      s.sql("CALL graftcat.system.mv_branch('db.mv_wj', 'audit')")
        .collect()
      // audit writes on BOTH branch sides; main handles stay frozen
      s.sql("INSERT INTO graftcat.db.ev_wj.branch_audit SELECT " +
        "event_id, user_id, value FROM ev_wj_src WHERE event_id % 2 = 1")
      s.sql("UPDATE graftcat.db.dim_wj.branch_audit SET segment = 77 " +
        "WHERE uid % 4 = 1")
      val r1 = s.sql(
        "CALL graftcat.system.refresh_mv('db.mv_wj.branch_audit')").head
      require(r1.getString(0) == "incremental",
        s"branch fact delta + branch dim delta must fold: $r1")
      val mainSeg = s.sql("SELECT count(*) FROM graftcat.db.mv_wj " +
        "WHERE segment = 77").head.getLong(0)
      require(mainSeg == 0L, "main must stay frozen through the audit")
      s.sql("CALL graftcat.system.mv_publish('db.mv_wj', 'audit')")
        .collect()
      val r2 = s.sql("CALL graftcat.system.refresh_mv('db.mv_wj')").head
      require(r2.getString(0) == "noop",
        s"post-publish bookkeeping must be seamless: $r2")
      s.sql("SELECT segment, mv_count AS n, " +
        "CAST(total AS DOUBLE) AS total FROM graftcat.db.mv_wj")
    }),

    // SNOWFLAKE BY COMPOSITION: a TWO-dimension star needs no N-dim
    // API — chain star views. star1 = fact ⋈ dim_users grouped by
    // (user segment, event_type); star2 = star1 ⋈ dim_types grouped by
    // (segment, type class), summing star1's sums. Each level folds its
    // OWN dim-delta (dim_users churn → star1's groups; dim_types churn
    // → star2's), and star1's refresh commits feed star2's fact fold —
    // so the whole snowflake absorbs base DML + churn on BOTH
    // dimensions in ONE refresh_all sweep, every level incremental.
    // The oracle replays the full cascade with the final dim states.
    // the snowflake cascade with the FINAL dim states: users %5=2
    // re-segmented to 99, 'click' re-classed to 'hot'; base rows are
    // event_id%3 in (0,1) minus value<2 deletes
    Query("sql_mv_snowflake",
      """WITH base AS (
           SELECT user_id, event_type, value FROM events
           WHERE event_id % 3 IN (0, 1)
             AND (value >= 2 OR value IS NULL)),
         du AS (
           SELECT DISTINCT user_id AS uid,
             CASE WHEN user_id % 5 = 2 THEN 99 ELSE user_id % 5 END
               AS useg
           FROM events),
         dt AS (
           SELECT DISTINCT event_type AS tkey,
             CASE WHEN event_type = 'click' THEN 'hot'
                  WHEN event_type = 'view' THEN 'engage'
                  ELSE 'convert' END AS tclass
           FROM events),
         star1 AS (
           SELECT du.useg, b.event_type,
             SUM(CAST(b.value AS DECIMAL(38,6))) AS total
           FROM base b JOIN du ON b.user_id = du.uid
           GROUP BY du.useg, b.event_type)
         SELECT s.useg, dt.tclass, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(s.total) AS DOUBLE) AS total
         FROM star1 s JOIN dt ON s.event_type = dt.tkey
         GROUP BY s.useg, dt.tclass""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_sfk_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.star2_sfk")
      s.sql("DROP TABLE IF EXISTS graftcat.db.star1_sfk")
      s.sql("DROP TABLE IF EXISTS graftcat.db.dim_t_sfk")
      s.sql("DROP TABLE IF EXISTS graftcat.db.dim_u_sfk")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_sfk")
      s.sql("CREATE TABLE graftcat.db.ev_sfk (event_id BIGINT, " +
        "user_id BIGINT, event_type STRING, value DOUBLE) USING txlog")
      s.sql("CREATE TABLE graftcat.db.dim_u_sfk (uid BIGINT, " +
        "useg BIGINT) USING txlog")
      s.sql("CREATE TABLE graftcat.db.dim_t_sfk (tkey STRING, " +
        "tclass STRING) USING txlog")
      s.sql("INSERT INTO graftcat.db.dim_u_sfk SELECT DISTINCT " +
        "user_id, user_id % 5 FROM ev_sfk_src")
      s.sql("INSERT INTO graftcat.db.dim_t_sfk SELECT DISTINCT " +
        "event_type, CASE WHEN event_type IN ('click', 'view') " +
        "THEN 'engage' ELSE 'convert' END FROM ev_sfk_src")
      s.sql("INSERT INTO graftcat.db.ev_sfk SELECT event_id, user_id, " +
        "event_type, value FROM ev_sfk_src WHERE event_id % 3 = 0")
      s.sql("CALL graftcat.system.create_mv_joined('db.star1_sfk', " +
        "'db.ev_sfk', 'db.dim_u_sfk', 'user_id:uid', " +
        "'useg,event_type', 'total:value')").collect()
      s.sql("CALL graftcat.system.create_mv_joined('db.star2_sfk', " +
        "'db.star1_sfk', 'db.dim_t_sfk', 'event_type:tkey', " +
        "'useg,tclass', 'total2:total')").collect()
      def sweep(tag: String, want: String): Unit = {
        val modes = s.sql("CALL graftcat.system.refresh_all('db')")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        Seq("db.star1_sfk", "db.star2_sfk").foreach { v =>
          require(modes.get(v).contains(want),
            s"$tag: $v must be $want, got ${modes.get(v)} (all: $modes)")
        }
      }
      // one window carrying base DML AND churn on BOTH dimensions:
      // star1 folds the fact delta + dim_u's delta; star2 folds star1's
      // refresh commit + dim_t's delta — all in one ordered sweep
      s.sql("INSERT INTO graftcat.db.ev_sfk SELECT event_id, user_id, " +
        "event_type, value FROM ev_sfk_src WHERE event_id % 3 = 1")
      s.sql("DELETE FROM graftcat.db.ev_sfk WHERE value < 2")
      s.sql("UPDATE graftcat.db.dim_u_sfk SET useg = 99 " +
        "WHERE uid % 5 = 2")
      s.sql("UPDATE graftcat.db.dim_t_sfk SET tclass = 'hot' " +
        "WHERE tkey = 'click'")
      sweep("base appends+delete + both dims window", "incremental")
      sweep("current snowflake", "noop")
      s.sql("SELECT useg, tclass, mv_count AS n, " +
        "CAST(total2 AS DOUBLE) AS total FROM graftcat.db.star2_sfk")
    }),

    // MV refresh over a feed WITH keys-only MOR deletes: the drop folds
    // as a GROUP DROP at its exact position in the version sequence
    // (tombstone key = the view's group column), so the re-insert batch
    // landing after it survives — the sequence-aware contract
    // ivm_refresh_mor hand-rolls, now a persisted view's single
    // refresh. Groups the drop empties leave the view (their count
    // reaches zero → masked with no replacement); the oracle recomputes
    // the final state from the raw source.
    Query("mv_mor_groups",
      """WITH src AS (
           SELECT user_id, value FROM events
           WHERE (event_id % 3 IN (0, 1) AND user_id % 10 <> 3)
              OR event_id % 3 = 2)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
         FROM src GROUP BY user_id""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_id"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-mv-mor")
      val src = graft.sources.TxLogTable(s, tmp.resolve("ev").toString)
      val schema = StructType(Seq(
        StructField("user_id", LongType),
        StructField("event_id", LongType),
        StructField("value", DoubleType)))
      src.commit(ev.filter(col("event_id") % 3 === 0), overwrite = true)
      val mvRoot = tmp.resolve("mv").toString
      graft.operators.MaterializedView.create(s, mvRoot, "mv_mor", src,
        schema, Seq("user_id"), Seq("total" -> "value"))
      src.commit(ev.filter(col("event_id") % 3 === 1), overwrite = false)
      src.deleteByKeysMor(ev.filter(col("user_id") % 10 === 3)
        .select("user_id").distinct())
      src.commit(ev.filter(col("event_id") % 3 === 2), overwrite = false)
      val st = graft.operators.MaterializedView.refresh(s, mvRoot)
      require(st.mode == "incremental",
        s"the MOR drop must fold, not recompute: $st")
      val d = graft.operators.MaterializedView.definition(s, mvRoot)
      graft.sources.TxLogTable(s, mvRoot).snapshot(d.mvSchema)
        .select(col("user_id"), col("mv_count").as("n"),
          col("total").cast(DoubleType).as("total"))
    }),

    // ORPHAN-FILE CLEANUP (CALL system.remove_orphans): a crashed
    // writer's leftover — a parquet in the data dir no manifest
    // references, exactly what stage() leaves when the publish never
    // happens — is swept WITHOUT touching history (vacuum with
    // keep = all versions): both committed versions stay readable after
    // the sweep and the table content is untouched. Dry run counts
    // without deleting; the age floor is 0 only because the "crash" is
    // simulated in-query (production keeps the 15-min writer guard).
    Query("sql_remove_orphans",
      """SELECT n_nationkey AS k, n_name AS name FROM nation""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "nation").createOrReplaceTempView("nat_orph_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.nat_orph")
      s.sql("CREATE TABLE graftcat.db.nat_orph (k BIGINT, " +
        "name STRING) USING txlog")
      s.sql("INSERT INTO graftcat.db.nat_orph SELECT n_nationkey, " +
        "n_name FROM nat_orph_src WHERE n_nationkey % 2 = 0")
      s.sql("INSERT INTO graftcat.db.nat_orph SELECT n_nationkey, " +
        "n_name FROM nat_orph_src WHERE n_nationkey % 2 = 1")
      val dataDir = java.nio.file.Paths.get(s"$wh/db/nat_orph/data")
      val live = scala.util.Using.resource(
          java.nio.file.Files.walk(dataDir)) { st =>
        st.iterator().asScala.find(p =>
          p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p)).get
      }
      val orphan = dataDir.resolve("orphan-crashed.parquet")
      java.nio.file.Files.copy(live, orphan)
      val dry = s.sql("CALL graftcat.system.remove_orphans(" +
        "'db.nat_orph', 0, true)").head.getInt(0)
      require(dry == 1, s"dry run must count exactly the orphan: $dry")
      require(java.nio.file.Files.exists(orphan),
        "dry run must not delete")
      val del = s.sql("CALL graftcat.system.remove_orphans(" +
        "'db.nat_orph', 0)").head.getInt(0)
      require(del == 1 && !java.nio.file.Files.exists(orphan),
        s"the sweep must delete exactly the orphan: $del")
      val versions = graft.sources.TxLogTable(s,
        s"$wh/db/nat_orph").versions
      require(versions.size >= 3,
        s"remove_orphans must not touch history: $versions")
      s.sql("SELECT k, name FROM graftcat.db.nat_orph")
    }),

    // TIMESTAMP-typed retention fast path (the r14 VERDICT's #7):
    // sql_retention_delete pins a BIGINT epoch column because the
    // Verify session writes INT96 timestamps by default (no stats);
    // here the engine-staged files pin TIMESTAMP_MICROS around the
    // inserts, so a real `DELETE WHERE ts < TIMESTAMP'...'` drops the
    // fully-covered files UNREAD off the round-14 micros footer stats
    // (litLong renders the Instant in the same micros domain). The
    // require pins the manifest-omission shape; the INT96 no-stats
    // fallback is spec'd (TxLogTableSpec). Oracle recomputes survivors.
    Query("sql_retention_delete_ts",
      """SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(min(epoch_ns(ts) // 1000) AS BIGINT) AS first_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
         FROM events
         WHERE epoch_ns(ts) >= 1704931200000000000
           AND epoch_ns(ts) < 1706745600000000000""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_rts_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_rts")
      s.sql("CREATE TABLE graftcat.db.ev_rts (event_id BIGINT, " +
        "ts TIMESTAMP, value DOUBLE) USING txlog")
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = s.conf.get(key)
      try {
        s.conf.set(key, "TIMESTAMP_MICROS")
        // three time-banded commits → disjoint ts ranges per file set
        Seq((1704067200000000L, 1704931200000000L),
            (1704931200000000L, 1705795200000000L),
            (1705795200000000L, 1706745600000000L)).foreach {
          case (lo, hi) =>
            s.sql("INSERT INTO graftcat.db.ev_rts " +
              "SELECT event_id, " +
              "timestamp_micros(CAST(ts DIV 1000 AS BIGINT)), value " +
              s"FROM ev_rts_src WHERE ts DIV 1000 >= $lo " +
              s"AND ts DIV 1000 < $hi")
        }
      } finally s.conf.set(key, prev)
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/ev_rts")
      val before = tbl.entries(None).map(_.rel).toSet
      s.sql("DELETE FROM graftcat.db.ev_rts " +
        "WHERE ts < TIMESTAMP'2024-01-11 00:00:00'")
      val after = tbl.entries(None).map(_.rel).toSet
      require(after.nonEmpty && after.subsetOf(before) &&
        after.size < before.size,
        "TIMESTAMP retention delete must drop old files by manifest " +
          s"omission: ${before.size} -> ${after.size} " +
          s"(new: ${(after -- before).size})")
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(min(unix_micros(ts)) AS BIGINT) AS first_us,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        FROM graftcat.db.ev_rts""")
    }),

    // PARTITION SPEC EVOLUTION (the r14 VERDICT's #3): a `days(ts)`
    // table becomes `hours(ts)` via CALL system.set_time_unit — a
    // METADATA-ONLY commit (the require pins the data-file set
    // untouched). Old files keep day dirs, new ingests land hourly,
    // and range pruning stays EXACT across the mixed layout because
    // each dir value records its own unit by shape and bounds render
    // per file. The requires prove both prune shapes (an hour range
    // over new files hits one hour dir; a sub-day range over old files
    // keeps exactly the covering day); the returned aggregate straddles
    // the layout boundary. At 100 TB this is granularity migration
    // without the O(table) rewrite Iceberg's spec evolution exists to
    // avoid.
    Query("sql_partition_evolution",
      """SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
         FROM events
         WHERE epoch_ns(ts) >= 1704672000000000000
           AND epoch_ns(ts) < 1705190400000000000""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "events").createOrReplaceTempView("ev_evo_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_evo")
      s.sql("CREATE TABLE graftcat.db.ev_evo (event_id BIGINT, " +
        "ts TIMESTAMP, value DOUBLE) USING txlog " +
        "PARTITIONED BY (days(ts))")
      // first half of January lands under the DAY spec
      s.sql("INSERT INTO graftcat.db.ev_evo " +
        "SELECT event_id, timestamp_micros(CAST(ts DIV 1000 AS BIGINT))," +
        " value FROM ev_evo_src WHERE ts DIV 1000 < 1704931200000000")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/ev_evo")
      val before = tbl.entries(None).map(_.rel).toSet
      val res = s.sql("CALL graftcat.system.set_time_unit(" +
        "'db.ev_evo', 'ts', 'hour')").head()
      require(res.getBoolean(1), "old day dirs must report mixed")
      require(tbl.entries(None).map(_.rel).toSet == before,
        "spec evolution must be metadata-only")
      // three more days land HOURLY under the evolved spec (72 hour
      // dirs — enough to exercise the mixed layout and both prune
      // shapes; the month's full hourly grid would spend the bench's
      // time on ~450 dir creations, pure fs overhead at this SF). The
      // band's upper edge matches the oracle window, so the straddling
      // aggregate below is unaffected.
      s.sql("INSERT INTO graftcat.db.ev_evo " +
        "SELECT event_id, timestamp_micros(CAST(ts DIV 1000 AS BIGINT))," +
        " value FROM ev_evo_src WHERE ts DIV 1000 >= 1704931200000000" +
        " AND ts DIV 1000 < 1705190400000000")
      import org.apache.spark.sql.functions.lit
      val hr = tbl.candidateFilesWhere(
        col("ts") >= lit(java.time.Instant.parse("2024-01-12T05:00:00Z"))
          && col("ts") <
          lit(java.time.Instant.parse("2024-01-12T06:00:00Z")))
      require(hr.nonEmpty && hr.forall(_.startsWith("_tp=2024-01-12-05/")),
        s"hour range must prune to its hour dir: $hr")
      val sub = tbl.candidateFilesWhere(
        col("ts") >= lit(java.time.Instant.parse("2024-01-05T02:00:00Z"))
          && col("ts") <
          lit(java.time.Instant.parse("2024-01-05T04:00:00Z")))
      require(sub.nonEmpty &&
        sub.forall(_.startsWith("_tp=2024-01-05/")),
        s"sub-day range must keep exactly the covering day: $sub")
      // the returned aggregate straddles the day/hour layout boundary
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        FROM graftcat.db.ev_evo
        WHERE ts >= timestamp_seconds(1704672000)
          AND ts < timestamp_seconds(1705190400)""")
    }),

    // POSITIONAL DELETE (deletion-vector style): a non-key-predicate
    // DELETE commits an O(matched rows) position mask — the requires pin
    // the headline guarantee (the data-file SET is bit-identical before
    // and after; MergeStats.rewritten == 0) and that metadata COUNT(*)
    // stays EXACT under the live mask (subtraction, where MOR tombstones
    // must decline). At 100 TB this is the trickle-correction path: a
    // point DELETE on non-key columns costs positions, not the COW
    // rewrite of every file the predicate touches. Oracle recomputes the
    // survivors relationally.
    Query("delete_dv",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
         FROM orders
         WHERE NOT (o_totalprice > 150000 AND o_orderstatus = 'F')
         GROUP BY o_orderstatus""")((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-dvdel")
        .resolve("t").toString
      val tbl = graft.sources.TxLogTable(s, root)
      val src = t(s, dir, "orders").select("o_orderkey", "o_custkey",
        "o_totalprice", "o_orderstatus")
      tbl.commit(src, overwrite = true)
      val before = tbl.entries(None).map(_.rel).toSet
      val st = tbl.deleteWherePos(src.schema,
        col("o_totalprice") > 150000 && col("o_orderstatus") === "F")
      require(st.rewritten == 0,
        s"positional delete must rewrite zero files: ${st.rewritten}")
      require(tbl.entries(None).map(_.rel).toSet == before,
        "positional delete must leave the data-file set bit-identical")
      require(tbl.history().last.op.contains("delete-dv"),
        "commit must go through the delete-dv op")
      val snap = tbl.snapshot(src.schema)
      val metaN = tbl.metaRowCount(None)
      require(metaN.isDefined && metaN.contains(snap.count()),
        s"metadata COUNT(*) must stay exact under the mask: $metaN")
      snap.groupBy("o_orderstatus")
        .agg(count("*").as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
    }),

    // POSITIONAL UPDATE in pure SQL (CALL system.update_pos +
    // delete_pos): matched rows are masked where they sit and re-staged
    // once with the assignments applied — `files_rewritten = 0` comes
    // back from the procedure itself, and the require proves every
    // pre-update data file is still referenced (only NEW files joined
    // the manifest). The catalog SELECT reads through the mask. Oracle
    // replays update-then-delete relationally.
    Query("sql_update_dv",
      """WITH upd AS (
           SELECT c_custkey,
             CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal < 0
                  THEN concat('N-', c_name) ELSE c_name END AS c_name,
             CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal < 0
                  THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
           FROM customer)
         SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         FROM upd
         WHERE NOT (c_acctbal > 9000 AND c_mktsegment = 'MACHINERY')""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_dv_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_dv")
      s.sql("CREATE TABLE graftcat.db.cust_dv USING txlog AS " +
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment " +
        "FROM cust_dv_src")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/cust_dv")
      val before = tbl.entries(None).map(_.rel).toSet
      val upd = s.sql(
        "CALL graftcat.system.update_pos('db.cust_dv', " +
          "'c_mktsegment = ''BUILDING'' AND c_acctbal < 0', " +
          "'c_acctbal = c_acctbal + 1000; " +
          "c_name = concat(''N-'', c_name)')").head()
      require(upd.getInt(2) == 0,
        s"update_pos must rewrite zero files: ${upd.getInt(2)}")
      require(upd.getLong(1) > 0, "update_pos must touch rows at sf0.01")
      val after = tbl.entries(None).map(_.rel).toSet
      require(before.subsetOf(after) && after.size > before.size,
        "every pre-update file must survive; only new files may join")
      require(tbl.history().last.op.contains("update-dv"),
        "commit must go through the update-dv op")
      val del = s.sql(
        "CALL graftcat.system.delete_pos('db.cust_dv', " +
          "'c_acctbal > 9000 AND c_mktsegment = ''MACHINERY''')").head()
      require(del.getInt(2) == 0, "delete_pos must rewrite zero files")
      s.sql("SELECT c_custkey, c_name, c_acctbal, c_mktsegment " +
        "FROM graftcat.db.cust_dv")
    }),

    // Bucketed storage-partitioned join — the HIGH-CARDINALITY twin of
    // sql_spj_join: `PARTITIONED BY (bucket(8, key))` lays both tables
    // out as hidden `_bkt=<pmod(xxhash64(key), 8)>` hive dirs, the scans
    // report KeyGroupedPartitioning over the bucket(8, key) transform
    // (resolved through the catalog's V2 bucket function), and the join
    // ON the raw key plans with ZERO shuffle exchanges — identity SPJ
    // can only do this for keys with few values (one dir per value);
    // bucketing is how the same zero-shuffle join scales to the join
    // keys a 100 TB fact table actually has. The requires prove the
    // layout, the key-grouped scans, and the empty-Exchange plan; the
    // oracle replays the join + aggregation relationally (the bucket id
    // never surfaces — it's derivable but invisible).
    Query("sql_bucket_join",
      """SELECT c.c_custkey AS custkey, count(*) AS n_ord,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS spend
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c.c_custkey""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_bkt_src")
      t(s, dir, "orders").createOrReplaceTempView("ord_bkt_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_bkt")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ord_bkt")
      s.sql("CREATE TABLE graftcat.db.cust_bkt (c_custkey BIGINT, " +
        "c_acctbal DOUBLE) USING txlog PARTITIONED BY (bucket(8, c_custkey))")
      s.sql("CREATE TABLE graftcat.db.ord_bkt (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, o_custkey))")
      s.sql("INSERT INTO graftcat.db.cust_bkt " +
        "SELECT c_custkey, c_acctbal FROM cust_bkt_src")
      s.sql("INSERT INTO graftcat.db.ord_bkt " +
        "SELECT o_orderkey, o_custkey, o_totalprice FROM ord_bkt_src")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/ord_bkt")
      require(tbl.entries(None).nonEmpty &&
        tbl.entries(None).forall(_.rel.startsWith("_bkt=")),
        "bucketed layout must land under hidden _bkt dirs")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true")
      try {
        val out = s.sql("""
          SELECT /*+ MERGE(c) */ c.c_custkey AS custkey,
                 count(*) AS n_ord,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS spend
          FROM graftcat.db.cust_bkt c
          JOIN graftcat.db.ord_bkt o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("TxLogSpjScan"),
          s"expected the key-grouped bucketed scans:\n$plan")
        require(!plan.contains("Exchange"),
          s"bucketed SPJ must plan zero shuffles:\n$plan")
        out
      } finally s.conf.set(key, prev)
    }),

    // SORTED BUCKET LAYOUT — the join plan money shot: both sides
    // declare TBLPROPERTIES('sortCols'='key') (within-file ordering
    // enforced at the staging chokepoint) and compact to one file per
    // bucket, so the scans report a V2 output ordering alongside their
    // KeyGroupedPartitioning and the merge join plans with ZERO Sort
    // nodes AND zero Exchanges — at 100 TB the join neither moves nor
    // sorts either fact table; the layout paid the sort once at write
    // time. The requires pin exactly that plan; the ordering report is
    // conservatively gated (multi-file buckets report nothing — a
    // concatenation of sorted files is not sorted), so compaction is
    // what arms it. Oracle replays the join relationally.
    Query("sql_sorted_join",
      """SELECT c.c_custkey AS custkey, count(*) AS n_ord,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS spend
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c.c_custkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_srt_src")
      t(s, dir, "orders").createOrReplaceTempView("ord_srt_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_srt")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ord_srt")
      s.sql("CREATE TABLE graftcat.db.cust_srt (c_custkey BIGINT, " +
        "c_acctbal DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, c_custkey)) " +
        "TBLPROPERTIES ('sortCols'='c_custkey')")
      s.sql("CREATE TABLE graftcat.db.ord_srt (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, o_custkey)) " +
        "TBLPROPERTIES ('sortCols'='o_custkey')")
      s.sql("INSERT INTO graftcat.db.cust_srt " +
        "SELECT c_custkey, c_acctbal FROM cust_srt_src")
      s.sql("INSERT INTO graftcat.db.ord_srt " +
        "SELECT o_orderkey, o_custkey, o_totalprice FROM ord_srt_src")
      s.sql("CALL graftcat.system.compact('db.cust_srt')")
      s.sql("CALL graftcat.system.compact('db.ord_srt')")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true")
      try {
        val out = s.sql("""
          SELECT /*+ MERGE(c) */ c.c_custkey AS custkey,
                 count(*) AS n_ord,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS spend
          FROM graftcat.db.cust_srt c
          JOIN graftcat.db.ord_srt o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin") &&
          plan.contains("TxLogSpjScan"),
          s"expected a merge join over the key-grouped scans:\n$plan")
        require(!plan.contains("Exchange"),
          s"sorted bucketed SPJ must plan zero shuffles:\n$plan")
        require(!plan.contains("Sort "),
          s"sorted compacted buckets must merge-join with ZERO Sort " +
            s"nodes:\n$plan")
        out
      } finally s.conf.set(key, prev)
    }),

    // MULTI-FILE sorted arming — sql_sorted_join WITHOUT the compacts:
    // each side takes TWO appends split on the sort key (the
    // time-ordered-ingest shape), so every bucket dir holds several
    // internally-sorted files whose key ranges are pairwise disjoint.
    // The scan orders each dir's files by their manifest min/max range
    // and reports the ordering over the concatenation — the merge join
    // still plans ZERO Sort and ZERO Exchange with no maintenance ever
    // run. At 100 TB this is what makes compaction OPTIONAL for the
    // sorted layout rather than a prerequisite of every join: arming no
    // longer requires rewriting each bucket into one monster unsplit
    // file. The requires additionally pin that the buckets really are
    // multi-file (a compact would trivialize the claim).
    Query("sql_sorted_multifile",
      """SELECT c.c_custkey AS custkey, count(*) AS n_ord,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS spend
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c.c_custkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_smf_src")
      t(s, dir, "orders").createOrReplaceTempView("ord_smf_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_smf")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ord_smf")
      s.sql("CREATE TABLE graftcat.db.cust_smf (c_custkey BIGINT, " +
        "c_acctbal DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, c_custkey)) " +
        "TBLPROPERTIES ('sortCols'='c_custkey')")
      s.sql("CREATE TABLE graftcat.db.ord_smf (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, o_custkey)) " +
        "TBLPROPERTIES ('sortCols'='o_custkey')")
      val mid = t(s, dir, "customer")
        .agg(org.apache.spark.sql.functions.max(col("c_custkey")) / 2)
        .head.getDouble(0).toLong
      // ORDER BY the sort key at write — the sorted-ingest recipe: the
      // write's range shuffle hands each staging task a contiguous key
      // slice, so each append's files are range-disjoint per bucket
      for (pred <- Seq(s"< $mid", s">= $mid")) {
        s.sql("INSERT INTO graftcat.db.cust_smf " +
          s"SELECT c_custkey, c_acctbal FROM cust_smf_src " +
          s"WHERE c_custkey $pred ORDER BY c_custkey")
        s.sql("INSERT INTO graftcat.db.ord_smf " +
          s"SELECT o_orderkey, o_custkey, o_totalprice FROM ord_smf_src " +
          s"WHERE o_custkey $pred ORDER BY o_custkey")
      }
      // NO compact — the armed state must come from range disjointness
      val ct = graft.sources.TxLogTable(s, s.conf.get(
        "spark.sql.catalog.graftcat.warehouse") + "/db/cust_smf")
      val perDir = ct.entries(None).groupBy(_.rel.split('/').head)
      require(perDir.values.exists(_.size > 1),
        s"buckets must be multi-file: ${perDir.view.mapValues(_.size).toMap}")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true")
      try {
        val out = s.sql("""
          SELECT /*+ MERGE(c) */ c.c_custkey AS custkey,
                 count(*) AS n_ord,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS spend
          FROM graftcat.db.cust_smf c
          JOIN graftcat.db.ord_smf o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin") &&
          plan.contains("TxLogSpjScan"),
          s"expected a merge join over the key-grouped scans:\n$plan")
        require(!plan.contains("Exchange"),
          s"sorted bucketed SPJ must plan zero shuffles:\n$plan")
        require(!plan.contains("Sort "),
          s"range-disjoint multi-file buckets must merge-join with " +
            s"ZERO Sort nodes:\n$plan")
        out
      } finally s.conf.set(key, prev)
    }),

    // TARGETED RE-ARM (CALL system.resort): an overlapping backfill
    // de-arms the sorted ordering — correctly, a false order would make
    // the merge join silently wrong — and the re-arm should cost
    // O(damaged dirs), not a full compact. resort detects overlap with
    // the SAME rangeOrder rule the scan reports with, rewrites only the
    // de-armed dirs (range-split toward target bytes, so they come back
    // multi-file), and the join drops its Sorts again. The requires pin
    // the full arc: armed -> de-armed by the backfill -> re-armed by
    // resort with zero Sort and zero Exchange. Oracle replays the join.
    Query("sql_resort",
      """SELECT c.c_custkey AS custkey, count(*) AS n_ord,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS spend
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c.c_custkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_rs_src")
      t(s, dir, "orders").createOrReplaceTempView("ord_rs_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_rs")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ord_rs")
      s.sql("CREATE TABLE graftcat.db.cust_rs (c_custkey BIGINT, " +
        "c_acctbal DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, c_custkey)) " +
        "TBLPROPERTIES ('sortCols'='c_custkey')")
      s.sql("CREATE TABLE graftcat.db.ord_rs (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, o_custkey)) " +
        "TBLPROPERTIES ('sortCols'='o_custkey')")
      s.sql("INSERT INTO graftcat.db.cust_rs SELECT c_custkey, " +
        "c_acctbal FROM cust_rs_src ORDER BY c_custkey")
      // orders land as TWO overlapping halves (odd/even order keys both
      // span the whole o_custkey domain) — every bucket dir de-arms
      for (m <- Seq(0, 1))
        s.sql("INSERT INTO graftcat.db.ord_rs SELECT o_orderkey, " +
          s"o_custkey, o_totalprice FROM ord_rs_src " +
          s"WHERE o_orderkey % 2 = $m ORDER BY o_custkey")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true")
      try {
        val q = """
          SELECT /*+ MERGE(c) */ c.c_custkey AS custkey,
                 count(*) AS n_ord,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS spend
          FROM graftcat.db.cust_rs c
          JOIN graftcat.db.ord_rs o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey"""
        val p0 = s.sql(q).queryExecution.executedPlan.toString
        require(p0.contains("Sort "),
          s"overlapping backfill must de-arm the orders side:\n$p0")
        val r = s.sql("CALL graftcat.system.resort('db.ord_rs')")
          .collect().head
        require(r.getInt(1) > 0, s"resort must rewrite damage: $r")
        val out = s.sql(q)
        val p1 = out.queryExecution.executedPlan.toString
        require(p1.contains("SortMergeJoin") && !p1.contains("Sort ") &&
          !p1.contains("Exchange"),
          s"resort must re-arm the zero-Sort zero-Exchange join:\n$p1")
        out
      } finally s.conf.set(key, prev)
    }),

    // WINDOW over the sorted layout — the analytic twin of
    // sql_sorted_join: a per-partition running total over a
    // date/status-partitioned table whose files are internally ordered
    // by the window's ORDER BY. The scan reports KeyGroupedPartitioning
    // (satisfies the window's clustering) AND the partition-led sort
    // order (satisfies its ordering), so the executed plan is scan →
    // window: NO Exchange, NO Sort — at 100 TB the running total reads
    // the layout and computes, moving and sorting nothing. Running sums
    // fold in DECIMAL in ascending-key order on both engines, so the
    // hash matches exactly.
    Query("sql_sorted_window",
      """SELECT o_orderstatus, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey)
             AS DOUBLE) AS running
         FROM orders""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "orders").createOrReplaceTempView("ord_sw_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ord_sw")
      s.sql("CREATE TABLE graftcat.db.ord_sw (o_orderstatus STRING, " +
        "o_orderkey BIGINT, o_totalprice DOUBLE) USING txlog " +
        "PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES ('sortCols'='o_orderkey')")
      s.sql("INSERT INTO graftcat.db.ord_sw " +
        "SELECT o_orderstatus, o_orderkey, o_totalprice FROM ord_sw_src")
      s.sql("CALL graftcat.system.compact('db.ord_sw')")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true")
      try {
        val out = s.sql("""
          SELECT o_orderstatus, o_orderkey,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
              PARTITION BY o_orderstatus ORDER BY o_orderkey)
              AS DOUBLE) AS running
          FROM graftcat.db.ord_sw""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("Window") &&
          plan.contains("TxLogSpjScan"),
          s"expected a window over the key-grouped scan:\n$plan")
        require(!plan.contains("Exchange") && !plan.contains("Sort "),
          s"window over the sorted layout must add no Exchange and no " +
            s"Sort:\n$plan")
        out
      } finally s.conf.set(key, prev)
    }),

    // COLUMN NDV STATISTICS → CBO JOIN PICK: the dim table maintains a
    // KMV distinct-count sketch on its filter column (TBLPROPERTIES
    // 'ndvCols', ~1 KB per column per MANIFEST — no file ever opened),
    // the SPJ scan surfaces it as V2 columnStats, and under CBO the
    // equality filter's 1/ndv selectivity shrinks the dim's estimate
    // below the broadcast threshold: the join plans as a BROADCAST of
    // the filtered dim instead of a sort-merge of the full one. At
    // 100 TB that pick is the difference between shuffling the fact
    // table and not. The require pins the flip (threshold is set
    // BETWEEN the full and filtered estimates, so only the stats can
    // make the difference); the oracle replays the join relationally.
    Query("sql_ndv_broadcast",
      """SELECT c.c_custkey AS custkey, count(*) AS n_ord,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS spend
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         WHERE c.c_mktsegment = 'BUILDING'
         GROUP BY c.c_custkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_ndv_src")
      t(s, dir, "orders").createOrReplaceTempView("ord_ndv_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_ndv")
      s.sql("CREATE TABLE graftcat.db.cust_ndv (c_custkey BIGINT, " +
        "c_mktsegment STRING, c_acctbal DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(4, c_custkey)) " +
        "TBLPROPERTIES ('ndvCols'='c_mktsegment')")
      s.sql("INSERT INTO graftcat.db.cust_ndv " +
        "SELECT c_custkey, c_mktsegment, c_acctbal FROM cust_ndv_src")
      val tbl = graft.sources.TxLogTable(s, s.conf.get(
        "spark.sql.catalog.graftcat.warehouse") + "/db/cust_ndv")
      val bytes = tbl.fileSizes(None).map(_._2).sum
      val confs = Seq(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (bytes / 2).toString)
      val prev = confs.map { case (k, _) => k -> s.conf.get(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = s.sql("""
          SELECT c.c_custkey AS custkey, count(*) AS n_ord,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS spend
          FROM graftcat.db.cust_ndv c
          JOIN ord_ndv_src o ON c.c_custkey = o.o_custkey
          WHERE c.c_mktsegment = 'BUILDING'
          GROUP BY c.c_custkey""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("BroadcastHashJoin"),
          s"ndv stats must flip the filtered dim to broadcast:\n$plan")
        require(!plan.contains("SortMergeJoin"),
          s"the full-dim sort-merge must be gone:\n$plan")
        out
      } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
    }),

    // CALL system.changes — the batch change feed in pure SQL: rows
    // added per commit tagged _commit_version, MOR tombstones surfaced
    // as keys-only delete rows, row-preserving maintenance SKIPPED
    // (compact contributes nothing — in-query require), all
    // materialized to a fresh catalog table the SQL-only consumer can
    // read. The oracle reconstructs the feed relationally: the odd
    // half inserted at v2, the multiples of 10 deleted at v1.
    Query("sql_changes",
      """SELECT event_id, user_id, value,
           CAST(3 AS BIGINT) AS commit_v, 'insert' AS change_type
         FROM events WHERE event_id % 2 = 1
         UNION ALL
         SELECT event_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(2 AS BIGINT), 'delete'
         FROM events WHERE event_id % 10 = 0""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("value")).createOrReplaceTempView("ev_chg_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_chg")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_chg_out")
      s.sql("CREATE TABLE graftcat.db.ev_chg USING txlog AS " +
        "SELECT * FROM ev_chg_src WHERE event_id % 2 = 0")     // v0+v1
      val tbl = graft.sources.TxLogTable(s, s.conf.get(
        "spark.sql.catalog.graftcat.warehouse") + "/db/ev_chg")
      tbl.deleteByKeysMor(s.sql(                               // v2
        "SELECT event_id FROM ev_chg_src WHERE event_id % 10 = 0"))
      s.sql("INSERT INTO graftcat.db.ev_chg " +                // v3
        "SELECT * FROM ev_chg_src WHERE event_id % 2 = 1")
      s.sql("CALL graftcat.system.compact('db.ev_chg')")       // v4: skip
      val v0 = 1 // CTAS = create(v0) + data commit(v1)
      val r = s.sql("CALL graftcat.system.changes('db.ev_chg', " +
        s"'db.ev_chg_out', $v0, NULL, true)").collect().head
      require(r.getInt(2) == tbl.latestVersion.get,
        s"changes must run to latest: $r")
      val out = s.sql("""
        SELECT event_id, user_id, value,
               CAST(_commit_version AS BIGINT) AS commit_v,
               _change_type AS change_type
        FROM graftcat.db.ev_chg_out""")
      require(out.filter(col("commit_v") === 4).count() == 0,
        "compact must contribute nothing to the feed")
      // the TIMESTAMP twin: from_ts at v2's exact commit instant opens
      // the window AT v2 (at-or-after, the Delta CDF contract) with no
      // version number ever looked up; proves ts→version resolution
      // against the same feed
      s.sql("DROP TABLE IF EXISTS graftcat.db.ev_chg_out_ts")
      val v2ts = tbl.history().find(_.version == 2)
        .flatMap(_.commitMillis).get
      val rTs = s.sql("CALL graftcat.system.changes(" +
        "source => 'db.ev_chg', dest => 'db.ev_chg_out_ts', " +
        s"with_deletes => true, from_ts => '$v2ts')").collect().head
      require(rTs.getInt(1) == 1 && rTs.getInt(2) == tbl.latestVersion.get,
        s"from_ts at v2's instant must open (1, latest]: $rTs")
      require(s.sql("SELECT min(CAST(_commit_version AS BIGINT)) " +
        "FROM graftcat.db.ev_chg_out_ts").head.getLong(0) == 2L,
        "the ts-opened feed must start at v2")
      out
    }),

    // CALL system.analyze — NDV stats WITHOUT the create-time property:
    // the dim is created bare, ANALYZE re-sketches its snapshot in a
    // metadata-only commit (no file touched, no change-feed impact),
    // and the same CBO broadcast flip as sql_ndv_broadcast fires from
    // the analyzed stats. The operator's path into stats for the
    // 100 TB table that already exists.
    Query("sql_analyze",
      """SELECT c.c_custkey AS custkey, count(*) AS n_ord,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS spend
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         WHERE c.c_mktsegment = 'BUILDING'
         GROUP BY c.c_custkey""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_anl_src")
      t(s, dir, "orders").createOrReplaceTempView("ord_anl_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_anl")
      s.sql("CREATE TABLE graftcat.db.cust_anl (c_custkey BIGINT, " +
        "c_mktsegment STRING, c_acctbal DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(4, c_custkey))")
      s.sql("INSERT INTO graftcat.db.cust_anl " +
        "SELECT c_custkey, c_mktsegment, c_acctbal FROM cust_anl_src")
      val tbl = graft.sources.TxLogTable(s, s.conf.get(
        "spark.sql.catalog.graftcat.warehouse") + "/db/cust_anl")
      val vPre = tbl.latestVersion.get
      s.sql("CALL graftcat.system.analyze('db.cust_anl', 'c_mktsegment')")
      require(tbl.latestVersion.contains(vPre + 1) &&
        tbl.ndvOf(vPre + 1).get("c_mktsegment").exists(_ == 5L),
        s"analyze must land exact segment NDV: ${tbl.ndvOf(vPre + 1)}")
      val bytes = tbl.fileSizes(None).map(_._2).sum
      val confs = Seq(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (bytes / 2).toString)
      val prev = confs.map { case (k, _) => k -> s.conf.get(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = s.sql("""
          SELECT c.c_custkey AS custkey, count(*) AS n_ord,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS spend
          FROM graftcat.db.cust_anl c
          JOIN ord_anl_src o ON c.c_custkey = o.o_custkey
          WHERE c.c_mktsegment = 'BUILDING'
          GROUP BY c.c_custkey""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("BroadcastHashJoin") &&
          !plan.contains("SortMergeJoin"),
          s"analyzed stats must flip the filtered dim to broadcast:\n$plan")
        out
      } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
    }),

    // BUCKET-SPEC EVOLUTION (CALL system.rebucket) — the 100×-scale-up
    // answer for the zero-shuffle join: a bucket count pinned at CREATE
    // means per-bucket bytes grow with the corpus, and key-grouped plans
    // are exactly what AQE skew-splitting cannot touch. Here both sides
    // start at bucket(2, key) (a deliberately-too-small count), join
    // zero-Exchange, then CALL rebucket to 8 — a full rewrite deriving
    // the hidden ids under the new count plus an atomic manifest spec
    // bump. The requires prove the spec bumped, the layout physically
    // spread beyond the old 2 dirs, the post-rebucket join STILL plans
    // zero Exchanges, and a post-bump append derives ids under the new
    // spec. The oracle replays the (unchanged) join relationally — the
    // layout evolved, the rows didn't, which is the whole contract.
    Query("sql_rebucket",
      """SELECT c.c_custkey AS custkey, count(*) AS n_ord,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS spend
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         GROUP BY c.c_custkey""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_rbk_src")
      t(s, dir, "orders").createOrReplaceTempView("ord_rbk_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_rbk")
      s.sql("DROP TABLE IF EXISTS graftcat.db.ord_rbk")
      s.sql("CREATE TABLE graftcat.db.cust_rbk (c_custkey BIGINT, " +
        "c_acctbal DOUBLE) USING txlog PARTITIONED BY (bucket(2, c_custkey))")
      s.sql("CREATE TABLE graftcat.db.ord_rbk (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(2, o_custkey))")
      s.sql("INSERT INTO graftcat.db.cust_rbk " +
        "SELECT c_custkey, c_acctbal FROM cust_rbk_src")
      s.sql("INSERT INTO graftcat.db.ord_rbk " +
        "SELECT o_orderkey, o_custkey, o_totalprice FROM ord_rbk_src")
      val tc = graft.sources.TxLogTable(s, s"$wh/db/cust_rbk")
      val to = graft.sources.TxLogTable(s, s"$wh/db/ord_rbk")
      def dirsOf(tbl: graft.sources.TxLogTable): Set[String] =
        tbl.entries(None).map(_.rel.takeWhile(_ != '/')).toSet
      require(dirsOf(tc).subsetOf(Set("_bkt=0", "_bkt=1")),
        s"pre-evolution layout must sit in 2 buckets: ${dirsOf(tc)}")
      val r = s.sql("CALL graftcat.system.rebucket('db.cust_rbk', 8)")
        .collect().head
      require(r.getInt(1) == 2 && r.getInt(2) == 8,
        s"rebucket must report 2 -> 8, got $r")
      s.sql("CALL graftcat.system.rebucket('db.ord_rbk', 8)")
      require(tc.latestVersion.map(tc.bucketSpecsOf)
        .contains(Seq(("c_custkey", 8))), "manifest spec must bump to 8")
      require(dirsOf(tc).size > 2 && dirsOf(to).size > 2,
        s"rewrite must spread past the old 2 dirs: ${dirsOf(tc)}")
      // a post-evolution append derives ids under the NEW spec
      s.sql("INSERT INTO graftcat.db.ord_rbk VALUES (900001, 1, 0.0)")
      s.sql("DELETE FROM graftcat.db.ord_rbk WHERE o_orderkey = 900001")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true")
      try {
        val out = s.sql("""
          SELECT /*+ MERGE(c) */ c.c_custkey AS custkey,
                 count(*) AS n_ord,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS spend
          FROM graftcat.db.cust_rbk c
          JOIN graftcat.db.ord_rbk o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("TxLogSpjScan"),
          s"expected the key-grouped bucketed scans:\n$plan")
        require(!plan.contains("Exchange"),
          s"post-rebucket SPJ must still plan zero shuffles:\n$plan")
        out
      } finally s.conf.set(key, prev)
    }),

    // COMPOSITE-KEY co-location via a bucket GRID: a multi-tenant fact's
    // join key is a tuple — one tuple-hash transform is what Spark's SPJ
    // planner cannot key-group (single-argument transforms only), so the
    // engine refuses it at CREATE and lays the table out as a grid of
    // single-key levels instead (`bucket(8, l_orderkey),
    // bucket(4, l_linenumber)` → `_bkt=i/_bkt1=j` dirs). Both scans
    // report one bucket transform PER level, the join covers both keys,
    // and the plan carries zero Exchanges — the zero-shuffle join at any
    // composite-key cardinality. Oracle replays the 1:1 tuple join
    // relationally.
    Query("sql_bucket_grid",
      """SELECT a.l_orderkey AS okey, a.l_linenumber AS line,
           CAST(SUM(CAST(a.l_quantity * b.l_extendedprice
             AS DECIMAL(28,4))) AS DOUBLE) AS qp
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey
          AND a.l_linenumber = b.l_linenumber
         GROUP BY a.l_orderkey, a.l_linenumber""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "lineitem").createOrReplaceTempView("li_grid_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.li_grid_a")
      s.sql("DROP TABLE IF EXISTS graftcat.db.li_grid_b")
      s.sql("CREATE TABLE graftcat.db.li_grid_a (l_orderkey BIGINT, " +
        "l_linenumber INT, l_quantity DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, l_orderkey), bucket(4, l_linenumber))")
      s.sql("CREATE TABLE graftcat.db.li_grid_b (l_orderkey BIGINT, " +
        "l_linenumber INT, l_extendedprice DOUBLE) USING txlog " +
        "PARTITIONED BY (bucket(8, l_orderkey), bucket(4, l_linenumber))")
      s.sql("INSERT INTO graftcat.db.li_grid_a SELECT l_orderkey, " +
        "CAST(l_linenumber AS INT), l_quantity FROM li_grid_src")
      s.sql("INSERT INTO graftcat.db.li_grid_b SELECT l_orderkey, " +
        "CAST(l_linenumber AS INT), l_extendedprice FROM li_grid_src")
      val ta = graft.sources.TxLogTable(s, s"$wh/db/li_grid_a")
      require(ta.entries(None).nonEmpty && ta.entries(None).forall(e =>
        e.rel.startsWith("_bkt=") && e.rel.contains("/_bkt1=")),
        "grid layout must nest _bkt/_bkt1 dirs")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true")
      try {
        val out = s.sql("""
          SELECT /*+ MERGE(a) */ a.l_orderkey AS okey,
                 a.l_linenumber AS line,
                 CAST(SUM(CAST(a.l_quantity * b.l_extendedprice
                   AS DECIMAL(28,4))) AS DOUBLE) AS qp
          FROM graftcat.db.li_grid_a a
          JOIN graftcat.db.li_grid_b b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_linenumber = b.l_linenumber
          GROUP BY a.l_orderkey, a.l_linenumber""")
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("TxLogSpjScan"),
          s"expected the key-grouped grid scans:\n$plan")
        require(!plan.contains("Exchange"),
          s"grid-bucketed tuple join must plan zero shuffles:\n$plan")
        out
      } finally s.conf.set(key, prev)
    }),

    // ATOMIC GRID REBUCKET: BOTH levels of a bucket grid evolve in ONE
    // CALL — one O(table) rewrite, one version bump — where evolving
    // them one CALL at a time would pay the full rewrite twice and
    // expose a half-evolved spec between the two commits. The requires
    // pin exactly that: version delta == 1 per table, both #bucketSpec
    // lines bumped together, the tuple join zero-Exchange before AND
    // after. Oracle replays the (layout-independent) join relationally.
    Query("sql_rebucket_grid",
      """SELECT a.l_orderkey AS okey, a.l_linenumber AS line,
           CAST(SUM(CAST(a.l_quantity * b.l_quantity
             AS DECIMAL(28,4))) AS DOUBLE) AS qq
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey
          AND a.l_linenumber = b.l_linenumber
         GROUP BY a.l_orderkey, a.l_linenumber""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "lineitem").createOrReplaceTempView("li_rgrid_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.li_rgrid_a")
      s.sql("DROP TABLE IF EXISTS graftcat.db.li_rgrid_b")
      for (tn <- Seq("li_rgrid_a", "li_rgrid_b"))
        s.sql(s"CREATE TABLE graftcat.db.$tn (l_orderkey BIGINT, " +
          "l_linenumber INT, l_quantity DOUBLE) USING txlog " +
          "PARTITIONED BY (bucket(2, l_orderkey), bucket(2, l_linenumber))")
      for (tn <- Seq("li_rgrid_a", "li_rgrid_b"))
        s.sql(s"INSERT INTO graftcat.db.$tn SELECT l_orderkey, " +
          "CAST(l_linenumber AS INT), l_quantity FROM li_rgrid_src")
      val key = "spark.sql.sources.v2.bucketing.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "true")
      try {
        val q = """
          SELECT /*+ MERGE(a) */ a.l_orderkey AS okey,
                 a.l_linenumber AS line,
                 CAST(SUM(CAST(a.l_quantity * b.l_quantity
                   AS DECIMAL(28,4))) AS DOUBLE) AS qq
          FROM graftcat.db.li_rgrid_a a
          JOIN graftcat.db.li_rgrid_b b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_linenumber = b.l_linenumber
          GROUP BY a.l_orderkey, a.l_linenumber"""
        val p0 = s.sql(q).queryExecution.executedPlan.toString
        require(p0.contains("TxLogSpjScan") && !p0.contains("Exchange"),
          s"pre-rebucket grid join must be shuffle-free:\n$p0")
        for (tn <- Seq("li_rgrid_a", "li_rgrid_b")) {
          val tbl = graft.sources.TxLogTable(s, s"$wh/db/$tn")
          val v0 = tbl.latestVersion.get
          // both levels 2->4 in ONE call
          s.sql(s"CALL graftcat.system.rebucket('db.$tn', 4, " +
            "'l_orderkey', 0, NULL, 4, 'l_linenumber')").count()
          val v1 = tbl.latestVersion.get
          require(v1 == v0 + 1,
            s"grid rebucket must be ONE version bump: v$v0 -> v$v1")
          require(tbl.bucketSpecsOf(v1) ==
            Seq(("l_orderkey", 4), ("l_linenumber", 4)),
            s"both levels must bump together: ${tbl.bucketSpecsOf(v1)}")
        }
        val out = s.sql(q)
        val p1 = out.queryExecution.executedPlan.toString
        require(p1.contains("TxLogSpjScan") && !p1.contains("Exchange"),
          s"post-rebucket grid join must stay shuffle-free:\n$p1")
        out
      } finally s.conf.set(key, prev)
    }),

    // UPDATE in pure SQL (the same DSv2 group-based row-level rewrite as
    // MERGE INTO; Spark compiles UPDATE to a replace-groups plan). The
    // WHERE reaches the operation scan as a pushed filter and is consumed
    // for MANIFEST file pruning only — surviving files are rewritten in
    // full with the SET applied, untouched files are carried by
    // reference. The in-query require proves the commit went through the
    // row-level UPDATE op. Oracle recomputes the post-update state with a
    // CASE over the same predicate.
    Query("sql_update",
      """SELECT p_partkey,
           CASE WHEN p_size >= 30 THEN 'U-' || p_name ELSE p_name END
             AS p_name,
           p_size,
           CASE WHEN p_size >= 30 THEN p_retailprice + 100
                ELSE p_retailprice END AS p_retailprice
         FROM part""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "part").createOrReplaceTempView("part_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.part_upd")
      s.sql("CREATE TABLE graftcat.db.part_upd USING txlog AS " +
        "SELECT p_partkey, p_name, p_size, p_retailprice FROM part_src")
      s.sql("UPDATE graftcat.db.part_upd " +
        "SET p_name = concat('U-', p_name), " +
        "    p_retailprice = p_retailprice + 100 " +
        "WHERE p_size >= 30")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/part_upd")
      require(tbl.history().last.op.contains("row-level-update"),
        "UPDATE must commit through the row-level op")
      s.sql("SELECT p_partkey, p_name, p_size, p_retailprice " +
        "FROM graftcat.db.part_upd")
    }),

    // UPDATE under LIVE MOR tombstones — previously the one refused
    // row-level-DML table state ("compact first"). A MOR delete leaves
    // keys-only equality tombstones in the manifest (no file rewritten,
    // asserted in-query); the UPDATE's operation scan applies the
    // sequence-aware mask (MorMaskedScan) so only surviving rows update
    // or ride the rewrite, and the commit carries the tombstone lines so
    // files the rewrite never touched stay masked (asserted in-query).
    // The oracle replays delete + update relationally.
    Query("sql_update_mor",
      """SELECT c_custkey, c_acctbal,
           CASE WHEN c_acctbal < 0 THEN 'NEG' ELSE c_mktsegment END
             AS c_mktsegment
         FROM customer WHERE c_custkey % 7 <> 0""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_mor_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_mor")
      s.sql("CREATE TABLE graftcat.db.cust_mor USING txlog AS " +
        "SELECT c_custkey, c_acctbal, c_mktsegment FROM cust_mor_src")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/cust_mor")
      val files = tbl.fileCount()
      tbl.deleteByKeysMor(
        t(s, dir, "customer").select("c_custkey")
          .where("c_custkey % 7 = 0"))
      require(tbl.fileCount() == files,
        "MOR delete must be metadata-only (no file rewritten)")
      s.sql("UPDATE graftcat.db.cust_mor " +
        "SET c_mktsegment = 'NEG' WHERE c_acctbal < 0")
      require(tbl.history().last.op.contains("row-level-update"),
        "UPDATE must commit through the row-level op")
      require(tbl.latestVersion.exists(v => tbl.tombstonesOf(v).nonEmpty),
        "tombstones must survive the group-replacement commit")
      s.sql("SELECT c_custkey, c_acctbal, c_mktsegment " +
        "FROM graftcat.db.cust_mor")
    }),

    // SQL time travel (DSv2 loadTable(ident, version) behind VERSION AS
    // OF): three commits land through pure SQL, the query reads the
    // middle version — the append-only prefix — while the current
    // snapshot holds only the overwrite's row (both asserted in-query).
    // The oracle recomputes the v2 prefix relationally.
    Query("sql_time_travel",
      """SELECT r_regionkey, r_name FROM region""")((s, dir) => {
      ensureCatalog(s)
      t(s, dir, "region").createOrReplaceTempView("region_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.region_tt")
      s.sql("CREATE TABLE graftcat.db.region_tt " +
        "(r_regionkey INT, r_name STRING) USING txlog")
      s.sql("INSERT INTO graftcat.db.region_tt " +
        "SELECT r_regionkey, r_name FROM region_src WHERE r_regionkey < 2")
      s.sql("INSERT INTO graftcat.db.region_tt " +
        "SELECT r_regionkey, r_name FROM region_src WHERE r_regionkey >= 2")
      s.sql("INSERT OVERWRITE graftcat.db.region_tt VALUES (99, 'GONE')")
      require(s.sql("SELECT * FROM graftcat.db.region_tt").count() == 1,
        "current snapshot must be the overwrite")
      s.sql("SELECT r_regionkey, r_name " +
        "FROM graftcat.db.region_tt VERSION AS OF 2")
    }),

    // RENAME via column mapping (TxLogTable.renameColumn through ALTER
    // TABLE SQL): batch 1 lands under the old name, the rename commits
    // pure METADATA (the require proves zero files were added or
    // rewritten), batch 2 lands under the new name — and one SELECT serves
    // both generations, re-labeling the old files' physical column through
    // the manifest's logical→physical map. At 100 TB this is the second
    // schema change every real table hits, and the difference between a
    // manifest write and rewriting the table. Oracle recomputes the union
    // relationally under the new name.
    Query("schema_evolution_rename",
      """SELECT c_custkey, c_name AS cust_name, c_acctbal FROM customer""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("customer_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_ren")
      s.sql("CREATE TABLE graftcat.db.cust_ren " +
        "(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE) USING txlog")
      s.sql("INSERT INTO graftcat.db.cust_ren " +
        "SELECT c_custkey, c_name, c_acctbal FROM customer_src " +
        "WHERE c_custkey % 2 = 0")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/cust_ren")
      val before = tbl.fileCount()
      s.sql("ALTER TABLE graftcat.db.cust_ren RENAME COLUMN c_name TO cust_name")
      require(tbl.fileCount() == before,
        "rename must be a metadata-only commit (no files added/rewritten)")
      require(tbl.history().last.op.contains("rename-column"),
        "rename commit missing from history")
      s.sql("INSERT INTO graftcat.db.cust_ren " +
        "SELECT c_custkey, c_name AS cust_name, c_acctbal FROM customer_src " +
        "WHERE c_custkey % 2 = 1")
      s.sql("SELECT c_custkey, cust_name, c_acctbal " +
        "FROM graftcat.db.cust_ren")
    }),

    // Change feed ACROSS mid-range schema evolution — the carried gap:
    // evolution was proven for snapshots only, never for the feed. Rows
    // committed BEFORE a RENAME and an ADD COLUMN must surface under the
    // CURRENT logical schema (renamed name applied, added column NULL),
    // with their original _commit_version tags. Correct by the format's
    // one invariant: physical names are never rebound (addColumn refuses
    // a physical name still present in old files), so the LATEST colmap
    // translates every version's files.
    Query("cdc_schema_evolution",
      """SELECT c_custkey, c_name AS cust_name,
           CAST(NULL AS VARCHAR) AS segment, CAST(1 AS BIGINT) AS commit_v
         FROM customer WHERE c_custkey % 3 = 0
         UNION ALL
         SELECT c_custkey, c_name, CAST(NULL AS VARCHAR), CAST(3 AS BIGINT)
         FROM customer WHERE c_custkey % 3 = 1
         UNION ALL
         SELECT c_custkey, c_name, c_mktsegment, CAST(5 AS BIGINT)
         FROM customer WHERE c_custkey % 3 = 2""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_cdc_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_cdc")
      s.sql("CREATE TABLE graftcat.db.cust_cdc " +
        "(c_custkey BIGINT, c_name STRING) USING txlog")          // v0
      s.sql("INSERT INTO graftcat.db.cust_cdc " +
        "SELECT c_custkey, c_name FROM cust_cdc_src " +
        "WHERE c_custkey % 3 = 0")                                // v1
      s.sql("ALTER TABLE graftcat.db.cust_cdc " +
        "RENAME COLUMN c_name TO cust_name")                      // v2
      s.sql("INSERT INTO graftcat.db.cust_cdc " +
        "SELECT c_custkey, c_name FROM cust_cdc_src " +
        "WHERE c_custkey % 3 = 1")                                // v3
      s.sql("ALTER TABLE graftcat.db.cust_cdc " +
        "ADD COLUMN segment STRING")                              // v4
      s.sql("INSERT INTO graftcat.db.cust_cdc " +
        "SELECT c_custkey, c_name, c_mktsegment FROM cust_cdc_src " +
        "WHERE c_custkey % 3 = 2")                                // v5
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/cust_cdc")
      require(tbl.latestVersion.contains(5),
        s"expected 6 versions, got ${tbl.versions}")
      tbl.changesBetween(s.table("graftcat.db.cust_cdc").schema,
          -1, 5)
        .select(col("c_custkey"), col("cust_name"), col("segment"),
          col("_commit_version").as("commit_v"))
    }),

    // CDC for COPY-ON-WRITE deletes — the feed contract the MOR-only
    // path couldn't cover: a predicate delete REWRITES the affected
    // files, and the feed computes its events by content-diffing the
    // rewritten file set (TxLogTable.cowDiffEvents). Deleted rows
    // surface as FULL-row 'delete' events; rows the rewrite merely
    // carried produce NOTHING (a raw file feed would re-deliver the
    // whole rewritten file as phantom inserts). O(touched files) per
    // version — at 100 TB the feed reads the delete's blast radius,
    // never the table.
    Query("cdc_cow_delete",
      """SELECT event_id, user_id, value,
           CAST(1 AS BIGINT) AS commit_v, 'delete' AS change_type
         FROM events WHERE event_id % 7 = 0""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cowdel")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev, overwrite = true)                          // v0
      tbl.deleteWhere(ev.schema, col("event_id") % 7 === 0)     // v1 COW
      val feed = tbl.changesWithDeletes(ev.schema, 0, 1)
      require(feed.filter(col("_change_type") === "insert").isEmpty,
        "carried rows re-delivered as phantom inserts")
      feed.select(col("event_id"), col("user_id"), col("value"),
        col("_commit_version").as("commit_v"),
        col("_change_type").as("change_type"))
    }),

    // SCHEMA DRIFT absorption on the WRITE path (mergeSchema — the
    // autoloader pattern): a drifting upstream adds a column mid-ingest
    // and the opted-in append EVOLVES the table (metadata commit) then
    // lands; the same batch without the option dies loudly before any
    // row is written. At 100 TB, drift handled at the manifest beats a
    // stalled pipeline or a silently mismatched file.
    Query("schema_drift",
      """SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value
         FROM events WHERE event_id % 2 = 0
         UNION ALL
         SELECT event_id, user_id, value
         FROM events WHERE event_id % 2 = 1""")((s, dir) => {
      val ev = t(s, dir, "events")
      val tmp = java.nio.file.Files.createTempDirectory("graft-drift")
      val root = tmp.resolve("t").toString
      val tbl = graft.sources.TxLogTable(s, root)
      tbl.create(StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType))))
      ev.select(col("event_id"), col("user_id"))
        .filter(col("event_id") % 2 === 0)
        .write.format("txlog").mode("append").save(root)
      val drifted = ev.select(col("event_id"), col("user_id"),
        col("value")).filter(col("event_id") % 2 === 1)
      // un-opted drift must fail loudly, landing nothing
      val refused = scala.util.Try(
        drifted.write.format("txlog").mode("append").save(root)).isFailure
      require(refused && tbl.tableSchema.get.fieldNames.length == 2,
        "drifted append landed without mergeSchema")
      drifted.write.format("txlog").mode("append")
        .option("mergeSchema", "true").save(root)
      require(tbl.tableSchema.get.fieldNames.toSeq ==
        Seq("event_id", "user_id", "value"), "schema did not evolve")
      tbl.snapshot(tbl.tableSchema.get)
    }),

    // TYPE WIDENING as a metadata-only commit (ALTER COLUMN ... TYPE):
    // int->bigint and float->double promote natively in the parquet
    // readers, so pre-widen files keep their narrow physical type and
    // promote at read — at 100 TB the alternative is rewriting the
    // table to change a column type. The require proves no file moved.
    Query("schema_widen",
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(CAST(c_acctbal AS REAL) AS DOUBLE) AS c_acctbal
         FROM customer WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT c_custkey, CAST(c_nationkey AS BIGINT),
           CAST(c_acctbal AS DOUBLE)
         FROM customer WHERE c_custkey % 2 = 1""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "customer").createOrReplaceTempView("cust_w_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.cust_w")
      s.sql("CREATE TABLE graftcat.db.cust_w " +
        "(c_custkey BIGINT, c_nationkey INT, c_acctbal FLOAT) USING txlog")
      s.sql("INSERT INTO graftcat.db.cust_w " +
        "SELECT c_custkey, CAST(c_nationkey AS INT), " +
        "CAST(c_acctbal AS FLOAT) FROM cust_w_src WHERE c_custkey % 2 = 0")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/cust_w")
      val before = tbl.fileCount()
      s.sql("ALTER TABLE graftcat.db.cust_w " +
        "ALTER COLUMN c_nationkey TYPE BIGINT")
      s.sql("ALTER TABLE graftcat.db.cust_w " +
        "ALTER COLUMN c_acctbal TYPE DOUBLE")
      require(tbl.fileCount() == before,
        "widening must be metadata-only (no file added/rewritten)")
      require(tbl.history().last.op.contains("widen-column"),
        "widen commit missing from history")
      s.sql("INSERT INTO graftcat.db.cust_w " +
        "SELECT c_custkey, CAST(c_nationkey AS BIGINT), " +
        "CAST(c_acctbal AS DOUBLE) FROM cust_w_src WHERE c_custkey % 2 = 1")
      s.sql("SELECT c_custkey, c_nationkey, c_acctbal " +
        "FROM graftcat.db.cust_w")
    }),

    // N-DIMENSIONAL OPTIMIZE ZORDER BY through SQL: three lineitem keys
    // on one Morton curve (comma-list form of CALL system.zorder, grid
    // bits scaled to 63/N per dim) — a range scan on the THIRD
    // dimension still prunes files, which no linear sort can give. The
    // require proves manifest-stats pruning actually bites before the
    // relational result is compared.
    Query("zorder3_scan",
      """WITH mm AS (SELECT min(l_suppkey) AS mn, max(l_suppkey) AS mx
                     FROM lineitem),
            b AS (SELECT mn + (mx - mn) // 3 AS lo,
                         mn + (mx - mn) // 3 + (mx - mn) // 10 AS hi
                  FROM mm)
         SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_suppkey >= lo AND l_suppkey <= hi""")((s, dir) => {
      val wh = ensureCatalog(s)
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        .createOrReplaceTempView("li_z3_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.li_z3")
      s.sql("CREATE TABLE graftcat.db.li_z3 USING txlog AS " +
        "SELECT * FROM li_z3_src")
      s.sql("CALL graftcat.system.zorder('db.li_z3', " +
        "'l_orderkey,l_partkey,l_suppkey', NULL, 16)")
      val tbl = graft.sources.TxLogTable(s, s"$wh/db/li_z3")
      val mm = s.table("li_z3_src")
        .agg(min(col("l_suppkey")), max(col("l_suppkey"))).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val lo = mn + (mx - mn) / 3
      val hi = lo + (mx - mn) / 10
      require(tbl.candidateFiles("l_suppkey", lo, hi).size <
        tbl.fileCount(),
        "third z-order dimension pruned nothing")
      s.sql("SELECT l_orderkey, l_partkey, l_suppkey, l_quantity " +
        s"FROM graftcat.db.li_z3 WHERE l_suppkey BETWEEN $lo AND $hi")
    }),

    // CDC through RESTORE: a rollback feeds downstream consumers the
    // EXACT undo events (op=restore is a content-diff version) — here a
    // bad predicate delete is restored away and the feed re-inserts
    // precisely the rows the bad commit removed, nothing else. Keyed
    // replicas roll back with the table instead of hitting a reset or,
    // worse, silently keeping the bad state.
    Query("cdc_restore",
      """SELECT event_id, user_id, value,
           CAST(2 AS BIGINT) AS commit_v, 'insert' AS change_type
         FROM events WHERE event_id % 5 = 0""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cowrst")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev, overwrite = true)                       // v0
      tbl.deleteWhere(ev.schema, col("event_id") % 5 === 0)  // v1: bad
      tbl.restore(0)                                         // v2: undo
      val feed = tbl.changesWithDeletes(ev.schema, 1, 2)
      require(feed.filter(col("_change_type") === "delete").isEmpty,
        "restore-undo window must contain no deletes")
      feed.select(col("event_id"), col("user_id"), col("value"),
        col("_commit_version").as("commit_v"),
        col("_change_type").as("change_type"))
    }),

    // CDC for COW merge: an UPDATE surfaces as delete(pre-image) +
    // insert(post-image) under ONE commit version, a fresh key as a
    // plain insert — the exact-row contract Delta's CDF writes change
    // files for, here reconstructed from the immutable file diff with
    // no extra write-path cost.
    Query("cdc_cow_merge",
      """SELECT s_suppkey, s_name, s_acctbal,
           CAST(1 AS BIGINT) AS commit_v, 'delete' AS change_type
         FROM supplier WHERE s_suppkey % 5 = 0
         UNION ALL
         SELECT s_suppkey, s_name, s_acctbal + 100.0,
           CAST(1 AS BIGINT), 'insert'
         FROM supplier WHERE s_suppkey % 5 = 0
         UNION ALL
         SELECT s_suppkey + 1000000, s_name, s_acctbal,
           CAST(1 AS BIGINT), 'insert'
         FROM supplier WHERE s_suppkey % 5 = 1""")((s, dir) => {
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cowmrg")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("sup").toString)
      tbl.commit(sup, overwrite = true)                         // v0
      val upd = sup.filter(col("s_suppkey") % 5 === 0)
        .withColumn("s_acctbal", col("s_acctbal") + lit(100.0))
      val fresh = sup.filter(col("s_suppkey") % 5 === 1)
        .withColumn("s_suppkey", col("s_suppkey") + lit(1000000L))
      tbl.merge(sup.schema, upd.unionByName(fresh),
        Seq("s_suppkey"))                                       // v1
      tbl.changesWithDeletes(sup.schema, 0, 1)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("_commit_version").as("commit_v"),
          col("_change_type").as("change_type"))
    }),

    // Metadata-only COUNT(*) (TxLogTable.metaRowCount): the count comes
    // off the manifest's per-file footer row counts — no file opened, no
    // scan planned (the require proves the manifest answered). The oracle
    // recomputes the count by scanning; equality proves the metadata path
    // is exact. The optimization every lakehouse SELECT COUNT(*) rides.
    Query("meta_count_scan",
      """SELECT count(*) AS n_rows FROM events""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cnt")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 3 === 0), overwrite = true)
      tbl.commit(ev.filter(col("event_id") % 3 =!= 0), overwrite = false)
      val n = tbl.metaRowCount()
      require(n.isDefined, "manifest must answer COUNT(*) without a scan")
      import s.implicits._
      Seq(n.get).toDF("n_rows")
    }),

    // CHECK constraint enforcement (TxLogTable.addCheck — Delta's table
    // constraint semantics): a registered SQL predicate gates every
    // ingest; a violating batch is rejected ATOMICALLY (the require
    // proves no version was published) and the data that finally lands is
    // exactly the valid rows — the oracle is the identity over them. At
    // 100 TB constraint checks ride the same pass as the write's shuffle
    // read; the alternative (discovering bad rows in downstream jobs days
    // later) costs a table repair.
    Query("check_constraint",
      """SELECT c_custkey, c_name, c_acctbal FROM customer""")((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-chk")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("customer").toString)
      tbl.commit(c.filter(col("c_custkey") % 2 === 0), overwrite = true)
      tbl.addCheck(c.schema, "bal_range", "c_acctbal > -1001")
      val vBefore = tbl.latestVersion.get
      val threw =
        try {
          tbl.commit(c.filter(col("c_custkey") % 2 =!= 0)
            .withColumn("c_acctbal", lit(-999999.0)), overwrite = false)
          false
        } catch { case _: IllegalArgumentException => true }
      require(threw && tbl.latestVersion.get == vBefore,
        "violating commit must reject atomically")
      tbl.commit(c.filter(col("c_custkey") % 2 =!= 0), overwrite = false)
      tbl.snapshot(c.schema)
    }),

    // Incremental small-file compaction (TxLogTable.compactSmall): one
    // consolidated file plus five tiny appends — the hourly-append shape —
    // then OPTIMIZE packs ONLY the tiny files (requires prove the big file
    // was carried by reference and the file count dropped). At 100 TB this
    // is the difference between compaction costing O(new small files)
    // per run and compact()'s O(table) full rewrite.
    Query("compact_small",
      """SELECT event_id, user_id, event_type, value FROM events""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-csm")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 7 =!= 0).repartition(1),
        overwrite = true)
      (0L to 4L).foreach(i => tbl.commit(
        ev.filter(col("event_id") % 7 === 0 && col("event_id") % 5 === i)
          .repartition(1), overwrite = false))
      val thresh = tbl.fileSizes().map(_._2).max // strictly-smaller rule
      val st = tbl.compactSmall(ev.schema, minBytes = thresh)
      require(st.carried >= 1 && st.rewritten >= 2,
        s"compactSmall degenerate: $st")
      require(tbl.fileCount() < 6, "no packing happened")
      tbl.snapshot(ev.schema)
    }),

    // CSV source/sink round-trip: write the table as headered CSV, read it
    // back with an explicit schema (never inference at scale — one schema,
    // no sampling pass), hash-check against the parquet original. Proves
    // the text-format ingest path end-to-end: quoting, header skip, typed
    // parse. At 100 TB: CSV splits line-parallel like parquet row groups;
    // the schema pin avoids the double read inference costs.
    Query("src_csv_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation""")((s, dir) => {
      val n = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv")
        .resolve("nation").toString
      n.write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").schema(n.schema).csv(tmp)
    }),

    // The readStream.format("txlog") change-feed SOURCE run as a REAL
    // Structured Streaming query inside this oracle query: three
    // committed versions drain through micro-batches (offsets = version
    // numbers, each batch reads exactly that version's delta files) into
    // a memory sink, and the drained rows hash-match a plain scan of the
    // source — the driver-checked proof that the streaming source is
    // exactly-once over the feed, not just spec-asserted.
    Query("stream_txlog_feed",
      """SELECT event_id, user_id, value FROM events""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 3 === 0), overwrite = true)
      tbl.commit(ev.filter(col("event_id") % 3 === 1), overwrite = false)
      tbl.commit(ev.filter(col("event_id") % 3 === 2), overwrite = false)
      val mem = "txlog_feed_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.format("txlog").schema(ev.schema).load(tbl.root)
        .writeStream.format("memory").queryName(mem)
        .option("checkpointLocation",
          tmp.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(mem)
    }),

    // Additive streaming schema evolution (the r14 VERDICT's #6): a NEW
    // nullable column appearing mid-stream must not kill the running
    // query — it keeps its pinned projection and keeps consuming (only
    // WIDENING is fail-loud, Delta's contract too). A consumer that
    // wants the new column starts with the evolved schema and reads
    // pre-add files with the column as NULL — the parquet reader fills
    // missing declared columns, so no file is rewritten for the
    // evolution. The oracle reconstructs exactly that: even ids
    // (committed pre-add) carry NULL, odd ids carry their value.
    Query("stream_schema_add",
      """SELECT event_id, value,
           CASE WHEN event_id % 2 = 1 THEN 'n' ELSE NULL END AS tag
         FROM events""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-sadd")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.create(ev.schema)
      tbl.commit(ev.filter(col("event_id") % 2 === 0), overwrite = false)
      val mem = "schema_add_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.format("txlog").schema(ev.schema).load(tbl.root)
        .writeStream.format("memory").queryName(mem)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable() // batch 1 under the pre-add schema
        tbl.addColumn("tag", StringType) // ADDITIVE evolution, no restart
        tbl.commit(ev.filter(col("event_id") % 2 === 1)
          .withColumn("tag", lit("n")), overwrite = false)
        q.processAllAvailable() // the running stream keeps consuming
        require(q.exception.isEmpty,
          s"additive evolution must not fail the stream: ${q.exception}")
      } finally q.stop()
      require(s.table(mem).count() == ev.count(),
        "the pinned stream must deliver both halves")
      // the evolved consumer: fresh stream with the post-add schema —
      // pre-add files' rows flow with tag NULL, no file rewritten
      val evolved = tbl.tableSchema.get
      val mem2 = "schema_add2_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q2 = s.readStream.format("txlog").schema(evolved).load(tbl.root)
        .writeStream.format("memory").queryName(mem2)
        .option("checkpointLocation", tmp.resolve("ckpt2").toString)
        .start()
      try q2.processAllAvailable() finally q2.stop()
      s.table(mem2)
    }),

    // Streaming CDC apply — the canonical exactly-once warehouse-sync
    // pattern, composed Spark-first from pieces the engine already has:
    // a txlog change stream, foreachBatch, a CONDITIONAL MERGE (only a
    // strictly newer (ts_us, event_id) wins, so out-of-order batches
    // and replays can never regress the target — the batches here ARE
    // out of order: slices by event_id % 3 interleave timestamps), and
    // a txn-fenced append for the side COUNTER (not content-idempotent,
    // so its exactly-once comes from txnAppId/txnVersion keyed by the
    // deterministic micro-batch id — Delta's public idempotent-write
    // contract). After the stream drains, the counter append is
    // replayed VERBATIM with batch 0's txn ids: the require pins that
    // the fence dropped it. Scale shape: the merge rewrites only the
    // key-overlapping files (manifest hull + bloom pruning), the
    // counter is one row per batch.
    Query("stream_apply_changes",
      """SELECT user_id, ts_us, event_id, value FROM (
           SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
             value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1""")((s, dir) => {
      val wh = ensureCatalog(s)
      val ev = t(s, dir, "events").select(col("event_id"),
        // integer division: nanos exceed double's 2^53 exact range, so
        // a float path would corrupt the microsecond ordering key
        expr("CAST(ts DIV 1000 AS BIGINT)").as("ts_us"), col("user_id"),
        col("value"))
      val total = ev.count()
      val tmp = java.nio.file.Files.createTempDirectory("graft-apply")
      val src = graft.sources.TxLogTable(s, tmp.resolve("src").toString)
      src.create(ev.schema)
      val cntRoot = tmp.resolve("cnt").toString
      s.sql("DROP TABLE IF EXISTS graftcat.db.ac_tgt")
      s.sql("CREATE TABLE graftcat.db.ac_tgt (user_id BIGINT, " +
        "ts_us BIGINT, event_id BIGINT, value DOUBLE) USING txlog")
      val app = "apply_changes"
      val q = s.readStream.format("txlog").schema(ev.schema).load(src.root)
        .writeStream
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         batchId: Long) =>
          val bs = batch.sparkSession
          val v = s"ac_batch_$batchId"
          batch.createOrReplaceTempView(v)
          bs.sql(s"""
            MERGE INTO graftcat.db.ac_tgt t
            USING (SELECT user_id, ts_us, event_id, value FROM (
                     SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY ts_us DESC, event_id DESC) AS rn
                     FROM $v) WHERE rn = 1) s
            ON t.user_id = s.user_id
            WHEN MATCHED AND (s.ts_us > t.ts_us OR
                (s.ts_us = t.ts_us AND s.event_id > t.event_id)) THEN
              UPDATE SET t.ts_us = s.ts_us, t.event_id = s.event_id,
                         t.value = s.value
            WHEN NOT MATCHED THEN
              INSERT (user_id, ts_us, event_id, value)
              VALUES (s.user_id, s.ts_us, s.event_id, s.value)""")
          import bs.implicits._
          Seq(batch.count()).toDF("n").write.format("txlog")
            .option("txnAppId", app).option("txnVersion", batchId)
            .mode("append").save(cntRoot)
          () // Unit-returning closure selects the Scala foreachBatch
        }
        .start()
      try {
        (0 until 3).foreach { i =>
          src.commit(ev.filter(pmod(col("event_id"), lit(3)) === i),
            overwrite = false)
          q.processAllAvailable()
        }
      } finally q.stop()
      val cnt = graft.sources.TxLogTable(s, cntRoot)
      val batches = cnt.latestVersion.getOrElse(-1) + 1
      require(batches >= 3, s"expected >= 3 fenced batches, got $batches")
      // deliberate orchestrator retry: batch 0's counter append replays
      // verbatim — the txn fence must drop it (sum stays == total)
      ev.limit(1).groupBy().count().toDF("n").write.format("txlog")
        .option("txnAppId", app).option("txnVersion", 0)
        .mode("append").save(cntRoot)
      require(cnt.latestVersion.getOrElse(-1) + 1 == batches,
        "the replayed batch-0 append must be fenced, not committed")
      val cntSchema = StructType(Seq(StructField("n", LongType)))
      val seen = cnt.snapshot(cntSchema).agg(sum(col("n"))).head.getLong(0)
      require(seen == total,
        s"fenced counter must count every event exactly once: " +
          s"$seen != $total")
      s.sql("SELECT user_id, ts_us, event_id, value " +
        "FROM graftcat.db.ac_tgt")
    }),

    // Maintenance-commit skip on the change feed, driver-oracle-gated:
    // compact AND zorder run MID-STREAM between two real appends. Both
    // rewrite every file of the table without changing a row; a feed that
    // diffed file sets blindly would re-deliver the whole table after
    // each (the memory sink would hold ~3x the events and hash-fail
    // against the oracle). The `#op=` manifest line gates the skip —
    // at 100 TB this is the difference between `CALL system.rebucket`
    // being routine maintenance and it being a full-table phantom
    // re-delivery into every downstream consumer.
    Query("stream_maintenance_skip",
      """SELECT event_id, user_id, value FROM events""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-maint")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 2 === 0), overwrite = true)
      val mem = "maint_skip_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.format("txlog").schema(ev.schema).load(tbl.root)
        .writeStream.format("memory").queryName(mem)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable()         // batch 1: the even half
        tbl.compact(ev.schema)          // full-rewrite #1: must emit 0 rows
        q.processAllAvailable()
        tbl.compactZOrder(ev.schema, "event_id", // full-rewrite #2: 0 rows
          "user_id")
        q.processAllAvailable()
        tbl.commit(ev.filter(col("event_id") % 2 =!= 0), // real append
          overwrite = false)
        q.processAllAvailable()
      } finally q.stop()
      s.table(mem)
    }),

    // CDC STREAMING (readChangeFeed): the change feed as a stream WITH
    // deletes — inserts tagged per commit version, MOR tombstones
    // surfacing as keys-only 'delete' rows — drained into a memory sink
    // and folded back into the live-row set by last-change-wins keyed
    // state (the replica/IVM consumer shape). The oracle recomputes the
    // final state relationally: every event except the MOR-deleted
    // keys. At 100 TB this is deletes PUSHED to consumers instead of
    // each consumer re-diffing snapshots.
    Query("stream_cdc_feed",
      """SELECT event_id, user_id, value FROM events
         WHERE event_id % 10 <> 0""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cdf")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 2 === 0), overwrite = true)
      val mem = "cdc_feed_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.format("txlog").schema(ev.schema)
        .option("readChangeFeed", "true").load(tbl.root)
        .writeStream.format("memory").queryName(mem)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        // MOR delete of the multiples of 10 (all even → all present)
        tbl.deleteByKeysMor(ev.filter(col("event_id") % 10 === 0)
          .select(col("event_id")))
        tbl.commit(ev.filter(col("event_id") % 2 =!= 0),
          overwrite = false)
        q.processAllAvailable()
      } finally q.stop()
      // last-change-wins fold over the drained feed → the live rows
      s.table(mem).createOrReplaceTempView(s"${mem}_v")
      s.sql(s"""
        SELECT event_id, user_id, value FROM (
          SELECT *, max(CASE WHEN _change_type = 'delete'
                        THEN _commit_version ELSE -1 END)
                      OVER (PARTITION BY event_id) AS del_v
          FROM ${mem}_v)
        WHERE _change_type = 'insert' AND _commit_version > del_v""")
    }),

    // Streaming EXACT DEDUP across micro-batches: the even half of the
    // events table arrives in batch 1, then the FULL table in batch 2 —
    // an at-least-once upstream re-delivering everything it already
    // sent. dropDuplicates over the state store emits each event exactly
    // once (re-deliveries hit existing state keys and vanish; new rows
    // pass), and the event-time watermark is in the dedup key set so
    // state for keys older than the horizon is EVICTED — the bounded-
    // state form (an unwatermarked dedup's state grows with the corpus;
    // the horizon is tuned to the upstream's real lateness, here wider
    // than the synthetic ts span so nothing is late-dropped).
    Query("stream_dedup",
      """SELECT event_id, user_id, value, epoch_us(ts) AS ts_us
         FROM events""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-sdd")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 2 === 0), overwrite = true)
      val mem = "stream_dedup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.format("txlog").schema(ev.schema).load(tbl.root)
        .withColumn("ets",
          timestamp_micros((col("ts") / 1000000L).cast("long") * 1000L))
        .withWatermark("ets", "3650 days")
        .dropDuplicates("event_id", "ets")
        // micro-truncated event time in the output (DuckDB timestamps
        // are micro-precision; the raw nanos stay in the dedup key)
        .selectExpr("event_id", "user_id", "value", "ts div 1000 as ts_us")
        .writeStream.format("memory").queryName(mem)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable()        // batch 1: evens only
        tbl.commit(ev, overwrite = false) // batch 2: full table re-delivery
        q.processAllAvailable()
      } finally q.stop()
      s.table(mem)
    }),

    // Source AND sink through one REAL streaming query: tx-log table →
    // readStream.format("txlog") → writeStream.format("txlog") → a second
    // tx-log table, drained to completion and the DESTINATION snapshot
    // hash-checked. Each micro-batch lands as one atomic manifest commit
    // fenced by its batch id (replayed epochs skip) — the table-to-table
    // streaming ETL shape with exactly-once on both ends.
    Query("stream_txlog_pipe",
      """SELECT event_id, user_id, event_type FROM events""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-pipe")
      val src = graft.sources.TxLogTable(s, tmp.resolve("src").toString)
      src.commit(ev.filter(col("event_id") % 2 === 0), overwrite = true)
      src.commit(ev.filter(col("event_id") % 2 =!= 0), overwrite = false)
      val dstRoot = tmp.resolve("dst").toString
      val q = s.readStream.format("txlog").schema(ev.schema).load(src.root)
        .writeStream.format("txlog").option("path", dstRoot)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.sources.TxLogTable(s, dstRoot).snapshot(ev.schema)
    }),

    // The format("txlog") connector surface (sources.TxLogSource): the
    // tx-log table read through the STANDARD DataFrame reader, filters
    // flowing through Catalyst's pushdown into manifest pruning (ranges,
    // nulls, partition values, blooms) before the parquet scan — the
    // "usable without importing this library" contract, exercised with a
    // mixed predicate and hash-checked against the source table.
    Query("src_txlog_format",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000""")((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_mktsegment"), col("c_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-rel")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("customer").toString)
      tbl.commit(c.repartition(4, pmod(col("c_custkey"), lit(4))),
        overwrite = true, bloomCols = Seq("c_custkey"))
      val out = s.read.format("txlog").load(tbl.root)
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("c_acctbal") > 1000)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      // with the extension installed, the V1 format surface is spliced to
      // the native parquet plan — codegen'd FileScan, no InternalRow→Row
      // conversion at the scan top (round-6 verdict, Missing #5)
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("FileScan parquet"),
        s"format(txlog) read must hit the native parquet scan:\n$plan")
      require(!plan.contains("ExistingRDD") && !plan.contains("RDDScan"),
        s"V1 row-conversion scan survived the splice:\n$plan")
      out
    }),

    // The connector's WRITE side: df.write.format("txlog") with SaveMode
    // mapped onto the commit protocol (overwrite/append/error/ignore),
    // then read back through the same format — the full round trip a user
    // makes without ever importing this library's classes.
    Query("src_txlog_write",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation""")((s, dir) => {
      val n = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val root = java.nio.file.Files.createTempDirectory("graft-wrt")
        .resolve("nation").toString
      n.filter(col("n_nationkey") % 2 === 0).write.format("txlog")
        .mode("overwrite").save(root)
      n.filter(col("n_nationkey") % 2 =!= 0).write.format("txlog")
        .mode("append").save(root)
      s.read.format("txlog").load(root)
    }),

    // ORC source/sink round-trip: the other columnar interchange format
    // (Spark bundles the ORC datasource). Schema-pinned read back,
    // hash-checked against the parquet original — proves the format path,
    // predicate/pruning behavior rides the same datasource V2 machinery.
    Query("src_orc_roundtrip",
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier""")((s, dir) => {
      val sp = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc")
        .resolve("supplier").toString
      sp.write.mode("overwrite").orc(tmp)
      s.read.schema(sp.schema).orc(tmp)
    }),

    // JSON-lines source/sink round-trip (the interchange format ETL APIs
    // and event streams actually ship): schema-pinned read back, including
    // a double column — Spark writes shortest-round-trip doubles, so the
    // value survives bit-exactly and the oracle hash-check proves it.
    Query("src_jsonl_roundtrip",
      """SELECT c_custkey, c_name, c_acctbal FROM customer""")((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl")
        .resolve("customer").toString
      c.write.mode("overwrite").json(tmp)
      s.read.schema(c.schema).json(tmp)
    }),

    // Incremental aggregate maintenance (operators.IncrementalAgg — the
    // consumption pattern for TxLogTable.changesBetween): the events table
    // arrives as three deltas (event_id mod 3) folded one at a time into a
    // maintained per-user aggregate; the oracle is the plain one-shot
    // groupBy, so the fold ⊕ recompute equivalence is hash-checked. Sums
    // accumulate in DECIMAL so the three-chunk fold is bit-equal to the
    // single pass (the doubles-shuffle-order rule, see CoreQueries.dsum).
    Query("inc_agg_refresh",
      """SELECT user_id, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM events GROUP BY user_id""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("value").cast(DecimalType(18, 6)).as("v"))
      val aggOf = (d: DataFrame) => d.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      val folded = (0L until 3L).foldLeft(aggOf(ev).limit(0))((acc, i) =>
        graft.operators.IncrementalAgg.applyDelta(
          acc, ev.filter(col("event_id") % 3 === i),
          Seq("user_id"), Seq("n", "total"), aggOf))
      folded.select(col("user_id"), col("n"),
        col("total").cast(DoubleType).as("total"))
    }),

    // Incremental VIEW maintenance through the REAL change feed
    // (TxLogTable.changesBetween + IncrementalAgg): where inc_agg_refresh
    // folds in-memory filtered deltas, this query commits events as three
    // tx-log versions and advances a CDC cursor one version at a time —
    // each refresh reads exactly the feed of `(cursor, v]` (one manifest
    // diff + that version's delta files) and folds it into the maintained
    // per-(user, event_type) view. The oracle is the one-shot groupBy over
    // the source table, so feed-extraction + fold ≡ recompute is
    // hash-checked end-to-end. At 100 TB this is the hourly-materialized-
    // view pattern: refresh cost is the hour's files, never the table.
    Query("ivm_refresh",
      """SELECT user_id, event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM events GROUP BY user_id, event_type""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id"), col("value").cast(DecimalType(18, 6)).as("v"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivm")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 3 === 0), overwrite = true)
      tbl.commit(ev.filter(col("event_id") % 3 === 1), overwrite = false)
      tbl.commit(ev.filter(col("event_id") % 3 === 2), overwrite = false)
      val aggOf = (d: DataFrame) => d.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      // the cursor loop a live consumer runs: cursor = v after each fold
      val folded = (0 to 2).foldLeft(aggOf(ev).limit(0))((acc, v) =>
        graft.operators.IncrementalAgg.applyDelta(
          acc, tbl.changesBetween(ev.schema, v - 1, v)
            .drop("_commit_version"),
          Seq("user_id", "event_type"), Seq("n", "total"), aggOf))
      folded.select(col("user_id"), col("event_type"), col("n"),
        col("total").cast(DoubleType).as("total"))
    }),

    // Incremental view maintenance over a feed WITH DELETES
    // (TxLogTable.changesWithDeletes + the counting-IVM pattern): four
    // versions — two insert batches, a MOR key delete, then a late batch
    // that re-inserts rows for deleted keys (which must survive, the
    // sequence-aware contract). The maintained per-user view folds each
    // version's feed: inserts via IncrementalAgg, deletes by dropping the
    // key's groups. The oracle recomputes the final state from scratch,
    // so feed-with-deletes extraction + fold ≡ recompute is hash-checked.
    Query("ivm_refresh_mor",
      """WITH live AS (
           SELECT user_id, CAST(value AS DECIMAL(18,6)) AS v
           FROM events
           WHERE event_id % 3 IN (0, 1) AND user_id % 10 <> 3
           UNION ALL
           SELECT user_id, CAST(value AS DECIMAL(18,6)) AS v
           FROM events WHERE event_id % 3 = 2)
         SELECT user_id, count(*) AS n, CAST(SUM(v) AS DOUBLE) AS total
         FROM live GROUP BY user_id""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("value").cast(DecimalType(18, 6)).as("v"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivm-mor")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 3 === 0), overwrite = true)
      tbl.commit(ev.filter(col("event_id") % 3 === 1), overwrite = false)
      tbl.deleteByKeysMor(
        ev.filter(col("user_id") % 10 === 3).select("user_id").distinct())
      tbl.commit(ev.filter(col("event_id") % 3 === 2), overwrite = false)
      val aggOf = (d: DataFrame) => d.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      val folded = (0 to 3).foldLeft(aggOf(ev).limit(0)) { (acc, v) =>
        val feed = tbl.changesWithDeletes(ev.schema, v - 1, v)
        val ins = feed.filter(col("_change_type") === "insert")
          .drop("_commit_version", "_change_type")
        val delKeys = feed.filter(col("_change_type") === "delete")
          .select("user_id").distinct()
        graft.operators.IncrementalAgg.applyDelta(
          acc.join(delKeys, Seq("user_id"), "left_anti"), ins,
          Seq("user_id"), Seq("n", "total"), aggOf)
      }
      folded.select(col("user_id"), col("n"),
        col("total").cast(DoubleType).as("total"))
    }),

    // U2–U4/U6 — upsert where the on-conflict update-set excludes an
    // insert-only column: c_mktsegment is written at insert but frozen on
    // conflict (the reference's education_form / url_id / building_number
    // semantics, logic.py:90-95,115-121,256-267).
    Query("u3_insert_only_column",
      """WITH inc AS (
           SELECT c_custkey, 'U3-' || c_name AS c_name,
                  CAST(c_nationkey + 1 AS INT) AS c_nationkey,
                  c_acctbal + 100 AS c_acctbal, 'CHANGED' AS c_mktsegment
           FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey + 600000, 'F-' || CAST(c_custkey AS VARCHAR),
                  CAST(2 AS INT), 1.5, 'FRESH'
           FROM customer WHERE c_custkey % 13 = 0)
         SELECT COALESCE(c.c_custkey, i.c_custkey) AS c_custkey,
           CASE WHEN i.c_custkey IS NOT NULL THEN i.c_name ELSE c.c_name END AS c_name,
           CASE WHEN i.c_custkey IS NOT NULL THEN i.c_nationkey ELSE c.c_nationkey END AS c_nationkey,
           CASE WHEN i.c_custkey IS NOT NULL THEN i.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment ELSE i.c_mktsegment END AS c_mktsegment
         FROM customer c FULL OUTER JOIN inc i ON c.c_custkey = i.c_custkey""")((s, dir) => {
      val c = t(s, dir, "customer")
      val k = col("c_custkey")
      val upd = c.filter(k % 3 === 0).select(k,
        concat(lit("U3-"), col("c_name")).as("c_name"),
        (col("c_nationkey") + 1).cast(IntegerType).as("c_nationkey"),
        (col("c_acctbal") + 100).as("c_acctbal"),
        lit("CHANGED").as("c_mktsegment")) // must NOT overwrite on conflict
      val fresh = c.filter(k % 13 === 0).select(
        (k + 600000).as("c_custkey"),
        concat(lit("F-"), istr(k)).as("c_name"),
        lit(2).cast(IntegerType).as("c_nationkey"),
        lit(1.5).as("c_acctbal"),
        lit("FRESH").as("c_mktsegment"))
      Upsert(c, upd.unionByName(fresh), Seq("c_custkey"),
        Seq("c_name", "c_nationkey", "c_acctbal"))
    }),

    // A7 — first-match scalar write-back (logic.py:302-322): each key's first
    // positive detail value is written into the OPEN dim rows (Type 1 update);
    // rows with no match or not open keep their current value. The per-key
    // scalar set is tiny → broadcast, exactly the backPropagateCounts shape.
    Query("a7_count_writeback",
      """WITH f AS (
           SELECT user_id, value AS cnt FROM (
             SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
             FROM events WHERE value > 100)
           WHERE rn = 1)
         SELECT c_custkey, c_name,
           CASE WHEN f.cnt IS NOT NULL AND c_custkey % 10 <> 3
                THEN f.cnt ELSE c_acctbal END AS c_acctbal
         FROM customer LEFT JOIN f ON c_custkey = f.user_id""")((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val firstCnt = t(s, dir, "events")
        .filter(col("value") > 100)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id").as("k"), col("value").as("cnt"))
      val open = col("c_custkey") % 10 =!= 3 // stand-in for valid_to IS NULL
      t(s, dir, "customer")
        .join(broadcast(firstCnt), col("c_custkey") === col("k"), "left")
        .select(col("c_custkey"), col("c_name"),
          when(col("cnt").isNotNull && open, col("cnt"))
            .otherwise(col("c_acctbal")).as("c_acctbal"))
    }),

    // P3 — skip rows whose extracted key is NULL (the reference skips
    // employees without url_id, logic.py:171-176): IS NOT NULL on a
    // nullable JSON extraction, then the usual projection.
    Query("p3_not_null_skip",
      """SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val
         FROM events
         WHERE CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
           AND CAST(json_extract_string(props, '$.k') AS INT) >= 75""")((s, dir) =>
      t(s, dir, "events")
        .withColumn("k_val",
          get_json_object(col("props"), "$.k").cast(IntegerType))
        .filter(col("k_val").isNotNull && col("k_val") >= 75)
        .select("event_id", "user_id", "k_val")),

    // P5 + F14 — dirty-row quarantine with a pinned run timestamp: rows
    // whose payload fails to parse are kept, flagged with a reason, and
    // stamped with the run's single timestamp (logic.py:422-424; F14: one
    // timestamp per run, not per row). Corruption is synthesized
    // deterministically so the oracle can compute expected status directly.
    Query("p5_quarantine",
      """SELECT event_id,
           CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE TRY_CAST(json_extract_string(props, '$.k') AS INT)
           END AS k_val,
           CASE WHEN event_id % 7 = 0
                  OR TRY_CAST(json_extract_string(props, '$.k') AS INT)
                     IS NULL
                THEN 'unparseable json'
                ELSE 'ok' END AS status,
           TIMESTAMP '2024-06-01 00:00:00' AS loaded_at
         FROM events""")((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("payload",
          when(col("event_id") % 7 === 0, concat(lit("x"), col("props")))
            .otherwise(col("props")))
      val parsed = get_json_object(col("payload"), "$.k").cast(IntegerType)
      ev.select(col("event_id"), parsed.as("k_val"),
        when(parsed.isNull, lit("unparseable json"))
          .otherwise(lit("ok")).as("status"),
        lit("2024-06-01 00:00:00").cast(TimestampType).as("loaded_at"))
    }),

    // F5 — safe employee-name extraction (logic.py:36-50,341): synthesized
    // employee lists mix every branch — fio dict (lastName+firstName), a
    // lastName-only dict (strip removes the dangling space), a bare string
    // (kept), a bare int (dropped — unlike the auditory extractor), and a
    // falsy dict (dropped). The REAL Variant machinery runs
    // (parse_json → schema_of_variant typeof → per-field try_variant_get);
    // the oracle computes the expected strings directly from the columns.
    Query("f5_employee_names",
      """SELECT c_custkey,
           'L' || CAST(c_custkey AS VARCHAR)
             || ' F' || CAST(c_custkey % 100 AS VARCHAR)
             || CASE WHEN c_custkey % 4 = 0
                       THEN '|Solo' || CAST(c_custkey AS VARCHAR)
                     WHEN c_custkey % 4 = 1
                       THEN '|Str' || CAST(c_custkey AS VARCHAR)
                     ELSE '' END AS employee_names
         FROM customer""")((s, dir) => {
      val c = t(s, dir, "customer")
      val k = col("c_custkey")
      val emp1 = format_string(
        "{\"lastName\":\"L%d\",\"firstName\":\"F%d\"}", k, k % 100)
      val emp2 = when(k % 4 === 0,
          format_string("{\"lastName\":\"Solo%d\"}", k))
        .when(k % 4 === 1, format_string("\"Str%d\"", k))
        .when(k % 4 === 2, lit("42"))
        .otherwise(lit("{\"lastName\":\"\",\"firstName\":\"\"}"))
      val arr = concat(lit("["), emp1, lit(","), emp2, lit("]"))
      c.select(k.as("c_custkey"),
        array_join(ScheduleFlatten.extractNamesSafe(
          try_variant_get(parse_json(arr), "$", "array<variant>")), "|")
          .as("employee_names"))
    }),

    // E3 + F1/F3/F4/F7/F8 — lessons flatten: day-name map explode, unknown
    // day dropped, falsy subject → default, missing subjectFullName → subject,
    // malformed time → row dropped, [0]/[] weeks → default, heterogeneous
    // auditories (dict name / empty name → id / dict id / bare string / int),
    // JSON passthrough, search-lexeme vector.
    Query("e3_lessons_flatten", {
      val searchSrc = "subject || ' ' || subject_full || ' ' || entity_name" +
        " || ' ' || replace(auditories, '|', ' ')"
      s"""WITH base AS (
            SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
            WHERE c_custkey % 4 < 3 AND c_custkey % 11 <> 0),
          f AS (
            SELECT 'C-' || CAST(k AS VARCHAR) AS entity_name,
              CAST(k % 4 + 1 AS INT) AS day_of_week,
              CASE WHEN k % 5 = 0 THEN 'Без названия' ELSE seg END AS subject,
              CASE WHEN k % 7 = 0
                   THEN CASE WHEN k % 5 = 0 THEN 'Без названия' ELSE seg END
                   ELSE 'FULL ' || seg END AS subject_full,
              CAST((k % 10 + 8) * 3600 + (k % 60) * 60 AS INT) AS start_sec,
              CAST((k % 10 + 9) * 3600 + (k % 60) * 60 AS INT) AS end_sec,
              CASE WHEN k % 6 IN (0, 1) THEN '1|2|3|4'
                   ELSE '1|' || CAST(k % 3 + 1 AS VARCHAR) END AS week_numbers,
              CAST(CASE WHEN k % 2 = 0 THEN 0 ELSE 1 END AS INT) AS num_subgroup,
              (CASE WHEN k % 8 = 0 THEN '77'
                    ELSE 'R-' || CAST(k % 20 AS VARCHAR) END)
                || '|' || CAST(k % 30 AS VARCHAR)
                || '|S-' || CAST(k % 10 AS VARCHAR)
                || '|' || CAST(k % 7 AS VARCHAR) AS auditories,
              '[{"name":"G-' || CAST(k % 5 AS VARCHAR)
                || '","numberOfStudents":' || CAST(k % 40 AS VARCHAR)
                || '}]' AS related_groups
            FROM base)
          SELECT entity_name, day_of_week, subject, subject_full, start_sec,
                 end_sec, week_numbers, num_subgroup, auditories,
                 related_groups,
                 ${lexOf(searchSrc)} AS search_lexemes
          FROM f"""
    })((s, dir) => {
      val c = t(s, dir, "customer")
      val k = col("c_custkey")
      val dayName = when(k % 4 === 0, lit("Понедельник"))
        .when(k % 4 === 1, lit("Вторник"))
        .when(k % 4 === 2, lit("Среда"))
        .otherwise(lit("НеДень")) // F1: unknown day → rows dropped
      val subjField = when(k % 5 === 0, lit("\"subject\":\"\",")) // F8 falsy
        .otherwise(concat(lit("\"subject\":\""), col("c_mktsegment"),
          lit("\",")))
      val sfnField = when(k % 7 === 0, lit("")) // F8: absent → subject
        .otherwise(concat(lit("\"subjectFullName\":\"FULL "),
          col("c_mktsegment"), lit("\",")))
      val startT = when(k % 11 === 0, lit("bad")) // F7: lesson dropped
        .otherwise(format_string("%d:%02d", (k % 10) + 8, k % 60))
      val endT = format_string("%d:%02d", (k % 10) + 9, k % 60)
      val weeks = when(k % 6 === 0, lit("[0]")) // F3 → default
        .when(k % 6 === 1, lit("[]")) // F3 → default
        .otherwise(format_string("[1,%d]", k % 3 + 1))
      val ns = when(k % 2 === 0, lit("")) // F8: absent → 0
        .otherwise(lit("\"numSubgroup\":1,"))
      val aud1 = when(k % 8 === 0, lit("{\"name\":\"\",\"id\":77}")) // F4: →id
        .otherwise(format_string("{\"name\":\"R-%d\"}", k % 20))
      val auds = concat(lit("["), aud1,
        format_string(",{\"id\":%d},\"S-%d\",%d]", k % 30, k % 10, k % 7))
      val sgs = format_string(
        "[{\"name\":\"G-%d\",\"numberOfStudents\":%d}]", k % 5, k % 40)
      val lesson = concat(lit("{"), subjField, sfnField,
        lit("\"startLessonTime\":\""), startT,
        lit("\",\"endLessonTime\":\""), endT,
        lit("\",\"weekNumber\":"), weeks, lit(","), ns,
        lit("\"auditories\":"), auds,
        lit(",\"studentGroups\":"), sgs, lit("}"))
      val raw = c.select(
        concat(lit("C-"), istr(k)).as("entity_name"),
        lit("group").as("entity_type"),
        concat(lit("{\"schedules\":{\""), dayName, lit("\":["), lesson,
          lit("]}}")).as("raw_json"))
      ScheduleFlatten.flatten(raw).select(
        col("entity_name"), col("day_of_week"), col("subject"),
        col("subject_full"), col("start_sec"), col("end_sec"),
        joined(col("week_numbers")).as("week_numbers"), col("num_subgroup"),
        array_join(col("auditories"), "|").as("auditories"),
        col("related_groups"),
        array_join(col("search_lexemes"), "|").as("search_lexemes"))
    }),

    // E4 + F6/F7 — exams flatten: flat list, exact dd.MM.yyyy date (bad date
    // → row dropped), bad time → 00:00 (not dropped), subject default
    // "Экзамен", week_numbers always empty (ref logic.py:376-381).
    Query("e4_exams_flatten", {
      val searchSrc = "subject || ' ' || subject_full || ' ' || entity_name" +
        " || ' ' || replace(auditories, '|', ' ')"
      s"""WITH f AS (
            SELECT 'C-' || CAST(c_custkey AS VARCHAR) AS entity_name,
              CAST(NULL AS INT) AS day_of_week,
              CASE WHEN c_custkey % 3 = 0 THEN 'Экзамен'
                   ELSE c_mktsegment END AS subject,
              CASE WHEN c_custkey % 3 = 0 THEN 'Экзамен'
                   ELSE c_mktsegment END AS subject_full,
              make_date(2024, CAST(c_custkey % 12 + 1 AS INT),
                        CAST(c_custkey % 28 + 1 AS INT)) AS exact_date,
              CAST(CASE WHEN c_custkey % 5 = 0 THEN 0
                   ELSE (c_custkey % 8 + 9) * 3600 + (c_custkey % 60) * 60
                   END AS INT) AS start_sec,
              CAST(CASE WHEN c_custkey % 5 = 0 THEN 0
                   ELSE (c_custkey % 8 + 10) * 3600 + (c_custkey % 60) * 60
                   END AS INT) AS end_sec,
              '' AS week_numbers,
              CAST(0 AS INT) AS num_subgroup,
              'E-' || CAST(c_custkey % 6 AS VARCHAR)
                || '|Hall ' || CAST(c_custkey % 4 AS VARCHAR) AS auditories
            FROM customer WHERE c_custkey % 9 <> 0)
          SELECT entity_name, day_of_week, subject, subject_full, exact_date,
                 start_sec, end_sec, week_numbers, num_subgroup, auditories,
                 ${lexOf(searchSrc)} AS search_lexemes
          FROM f"""
    })((s, dir) => {
      val c = t(s, dir, "customer")
      val k = col("c_custkey")
      val dateStr = when(k % 9 === 0, lit("99.99.2024")) // F6: dropped
        .otherwise(format_string("%02d.%02d.2024", k % 28 + 1, k % 12 + 1))
      val startT = when(k % 5 === 0, lit("xx")) // F7 exam policy → 00:00
        .otherwise(format_string("%d:%02d", k % 8 + 9, k % 60))
      val endT = when(k % 5 === 0, lit("xx"))
        .otherwise(format_string("%d:%02d", k % 8 + 10, k % 60))
      val subjField = when(k % 3 === 0, lit("")) // F8: absent → "Экзамен"
        .otherwise(concat(lit("\"subject\":\""), col("c_mktsegment"),
          lit("\",")))
      val auds = format_string("[\"E-%d\",{\"name\":\"Hall %d\"}]",
        k % 6, k % 4)
      val exam = concat(lit("{"), subjField,
        lit("\"dateLesson\":\""), dateStr,
        lit("\",\"startLessonTime\":\""), startT,
        lit("\",\"endLessonTime\":\""), endT,
        lit("\",\"auditories\":"), auds, lit("}"))
      val raw = c.select(
        concat(lit("C-"), istr(k)).as("entity_name"),
        lit("group").as("entity_type"),
        concat(lit("{\"exams\":["), exam, lit("]}")).as("raw_json"))
      ScheduleFlatten.flatten(raw).select(
        col("entity_name"), col("day_of_week"), col("subject"),
        col("subject_full"), col("exact_date"), col("start_sec"),
        col("end_sec"),
        joined(col("week_numbers")).as("week_numbers"), col("num_subgroup"),
        array_join(col("auditories"), "|").as("auditories"),
        array_join(col("search_lexemes"), "|").as("search_lexemes"))
    }))
}
