package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SQL DDL surface of the tx-log format: CREATE / INSERT / SELECT / ALTER
  * through the DSv2 catalog, with the extension read rule replacing the V2
  * relation by the native parquet plan (codegen, no V1 row conversion),
  * and RENAME/DROP COLUMN as pure-metadata column-mapping commits.
  */
class TxLogCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.txcat", "graft.sources.v2.TxLogCatalog")
    s.conf.set("spark.sql.catalog.txcat.warehouse",
      Files.createTempDirectory("txcat-wh").toString)
    s
  }

  private def warehouse: String =
    spark.conf.get("spark.sql.catalog.txcat.warehouse")

  test("create / insert / select round-trip in pure SQL") {
    spark.sql(
      "CREATE TABLE txcat.ns.kv (id BIGINT, v STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.kv VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO txcat.ns.kv VALUES (3, 'c')")
    val got = spark.sql("SELECT id, v FROM txcat.ns.kv ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // INSERT OVERWRITE maps to an overwrite commit
    spark.sql("INSERT OVERWRITE txcat.ns.kv VALUES (9, 'z')")
    assert(spark.sql("SELECT * FROM txcat.ns.kv").count() == 1)
    assert(spark.sql("SHOW TABLES IN txcat.ns").collect()
      .map(_.getString(1)).contains("kv"))
  }

  test("reads go through the native parquet plan, not a V1 RDD scan") {
    spark.sql(
      "CREATE TABLE txcat.ns.plan_t (id BIGINT, v STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.plan_t VALUES (1, 'a'), (2, 'b')")
    val df = spark.sql("SELECT id FROM txcat.ns.plan_t WHERE id > 1")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("FileScan parquet"),
      s"expected a native parquet scan:\n$physical")
    assert(!physical.contains("ExistingRDD") && !physical.contains("RDDScan"),
      s"V1 row-conversion scan leaked into the plan:\n$physical")
    // filter made it into the parquet scan's pushed filters too
    assert(physical.contains("PushedFilters: [") &&
      physical.contains("GreaterThan(id,1)"), physical)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  // files the executed scans of `df` read in its last action (the scans'
  // own numFiles metric; every action resets it)
  private def filesRead(df: org.apache.spark.sql.DataFrame): Long =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum

  test("filter above the relation prunes at the manifest") {
    spark.sql(
      "CREATE TABLE txcat.ns.banded (id BIGINT, v STRING) USING txlog")
    // three commits → three files with disjoint id ranges
    spark.sql("INSERT INTO txcat.ns.banded VALUES (1, 'a'), (2, 'a')")
    spark.sql("INSERT INTO txcat.ns.banded VALUES (10, 'b'), (11, 'b')")
    spark.sql("INSERT INTO txcat.ns.banded VALUES (20, 'c'), (21, 'c')")
    val t = TxLogTable(spark, s"$warehouse/ns/banded")
    val total = t.fileCount() // a VALUES insert may split into >1 file
    assert(total >= 3)
    val cand = t.candidateFilesWhere(col("id") >= 10 && col("id") <= 11).size
    assert(cand >= 1 && cand < total,
      s"manifest pruned nothing: $cand of $total files")
    // the rule routes WHERE through snapshotWhere on every read shape:
    // files outside [10,11] never reach the executed scan
    spark.sql("CREATE OR REPLACE TEMP VIEW banded_v AS " +
      "SELECT * FROM txcat.ns.banded")
    val shapes = Seq(
      "sql" -> spark.sql(
        "SELECT id, v FROM txcat.ns.banded WHERE id >= 10 AND id <= 11"),
      "alias" -> spark.sql(
        "SELECT b.id, b.v FROM txcat.ns.banded b " +
          "WHERE b.id >= 10 AND b.id <= 11"),
      "dataframe" -> spark.table("txcat.ns.banded")
        .filter(col("id") >= 10 && col("id") <= 11),
      "view" -> spark.sql(
        "SELECT id, v FROM banded_v WHERE id >= 10 AND id <= 11"))
    shapes.foreach { case (shape, df) =>
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L),
        shape)
      val read = filesRead(df)
      assert(read == cand,
        s"$shape read $read files, the manifest admits $cand of $total")
    }
    spark.catalog.dropTempView("banded_v")
  }

  test("DATE and TIMESTAMP filters prune at the manifest, through a join") {
    spark.sql("CREATE TABLE txcat.ns.dated (id BIGINT, d DATE, ts TIMESTAMP) " +
      "USING txlog")
    Seq("2024-01-01", "2024-02-01", "2024-03-01").foreach { day =>
      spark.sql("INSERT INTO txcat.ns.dated SELECT id, " +
        s"date_add(DATE'$day', CAST(id AS INT)), " +
        s"timestamp_seconds(unix_timestamp(DATE'$day') + id) FROM range(3)")
    }
    val total = TxLogTable(spark, s"$warehouse/ns/dated").fileCount()
    val shapes = Seq(
      "date" -> spark.sql("SELECT id FROM txcat.ns.dated " +
        "WHERE d >= DATE'2024-02-01' AND d < DATE'2024-02-10'"),
      "timestamp" -> spark.sql("SELECT id FROM txcat.ns.dated " +
        "WHERE ts >= TIMESTAMP'2024-02-01 00:00:00' " +
        "AND ts < TIMESTAMP'2024-02-02 00:00:00'"),
      "join" -> spark.sql("SELECT a.id FROM txcat.ns.dated a " +
        "JOIN range(3) r ON a.id = r.id " +
        "WHERE a.d BETWEEN DATE'2024-02-01' AND DATE'2024-02-09'"))
    shapes.foreach { case (shape, df) =>
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L),
        shape)
      val read = filesRead(df)
      assert(read >= 1 && read < total,
        s"$shape read $read of $total files")
    }
  }

  test("DELETE FROM routes to the file-targeted COW delete") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.del")
    spark.sql("CREATE TABLE txcat.ns.del USING txlog AS " +
      "SELECT id, concat('v', id) AS v FROM range(100)")
    spark.sql("DELETE FROM txcat.ns.del WHERE id >= 90")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.del").head.getLong(0)
      == 90)
    // NULL-safe semantics: a predicate that is NULL for a row keeps it
    spark.sql("DELETE FROM txcat.ns.del WHERE v = 'v5'")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.del").head.getLong(0)
      == 89)
    val t = TxLogTable(spark, s"$warehouse/ns/del")
    assert(t.history().last.op.contains("delete"))
    // unconditioned DELETE truncates through the same path
    spark.sql("DELETE FROM txcat.ns.del")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.del").count() >= 0 &&
      spark.sql("SELECT * FROM txcat.ns.del").count() == 0)
  }

  test("UPDATE and MERGE INTO run through the row-level rewrite") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rl")
    spark.sql("CREATE TABLE txcat.ns.rl USING txlog AS " +
      "SELECT id, concat('v', id) AS v FROM range(10)")
    spark.sql("UPDATE txcat.ns.rl SET v = 'upd' WHERE id >= 8")
    val afterUpdate = spark.sql(
      "SELECT id, v FROM txcat.ns.rl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterUpdate == (0L to 7L).map(i => (i, s"v$i")) ++
      Seq((8L, "upd"), (9L, "upd")))
    val t = TxLogTable(spark, s"$warehouse/ns/rl")
    assert(t.history().last.op.contains("row-level-update"))
    // MERGE INTO: update matches, insert the rest
    spark.sql("""
      MERGE INTO txcat.ns.rl t
      USING (SELECT id, concat('m', id) AS v
             FROM range(8, 12)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val afterMerge = spark.sql(
      "SELECT id, v FROM txcat.ns.rl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterMerge == (0L to 7L).map(i => (i, s"v$i")) ++
      (8L to 11L).map(i => (i, s"m$i")), s"got $afterMerge")
    assert(t.history().last.op.contains("row-level-merge"))
    // MERGE with a DELETE action: deleted rows must not survive the
    // group rewrite (they simply never reach the writer)
    spark.sql("""
      MERGE INTO txcat.ns.rl t
      USING (SELECT id FROM range(0, 4)) s
      ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.rl").head.getLong(0)
      == 8, "MERGE DELETE rows survived")
    // DELETE with an untranslatable predicate falls back to the rewrite:
    // of the remaining v4..v7, m8..m11, removes the length-2 values,
    // keeps m10, m11
    spark.sql("DELETE FROM txcat.ns.rl WHERE length(v) = 2")
    assert(spark.sql("SELECT v FROM txcat.ns.rl ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("m10", "m11"))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: update and delete clauses " +
      "through the group rewrite") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.nmbs")
    spark.sql("CREATE TABLE txcat.ns.nmbs USING txlog AS " +
      "SELECT id, concat('v', id) AS v, CAST(1 AS INT) AS live " +
      "FROM range(10)")
    // the warehouse-sync shape: source holds the CURRENT key set [3, 8);
    // matched rows refresh, unmatched-target rows soft-close (live = 0)
    spark.sql("""
      MERGE INTO txcat.ns.nmbs t
      USING (SELECT id, concat('s', id) AS v FROM range(3, 8)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, live) VALUES (s.id, s.v, 1)
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.live = 0""")
    val rows = spark.sql(
      "SELECT id, v, live FROM txcat.ns.nmbs ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == (0L to 9L).map(i =>
      if (i >= 3 && i < 8) (i, s"s$i", 1) else (i, s"v$i", 0)),
      s"got $rows")
    val t = TxLogTable(spark, s"$warehouse/ns/nmbs")
    assert(t.history().last.op.contains("row-level-merge"))
    // the hard-delete variant: rows absent from source are removed
    spark.sql("""
      MERGE INTO txcat.ns.nmbs t
      USING (SELECT id FROM range(3, 8)) s
      ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(spark.sql("SELECT id FROM txcat.ns.nmbs ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == (3L to 7L),
      "NOT MATCHED BY SOURCE DELETE must remove exactly the absent keys")
    // conditional clause: only close a subset of the absent rows
    spark.sql("""
      MERGE INTO txcat.ns.nmbs t
      USING (SELECT id FROM range(3, 6)) s
      ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE AND t.id = 7 THEN DELETE""")
    assert(spark.sql("SELECT id FROM txcat.ns.nmbs ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == (3L to 6L),
      "conditional NOT MATCHED BY SOURCE must delete only id=7")
  }

  test("group replace detects a conflicting concurrent rewrite") {
    import org.apache.spark.sql.functions.lit
    val root = java.nio.file.Files.createTempDirectory("txconf")
      .resolve("t").toString
    val t = TxLogTable(spark, root)
    import spark.implicits._
    t.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    val replaced = t.entries(None).map(_.rel).toSet
    // a concurrent writer rewrites the same file before our publish
    t.commit(Seq((1L, "other")).toDF("id", "v"), overwrite = true)
    val scratch = java.nio.file.Files.createTempDirectory("txconf-s")
    Seq((1L, "mine")).toDF("id", "v").coalesce(1).write
      .mode("overwrite").parquet(scratch.toString)
    val err = intercept[java.util.ConcurrentModificationException] {
      t.commitStagedReplace(scratch, Some(replaced), "row-level-update")
    }
    assert(err.getMessage.contains("concurrent"), err.getMessage)
    // the other writer's state survived untouched
    assert(t.snapshot(org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING")).collect().map(_.getString(1)).toSeq ==
      Seq("other"))
  }

  test("write-skew guard: concurrently ADDED matching rows abort publish") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("txskew")
      .resolve("t").toString
    val t = TxLogTable(spark, root)
    t.commit((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = true)
    val base = t.latestVersion.get
    val replaced = t.entries(None).map(_.rel).toSet
    // the "operation" scanned WHERE id < 2000 at `base`; before it
    // publishes, a concurrent INSERT adds rows INSIDE that range —
    // carrying them forward unexamined would be write skew, so the
    // publish must abort even though no replaced file was touched
    t.commit(Seq((500L, "added")).toDF("id", "v"), overwrite = false)
    val scratch = java.nio.file.Files.createTempDirectory("txskew-s")
    (0L until 100L).map(i => (i, "upd")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val err = intercept[java.util.ConcurrentModificationException] {
      t.commitStagedReplace(scratch, Some(replaced), "row-level-update",
        scanBase = Some(base), scanPred = Some(col("id") < 2000))
    }
    assert(err.getMessage.contains("added by"), err.getMessage)
    // the concurrent writer's row survived; nothing was replaced
    assert(t.snapshot(org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING")).where("v = 'added'").count() == 1)
  }

  test("write-skew guard: stats-disjoint concurrent append publishes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("txskew2")
      .resolve("t").toString
    val t = TxLogTable(spark, root)
    t.commit((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"),
      overwrite = true)
    val base = t.latestVersion.get
    val replaced = t.entries(None).map(_.rel).toSet
    // the concurrent append's manifest stats (id ≥ 5000) cannot overlap
    // the operation's condition (id < 2000): a serial history exists, so
    // the publish proceeds and BOTH writers' effects survive
    t.commit(Seq((5000L, "later")).toDF("id", "v"), overwrite = false)
    val scratch = java.nio.file.Files.createTempDirectory("txskew2-s")
    (0L until 100L).map(i => (i, "upd")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    t.commitStagedReplace(scratch, Some(replaced), "row-level-update",
      scanBase = Some(base), scanPred = Some(col("id") < 2000))
    val out = t.snapshot(org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING"))
    assert(out.where("v = 'upd'").count() == 100)
    assert(out.where("v = 'later'").count() == 1)
    assert(out.count() == 101)
  }

  test("SQL UPDATE replaces only the groups the scan read") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rlband")
    spark.sql(
      "CREATE TABLE txcat.ns.rlband (id BIGINT, v STRING) USING txlog")
    // three band-disjoint commits → three file groups with id ranges
    spark.sql("INSERT INTO txcat.ns.rlband " +
      "SELECT id, concat('a', id) FROM range(0, 100)")
    spark.sql("INSERT INTO txcat.ns.rlband " +
      "SELECT id, concat('b', id) FROM range(100, 200)")
    spark.sql("INSERT INTO txcat.ns.rlband " +
      "SELECT id, concat('c', id) FROM range(200, 300)")
    val t = TxLogTable(spark, s"$warehouse/ns/rlband")
    val before = t.entries(None).map(_.rel).toSet
    spark.sql("UPDATE txcat.ns.rlband SET v = 'hit' WHERE id = 250")
    val after = t.entries(None).map(_.rel).toSet
    val carried = before & after
    assert(carried.nonEmpty,
      s"UPDATE carried no files: rewrote all ${before.size}")
    assert(spark.sql(
      "SELECT v FROM txcat.ns.rlband WHERE id = 250").head.getString(0)
      == "hit")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.rlband").head
      .getLong(0) == 300)
    assert(spark.sql(
      "SELECT count(*) FROM txcat.ns.rlband WHERE v = 'hit'").head
      .getLong(0) == 1)
  }

  test("CREATE TABLE AS SELECT lands schema and rows in one statement") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.ctas")
    spark.sql("CREATE TABLE txcat.ns.ctas USING txlog AS " +
      "SELECT id, concat('v', id) AS v FROM range(5)")
    val got = spark.sql("SELECT id, v FROM txcat.ns.ctas ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (0L until 5L).map(i => (i, s"v$i")))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    spark.sql(
      "CREATE TABLE txcat.ns.tt (id BIGINT, v STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.tt VALUES (1, 'a')") // v1
    spark.sql("INSERT INTO txcat.ns.tt VALUES (2, 'b')") // v2
    spark.sql("INSERT OVERWRITE txcat.ns.tt VALUES (9, 'z')") // v3
    assert(spark.sql("SELECT * FROM txcat.ns.tt").count() == 1)
    assert(spark.sql("SELECT * FROM txcat.ns.tt VERSION AS OF 2")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT * FROM txcat.ns.tt VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a timestamp far in the future resolves to the latest version
    assert(spark.sql(
      "SELECT * FROM txcat.ns.tt TIMESTAMP AS OF '2099-01-01'")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM txcat.ns.tt VERSION AS OF 77").collect()
    }
    assert(err.getMessage.contains("77"), err.getMessage)
  }

  test("rename column is a metadata-only commit; old files keep serving") {
    spark.sql(
      "CREATE TABLE txcat.ns.ren (id BIGINT, val STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.ren VALUES (1, 'pre')")
    val t = TxLogTable(spark, s"$warehouse/ns/ren")
    val filesBefore = t.fileCount()
    spark.sql("ALTER TABLE txcat.ns.ren RENAME COLUMN val TO label")
    assert(t.fileCount() == filesBefore, "rename rewrote data files")
    assert(t.history().last.op.contains("rename-column"))
    // post-rename write carries the new logical name, physically the old
    spark.sql("INSERT INTO txcat.ns.ren VALUES (2, 'post')")
    val got = spark.sql("SELECT id, label FROM txcat.ns.ren ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "pre"), (2L, "post")))
    // old name is gone from the logical schema
    val err = intercept[Exception] {
      spark.sql("SELECT val FROM txcat.ns.ren").collect()
    }
    // physical uniformity: every data file carries the ORIGINAL column
    import scala.jdk.CollectionConverters._
    val parquets = scala.util.Using.resource(Files.walk(
        java.nio.file.Paths.get(s"$warehouse/ns/ren/data"))) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList }
    parquets.foreach { p =>
      val cols = spark.read.parquet(p.toString).columns.toSet
      assert(cols == Set("id", "val"), s"$p carries $cols")
    }
  }

  test("add column is metadata-only; old files read NULL, new files carry it") {
    spark.sql(
      "CREATE TABLE txcat.ns.addt (id BIGINT, v STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.addt VALUES (1, 'a')")
    val t = TxLogTable(spark, s"$warehouse/ns/addt")
    val before = t.fileCount()
    spark.sql("ALTER TABLE txcat.ns.addt ADD COLUMN score DOUBLE")
    assert(t.fileCount() == before, "add-column rewrote data files")
    spark.sql("INSERT INTO txcat.ns.addt VALUES (2, 'b', 0.5)")
    val got = spark.sql(
      "SELECT id, v, score FROM txcat.ns.addt ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.isNullAt(2))).toSeq ==
      Seq((1L, true), (2L, false)))
    assert(got(1).getDouble(2) == 0.5)
    // a freed physical name cannot be re-bound to stale bytes: rename v
    // away, then adding a new 'v' must refuse (old files still carry v)
    spark.sql("ALTER TABLE txcat.ns.addt RENAME COLUMN v TO w")
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE txcat.ns.addt ADD COLUMN v STRING")
    }
    assert(err.getMessage.contains("physical name"), err.getMessage)
  }

  test("drop-then-add cannot resurrect dropped bytes; time travel uses " +
      "the version's own column map") {
    spark.sql(
      "CREATE TABLE txcat.ns.ghost (id BIGINT, v STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.ghost VALUES (1, 'secret')")
    spark.sql("ALTER TABLE txcat.ns.ghost DROP COLUMN v")
    // re-adding the dropped name must refuse: old files still carry the
    // physical 'v' bytes and would read back 'secret' instead of NULL
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE txcat.ns.ghost ADD COLUMN v STRING")
    }
    assert(err.getMessage.contains("physical name"), err.getMessage)
    // rename-then-drop frees the ORIGINAL physical name through the map:
    // equally refused
    spark.sql("ALTER TABLE txcat.ns.ghost ADD COLUMN w STRING")
    spark.sql("INSERT INTO txcat.ns.ghost VALUES (2, 'w2')")
    spark.sql("ALTER TABLE txcat.ns.ghost RENAME COLUMN w TO w2")
    spark.sql("ALTER TABLE txcat.ns.ghost DROP COLUMN w2")
    val err2 = intercept[Exception] {
      spark.sql("ALTER TABLE txcat.ns.ghost ADD COLUMN w STRING")
    }
    assert(err2.getMessage.contains("physical name"), err2.getMessage)

    // chained renames + time travel: reading an old version must translate
    // through THAT version's colmap, not the latest one
    spark.sql(
      "CREATE TABLE txcat.ns.chain (id BIGINT, a STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.chain VALUES (1, 'x1')") // v1: col a
    spark.sql("ALTER TABLE txcat.ns.chain RENAME COLUMN a TO b") // v2
    spark.sql("INSERT INTO txcat.ns.chain VALUES (2, 'x2')") // v3: col b
    spark.sql("ALTER TABLE txcat.ns.chain RENAME COLUMN b TO c") // v4
    // v3's logical schema names the column 'b'; the latest map only knows
    // c→a — a latest-map read would resolve 'b' to a nonexistent physical
    // column and return NULL for every row
    val v3 = spark.sql(
      "SELECT id, b FROM txcat.ns.chain VERSION AS OF 3 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v3 == Seq((1L, "x1"), (2L, "x2")), s"got $v3")
    val cur = spark.sql("SELECT id, c FROM txcat.ns.chain ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(cur == Seq((1L, "x1"), (2L, "x2")))
  }

  test("drop column is metadata-only; merge and predicates use the map") {
    spark.sql("CREATE TABLE txcat.ns.dropt " +
      "(id BIGINT, keep STRING, gone STRING) USING txlog")
    spark.sql(
      "INSERT INTO txcat.ns.dropt VALUES (1, 'k1', 'g1'), (2, 'k2', 'g2')")
    spark.sql("ALTER TABLE txcat.ns.dropt DROP COLUMN gone")
    val got = spark.sql("SELECT * FROM txcat.ns.dropt ORDER BY id")
    assert(got.columns.toSeq == Seq("id", "keep"))
    assert(got.collect().map(_.getString(1)).toSeq == Seq("k1", "k2"))
    // predicate on a RENAMED column routes through the map for pruning
    spark.sql("ALTER TABLE txcat.ns.dropt RENAME COLUMN keep TO kept")
    val t = TxLogTable(spark, s"$warehouse/ns/dropt")
    val rows = t.snapshotWhere(
      spark.sql("SELECT * FROM txcat.ns.dropt").schema,
      col("kept") === "k2").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("k2"))
    // merge keyed on the renamed column still matches physical rows
    val batch = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(2L, "K2")),
      got.schema.copy(fields = Array(got.schema("id"),
        got.schema("keep").copy(name = "kept"))))
    val st = t.merge(batch.schema, batch, Seq("id"))
    val after = spark.sql("SELECT id, kept FROM txcat.ns.dropt ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == Seq((1L, "k1"), (2L, "K2")))
  }

  test("INSERT INTO an unpartitioned table is a native DSv2 batch write") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.natw")
    spark.sql("CREATE TABLE txcat.ns.natw (id BIGINT, v STRING) USING txlog")
    val df = spark.sql(
      "INSERT INTO txcat.ns.natw SELECT id, concat('x', id) FROM range(5)")
    val cmd = df.queryExecution.commandExecuted.collectFirst {
      case c: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
        c.commandPhysicalPlan.toString
    }.getOrElse(sys.error("no CommandResult for the INSERT"))
    assert(cmd.contains("AppendData"), s"expected AppendData exec:\n$cmd")
    assert(!cmd.contains("AppendDataExecV1"),
      s"INSERT fell back to the V1 write path:\n$cmd")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.natw").head.getLong(0)
      == 5)
    // INSERT OVERWRITE rides the same native write with truncate
    val ow = spark.sql("INSERT OVERWRITE txcat.ns.natw VALUES (9, 'z')")
    val owCmd = ow.queryExecution.commandExecuted.collectFirst {
      case c: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
        c.commandPhysicalPlan.toString
    }.getOrElse("")
    assert(!owCmd.contains("V1"), s"overwrite fell back to V1:\n$owCmd")
    assert(spark.sql("SELECT v FROM txcat.ns.natw").head.getString(0) == "z")
    val t = TxLogTable(spark, s"$warehouse/ns/natw")
    assert(t.history().flatMap(_.op).takeRight(2) ==
      Seq("append", "overwrite"))
  }

  test("SQL UPDATE / MERGE INTO work on a hive-partitioned table and " +
    "replace only the touched partitions' files") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rlp")
    spark.sql("CREATE TABLE txcat.ns.rlp (id BIGINT, p INT, v STRING) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.rlp SELECT id, CAST(id % 3 AS INT), " +
      "concat('v', id) FROM range(12)")
    val t = TxLogTable(spark, s"$warehouse/ns/rlp")
    val untouched = t.entries(None).map(_.rel)
      .filterNot(_.contains("p=1")).toSet
    spark.sql("UPDATE txcat.ns.rlp SET v = 'upd' WHERE p = 1")
    assert(t.history().last.op.contains("row-level-update"))
    // layout survives: every live file still sits under a hive dir
    assert(t.entries(None).forall(_.rel.contains("p=")),
      t.entries(None).map(_.rel).mkString(","))
    // partition pruning bounded the rewrite: p=0 / p=2 files carried
    // by reference, byte-identical rel paths
    assert(untouched.subsetOf(t.entries(None).map(_.rel).toSet),
      "untouched partitions' files were rewritten")
    val got = spark.sql("SELECT id, p, v FROM txcat.ns.rlp ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(got == (0L until 12L).map(i =>
      (i, (i % 3).toInt, if (i % 3 == 1) "upd" else s"v$i")), s"got $got")
    // MERGE INTO on the same partitioned table: matched rows update,
    // unmatched insert into their partitions
    spark.sql("""
      MERGE INTO txcat.ns.rlp t
      USING (SELECT id, CAST(id % 3 AS INT) AS p, concat('m', id) AS v
             FROM range(10, 14)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT (id, p, v) VALUES (s.id, s.p, s.v)""")
    assert(t.history().last.op.contains("row-level-merge"))
    assert(t.entries(None).forall(_.rel.contains("p=")))
    val merged = spark.sql("SELECT id, v FROM txcat.ns.rlp ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(merged == (0L until 10L).map(i =>
      (i, if (i % 3 == 1) "upd" else s"v$i")) ++
      (10L until 14L).map(i => (i, s"m$i")), s"got $merged")
    // partition-pruned reads still work after the row-level commits
    // (p=2 holds ids 2,5,8,11 — the MERGE inserted 12→p=0, 13→p=1)
    assert(spark.sql("SELECT count(*) FROM txcat.ns.rlp WHERE p = 2")
      .head.getLong(0) == 4)
  }

  test("SQL UPDATE / MERGE INTO work on a column-mapped (renamed) table") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rlr")
    spark.sql("CREATE TABLE txcat.ns.rlr (id BIGINT, v STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.rlr SELECT id, concat('v', id) " +
      "FROM range(6)")
    spark.sql("ALTER TABLE txcat.ns.rlr RENAME COLUMN v TO val")
    // the operation scan must read the pre-rename files' PHYSICAL column
    // and surface it under the logical name — an unmapped read would see
    // NULL here and write 'null!' rows
    spark.sql(
      "UPDATE txcat.ns.rlr SET val = concat(val, '!') WHERE id >= 3")
    val t = TxLogTable(spark, s"$warehouse/ns/rlr")
    assert(t.history().last.op.contains("row-level-update"))
    val got = spark.sql("SELECT id, val FROM txcat.ns.rlr ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (0L to 2L).map(i => (i, s"v$i")) ++
      (3L to 5L).map(i => (i, s"v$i!")), s"got $got")
    // the rewritten files must carry the PHYSICAL column name: a merge
    // that reads them again through the map proves physical uniformity
    spark.sql("""
      MERGE INTO txcat.ns.rlr t
      USING (SELECT id, concat('m', id) AS val FROM range(4, 8)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.val = s.val
      WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id, s.val)""")
    assert(t.history().last.op.contains("row-level-merge"))
    val merged = spark.sql("SELECT id, val FROM txcat.ns.rlr ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(merged == Seq((0L, "v0"), (1L, "v1"), (2L, "v2"), (3L, "v3!"))
      ++ (4L to 7L).map(i => (i, s"m$i")), s"got $merged")
  }

  test("INSERT OVERWRITE PARTITION replaces only the named partition " +
    "(static overwrite via replaceWhere)") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.sow")
    spark.sql("CREATE TABLE txcat.ns.sow (id BIGINT, p INT, v STRING) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.sow SELECT id, CAST(id % 2 AS INT), " +
      "concat('v', id) FROM range(6)")
    val t = TxLogTable(spark, s"$warehouse/ns/sow")
    val untouched = t.entries(None).map(_.rel)
      .filterNot(_.contains("p=1")).toSet
    spark.sql("INSERT OVERWRITE txcat.ns.sow PARTITION (p = 1) " +
      "SELECT id, concat('n', id) FROM range(100, 102)")
    assert(t.history().last.op.contains("replace-where"),
      t.history().last.toString)
    // p=0 files carried by reference
    assert(untouched.subsetOf(t.entries(None).map(_.rel).toSet))
    val got = spark.sql("SELECT id, p, v FROM txcat.ns.sow ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(got == Seq((0L, 0, "v0"), (2L, 0, "v2"), (4L, 0, "v4"),
      (100L, 1, "n100"), (101L, 1, "n101")), s"got $got")
    // a batch row violating the partition spec fails loudly
    val err = intercept[Exception] {
      spark.sql("INSERT OVERWRITE txcat.ns.sow PARTITION (p = 1) " +
        "SELECT id, concat('x', id) FROM range(2)")
      // rows land with p=1 via the spec, so this one succeeds; violation
      // requires the unpartitioned overwrite-by-condition path below
      throw new IllegalStateException("spec-conforming")
    }
    assert(err.getMessage.contains("spec-conforming")) // sanity: no throw
    // overwrite-by-condition on an UNPARTITIONED table (writeTo API)
    spark.sql("DROP TABLE IF EXISTS txcat.ns.sowu")
    spark.sql("CREATE TABLE txcat.ns.sowu (id BIGINT, v STRING) " +
      "USING txlog")
    spark.sql("INSERT INTO txcat.ns.sowu SELECT id, concat('v', id) " +
      "FROM range(10)")
    import org.apache.spark.sql.functions.{col, concat, lit}
    spark.range(5, 8).select(col("id"),
        concat(lit("w"), col("id")).as("v"))
      .writeTo("txcat.ns.sowu").overwrite(col("id") >= 5 && col("id") < 8)
    val u = spark.sql("SELECT v FROM txcat.ns.sowu ORDER BY id").collect()
      .map(_.getString(0)).toSeq
    assert(u == Seq("v0", "v1", "v2", "v3", "v4", "w5", "w6", "w7",
      "v8", "v9"), s"got $u")
  }

  test("CALL system.compact / vacuum / history drive the maintenance " +
    "lifecycle in pure SQL") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.mnt")
    spark.sql("CREATE TABLE txcat.ns.mnt (id BIGINT, v STRING) USING txlog")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO txcat.ns.mnt VALUES ($i, 'v$i')"))
    val t = TxLogTable(spark, s"$warehouse/ns/mnt")
    val before = t.fileCount()
    assert(before >= 4)
    val c = spark.sql("CALL txcat.system.compact('ns.mnt')").collect()
    assert(c.length == 1 && c(0).getInt(1) == before && c(0).getInt(2) == 1,
      c.mkString(","))
    assert(t.fileCount() == 1)
    assert(t.history().last.op.contains("compact"))
    // data survived byte-identically
    assert(spark.sql("SELECT id, v FROM txcat.ns.mnt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (0 until 4).map(i => (i.toLong, s"v$i")))
    // history: one row per surviving version, ops recorded
    val h = spark.sql("CALL txcat.system.history('ns.mnt')").collect()
    assert(h.length == t.versions.size)
    assert(h.map(_.getString(2)).takeRight(1).head == "compact")
    // vacuum with min_age_ms=0 collects the pre-compaction files
    val v = spark.sql(
      "CALL txcat.system.vacuum('ns.mnt', 1, 0, 0)").collect()
    assert(v.length == 1 && v(0).getInt(0) >= 4 && v(0).getInt(1) >= 4,
      v.mkString(","))
    assert(spark.sql("SELECT count(*) FROM txcat.ns.mnt").head.getLong(0)
      == 4)
    // named-argument form works too
    spark.sql("INSERT INTO txcat.ns.mnt VALUES (9, 'z')")
    val c2 = spark.sql(
      "CALL txcat.system.compact(`table` => 'ns.mnt', files => 2)")
      .collect()
    assert(c2.length == 1, c2.mkString(","))
    assert(t.fileCount() <= 2)
  }

  test("SQL row-level DML works on a partitioned AND renamed table") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rlpr")
    spark.sql("CREATE TABLE txcat.ns.rlpr (id BIGINT, p INT, v STRING) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.rlpr SELECT id, CAST(id % 2 AS INT), " +
      "concat('v', id) FROM range(8)")
    spark.sql("ALTER TABLE txcat.ns.rlpr RENAME COLUMN v TO w")
    spark.sql("UPDATE txcat.ns.rlpr SET w = upper(w) WHERE p = 0")
    val t = TxLogTable(spark, s"$warehouse/ns/rlpr")
    assert(t.history().last.op.contains("row-level-update"))
    assert(t.entries(None).forall(_.rel.contains("p=")))
    val got = spark.sql("SELECT id, w FROM txcat.ns.rlpr ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (0L until 8L).map(i =>
      (i, if (i % 2 == 0) s"V$i" else s"v$i")), s"got $got")
  }

  // `spark.sql.sources.v2.bucketing.enabled` defaults to TRUE in Spark 4,
  // so SPJ eligibility is the out-of-the-box state for partitioned
  // catalog tables; the helper pins a value for the explicit on/off cases.
  private def withBucketing[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("storage-partitioned join runs with zero shuffle exchanges") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.spj_a")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.spj_b")
    spark.sql("CREATE TABLE txcat.ns.spj_a (id BIGINT, p INT, v STRING) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("CREATE TABLE txcat.ns.spj_b (id BIGINT, p INT, w STRING) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.spj_a SELECT id, CAST(id % 4 AS INT), " +
      "concat('a', id) FROM range(40)")
    spark.sql("INSERT INTO txcat.ns.spj_b SELECT id, CAST(id % 4 AS INT), " +
      "concat('b', id) FROM range(40)")
    withBucketing(on = true) {
      // join keys == partition keys (the default co-partition contract:
      // spark.sql.requireAllClusterKeysForCoPartition)
      val df = spark.sql("""
        SELECT /*+ MERGE(a) */ a.p AS p, count(*) AS pairs
        FROM txcat.ns.spj_a a JOIN txcat.ns.spj_b b ON a.p = b.p
        GROUP BY a.p""")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must not shuffle either side:\n$plan")
      assert(plan.contains("TxLogSpjScan"), s"expected the SPJ scan:\n$plan")
      val got = df.collect().map(r => (r.getInt(0), r.getLong(1))).sorted
      assert(got.toSeq == (0 until 4).map(p => (p, 100L)), got.mkString(","))
    }
  }

  test("SPJ scan keeps snapshot semantics; conf off restores the splice") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.spj_c")
    spark.sql("CREATE TABLE txcat.ns.spj_c (id BIGINT, p INT, v STRING) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.spj_c SELECT id, CAST(id % 3 AS INT), " +
      "concat('v', id) FROM range(30)")
    withBucketing(on = true) {
      // partition filter prunes at the manifest: only p=1 files survive
      val df = spark.sql(
        "SELECT id, v FROM txcat.ns.spj_c WHERE p = 1 AND id < 10")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TxLogSpjScan"), plan)
      assert(plan.contains("groups=1"),
        s"manifest pruning must drop the other partitions:\n$plan")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L, 7L))
      // unpartitioned sibling is untouched by the conf: still spliced
      spark.sql("DROP TABLE IF EXISTS txcat.ns.spj_flat")
      spark.sql(
        "CREATE TABLE txcat.ns.spj_flat (id BIGINT) USING txlog")
      spark.sql("INSERT INTO txcat.ns.spj_flat VALUES (1), (2)")
      val flatPlan = spark.sql("SELECT id FROM txcat.ns.spj_flat")
        .queryExecution.executedPlan.toString
      assert(flatPlan.contains("FileScan parquet") &&
        !flatPlan.contains("TxLogSpjScan"), flatPlan)
    }
    // with the conf explicitly off the partitioned read goes back to the
    // native-parquet splice
    withBucketing(on = false) {
      val off = spark.sql("SELECT id FROM txcat.ns.spj_c WHERE p = 1")
        .queryExecution.executedPlan.toString
      assert(off.contains("FileScan parquet") &&
        !off.contains("TxLogSpjScan"), off)
    }
  }

  test("MIN/MAX of TIMESTAMP and DATE columns collapse to the manifest") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.meta_ts")
    spark.sql("CREATE TABLE txcat.ns.meta_ts (id BIGINT, ts TIMESTAMP, " +
      "d DATE) USING txlog")
    spark.sql("INSERT INTO txcat.ns.meta_ts " +
      "SELECT id, timestamp_seconds(1704067200 + id * 3600), " +
      "date_add(DATE'2024-01-01', CAST(id AS INT)) FROM range(48)")
    val df = spark.sql("SELECT min(ts) AS lo, max(ts) AS hi, " +
      "min(d) AS dlo, max(d) AS dhi FROM txcat.ns.meta_ts")
    val plan = df.queryExecution.executedPlan.toString
    // the test sessions write TIMESTAMP_MICROS, so the footer extrema
    // exist in exactly the internal unit and the aggregate never opens
    // a file
    assert(plan.contains("LocalTableScan") &&
      !plan.contains("FileScan") && !plan.contains("BatchScan"), plan)
    val r = df.collect().head
    assert(r.getTimestamp(0).toInstant ==
      java.time.Instant.parse("2024-01-01T00:00:00Z") &&
      r.getTimestamp(1).toInstant ==
        java.time.Instant.parse("2024-01-02T23:00:00Z"), r.toString)
    assert(r.getDate(2).toString == "2024-01-01" &&
      r.getDate(3).toString == "2024-02-17", r.toString)
  }

  test("COUNT(*)/MIN/MAX collapse to the manifest; guards keep exactness") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS txcat.ns.meta_t")
    spark.sql("CREATE TABLE txcat.ns.meta_t (id BIGINT, v STRING) " +
      "USING txlog")
    spark.sql("INSERT INTO txcat.ns.meta_t " +
      "SELECT id, concat('v', id) FROM range(10)")
    spark.sql("INSERT INTO txcat.ns.meta_t " +
      "SELECT id, concat('v', id) FROM range(10, 25)")
    val df = spark.sql("SELECT count(*) AS n, min(id) AS lo, " +
      "max(id) AS hi FROM txcat.ns.meta_t")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("FileScan") && !plan.contains("BatchScan"), plan)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .head == ((25L, 0L, 24L)))
    // version pinning: time travel counts the pinned snapshot
    val v1 = spark.sql("SELECT count(*) AS n FROM txcat.ns.meta_t " +
      "VERSION AS OF 1") // v0 = the empty CREATE commit, v1 = first INSERT
    assert(v1.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(v1.head.getLong(0) == 10L)
    // a filter disables the shortcut (manifest cannot answer)
    assert(!spark.sql(
      "SELECT count(*) AS n FROM txcat.ns.meta_t WHERE id > 3")
      .queryExecution.executedPlan.toString.contains("LocalTableScan"))
    // live MOR tombstones hide rows: the rewrite must refuse and the
    // scan (which applies the mask) must deliver the true count
    val t = TxLogTable(spark, s"$warehouse/ns/meta_t")
    import spark.implicits._
    t.deleteByKeysMor(Seq(3L, 4L).toDF("id"))
    val masked = spark.sql("SELECT count(*) AS n FROM txcat.ns.meta_t")
    assert(!masked.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(masked.head.getLong(0) == 23L)
    // after compaction folds the tombstones the manifest is exact again
    // and the SQL count collapses once more, at the surviving row count
    val v1fmt = spark.read.format("txlog").load(s"$warehouse/ns/meta_t")
    t.compact(v1fmt.schema, 1)
    val post = spark.sql("SELECT count(*) AS n FROM txcat.ns.meta_t")
    assert(post.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      post.queryExecution.executedPlan.toString)
    assert(post.head.getLong(0) == 23L)
    // The DataFrame-API form over format("txlog") CANNOT collapse by
    // construction: load() analyzes (and splices) the bare relation
    // before any aggregate exists above it. Correctness only here; the
    // programmatic metadata path is TxLogTable.metaRowCount.
    val fmtStar = spark.read.format("txlog").load(s"$warehouse/ns/meta_t")
      .selectExpr("count(*) AS n")
    assert(fmtStar.head.getLong(0) == 23L)
  }

  test("SQL row-level DML works under live MOR tombstones") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS txcat.ns.mor_dml")
    spark.sql("CREATE TABLE txcat.ns.mor_dml (id BIGINT, v STRING) " +
      "USING txlog")
    spark.sql("INSERT INTO txcat.ns.mor_dml " +
      "SELECT id, concat('v', id) FROM range(10)")
    val t = TxLogTable(spark, s"$warehouse/ns/mor_dml")
    t.deleteByKeysMor(Seq(2L, 5L).toDF("id"))
    // INSERT after the MOR delete must CARRY the tombstones (a dropped
    // tombstone line would resurrect ids 2 and 5) and, sequence-aware,
    // the re-inserted id 5 must be visible — its file postdates the tomb
    spark.sql("INSERT INTO txcat.ns.mor_dml VALUES (5, 'reborn')")
    val pre = spark.sql("SELECT id, v FROM txcat.ns.mor_dml").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(pre.size == 9 && !pre.contains(2L) && pre(5L) == "reborn", pre)
    // UPDATE with live tombstones: only SURVIVING rows update or ride
    // the rewrite — the masked id 2 must not resurrect
    spark.sql(
      "UPDATE txcat.ns.mor_dml SET v = concat('U', v) WHERE id >= 4")
    val got = spark.sql("SELECT id, v FROM txcat.ns.mor_dml").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 9 && !got.contains(2L), got)
    assert(got(5L) == "Ureborn" && got(4L) == "Uv4" && got(3L) == "v3", got)
    // MERGE semantics under the mask: the tombstoned key is ABSENT, so
    // it must take the NOT MATCHED branch and insert fresh
    spark.sql("""
      MERGE INTO txcat.ns.mor_dml t
      USING (SELECT CAST(2 AS BIGINT) AS id, 'back' AS v) s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val merged = spark.sql("SELECT id, v FROM txcat.ns.mor_dml").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(merged.size == 10 && merged(2L) == "back", merged)
  }

  test("partitioned table: MOR tombstones mask through SQL UPDATE") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS txcat.ns.mor_part")
    spark.sql("CREATE TABLE txcat.ns.mor_part (id BIGINT, p INT, " +
      "v STRING) USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.mor_part SELECT id, " +
      "CAST(id % 2 AS INT), concat('v', id) FROM range(8)")
    val t = TxLogTable(spark, s"$warehouse/ns/mor_part")
    t.deleteByKeysMor(Seq(1L, 6L).toDF("id"))
    // partition-pruned UPDATE: only p=0 files rewrite; the p=1 files are
    // carried by reference and their tombstone (id 1) must keep masking
    spark.sql("UPDATE txcat.ns.mor_part SET v = 'X' WHERE p = 0")
    val got = spark.sql("SELECT id, v FROM txcat.ns.mor_part").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 6 && !got.contains(1L) && !got.contains(6L), got)
    assert(Seq(0L, 2L, 4L).forall(got(_) == "X") &&
      Seq(3L, 5L, 7L).forall(k => got(k) == s"v$k"), got)
  }

  test("over-cap MOR tombstones: DML refuses BEFORE driver materialization") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS txcat.ns.mor_cap")
    spark.sql("CREATE TABLE txcat.ns.mor_cap (id BIGINT, v STRING) " +
      "USING txlog")
    spark.sql("INSERT INTO txcat.ns.mor_cap " +
      "SELECT id, concat('v', id) FROM range(10)")
    val t = TxLogTable(spark, s"$warehouse/ns/mor_cap")
    t.deleteByKeysMor(Seq(2L, 5L, 7L).toDF("id"))
    // Cap below the live tombstone-key count: the statement must refuse
    // with the compaction hint. The cap check is an executor-side count
    // that runs before any collect(), so the refusal itself holds no key
    // map on the driver — the property this spec pins is the ERROR PATH
    // (a 100M-key table must die with this message, not an OOM).
    spark.conf.set("spark.graft.sql.maxMorMaskKeys", "2")
    try {
      val e = intercept[Exception] {
        spark.sql("UPDATE txcat.ns.mor_cap SET v = 'X' WHERE id >= 0")
      }
      def msgs(x: Throwable): Seq[String] =
        Option(x).toSeq.flatMap(t => t.getMessage +: msgs(t.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("compact first")),
        e.toString)
    } finally spark.conf.unset("spark.graft.sql.maxMorMaskKeys")
    // under the default cap the same statement succeeds and masks
    spark.sql("UPDATE txcat.ns.mor_cap SET v = 'X' WHERE id >= 0")
    val got = spark.sql("SELECT id, v FROM txcat.ns.mor_cap").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 7 && !got.contains(2L) && got(0L) == "X", got)
  }

  test("partition-filtered COUNT collapses; tombstones/mixed filters scan") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS txcat.ns.metaf")
    spark.sql("CREATE TABLE txcat.ns.metaf (id BIGINT, p INT) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.metaf " +
      "SELECT id, CAST(id % 3 AS INT) FROM range(30)")
    val q = spark.sql(
      "SELECT count(*) AS n FROM txcat.ns.metaf WHERE p = 1")
    assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q.head.getLong(0) == 10L)
    // IN-list + intersecting equalities
    val qin = spark.sql("SELECT count(*) AS n FROM txcat.ns.metaf " +
      "WHERE p IN (0, 2) AND p IN (2, 1)")
    assert(qin.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(qin.head.getLong(0) == 10L)
    // contradiction: empty value set counts zero, still from the manifest
    val q0 = spark.sql("SELECT count(*) AS n FROM txcat.ns.metaf " +
      "WHERE p = 1 AND p = 2")
    assert(q0.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(q0.head.getLong(0) == 0L)
    // a non-partition conjunct cannot be dropped: the real scan answers
    val mixed = spark.sql("SELECT count(*) AS n FROM txcat.ns.metaf " +
      "WHERE p = 1 AND id > 0")
    assert(!mixed.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(mixed.head.getLong(0) == 10L)
    // live MOR tombstones hide rows the footer counts still include:
    // the filtered collapse must refuse and the masked scan must answer
    val t = TxLogTable(spark, s"$warehouse/ns/metaf")
    t.deleteByKeysMor(Seq(1L, 4L).toDF("id"))
    val masked = spark.sql(
      "SELECT count(*) AS n FROM txcat.ns.metaf WHERE p = 1")
    assert(!masked.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(masked.head.getLong(0) == 8L)
  }

  test("partition-filtered MIN/MAX collapse from footer stats and segments") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.metamm")
    spark.sql("CREATE TABLE txcat.ns.metamm (id BIGINT, p INT) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.metamm " +
      "SELECT id, CAST(id % 3 AS INT) FROM range(30)")
    // data-column extrema: footer stats of the qualifying files only
    val mm = spark.sql("SELECT min(id) AS mn, max(id) AS mx " +
      "FROM txcat.ns.metamm WHERE p = 1")
    assert(mm.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(mm.head match { case r => (r.getLong(0), r.getLong(1)) == (1L, 28L) })
    // partition-column extrema: the hive path segment IS the per-file value
    val pm = spark.sql("SELECT min(p) AS mn, max(p) AS mx " +
      "FROM txcat.ns.metamm WHERE p IN (1, 2)")
    assert(pm.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(pm.head match { case r => (r.getInt(0), r.getInt(1)) == (1, 2) })
    // empty qualifying subset: COUNT 0, MIN/MAX NULL — zero-row semantics
    val empty = spark.sql("SELECT count(*) AS n, min(id) AS mn " +
      "FROM txcat.ns.metamm WHERE p = 7")
    assert(empty.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    val er = empty.head
    assert(er.getLong(0) == 0L && er.isNullAt(1))
    // mixed count+min+max under one filter, all from the manifest
    val all = spark.sql("SELECT count(*) AS n, min(id) AS mn, " +
      "max(id) AS mx FROM txcat.ns.metamm WHERE p = 2")
    assert(all.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    val ar = all.head
    assert((ar.getLong(0), ar.getLong(1), ar.getLong(2)) == (10L, 2L, 29L))
  }

  test("null partitions never ride the filtered metadata collapse") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.metanull")
    spark.sql("CREATE TABLE txcat.ns.metanull (id BIGINT, p INT) " +
      "USING txlog PARTITIONED BY (p)")
    // ids 0..9 in p=1, ids 10..14 in the NULL partition
    spark.sql("INSERT INTO txcat.ns.metanull " +
      "SELECT id, CASE WHEN id < 10 THEN 1 ELSE NULL END FROM range(15)")
    // equality never matches NULL rows: collapse fires and counts 10
    val q = spark.sql(
      "SELECT count(*) AS n FROM txcat.ns.metanull WHERE p = 1")
    assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q.head.getLong(0) == 10L)
    // a literal spelled like the hive null sentinel is ambiguous in the
    // path layout: the manifest declines, the scan answers (0 matches —
    // p is an INT column, the string cannot equal it; the point is the
    // collapse must NOT count the null partition's 5 rows)
    val amb = spark.sql("SELECT count(*) AS n FROM txcat.ns.metanull " +
      "WHERE CAST(p AS STRING) = '__HIVE_DEFAULT_PARTITION__'")
    assert(amb.head.getLong(0) == 0L)
  }

  test("filtered collapse fires through the V1 format(txlog) SQL view too") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v1metaf")
      .resolve("t").toString
    val t = TxLogTable(spark, root)
    t.commit(Seq((1L, 0), (2L, 0), (3L, 1)).toDF("id", "p"),
      overwrite = true, partitionCols = Seq("p"))
    t.commit(Seq((4L, 1), (5L, 1)).toDF("id", "p"),
      overwrite = false, partitionCols = Seq("p"))
    // the USING-txlog view resolves its relation per query, so the
    // Aggregate case sees the un-spliced LogicalRelation (a DataFrame
    // temp view would store an already-spliced plan — the documented
    // structural limit of the DataFrame-API form)
    spark.sql("DROP VIEW IF EXISTS v1_metaf")
    spark.sql("CREATE TEMPORARY VIEW v1_metaf " +
      s"USING txlog OPTIONS (path '$root')")
    val q = spark.sql(
      "SELECT count(*) AS n, max(id) AS mx FROM v1_metaf WHERE p = 1")
    assert(q.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      "ANALYZED:\n" + q.queryExecution.analyzed.treeString +
        "\nEXEC:\n" + q.queryExecution.executedPlan.toString)
    val r = q.head
    assert(r.getLong(0) == 3L && r.getLong(1) == 5L, r)
  }

  test("filtered collapse respects VERSION AS OF") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.metatt")
    spark.sql("CREATE TABLE txcat.ns.metatt (id BIGINT, p INT) " +
      "USING txlog PARTITIONED BY (p)")
    // CREATE TABLE itself commits v0 (schema-only, empty)
    spark.sql("INSERT INTO txcat.ns.metatt " +
      "SELECT id, CAST(id % 2 AS INT) FROM range(10)")   // v1: 5 in p=1
    spark.sql("INSERT INTO txcat.ns.metatt " +
      "SELECT id + 100, 1 FROM range(20)")               // v2: +20 in p=1
    val cur = spark.sql(
      "SELECT count(*) AS n FROM txcat.ns.metatt WHERE p = 1")
    assert(cur.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(cur.head.getLong(0) == 25L)
    val asOf = spark.sql("SELECT count(*) AS n FROM txcat.ns.metatt " +
      "VERSION AS OF 1 WHERE p = 1")
    assert(asOf.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      asOf.queryExecution.executedPlan.toString)
    assert(asOf.head.getLong(0) == 5L, asOf.head.toString)
  }

  test("CALL compact with a partition spec rewrites ONLY that partition") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS txcat.ns.pcomp")
    spark.sql("CREATE TABLE txcat.ns.pcomp (id BIGINT, p INT) " +
      "USING txlog PARTITIONED BY (p)")
    // 4 fragmented commits: each writes files into BOTH partitions
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO txcat.ns.pcomp SELECT id + ${i * 10}, " +
        "CAST(id % 2 AS INT) FROM range(10)"))
    val t = TxLogTable(spark, s"$warehouse/ns/pcomp")
    // a live MOR tombstone: the rewrite must materialize it for p=1
    // rows and carry it for the untouched p=0 files
    t.deleteByKeysMor(Seq(1L, 2L).toDF("id"))   // 1 -> p=1, 2 -> p=0
    val before = t.entries(None).map(_.rel)
    val p0Before = before.filter(_.contains("p=0")).toSet
    val res = spark.sql(
      "CALL txcat.system.compact('ns.pcomp', 1, 'p=1')").collect()(0)
    val after = t.entries(None).map(_.rel)
    // p=0 files carried verbatim; p=1 collapsed to one file
    assert(after.filter(_.contains("p=0")).toSet == p0Before)
    assert(after.count(_.contains("p=1")) == 1,
      after.filter(_.contains("p=1")).mkString(","))
    assert(res.getInt(2) < res.getInt(1), res.toString)
    // row-level truth preserved: both tombstoned ids stay gone (the
    // rewritten partition materialized its delete; the carried one
    // still masks through the live tombstone)
    val got = spark.sql("SELECT id FROM txcat.ns.pcomp").collect()
      .map(_.getLong(0)).toSet
    assert(!got.contains(1L) && !got.contains(2L) && got.size == 38, got.size)
    // a non-partition column in the spec refuses
    val e = intercept[Exception] {
      spark.sql("CALL txcat.system.compact('ns.pcomp', 1, 'id=5')")
        .collect()
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
    assert(msgs(e).exists(_.contains("partition columns")), e.toString)
  }

  test("date-partitioned filtered COUNT declines the collapse, stays right") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.metadate")
    spark.sql("CREATE TABLE txcat.ns.metadate (id BIGINT, day DATE) " +
      "USING txlog PARTITIONED BY (day)")
    spark.sql("INSERT INTO txcat.ns.metadate SELECT id, " +
      "CASE WHEN id < 6 THEN DATE '2026-08-13' ELSE DATE '2026-08-14' END " +
      "FROM range(10)")
    // a DateType literal's catalyst value is an epoch-day Int whose
    // digits never equal the calendar-formatted hive segment: the
    // collapse must DECLINE (render is type-checked) and the real scan
    // must answer — a collapse here once returned a confident 0
    val q = spark.sql("SELECT count(*) AS n FROM txcat.ns.metadate " +
      "WHERE day = DATE '2026-08-13'")
    assert(!q.queryExecution.executedPlan.toString
      .contains("LocalTableScan"),
      q.queryExecution.executedPlan.toString)
    assert(q.head.getLong(0) == 6L)
    // the string-typed comparison declines the same way (Cast shape)
    val qs = spark.sql("SELECT count(*) AS n FROM txcat.ns.metadate " +
      "WHERE day = '2026-08-14'")
    assert(qs.head.getLong(0) == 4L)
  }

  test("CALL zorder clusters so BOTH dimensions prune via manifest stats") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.zo")
    spark.sql("CREATE TABLE txcat.ns.zo (a BIGINT, b BIGINT) USING txlog")
    // a is sequential, b is a decorrelated permutation: after appends in
    // a-order, b-range pruning finds every file a candidate
    spark.sql("INSERT INTO txcat.ns.zo " +
      "SELECT id, (id * 2654435761) % 4096 FROM range(4096)")
    val t = TxLogTable(spark, s"$warehouse/ns/zo")
    spark.sql("CALL txcat.system.zorder('ns.zo', 'a', 'b', 8)")
    assert(t.history().last.op.contains("zorder"))
    assert(spark.table("txcat.ns.zo").count() == 4096)
    // after z-ordering, a narrow range on EITHER column prunes most files
    assert(t.candidateFiles("a", 0L, 63L).size < t.fileCount())
    assert(t.candidateFiles("b", 0L, 63L).size < t.fileCount())
  }

  test("bucketed tables: hidden layout, round-trip, zero-shuffle join") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk_a")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk_b")
    spark.sql("CREATE TABLE txcat.ns.bk_a (k BIGINT, va STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE txcat.ns.bk_b (k BIGINT, vb STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO txcat.ns.bk_a " +
      "SELECT id, concat('a', id) FROM range(100)")
    spark.sql("INSERT INTO txcat.ns.bk_b " +
      "SELECT id, concat('b', id) FROM range(0, 100, 2)")
    // physical layout: every file sits under a _bkt=<id> hive dir; the
    // hidden column never surfaces in the logical schema or the rows
    val ta = TxLogTable(spark, s"$warehouse/ns/bk_a")
    assert(ta.entries(None).nonEmpty &&
      ta.entries(None).forall(_.rel.startsWith("_bkt=")))
    assert(spark.table("txcat.ns.bk_a").columns.toSeq == Seq("k", "va"))
    assert(spark.table("txcat.ns.bk_a").count() == 100)
    val prevConf = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.sql("""
        SELECT /*+ MERGE(a) */ a.k, a.va, b.vb
        FROM txcat.ns.bk_a a JOIN txcat.ns.bk_b b ON a.k = b.k""")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("TxLogSpjScan"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must plan zero shuffles:\n$plan")
      assert(j.count() == 50)
      // correctness: identical to the plain (shuffled) join row set
      val expect = (0L until 100L by 2).map(i => (i, s"a$i", s"b$i")).toSet
      assert(j.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet == expect)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prevConf)
    // maintenance keeps the layout: compact packs per bucket
    spark.sql("CALL txcat.system.compact('ns.bk_a')")
    assert(ta.fileCount() == 4 &&
      ta.entries(None).forall(_.rel.startsWith("_bkt=")))
    assert(spark.table("txcat.ns.bk_a").count() == 100)
    // the bucket key is load-bearing: rename/drop refuse
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE txcat.ns.bk_a RENAME COLUMN k TO kk") }
    assert(e.getMessage.contains("bucket key"))
    // an aggregation keyed on the bucket key equally skips its shuffle:
    // KeyGroupedPartitioning(bucket(4, k)) satisfies the clustered
    // distribution on k — the daily per-key rollup at 100 TB is
    // exchange-free too, not just the join
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = spark.sql(
        "SELECT k, count(*) AS n FROM txcat.ns.bk_a GROUP BY k")
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        agg.queryExecution.executedPlan.toString)
      assert(agg.collect().length == 100)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prevConf)
    // CTAS lands the same hidden layout
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk_ctas")
    spark.sql("CREATE TABLE txcat.ns.bk_ctas USING txlog " +
      "PARTITIONED BY (bucket(4, k)) AS " +
      "SELECT id AS k, concat('c', id) AS v FROM range(50)")
    val tc = TxLogTable(spark, s"$warehouse/ns/bk_ctas")
    assert(tc.entries(None).nonEmpty &&
      tc.entries(None).forall(_.rel.startsWith("_bkt=")))
    assert(spark.table("txcat.ns.bk_ctas").count() == 50)
  }

  test("bucketed tables: row-level DML keeps the hidden layout") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk_dml")
    spark.sql("CREATE TABLE txcat.ns.bk_dml (k BIGINT, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO txcat.ns.bk_dml " +
      "SELECT id, concat('v', id) FROM range(40)")
    val t = TxLogTable(spark, s"$warehouse/ns/bk_dml")
    spark.sql("UPDATE txcat.ns.bk_dml SET v = concat('U', v) WHERE k < 10")
    spark.sql("DELETE FROM txcat.ns.bk_dml WHERE k % 10 = 9")
    assert(t.entries(None).nonEmpty &&
      t.entries(None).forall(_.rel.startsWith("_bkt=")),
      "row-level rewrites must re-derive the hidden bucket layout")
    val rows = spark.sql("SELECT k, v FROM txcat.ns.bk_dml").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = (0L until 40L).filter(_ % 10 != 9).map(i =>
      (i, if (i < 10) s"Uv$i" else s"v$i")).toSet
    assert(rows == expect)
    // the rewritten files still key-group: the bucketed self-join stays
    // shuffle-free after DML
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.sql("""SELECT /*+ MERGE(a) */ a.k
        FROM txcat.ns.bk_dml a JOIN txcat.ns.bk_dml b ON a.k = b.k""")
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        j.queryExecution.executedPlan.toString)
      assert(j.count() == 36L)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("runtime DPP: a star join reads only the dim-selected partitions") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dppf")
    spark.sql("CREATE TABLE txcat.ns.dppf (id BIGINT, p INT) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.dppf " +
      "SELECT id, CAST(id % 20 AS INT) FROM range(20000)")
    import spark.implicits._
    // the dim must be FILE-backed: an in-memory local relation constant-
    // folds its filter away and DPP sees no selective predicate to reuse
    val dimPath = java.nio.file.Files.createTempDirectory("dppdim").toString
    Seq((3, "x"), (7, "x"), (11, "y")).toDF("p", "name")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dpp_dim")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    graft.sources.v2.TxLogSpjScan.lastRuntimePrune.set((0, 0))
    val q = spark.sql("""SELECT f.id, d.name FROM txcat.ns.dppf f
      JOIN dpp_dim d ON f.p = d.p WHERE d.name = 'x'""")
    assert(q.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() == 2000)
    // the scan really skipped files: only p=3 and p=7 dirs were read
    val (before, after) =
      graft.sources.v2.TxLogSpjScan.lastRuntimePrune.get()
    assert(before > after && after > 0,
      s"runtime prune must shrink the file set: $before -> $after")
    // soundness twin: a filter Spark can't hand over (no dim rows) still
    // answers right — untranslated/empty prunes never lose rows
    assert(spark.sql("SELECT count(*) FROM txcat.ns.dppf").head.getLong(0)
      == 20000L)
  }

  test("runtime file skip: star join on the BUCKET key reads only the " +
      "matching bucket dirs") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dfpf")
    spark.sql("CREATE TABLE txcat.ns.dfpf (id BIGINT, k INT) " +
      "USING txlog PARTITIONED BY (bucket(16, k))")
    spark.sql("INSERT INTO txcat.ns.dfpf " +
      "SELECT id, CAST(id % 25 AS INT) FROM range(20000)")
    import spark.implicits._
    val dimPath = java.nio.file.Files.createTempDirectory("dfpdim").toString
    Seq((3, "x"), (7, "x"), (11, "y")).toDF("k", "name")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dfp_dim")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    graft.sources.v2.TxLogSpjScan.lastRuntimePrune.set((0, 0))
    val q = spark.sql("""SELECT f.id, d.name FROM txcat.ns.dfpf f
      JOIN dfp_dim d ON f.k = d.k WHERE d.name = 'x'""")
    assert(q.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() == 1600) // k=3 and k=7: 800 ids each
    // the scan really skipped files: two key values hash to at most two
    // of the 16 hidden _bkt dirs — no hive partition on k anywhere
    val (before, after) =
      graft.sources.v2.TxLogSpjScan.lastRuntimePrune.get()
    assert(before > after && after > 0,
      s"bucket-hash runtime prune must shrink the file set: " +
        s"$before -> $after")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.dfpf").head.getLong(0)
      == 20000L)
  }

  test("runtime file skip keeps a sorted multi-file dir armed " +
      "(a subsequence of disjoint ranges is still disjoint)") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dfsort")
    spark.sql("CREATE TABLE txcat.ns.dfsort (k BIGINT, v STRING, p INT) " +
      "USING txlog PARTITIONED BY (p) " +
      "TBLPROPERTIES ('sortCols'='k', 'bloomCols'='k')")
    // three single-task appends with disjoint k ranges: one dir (p=0),
    // three range-disjoint files — the armed multi-file steady state
    Seq(0L, 1000L, 2000L).foreach { base =>
      spark.sql(s"INSERT INTO txcat.ns.dfsort " +
        s"SELECT id + $base, concat('v', id + $base), 0 " +
        s"FROM range(0, 1000, 1, 1)")
    }
    import spark.implicits._
    val dimPath = java.nio.file.Files.createTempDirectory("dfsortdim")
      .toString
    // keys from the FIRST and THIRD ranges: the middle file prunes at
    // runtime, and the surviving subsequence must stay armed (ordered
    // concatenation) — a regression here crashes planInputPartitions
    Seq((5L, "x"), (2500L, "x")).toDF("k", "name")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dfsort_dim")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    graft.sources.v2.TxLogSpjScan.lastRuntimePrune.set((0, 0))
    val q = spark.sql("""SELECT f.k, f.v FROM txcat.ns.dfsort f
      JOIN dfsort_dim d ON f.k = d.k WHERE d.name = 'x'""")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 2500L))
    val (before, after) =
      graft.sources.v2.TxLogSpjScan.lastRuntimePrune.get()
    assert(before == 3 && after == 2,
      s"middle range file must prune: $before -> $after")
  }

  test("hidden time partitioning: days(ts) lays out calendar dirs, " +
      "reads drop the hidden level, time ranges prune to the dirs") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.hpday")
    spark.sql("CREATE TABLE txcat.ns.hpday (id BIGINT, ts TIMESTAMP, " +
      "v DOUBLE) USING txlog PARTITIONED BY (days(ts))")
    // 96 hourly rows from 2024-01-01T00Z: exactly four calendar days,
    // plus one NULL instant (the hive default partition)
    spark.sql("INSERT INTO txcat.ns.hpday " +
      "SELECT id, timestamp_seconds(1704067200 + id * 3600), " +
      "CAST(id AS DOUBLE) FROM range(96)")
    spark.sql("INSERT INTO txcat.ns.hpday VALUES (999, NULL, 9.9)")
    val t = TxLogTable(spark, s"$warehouse/ns/hpday")
    val dirs = t.entries(None).map(_.rel.takeWhile(_ != '/')).distinct
    assert(dirs.sorted == Seq("_tp=2024-01-01", "_tp=2024-01-02",
      "_tp=2024-01-03", "_tp=2024-01-04",
      "_tp=__HIVE_DEFAULT_PARTITION__"), dirs.sorted)
    // the hidden level never surfaces
    val df = spark.sql("SELECT * FROM txcat.ns.hpday")
    assert(df.columns.toSeq == Seq("id", "ts", "v"))
    assert(df.count() == 97)
    // a one-day range is a manifest-only dir slice — no timestamp
    // footer stats needed, the derived segment bounds decide
    import org.apache.spark.sql.functions.{col, lit}
    val day2 = t.candidateFilesWhere(
      col("ts") >= lit(java.time.Instant.parse("2024-01-02T00:00:00Z")) &&
        col("ts") < lit(java.time.Instant.parse("2024-01-03T00:00:00Z")))
    assert(day2.nonEmpty &&
      day2.forall(_.startsWith("_tp=2024-01-02/")),
      s"one-day range must prune to its dir: $day2")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpday WHERE " +
      "ts >= '2024-01-02' AND ts < '2024-01-03'").head.getLong(0) == 24)
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpday WHERE " +
      "ts IS NULL").head.getLong(0) == 1)
    // row-level DML re-derives the hidden layout
    spark.sql("DELETE FROM txcat.ns.hpday WHERE id % 2 = 1 AND " +
      "ts < '2024-01-02'")
    assert(t.entries(None).forall(_.rel.startsWith("_tp=")))
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpday")
      .head.getLong(0) == 97 - 12)
    // DESCRIBE DETAIL names the transform
    val det = spark.sql("CALL txcat.system.detail('ns.hpday')")
      .collect().head
    assert(det.getAs[String]("bucket_spec") == "days(ts)")
    // guards: the source column is load-bearing
    intercept[Exception](spark.sql(
      "ALTER TABLE txcat.ns.hpday RENAME COLUMN ts TO ts2"))
    intercept[Exception](spark.sql(
      "ALTER TABLE txcat.ns.hpday DROP COLUMN ts"))
  }

  test("hidden time partitioning: zone-free derivation (a non-UTC " +
      "session writes the same dirs)") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.hpzone")
    spark.sql("CREATE TABLE txcat.ns.hpzone (id BIGINT, ts TIMESTAMP) " +
      "USING txlog PARTITIONED BY (hours(ts))")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      // 2024-06-01T23:30Z is 2024-06-02 08:30 in Tokyo: a session-zone
      // date_format would write tomorrow's dir
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      spark.sql("INSERT INTO txcat.ns.hpzone " +
        "SELECT 1, timestamp_seconds(1717284600)")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    val t = TxLogTable(spark, s"$warehouse/ns/hpzone")
    val dirs = t.entries(None).map(_.rel.takeWhile(_ != '/')).distinct
    assert(dirs == Seq("_tp=2024-06-01-23"), dirs)
  }

  test("partition spec evolution: days(ts) -> hours(ts) is metadata-" +
      "only, old files keep day dirs, pruning stays exact across the " +
      "mixed layout, compaction converges") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.hpevo")
    spark.sql("CREATE TABLE txcat.ns.hpevo (id BIGINT, ts TIMESTAMP, " +
      "v DOUBLE) USING txlog PARTITIONED BY (days(ts))")
    // two days of hourly rows under the DAY spec
    spark.sql("INSERT INTO txcat.ns.hpevo " +
      "SELECT id, timestamp_seconds(1704067200 + id * 3600), " +
      "CAST(id AS DOUBLE) FROM range(48)")
    val t = TxLogTable(spark, s"$warehouse/ns/hpevo")
    val dayFiles = t.entries(None).map(_.rel).toSet
    assert(dayFiles.forall(_.startsWith("_tp=2024-01-0")))
    // EVOLVE to hours — metadata-only: the data-file set is untouched
    val res = spark.sql(
      "CALL txcat.system.set_time_unit('ns.hpevo', 'ts', 'hour')")
      .collect().head
    assert(res.getBoolean(1),
      "day dirs under the hour spec: layout reports mixed immediately")
    assert(t.entries(None).map(_.rel).toSet == dayFiles,
      "spec evolution must not touch data files")
    // a post-evolution ingest lands in HOUR dirs; layout is now mixed
    spark.sql("INSERT INTO txcat.ns.hpevo " +
      "SELECT 100 + id, timestamp_seconds(1704240000 + id * 3600), " +
      "CAST(id AS DOUBLE) FROM range(3)") // 2024-01-03T00..02Z
    val newDirs = t.entries(None).map(_.rel.takeWhile(_ != '/'))
      .filterNot(d => dayFiles.exists(_.startsWith(d + "/"))).distinct
    assert(newDirs.sorted == Seq("_tp=2024-01-03-00",
      "_tp=2024-01-03-01", "_tp=2024-01-03-02"), newDirs.sorted)
    assert(t.timeUnitsMixed(t.latestVersion.get))
    import org.apache.spark.sql.functions.{col, lit}
    // sub-day range over the OLD day files: per-file-unit rendering
    // keeps the whole covering day as a candidate (no false prune)
    val sub = t.candidateFilesWhere(
      col("ts") >= lit(java.time.Instant.parse("2024-01-01T02:00:00Z")) &&
        col("ts") < lit(java.time.Instant.parse("2024-01-01T05:00:00Z")))
    assert(sub.nonEmpty && sub.forall(_.startsWith("_tp=2024-01-01/")),
      s"sub-day range must keep exactly the covering day: $sub")
    // hour range over the NEW files prunes to the hour dir
    val hr = t.candidateFilesWhere(
      col("ts") >= lit(java.time.Instant.parse("2024-01-03T01:00:00Z")) &&
        col("ts") < lit(java.time.Instant.parse("2024-01-03T02:00:00Z")))
    assert(hr.nonEmpty && hr.forall(_.startsWith("_tp=2024-01-03-01/")),
      s"hour range must prune to its hour dir: $hr")
    // cross-boundary COUNTs are exact across the mixture
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpevo WHERE " +
      "ts >= '2024-01-02' AND ts < '2024-01-03 02:00:00'")
      .head.getLong(0) == 26)
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpevo")
      .head.getLong(0) == 51)
    // compaction converges the whole layout to the NEW unit
    t.compact(spark.table("txcat.ns.hpevo").schema)
    assert(!t.timeUnitsMixed(t.latestVersion.get),
      "compaction must converge the layout")
    assert(t.entries(None).forall(_.rel.matches("""_tp=\d{4}-\d{2}-\d{2}-\d{2}/.*""")),
      s"all dirs hourly after compaction: ${t.entries(None).map(_.rel)}")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpevo")
      .head.getLong(0) == 51)
    // coarsening back is the same metadata commit
    t.alterTimeUnit("ts", "day")
    assert(t.timeUnitsMixed(t.latestVersion.get),
      "hour dirs under a day spec: mixed again")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpevo WHERE " +
      "ts >= '2024-01-01' AND ts < '2024-01-02'").head.getLong(0) == 24)
    // guard: unknown source refuses
    intercept[Exception](t.alterTimeUnit("nope", "day"))
  }

  test("runtime file skip: a TIMESTAMP join key prunes the " +
      "days(ts)-partitioned fact to the dim's window") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dfpt")
    spark.sql("CREATE TABLE txcat.ns.dfpt (id BIGINT, ts TIMESTAMP) " +
      "USING txlog PARTITIONED BY (days(ts))")
    // ten calendar days, 100 rows each, on exact hour boundaries so the
    // dim's instants can equality-match
    spark.sql("INSERT INTO txcat.ns.dfpt " +
      "SELECT id, timestamp_seconds(1704067200 + (id DIV 100) * 86400 " +
      "+ (id % 24) * 3600) FROM range(1000)")
    import spark.implicits._
    val dimPath = java.nio.file.Files.createTempDirectory("dfptdim")
      .toString
    // two instants inside day 3 (2024-01-04)
    Seq((java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-04T00:00:00Z")), "x"),
      (java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-04T05:00:00Z")), "x"))
      .toDF("ts", "name")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dfpt_dim")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    graft.sources.v2.TxLogSpjScan.lastRuntimePrune.set((0, 0))
    val q = spark.sql("""SELECT f.id FROM txcat.ns.dfpt f
      JOIN dfpt_dim d ON f.ts = d.ts WHERE d.name = 'x'""")
    assert(q.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() > 0) // exact count asserted below via the sound twin
    val (before, after) =
      graft.sources.v2.TxLogSpjScan.lastRuntimePrune.get()
    assert(before > after && after > 0,
      s"timestamp runtime prune must shrink the fact scan: " +
        s"$before -> $after")
    // soundness: result identical to the unpruned recompute
    val expect = spark.sql("""SELECT count(*) FROM txcat.ns.dfpt f
      WHERE f.ts IN (timestamp'2024-01-04 00:00:00',
                     timestamp'2024-01-04 05:00:00')""").head.getLong(0)
    assert(q.count() == expect, s"${q.count()} vs $expect")
  }

  test("hidden time partitioning composes with buckets: " +
      "days(ts) outer, bucket(k) innermost — the production fact layout") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.hpbkt")
    spark.sql("CREATE TABLE txcat.ns.hpbkt (k BIGINT, ts TIMESTAMP, " +
      "v DOUBLE) USING txlog " +
      "PARTITIONED BY (days(ts), bucket(4, k))")
    spark.sql("INSERT INTO txcat.ns.hpbkt " +
      "SELECT id, timestamp_seconds(1704067200 + (id DIV 50) * 86400), " +
      "CAST(id AS DOUBLE) FROM range(100)")
    val t = TxLogTable(spark, s"$warehouse/ns/hpbkt")
    // calendar level OUTER, hash level INNERMOST
    assert(t.entries(None).nonEmpty && t.entries(None).forall(e =>
      e.rel.matches("""_tp=2024-01-0[12]/_bkt=\d/.*""")),
      t.entries(None).map(_.rel).take(3).mkString(","))
    // both prunes compose: one day AND one key → one leaf dir's files
    import org.apache.spark.sql.functions.{col, lit}
    val hit = t.candidateFilesWhere(
      col("ts") >= lit(java.time.Instant.parse("2024-01-02T00:00:00Z")) &&
        col("ts") < lit(java.time.Instant.parse("2024-01-03T00:00:00Z")) &&
        col("k") === 60L)
    assert(hit.nonEmpty &&
      hit.map(r => r.split('/').init.mkString("/")).distinct.size == 1 &&
      hit.forall(_.startsWith("_tp=2024-01-02/")),
      s"day+key must prune to one leaf dir: $hit")
    assert(spark.sql(
      "SELECT count(*) FROM txcat.ns.hpbkt WHERE k = 60").head.getLong(0)
      == 1)
  }

  test("hidden time partitioning: day-scoped OPTIMIZE compacts one " +
      "calendar dir, carries the rest") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.hpopt")
    spark.sql("CREATE TABLE txcat.ns.hpopt (id BIGINT, ts TIMESTAMP) " +
      "USING txlog PARTITIONED BY (days(ts))")
    // several small appends per day → fragmented dirs
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO txcat.ns.hpopt " +
        s"SELECT id + ${i * 100}, timestamp_seconds(1704067200 + " +
        s"(id % 2) * 86400) FROM range(50)")
    }
    val t = TxLogTable(spark, s"$warehouse/ns/hpopt")
    val day1Before = t.entries(None)
      .count(_.rel.startsWith("_tp=2024-01-01/"))
    val day2Before = t.entries(None)
      .count(_.rel.startsWith("_tp=2024-01-02/"))
    assert(day1Before >= 3 && day2Before >= 3, "need fragmentation")
    val day2Files = t.entries(None)
      .filter(_.rel.startsWith("_tp=2024-01-02/")).map(_.rel).toSet
    // the hidden level is a partition column like any other: the
    // partition-scoped compaction proc targets one DAY of the table
    spark.sql("CALL txcat.system.compact('ns.hpopt', 1, " +
      "'_tp=2024-01-01')")
    val after = t.entries(None)
    assert(after.count(_.rel.startsWith("_tp=2024-01-01/")) == 1,
      s"day 1 must compact to one file: ${after.map(_.rel)}")
    // the untouched day's files carried BYTE-IDENTICAL by reference
    assert(after.filter(_.rel.startsWith("_tp=2024-01-02/"))
      .map(_.rel).toSet == day2Files,
      "day 2 must carry by manifest reference")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpopt")
      .head.getLong(0) == 150)
  }

  test("hidden time partitioning + sortCols: time-partitioned AND " +
      "time-sorted scans report an armed ordering") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.hpsort")
    spark.sql("CREATE TABLE txcat.ns.hpsort (id BIGINT, ts TIMESTAMP) " +
      "USING txlog PARTITIONED BY (days(ts)) " +
      "TBLPROPERTIES ('sortCols'='id')")
    spark.sql("INSERT INTO txcat.ns.hpsort " +
      "SELECT id, timestamp_seconds(1704067200 + (id DIV 50) * 86400) " +
      "FROM range(100)")
    // within each day dir the files are internally sorted by id and the
    // SPJ scan reports the ordering — a window/merge-join keyed on id
    // inside a day plans with no Sort
    val df = spark.sql("SELECT id FROM txcat.ns.hpsort")
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    val ordering = scan.outputOrdering.map(_.sql).mkString(",")
    assert(ordering.contains("id"),
      s"sorted time-partitioned scan must report its order: " +
        s"'$ordering' in\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(_.getLong(0)).toSet == (0L until 100L).toSet)
  }

  test("hidden time partitioning: streaming ingest derives the calendar " +
      "dirs through the same chokepoint") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.hpstream")
    spark.sql("CREATE TABLE txcat.ns.hpstream (id BIGINT, ts TIMESTAMP) " +
      "USING txlog PARTITIONED BY (days(ts))")
    // a txlog source table feeding the stream: two calendar days
    val src = TxLogTable(spark,
      java.nio.file.Files.createTempDirectory("hpstream-src")
        .resolve("t").toString)
    src.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType))))
    src.commit(spark.sql(
      "SELECT id, timestamp_seconds(1704067200 + id * 43200) AS ts " +
        "FROM range(4)"), overwrite = false) // 2024-01-01 ×2, 01-02 ×2
    val ckpt = java.nio.file.Files.createTempDirectory("hpstream-ck")
      .toString
    val q = spark.readStream.format("txlog").load(src.root)
      .writeStream.format("txlog")
      .option("path", s"$warehouse/ns/hpstream")
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val t = TxLogTable(spark, s"$warehouse/ns/hpstream")
    val dirs = t.entries(None).map(_.rel.takeWhile(_ != '/')).distinct
    assert(dirs.sorted == Seq("_tp=2024-01-01", "_tp=2024-01-02"),
      s"streamed rows must land in hidden calendar dirs: $dirs")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.hpstream")
      .head.getLong(0) == 4)
  }

  test("runtime file skip: Bloomed non-partition key prunes by " +
      "manifest stats") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dfps")
    // partitioned on an UNRELATED column (the hive-partitioned read path
    // is the V2 scan that accepts runtime filters); the join key k is a
    // plain data column whose pruning power is all manifest stats
    spark.sql("CREATE TABLE txcat.ns.dfps (k BIGINT, v STRING, p INT) " +
      "USING txlog PARTITIONED BY (p) TBLPROPERTIES ('bloomCols'='k')")
    // three appends with DISJOINT key ranges: the manifest min/max (and
    // blooms) separate the files even though k is not partitioned
    Seq(0L, 1000L, 2000L).foreach { base =>
      spark.sql(s"INSERT INTO txcat.ns.dfps " +
        s"SELECT id + $base, concat('v', id + $base), " +
        s"CAST(id % 2 AS INT) FROM range(1000)")
    }
    import spark.implicits._
    val dimPath = java.nio.file.Files.createTempDirectory("dfpsdim").toString
    Seq((5L, "x"), (17L, "x"), (2500L, "y")).toDF("k", "name")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dfps_dim")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    graft.sources.v2.TxLogSpjScan.lastRuntimePrune.set((0, 0))
    val q = spark.sql("""SELECT f.k, f.v FROM txcat.ns.dfps f
      JOIN dfps_dim d ON f.k = d.k WHERE d.name = 'x'""")
    assert(q.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      q.queryExecution.executedPlan.toString)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 17L))
    // keys 5 and 17 live in the FIRST append's range only: the ranges
    // (or blooms) of the other appends' files exclude them
    val (before, after) =
      graft.sources.v2.TxLogSpjScan.lastRuntimePrune.get()
    assert(before > after && after > 0,
      s"stats runtime prune must shrink the file set: $before -> $after")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.dfps").head.getLong(0)
      == 3000L)
  }

  test("bucketed point lookup prunes to the key's one bucket dir") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk_pt")
    spark.sql("CREATE TABLE txcat.ns.bk_pt (k BIGINT, s STRING, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO txcat.ns.bk_pt " +
      "SELECT id, concat('s', id), concat('v', id) FROM range(800)")
    val t = TxLogTable(spark, s"$warehouse/ns/bk_pt")
    val all = t.entries(None).map(_.rel)
    import org.apache.spark.sql.functions.col
    // k = 17 hashes to ONE bucket: only that _bkt dir's files survive
    val hit = t.candidateFilesWhere(col("k") === 17L)
    assert(hit.nonEmpty && hit.size < all.size,
      s"point lookup must bucket-prune: ${hit.size} of ${all.size}")
    val dirs = hit.map(_.takeWhile(_ != '/')).toSet
    assert(dirs.size == 1, s"one bucket dir expected, got $dirs")
    // IN over two keys reaches at most two dirs
    val in2 = t.candidateFilesWhere(col("k").isin(17L, 399L))
      .map(_.takeWhile(_ != '/')).toSet
    assert(in2.size <= 2 && in2.nonEmpty)
    // the pruned read still answers exactly (DML point-delete path too)
    spark.sql("DELETE FROM txcat.ns.bk_pt WHERE k = 17")
    assert(spark.table("txcat.ns.bk_pt").count() == 799)
    assert(spark.sql(
      "SELECT count(*) FROM txcat.ns.bk_pt WHERE k = 17")
      .head().getLong(0) == 0L)
    // a NON-key predicate and a range predicate prune nothing (sound):
    // hash scatter makes min/max useless, and the prune must not fire
    assert(t.candidateFilesWhere(col("k") > 100L).size ==
      t.entries(None).size)
    // a string-typed bucket key prunes through the same hash
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk_pts")
    spark.sql("CREATE TABLE txcat.ns.bk_pts (s STRING, v BIGINT) " +
      "USING txlog PARTITIONED BY (bucket(8, s))")
    spark.sql("INSERT INTO txcat.ns.bk_pts " +
      "SELECT concat('key', id), id FROM range(800)")
    val ts = TxLogTable(spark, s"$warehouse/ns/bk_pts")
    val shit = ts.candidateFilesWhere(col("s") === "key17")
      .map(_.takeWhile(_ != '/')).toSet
    assert(shit.size == 1, s"string key must bucket-prune: $shit")
    assert(spark.sql(
      "SELECT v FROM txcat.ns.bk_pts WHERE s = 'key17'")
      .head().getLong(0) == 17L)
  }

  test("mixed layout: identity levels over an innermost bucket level") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.mx_a")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.mx_b")
    for (t <- Seq("mx_a", "mx_b")) {
      spark.sql(s"CREATE TABLE txcat.ns.$t (day INT, k BIGINT, v STRING) " +
        "USING txlog PARTITIONED BY (day, bucket(4, k))")
      spark.sql(s"INSERT INTO txcat.ns.$t " +
        "SELECT CAST(id % 3 AS INT), id, concat('v', id) FROM range(120)")
    }
    val ta = TxLogTable(spark, s"$warehouse/ns/mx_a")
    // hive nesting: day=<d>/_bkt=<b>/file
    assert(ta.entries(None).nonEmpty && ta.entries(None).forall { e =>
      val segs = e.rel.split('/')
      segs(0).startsWith("day=") && segs(1).startsWith("_bkt=") })
    // static identity prune + bucket point prune COMPOSE: day=1 AND k=7
    // reaches exactly one (day, bucket) leaf dir
    import org.apache.spark.sql.functions.col
    val hit = ta.candidateFilesWhere(col("day") === 1 && col("k") === 7L)
      .map(r => r.split('/').take(2).mkString("/")).toSet
    assert(hit.size <= 1, s"one leaf dir expected, got $hit")
    assert(spark.sql(
      "SELECT v FROM txcat.ns.mx_a WHERE day = 1 AND k = 7")
      .head().getString(0) == "v7")
    // same-layout SPJ join on BOTH levels plans zero shuffles
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.sql("""SELECT /*+ MERGE(a) */ a.k
        FROM txcat.ns.mx_a a JOIN txcat.ns.mx_b b
        ON a.day = b.day AND a.k = b.k""")
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        j.queryExecution.executedPlan.toString)
      assert(j.count() == 120)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
    // DML keeps both levels
    spark.sql("DELETE FROM txcat.ns.mx_a WHERE k % 10 = 0")
    assert(spark.table("txcat.ns.mx_a").count() == 108)
    assert(ta.entries(None).forall { e =>
      val segs = e.rel.split('/')
      segs(0).startsWith("day=") && segs(1).startsWith("_bkt=") })
    // the backfill idiom: static partition overwrite of ONE day carries
    // every other day's files (all their buckets) by reference
    val untouched = ta.entries(None).map(_.rel)
      .filterNot(_.startsWith("day=1/")).toSet
    spark.sql("INSERT OVERWRITE txcat.ns.mx_b PARTITION (day = 1) " +
      "SELECT k, concat('B', v) FROM txcat.ns.mx_a WHERE day = 1")
    val tb = TxLogTable(spark, s"$warehouse/ns/mx_b")
    assert(tb.history().last.op.contains("replace-where"))
    spark.sql("INSERT OVERWRITE txcat.ns.mx_a PARTITION (day = 1) " +
      "SELECT k, concat('A', v) FROM txcat.ns.mx_a WHERE day = 1")
    assert(untouched.subsetOf(ta.entries(None).map(_.rel).toSet),
      "overwrite of day=1 must carry the other days' bucket files")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.mx_a " +
      "WHERE day = 1 AND v LIKE 'A%'").head().getLong(0) == 36L)
  }

  test("bucketed: null keys land in the seed bucket and never join") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk_null")
    spark.sql("CREATE TABLE txcat.ns.bk_null (k BIGINT, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO txcat.ns.bk_null VALUES " +
      "(1, 'a'), (NULL, 'n1'), (NULL, 'n2')")
    val t = TxLogTable(spark, s"$warehouse/ns/bk_null")
    // xxhash64(null) leaves the seed: nulls land in _bkt=pmod(42, 4)=2 —
    // a DATA bucket, never a hive null sentinel (the id is derived, not
    // the key), so partition discovery stays uniform
    assert(t.entries(None).forall(_.rel.startsWith("_bkt=")))
    assert(spark.table("txcat.ns.bk_null").count() == 3)
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.sql("""SELECT /*+ MERGE(a) */ a.v
        FROM txcat.ns.bk_null a JOIN txcat.ns.bk_null b ON a.k = b.k""")
      assert(j.collect().map(_.getString(0)).toSeq == Seq("a"),
        "null keys must not equi-join")
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("bucketed join aligns a non-bucketed side via the V2 function") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk_one")
    spark.sql("CREATE TABLE txcat.ns.bk_one (k BIGINT, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO txcat.ns.bk_one " +
      "SELECT id, concat('v', id) FROM range(200)")
    import spark.implicits._
    (0L until 200L by 4).toDF("k").createOrReplaceTempView("probe_keys")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.sql("""SELECT /*+ MERGE(t) */ t.k, t.v
        FROM txcat.ns.bk_one t JOIN probe_keys p ON t.k = p.k""")
      val plan = j.queryExecution.executedPlan.toString
      // exactly ONE exchange — the probe side shuffles INTO the table's
      // bucket layout by evaluating TxLogBucketFunction.produceResult;
      // the 200-row bucketed fact side never moves. The row set proves
      // the evaluated hash agrees with the written layout.
      assert(plan.contains("TxLogSpjScan"), plan)
      assert(plan.split("Exchange").length - 1 == 1,
        s"expected exactly one exchange (probe side only):\n$plan")
      assert(j.collect().map(_.getLong(0)).toSet ==
        (0L until 200L by 4).toSet)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("restore rolls back data AND schema; vacuumed targets refuse") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rst")
    spark.sql("CREATE TABLE txcat.ns.rst (id BIGINT, v STRING) USING txlog")
    spark.sql("INSERT INTO txcat.ns.rst VALUES (1, 'a'), (2, 'b')")
    val t = TxLogTable(spark, s"$warehouse/ns/rst")
    val good = t.latestVersion.get
    // damage: a schema evolution AND a bad delete after the good version
    spark.sql("ALTER TABLE txcat.ns.rst RENAME COLUMN v TO w")
    spark.sql("DELETE FROM txcat.ns.rst WHERE id = 1")
    assert(spark.table("txcat.ns.rst").columns.toSeq == Seq("id", "w"))
    spark.sql(s"CALL txcat.system.restore('ns.rst', $good)")
    // Delta's RESTORE contract: metadata (the pre-rename schema) comes
    // back with the data — the colmap and schema lines are the target's
    assert(spark.table("txcat.ns.rst").columns.toSeq == Seq("id", "v"))
    assert(spark.sql("SELECT id, v FROM txcat.ns.rst ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // the damage stays visible to time travel (history, not truncation)
    assert(spark.sql(
      s"SELECT * FROM txcat.ns.rst VERSION AS OF ${good + 2}").count() == 1)
    // a vacuumed target refuses with the surviving-versions message
    t.vacuum(keep = 1, minAgeMillis = 0, retainMillis = 0)
    val e = intercept[Exception] {
      spark.sql(s"CALL txcat.system.restore('ns.rst', $good)").collect() }
    assert(e.getMessage.contains("vacuumed or never existed"))
  }

  test("clone is zero-copy, independent, and refuses an existing dest") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.cl_src")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.cl_dst")
    spark.sql("CREATE TABLE txcat.ns.cl_src (id BIGINT, p INT) " +
      "USING txlog PARTITIONED BY (p)")
    spark.sql("INSERT INTO txcat.ns.cl_src " +
      "SELECT id, CAST(id % 3 AS INT) FROM range(30)")
    spark.sql("CALL txcat.system.clone('ns.cl_src', 'ns.cl_dst')")
    // catalog sees the clone immediately; layout and rows are the source's
    assert(spark.sql("SHOW TABLES IN txcat.ns").collect()
      .map(_.getString(1)).contains("cl_dst"))
    assert(spark.table("txcat.ns.cl_dst").count() == 30)
    val src = TxLogTable(spark, s"$warehouse/ns/cl_src")
    val dst = TxLogTable(spark, s"$warehouse/ns/cl_dst")
    assert(dst.entries(None).map(_.rel).toSet ==
      src.entries(None).map(_.rel).toSet)
    assert(src.entries(None).forall { e =>
      Files.isSameFile(
        java.nio.file.Paths.get(s"$warehouse/ns/cl_src/data/${e.rel}"),
        java.nio.file.Paths.get(s"$warehouse/ns/cl_dst/data/${e.rel}")) })
    // independence both ways: source delete + clone append don't leak
    spark.sql("DELETE FROM txcat.ns.cl_src WHERE id % 2 = 0")
    spark.sql("INSERT INTO txcat.ns.cl_dst VALUES (100, 0)")
    assert(spark.table("txcat.ns.cl_dst").count() == 31)
    assert(spark.table("txcat.ns.cl_src").count() == 15)
    // source vacuum after its delete unlinks ITS rewritten names only —
    // the clone still reads every original row through its own links
    src.vacuum(keep = 1, minAgeMillis = 0, retainMillis = 0)
    assert(spark.table("txcat.ns.cl_dst").count() == 31)
    val e = intercept[Exception] {
      spark.sql("CALL txcat.system.clone('ns.cl_src', 'ns.cl_dst')")
        .collect() }
    assert(e.getMessage.contains("already exists"))
  }

  test("CALL optimize: incremental small-file compaction carries the " +
      "consolidated bulk") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.opt")
    spark.sql("CREATE TABLE txcat.ns.opt (id BIGINT, v STRING) " +
      "USING txlog")
    val t = TxLogTable(spark, s"$warehouse/ns/opt")
    // one consolidated file, then a burst of tiny appends
    t.commit(spark.range(0, 50000).selectExpr("id",
      "repeat(cast(id as string), 8) as v").coalesce(1), overwrite = true)
    (0 until 6).foreach(i => t.commit(
      spark.range(50000 + i * 10, 50000 + (i + 1) * 10)
        .selectExpr("id", "cast(id as string) as v").coalesce(1),
      overwrite = false))
    val before = t.fileCount()
    // threshold = the consolidated file's own size: everything strictly
    // smaller (the 6 tiny appends) rewrites, the bulk is carried
    val bigBytes = t.fileSizes(None).map(_._2).max
    val r = spark.sql(
      s"CALL txcat.system.optimize('ns.opt', $bigBytes)").collect().head
    // the 6 tiny files packed into one; the big file carried untouched
    assert(r.getInt(1) == 6 && r.getInt(2) == 1,
      s"expected 6 rewritten / 1 carried, got $r")
    assert(t.fileCount() < before)
    assert(spark.table("txcat.ns.opt").count() == 50060)
    // idempotent steady state: nothing small left → no-op result
    val r2 = spark.sql(
      "CALL txcat.system.optimize('ns.opt', 1024)").collect().head
    assert(r2.getInt(1) == 0)
  }

  test("SPJ scan reports manifest statistics (bytes + exact rows)") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.st_a")
    spark.sql("CREATE TABLE txcat.ns.st_a (k BIGINT, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO txcat.ns.st_a " +
      "SELECT id, concat('v', id) FROM range(1000)")
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      import graft.sources.v2.{TxLogSpjScan, TxLogV2Table}
      val tbl = TxLogV2Table(spark, s"$warehouse/ns/st_a", "ns.st_a")
      val scan = new TxLogSpjScan(spark, tbl, tbl.schema,
        Array.empty[org.apache.spark.sql.sources.Filter])
      val st = scan.estimateStatistics()
      val t = TxLogTable(spark, s"$warehouse/ns/st_a")
      val wantBytes = t.fileSizes(None).map(_._2).sum
      assert(st.sizeInBytes.getAsLong == wantBytes && wantBytes > 0)
      assert(st.numRows.getAsLong == 1000L,
        s"manifest row stats must be exact: ${st.numRows}")
      // a pruned scan reports the pruned subset's stats, not the table's
      import org.apache.spark.sql.sources.EqualTo
      val pruned = new TxLogSpjScan(spark, tbl, tbl.schema,
        Array(EqualTo("k", 17L)))
      assert(pruned.estimateStatistics().sizeInBytes.getAsLong < wantBytes,
        "bucket point prune must shrink reported stats")
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("sorted tables: MOR tombstones stage without the sort columns; " +
      "a layout-changing overwrite sheds the stale specs") {
    import spark.implicits._
    // (1) deleteByKeysMor stages a KEYS-ONLY frame — the staging sort
    // must not demand columns a tombstone doesn't carry
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srtmor")
    spark.sql("CREATE TABLE txcat.ns.srtmor (id BIGINT, ts BIGINT, " +
      "v STRING) USING txlog PARTITIONED BY (bucket(4, id)) " +
      "TBLPROPERTIES ('sortCols'='ts')")
    spark.sql("INSERT INTO txcat.ns.srtmor SELECT id, id * 10, " +
      "concat('v', id) FROM range(40)")
    val t = TxLogTable(spark, s"$warehouse/ns/srtmor")
    t.deleteByKeysMor(Seq(1L, 3L).toDF("id"))
    assert(spark.table("txcat.ns.srtmor").count() == 38)
    // (2) overwrite to an UNPARTITIONED layout must shed #bucketSpec and
    // #sortCols — a stale spec would fail every later row-level DML with
    // a phantom "concurrent rebucket" and sort writes that no longer
    // flow through a partitioned staging layout
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srtflat")
    spark.sql("CREATE TABLE txcat.ns.srtflat (id BIGINT, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, id)) " +
      "TBLPROPERTIES ('sortCols'='id')")
    spark.sql("INSERT INTO txcat.ns.srtflat " +
      "SELECT id, concat('v', id) FROM range(30)")
    val tf = TxLogTable(spark, s"$warehouse/ns/srtflat")
    val schema = tf.tableSchema.get
    tf.commit((0L until 30L).map(i => (i, s"w$i")).toDF("id", "v"),
      overwrite = true) // re-layout: unpartitioned
    assert(tf.latestVersion.map(tf.bucketSpecsOf).contains(Nil),
      "stale bucket spec must not survive a layout-changing overwrite")
    assert(tf.latestVersion.map(tf.sortColsOf).contains(Nil))
    // row-level DML on the re-laid-out table: no phantom conflict
    spark.sql("UPDATE txcat.ns.srtflat SET v = concat('U', v) " +
      "WHERE id < 5")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.srtflat " +
      "WHERE v LIKE 'U%'").head().getLong(0) == 5L)
    // a same-layout overwrite KEEPS the specs
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srtkeep")
    spark.sql("CREATE TABLE txcat.ns.srtkeep (id BIGINT, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, id)) " +
      "TBLPROPERTIES ('sortCols'='id')")
    spark.sql("INSERT INTO txcat.ns.srtkeep " +
      "SELECT id, concat('v', id) FROM range(30)")
    spark.sql("INSERT OVERWRITE txcat.ns.srtkeep " +
      "SELECT id, concat('w', id) FROM range(30)")
    val tk = TxLogTable(spark, s"$warehouse/ns/srtkeep")
    assert(tk.latestVersion.map(tk.bucketSpecsOf)
      .contains(Seq(("id", 4))))
    assert(tk.latestVersion.map(tk.sortColsOf).contains(Seq("id")))
  }

  test("sortCols compose with an identity partition layout too") {
    // the sort is a property of the staging chokepoint, not of
    // bucketing: a date-partitioned sorted table's files are internally
    // ordered, the SPJ scan reports the ordering once compacted, and a
    // same-layout join skips Sorts the same way
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_id_a")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_id_b")
    spark.sql("CREATE TABLE txcat.ns.srt_id_a (p INT, k BIGINT, " +
      "v STRING) USING txlog PARTITIONED BY (p) " +
      "TBLPROPERTIES ('sortCols'='k')")
    spark.sql("CREATE TABLE txcat.ns.srt_id_b (p INT, k BIGINT, " +
      "w STRING) USING txlog PARTITIONED BY (p) " +
      "TBLPROPERTIES ('sortCols'='k')")
    spark.sql("INSERT INTO txcat.ns.srt_id_a SELECT CAST(id % 4 AS INT), " +
      "id, concat('a', id) FROM range(200)")
    spark.sql("INSERT INTO txcat.ns.srt_id_b SELECT CAST(id % 4 AS INT), " +
      "id, concat('b', id) FROM range(0, 200, 2)")
    spark.sql("CALL txcat.system.compact('ns.srt_id_a')")
    spark.sql("CALL txcat.system.compact('ns.srt_id_b')")
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // join ON the partition column: identity SPJ co-locates on p, and
      // the reported ordering leads with p (constant per task — one dir
      // per task once compacted) so the merge join needs no Sort either
      val j = spark.sql("""SELECT /*+ MERGE(a) */ a.p, a.k, a.va
        FROM (SELECT p, k, v AS va FROM txcat.ns.srt_id_a) a
        JOIN txcat.ns.srt_id_b b ON a.p = b.p""")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(!plan.contains("Sort "),
        s"partition-led ordering must satisfy the merge join:\n$plan")
      assert(j.count() == 5000) // 2 co-located parts × 50 × 50
      // files internally ordered by k within each p dir
      val t = TxLogTable(spark, s"$warehouse/ns/srt_id_a")
      val rel = t.entries(None).head.rel
      val ks = spark.read
        .parquet(s"$warehouse/ns/srt_id_a/data/$rel")
        .select("k").collect().map(_.getLong(0))
      assert(ks.sameElements(ks.sorted))
      // a WINDOW over (PARTITION BY p ORDER BY k) consumes both the
      // key-grouped clustering and the reported ordering: no Exchange,
      // no Sort — the per-partition running total at 100 TB reads the
      // layout and computes, nothing else
      val w = spark.sql("""SELECT p, k,
          sum(k) OVER (PARTITION BY p ORDER BY k) AS run
        FROM txcat.ns.srt_id_a""")
      val wp = w.queryExecution.executedPlan.toString
      assert(wp.contains("Window"), wp)
      assert(!wp.contains("Exchange") && !wp.contains("Sort "),
        s"window over the sorted layout must add no Exchange/Sort:\n$wp")
      assert(w.count() == 200)
      // correctness: running sums match the definition
      val got = w.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val expect = (0 until 4).flatMap { p =>
        val ks2 = (0L until 200L).filter(_ % 4 == p).sorted
        ks2.scanLeft(0L)(_ + _).tail.zip(ks2).map { case (run, k) =>
          (p, k, run) }
      }.toSet
      assert(got == expect)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("multi-file sorted arming: range-disjoint appends need no compact") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_mf_a")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_mf_b")
    for (t <- Seq("srt_mf_a", "srt_mf_b"))
      spark.sql(s"CREATE TABLE txcat.ns.$t (k BIGINT, v BIGINT) " +
        "USING txlog PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('sortCols'='k')")
    // two appends with DISJOINT k ranges — time-ordered ingest shape:
    // each bucket dir ends with TWO files, [0,200) then [200,400)
    for (t <- Seq("srt_mf_a", "srt_mf_b"); lo <- Seq(0, 200))
      spark.sql(s"INSERT INTO txcat.ns.$t " +
        s"SELECT id, id * 10 FROM range($lo, ${lo + 200})")
    // the sorted staging path range-partitions within each bucket, so
    // every dir holds SEVERAL files per insert — all range-disjoint
    val ta = TxLogTable(spark, s"$warehouse/ns/srt_mf_a")
    val perDir = ta.entries(None).groupBy(_.rel.split('/').head)
    assert(perDir.nonEmpty && perDir.values.forall(_.size > 1),
      s"expected multi-file bucket dirs: ${perDir.view.mapValues(_.size).toMap}")
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // NO compact: the per-file k ranges are pairwise disjoint in every
      // dir, so the scan reports the ordering and the merge join plans
      // zero Sort and zero Exchange over the multi-file buckets
      val j = spark.sql("""SELECT /*+ MERGE(a) */ a.k, a.v, b.v AS w
        FROM txcat.ns.srt_mf_a a JOIN txcat.ns.srt_mf_b b ON a.k = b.k""")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("TxLogSpjScan"),
        plan)
      assert(!plan.contains("Exchange"), plan)
      assert(!plan.contains("Sort "),
        s"disjoint multi-file buckets must arm the ordering:\n$plan")
      assert(j.count() == 400)
      // each task concatenates its files in range order: a window's
      // running sum over the armed ordering is CORRECT, not just planned
      val w = spark.sql("""SELECT k, sum(v) OVER (ORDER BY k) AS run
        FROM txcat.ns.srt_mf_a WHERE k < 3""")
      assert(w.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((0L, 0L), (1L, 10L), (2L, 30L)))

      // negative control: OVERLAPPING appends must report nothing — the
      // concatenation of two sorted-but-overlapping files is not sorted,
      // and a false ordering would make the merge join silently wrong
      spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_mf_c")
      spark.sql("CREATE TABLE txcat.ns.srt_mf_c (k BIGINT, v BIGINT) " +
        "USING txlog PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('sortCols'='k')")
      spark.sql("INSERT INTO txcat.ns.srt_mf_c " +
        "SELECT id, id * 10 FROM range(0, 300)")
      spark.sql("INSERT INTO txcat.ns.srt_mf_c " +
        "SELECT id, id * 10 + 1 FROM range(200, 400)") // overlaps [200,300)
      val jo = spark.sql("""SELECT /*+ MERGE(a) */ a.k
        FROM txcat.ns.srt_mf_a a JOIN txcat.ns.srt_mf_c c ON a.k = c.k""")
      val po = jo.queryExecution.executedPlan.toString
      assert(po.contains("Sort "),
        s"overlapping ranges must NOT arm the ordering:\n$po")
      assert(jo.count() == 500) // 400 + the 100 duplicated overlap keys
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("null sort keys arm only in the range-minimal file") {
    // parquet computes min/max over NON-NULL values only: a file holding
    // {null, 60..100} reports range [60,100]. Disjointness alone would
    // then arm {1..50} + {null, 60..100} and the concatenated task emits
    // the null MID-stream while the scan declares ascending-nulls-first —
    // a silently wrong window/merge-join. Nulls must disarm any file that
    // is not the range-minimal one (whose internal nulls-first order
    // legitimately opens the stream).
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      def joinPlan(t: String): String = spark.sql(
        s"""SELECT /*+ MERGE(a) */ a.k
           FROM txcat.ns.$t a JOIN txcat.ns.$t b ON a.k = b.k""")
        .queryExecution.executedPlan.toString

      // NEGATIVE: nulls arrive in the SECOND (range-maximal) append
      spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_nul")
      spark.sql("CREATE TABLE txcat.ns.srt_nul (k BIGINT, v BIGINT) " +
        "USING txlog PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('sortCols'='k')")
      spark.sql("INSERT INTO txcat.ns.srt_nul " +
        "SELECT id, id * 10 FROM range(1, 51)")
      spark.sql("INSERT INTO txcat.ns.srt_nul " +
        "SELECT CASE WHEN id = 59 THEN CAST(NULL AS BIGINT) ELSE id END, " +
        "id * 10 FROM range(59, 101)")
      assert(joinPlan("srt_nul").contains("Sort "),
        "a null sort key in a non-minimal file must disarm:\n" +
          joinPlan("srt_nul"))
      // resort heals it: the rewrite range-splits nulls-first, so the
      // null lands in its dir's range-minimal file and the dir re-arms
      val r1 = spark.sql("CALL txcat.system.resort('ns.srt_nul')")
        .collect().head
      assert(r1.getInt(1) > 0, s"null dir must be detected as damaged: $r1")
      assert(!joinPlan("srt_nul").contains("Sort "),
        s"resort must re-arm the null dir:\n${joinPlan("srt_nul")}")
      val r2 = spark.sql("CALL txcat.system.resort('ns.srt_nul')")
        .collect().head
      assert(r2.getInt(1) == 0, s"healed table must converge: $r2")
      assert(spark.sql("SELECT count(*) FROM txcat.ns.srt_nul " +
        "WHERE k IS NULL").head.getLong(0) == 1)

      // POSITIVE: nulls in the FIRST (range-minimal) append arm — each
      // file is internally nulls-first, so the minimal file's nulls
      // open the concatenated stream in declared order
      spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_nulok")
      spark.sql("CREATE TABLE txcat.ns.srt_nulok (k BIGINT, v BIGINT) " +
        "USING txlog PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('sortCols'='k')")
      spark.sql("INSERT INTO txcat.ns.srt_nulok " +
        "SELECT CASE WHEN id = 0 THEN CAST(NULL AS BIGINT) ELSE id END, " +
        "id * 10 FROM range(0, 51)")
      spark.sql("INSERT INTO txcat.ns.srt_nulok " +
        "SELECT id, id * 10 FROM range(60, 101)")
      assert(!joinPlan("srt_nulok").contains("Sort "),
        "nulls confined to the range-minimal file must stay armed:\n" +
          joinPlan("srt_nulok"))
      // null join keys never match: 50 + 41 non-null self-join rows
      assert(spark.sql(
        """SELECT /*+ MERGE(a) */ a.k FROM txcat.ns.srt_nulok a
           JOIN txcat.ns.srt_nulok b ON a.k = b.k""").count() == 91)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("CALL resort re-arms a damaged sorted table by rewriting ONLY " +
      "the overlapping dirs") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rst")
    spark.sql("CREATE TABLE txcat.ns.rst (k BIGINT, v BIGINT) " +
      "USING txlog PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('sortCols'='k')")
    // ordered ingest arms every bucket dir
    spark.sql("INSERT INTO txcat.ns.rst " +
      "SELECT id, id * 10 FROM range(0, 400) ORDER BY id")
    val t = TxLogTable(spark, s"$warehouse/ns/rst")
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      def joinPlan: String = spark.sql(
        """SELECT /*+ MERGE(a) */ a.k, a.v, b.v AS w
           FROM txcat.ns.rst a JOIN txcat.ns.rst b ON a.k = b.k""")
        .queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Sort ") && !joinPlan.contains("Exchange"),
        joinPlan)
      // an OVERLAPPING append de-arms — but only the dirs it hits:
      // keys chosen to hash into bucket 0 ONLY (engine hash), so 3 of
      // the 4 dirs stay armed and must survive the resort by reference
      val bkt0 = spark.range(100, 300).toDF("id")
        .filter(TxLogTable.bucketIdCol("id", 4) === 0)
        .collect().map(_.getLong(0))
      assert(bkt0.length > 1)
      spark.sql("INSERT INTO txcat.ns.rst " +
        s"SELECT id, id * 10 + 1 FROM range(100, 300) " +
        s"WHERE id IN (${bkt0.mkString(",")}) ORDER BY id")
      assert(joinPlan.contains("Sort "),
        "overlapping append must de-arm the ordering")
      // resort rewrites ONLY damaged dirs: armed files survive by name
      val before = t.entries(None).map(_.rel).toSet
      val armedBefore = before.filterNot(_.startsWith("_bkt=0/"))
      val r = spark.sql("CALL txcat.system.resort('ns.rst')")
        .collect().head
      assert(r.getInt(1) > 0, s"must rewrite something: $r")
      val after = t.entries(None).map(_.rel).toSet
      assert(armedBefore.subsetOf(after),
        s"armed dirs must carry by reference: missing " +
          s"${armedBefore -- after}")
      assert(before.filter(_.startsWith("_bkt=0/"))
        .forall(f => !after.contains(f)),
        "the damaged dir must be fully rewritten")
      // re-armed: the merge join is Sort-free again, rows unchanged
      assert(!joinPlan.contains("Sort "),
        s"resort must re-arm the ordering:\n$joinPlan")
      assert(spark.sql("SELECT count(*) FROM txcat.ns.rst")
        .head.getLong(0) == 400L + bkt0.length)
      // convergence: a second resort is a version-preserving no-op
      val v1 = t.latestVersion.get
      val r2 = spark.sql("CALL txcat.system.resort('ns.rst')")
        .collect().head
      assert(r2.getInt(0) == v1 && r2.getInt(1) == 0,
        s"fully-armed table must be a no-op: $r2")
      // the rewrite is row-preserving: the change feed skips it
      assert(t.changesBetween(t.tableSchema.get, v1 - 1, v1,
        skipRewrites = true).count() == 0,
        "resort must be invisible to streaming consumers")
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("resort re-arms identity-partitioned sorted layouts too") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rsti")
    spark.sql("CREATE TABLE txcat.ns.rsti (p INT, k BIGINT, v BIGINT) " +
      "USING txlog PARTITIONED BY (p) TBLPROPERTIES ('sortCols'='k')")
    spark.sql("INSERT INTO txcat.ns.rsti SELECT CAST(id % 3 AS INT), " +
      "id, id * 10 FROM range(300) ORDER BY id")
    // overlapping backfill de-arms the identity dirs
    spark.sql("INSERT INTO txcat.ns.rsti SELECT CAST(id % 3 AS INT), " +
      "id, id * 10 + 1 FROM range(100, 200) ORDER BY id")
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      def wplan: String = spark.sql(
        """SELECT p, k, sum(v) OVER (PARTITION BY p ORDER BY k) AS run
           FROM txcat.ns.rsti""").queryExecution.executedPlan.toString
      assert(wplan.contains("Sort "), "overlap must de-arm")
      val r = spark.sql("CALL txcat.system.resort('ns.rsti')")
        .collect().head
      assert(r.getInt(1) > 0)
      // the identity-led ordering satisfies the window: no Exchange,
      // no Sort, and the hive layout survived the rewrite
      assert(!wplan.contains("Sort ") && !wplan.contains("Exchange"),
        s"identity-layout resort must re-arm:\n$wplan")
      val t = TxLogTable(spark, s"$warehouse/ns/rsti")
      assert(t.entries(None).forall(_.rel.matches("p=\\d+/.*")))
      assert(spark.sql("SELECT count(*) FROM txcat.ns.rsti")
        .head.getLong(0) == 400)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("sorted-arming property: the plan is Sort-free EXACTLY when " +
      "every dir is range-disjoint, under random programs") {
    // the arming rule's two-sided contract, property-style: after a
    // random mix of ordered appends (disjoint key bands), unordered
    // appends (overlapping), resorts and compacts, the self merge-join
    // drops its Sorts IFF rangeOrder accepts every dir — and the rows
    // are always exactly the model, armed or not (a wrong ordering
    // would corrupt the join; correctness must never depend on the
    // plan shape the layout happens to earn).
    val rnd = new scala.util.Random(2311L)
    for (trial <- 1 to 2) {
      spark.sql("DROP TABLE IF EXISTS txcat.ns.sap")
      spark.sql("CREATE TABLE txcat.ns.sap (k BIGINT, v BIGINT) " +
        "USING txlog PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('sortCols'='k')")
      val t = TxLogTable(spark, s"$warehouse/ns/sap")
      var model = Map.empty[Long, Long] // k -> count of rows with key k
      var band = 0L
      (1 to 6).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 | 1 => // ordered append of a FRESH key band (disjoint)
            val lo = band * 1000; band += 1
            spark.sql(s"INSERT INTO txcat.ns.sap SELECT id, id FROM " +
              s"range($lo, ${lo + 200}) ORDER BY id")
            (lo until lo + 200).foreach(k =>
              model += (k -> (model.getOrElse(k, 0L) + 1)))
          case 2 => // unordered overlap: re-append an OLD band
            val lo = rnd.nextInt(math.max(1, band.toInt)) * 1000L
            spark.sql(s"INSERT INTO txcat.ns.sap SELECT id, id + 1 " +
              s"FROM range($lo, ${lo + 200}) ORDER BY id")
            (lo until lo + 200).foreach(k =>
              model += (k -> (model.getOrElse(k, 0L) + 1)))
          case 3 =>
            if (rnd.nextBoolean())
              spark.sql("CALL txcat.system.resort('ns.sap')")
            else spark.sql("CALL txcat.system.compact('ns.sap')")
        }
        // ground truth from the SAME rule the scan uses (the scan also
        // requires a non-empty dir set before it arms)
        val sorts = t.sortColsOf(t.latestVersion.get)
        val allDisjoint = t.entries(None).nonEmpty && t.entries(None)
          .groupBy(_.rel.takeWhile(_ != '/')).values.forall { es =>
            TxLogTable.rangeOrder(
              es.map(e => e -> TxLogTable.sortKeyRangeOf(e, sorts.head)),
              singleSortCol = sorts.length == 1).isDefined
          }
        val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        try {
          val j = spark.sql("""SELECT /*+ MERGE(a) */ a.k
            FROM txcat.ns.sap a JOIN txcat.ns.sap b ON a.k = b.k""")
          val plan = j.queryExecution.executedPlan.toString
          assert(!plan.contains("Sort ") == allDisjoint,
            s"trial $trial: armed=${!plan.contains("Sort ")} but " +
              s"disjoint=$allDisjoint:\n$plan")
          // correctness regardless of arming: self-join row count is
          // sum over keys of count^2
          val expect = model.values.map(c => c * c).sum
          assert(j.count() == expect,
            s"trial $trial: join rows diverged from model")
        } finally spark.conf.set(
          "spark.sql.sources.v2.bucketing.enabled", prev)
      }
    }
  }

  test("column DEFAULT values: CREATE, INSERT fill-in, metadata-only " +
      "ALTER backfill") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dflt")
    spark.sql("CREATE TABLE txcat.ns.dflt (k BIGINT, " +
      "status STRING DEFAULT 'open', score INT DEFAULT 10) USING txlog")
    // INSERT omitting defaulted columns: the analyzer fills them in
    spark.sql("INSERT INTO txcat.ns.dflt (k) VALUES (1)")
    spark.sql("INSERT INTO txcat.ns.dflt VALUES (2, 'closed', 99)")
    spark.sql("INSERT INTO txcat.ns.dflt (k, status) VALUES (3, DEFAULT)")
    val got = spark.sql("SELECT k, status, score FROM txcat.ns.dflt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(got == Set((1L, "open", 10), (2L, "closed", 99),
      (3L, "open", 10)), s"$got")
    // ALTER ADD COLUMN with DEFAULT stays metadata-only: files written
    // BEFORE the column read back the default (EXISTS_DEFAULT), not
    // NULL — no rewrite of existing data
    val t = TxLogTable(spark, s"$warehouse/ns/dflt")
    val filesBefore = t.fileCount()
    spark.sql("ALTER TABLE txcat.ns.dflt ADD COLUMN tier STRING " +
      "DEFAULT 'bronze'")
    assert(t.fileCount() == filesBefore, "ALTER must touch no data file")
    spark.sql("INSERT INTO txcat.ns.dflt (k, tier) VALUES (4, 'gold')")
    val tiers = spark.sql("SELECT k, tier FROM txcat.ns.dflt")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tiers == Set((1L, "bronze"), (2L, "bronze"), (3L, "bronze"),
      (4L, "gold")), s"old files must fill the declared default: $tiers")
    // the default survives the manifest round trip (a fresh table
    // handle re-reads it from #schema=)
    val md = TxLogTable(spark, s"$warehouse/ns/dflt").tableSchema.get
      .fields.find(_.name == "tier").get.metadata
    assert(md.contains("CURRENT_DEFAULT") && md.contains("EXISTS_DEFAULT"),
      md.toString)
  }

  test("CALL detail: one manifest-only row of the table's physical " +
      "identity") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dtl")
    spark.sql("CREATE TABLE txcat.ns.dtl (k BIGINT, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('sortCols'='k', 'bloomCols'='v')")
    spark.sql("INSERT INTO txcat.ns.dtl " +
      "SELECT id, concat('v', id) FROM range(100)")
    val r = spark.sql("CALL txcat.system.detail('ns.dtl')").collect().head
    assert(r.getLong(2) == 100L, s"exact rows from the manifest: $r")
    assert(r.getLong(3) > 0L)
    assert(r.getString(4) == "_bkt")
    assert(r.getString(5) == "bucket(4, k)")
    assert(r.getString(6) == "k" && r.getString(7) == "v")
    // masked rows → row count honestly unknown
    val t = TxLogTable(spark, s"$warehouse/ns/dtl")
    import spark.implicits._
    t.deleteByKeysMor(Seq(1L).toDF("k"))
    assert(spark.sql("CALL txcat.system.detail('ns.dtl')")
      .collect().head.isNullAt(2))
    // retention pins surface in the same glance
    t.registerCursor("replica-eu", 1)
    assert(spark.sql("CALL txcat.system.detail('ns.dtl')")
      .collect().head.getAs[String]("cursors") == "replica-eu@v1")
    // the ingest-sizing property too
    assert(!r.getAs[Boolean]("optimize_write"))
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dtl_ow")
    spark.sql("CREATE TABLE txcat.ns.dtl_ow (k BIGINT) USING txlog " +
      "TBLPROPERTIES ('optimizeWrite'='true')")
    spark.sql("INSERT INTO txcat.ns.dtl_ow SELECT id FROM range(10)")
    assert(spark.sql("CALL txcat.system.detail('ns.dtl_ow')")
      .collect().head.getAs[Boolean]("optimize_write"))
  }

  test("ndv sketch: folds across appends, survives compact and DDL") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.ndvt")
    spark.sql("CREATE TABLE txcat.ns.ndvt (k BIGINT, cat BIGINT, " +
      "v STRING) USING txlog PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('ndvCols'='cat')")
    // two appends with disjoint cat ranges: the KMV fold must see BOTH
    spark.sql("INSERT INTO txcat.ns.ndvt " +
      "SELECT id, id % 40, 'x' FROM range(1000)")
    val t = TxLogTable(spark, s"$warehouse/ns/ndvt")
    def est: Long = t.ndvOf(t.latestVersion.get)("cat")
    assert(est == 40L, s"under-k KMV is exact: $est") // 40 < k=64
    spark.sql("INSERT INTO txcat.ns.ndvt " +
      "SELECT id, 40 + id % 160, 'y' FROM range(1000)")
    val e2 = est // 200 distinct total, over k -> estimate within ±~25%
    assert(e2 > 140 && e2 < 280, s"merged estimate off: $e2")
    // row-preserving maintenance carries the sketch untouched
    spark.sql("CALL txcat.system.compact('ns.ndvt')")
    assert(est == e2, "compact must carry the ndv lines")
    // metadata DDL carries it too
    spark.sql("ALTER TABLE txcat.ns.ndvt RENAME COLUMN v TO w")
    assert(est == e2, "rename-column must carry the ndv lines")
    // overwrite RESETS to the new corpus
    spark.sql("INSERT OVERWRITE txcat.ns.ndvt " +
      "SELECT id, id % 10, 'z' FROM range(100)")
    assert(est == 10L, s"overwrite must reset the sketch: $est")
    // the incremental fold can only grow — a delete leaves it stale-HIGH
    // (conservative); CALL analyze re-sketches the masked snapshot and
    // tightens it back to the truth
    spark.sql("DELETE FROM txcat.ns.ndvt WHERE cat >= 5")
    assert(est == 10L, s"post-delete fold stays stale-high: $est")
    val r = spark.sql("CALL txcat.system.analyze('ns.ndvt', 'cat')")
      .collect().head
    assert(est == 5L, s"analyze must re-tighten to visible rows: $est")
    assert(r.getString(1) == "cat≈5", r.toString)
  }

  test("ndv fold covers the inserting paths — merge and SQL DML never " +
      "leave the sketch stale-LOW") {
    // stale-LOW is the dangerous direction: an under-counted NDV
    // under-sizes a filtered side and broadcasts what should shuffle
    spark.sql("DROP TABLE IF EXISTS txcat.ns.ndvm")
    spark.sql("CREATE TABLE txcat.ns.ndvm (k BIGINT, cat BIGINT) " +
      "USING txlog PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('ndvCols'='cat')")
    spark.sql("INSERT INTO txcat.ns.ndvm " +
      "SELECT id, id % 10 FROM range(100)")
    val t = TxLogTable(spark, s"$warehouse/ns/ndvm")
    def est: Long = t.ndvOf(t.latestVersion.get)("cat")
    assert(est == 10L)
    // library MERGE inserts 10 NEW cat values — the fold must see them
    import spark.implicits._
    t.merge(t.tableSchema.get,
      (100L until 110L).map(i => (i, 10L + i % 10)).toDF("k", "cat"),
      Seq("k"))
    assert(est == 20L, s"merge-inserted values must enter the fold: $est")
    // SQL MERGE INTO (the DSv2 group-replace path) inserts 10 more
    spark.sql("""MERGE INTO txcat.ns.ndvm t
      USING (SELECT id + 200 AS k, 20 + id % 10 AS cat
             FROM range(10)) s
      ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k, cat) VALUES (s.k, s.cat)""")
    assert(est == 30L, s"MERGE INTO-inserted values must enter: $est")
    // SQL UPDATE rewrites values into a range the sketch never saw
    spark.sql("UPDATE txcat.ns.ndvm SET cat = cat + 1000 WHERE k < 3")
    assert(est >= 33L, s"UPDATE-written values must enter: $est")
  }

  test("CALL analyze bootstraps stats on a table created without " +
      "ndvCols, as a metadata-only commit") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.anl")
    spark.sql("CREATE TABLE txcat.ns.anl (k BIGINT, cat BIGINT) " +
      "USING txlog PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO txcat.ns.anl " +
      "SELECT id, id % 30 FROM range(500)")
    val t = TxLogTable(spark, s"$warehouse/ns/anl")
    assert(t.ndvOf(t.latestVersion.get).isEmpty)
    val v0 = t.latestVersion.get
    val files0 = t.entries(None).map(_.rel).toSet
    spark.sql("CALL txcat.system.analyze('ns.anl', 'cat')")
    val v1 = t.latestVersion.get
    assert(v1 == v0 + 1 && t.entries(None).map(_.rel).toSet == files0,
      "analyze must be one metadata-only version")
    assert(t.ndvOf(v1)("cat") == 30L)
    // no change-feed impact: the data-line diff of the analyze version
    // is empty, so consumers receive nothing
    assert(t.changesBetween(
      t.tableSchema.get, v0, v1).count() == 0)
    // and later appends FOLD into the analyzed baseline
    spark.sql("INSERT INTO txcat.ns.anl " +
      "SELECT id, 30 + id % 10 FROM range(100)")
    assert(t.ndvOf(t.latestVersion.get)("cat") == 40L)
  }

  test("metadata commits carry the bucket spec and sort order") {
    // regression: rename/add/drop column are metadata-only commits that
    // rebuild the manifest from a carried-property list — the bucket
    // spec (and sort order) must ride along, or an ALTER of an UNRELATED
    // column silently un-buckets the table (next append writes outside
    // the _bkt layout and partition discovery conflicts)
    spark.sql("DROP TABLE IF EXISTS txcat.ns.carry")
    spark.sql("CREATE TABLE txcat.ns.carry (k BIGINT, v STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('sortCols'='k')")
    spark.sql("INSERT INTO txcat.ns.carry " +
      "SELECT id, concat('v', id) FROM range(50)")
    val t = TxLogTable(spark, s"$warehouse/ns/carry")
    spark.sql("ALTER TABLE txcat.ns.carry RENAME COLUMN v TO w")
    spark.sql("ALTER TABLE txcat.ns.carry ADD COLUMN x BIGINT")
    spark.sql("ALTER TABLE txcat.ns.carry DROP COLUMN x")
    assert(t.latestVersion.map(t.bucketSpecsOf)
      .contains(Seq(("k", 4))), "bucket spec lost by a metadata commit")
    assert(t.latestVersion.map(t.sortColsOf).contains(Seq("k")),
      "sort order lost by a metadata commit")
    // the layout stays writable and consistent after the ALTERs
    spark.sql("INSERT INTO txcat.ns.carry VALUES (100, 'w100')")
    assert(t.entries(None).forall(_.rel.startsWith("_bkt=")))
    assert(spark.table("txcat.ns.carry").count() == 51)
  }

  test("sorted bucket layout: post-compaction merge join plans ZERO " +
      "Sorts and zero Exchanges; multi-file buckets refuse the ordering") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_a")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_b")
    spark.sql("CREATE TABLE txcat.ns.srt_a (k BIGINT, va STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('sortCols'='k')")
    spark.sql("CREATE TABLE txcat.ns.srt_b (k BIGINT, vb STRING) " +
      "USING txlog PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('sortCols'='k')")
    // two appends each → multiple sorted files per bucket
    spark.sql("INSERT INTO txcat.ns.srt_a " +
      "SELECT id, concat('a', id) FROM range(300)")
    spark.sql("INSERT INTO txcat.ns.srt_a " +
      "SELECT id, concat('a', id) FROM range(300, 600)")
    spark.sql("INSERT INTO txcat.ns.srt_b " +
      "SELECT id, concat('b', id) FROM range(0, 600, 2)")
    spark.sql("INSERT INTO txcat.ns.srt_b " +
      "SELECT id, concat('b', id) FROM range(1, 600, 2)")
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    def joined = spark.sql("""SELECT /*+ MERGE(a) */ a.k, a.va, b.vb
      FROM txcat.ns.srt_a a JOIN txcat.ns.srt_b b ON a.k = b.k""")
    try {
      // multi-file buckets: a concatenation of sorted files is NOT
      // sorted, so the scan must NOT report ordering — the join keeps
      // its Sorts (and correctness), zero Exchanges as ever
      val pre = joined.queryExecution.executedPlan.toString
      assert(!pre.contains("Exchange") && pre.contains("Sort "), pre)
      assert(joined.count() == 600)
      // one sorted file per bucket → ordering reported → Sort-free SMJ
      spark.sql("CALL txcat.system.compact('ns.srt_a')")
      spark.sql("CALL txcat.system.compact('ns.srt_b')")
      val post = joined.queryExecution.executedPlan.toString
      assert(post.contains("TxLogSpjScan") && !post.contains("Exchange"),
        post)
      assert(!post.contains("Sort "),
        s"sorted compacted buckets must merge-join WITHOUT Sorts:\n$post")
      assert(joined.count() == 600)
      val expect = (0L until 600L).map(i => (i, s"a$i", s"b$i")).toSet
      assert(joined.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet == expect)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
    // physical files really are sorted: read one file raw, check order
    val ta = TxLogTable(spark, s"$warehouse/ns/srt_a")
    val oneFile = ta.entries(None).head.rel
    val ks = spark.read.parquet(s"$warehouse/ns/srt_a/data/$oneFile")
      .select("k").collect().map(_.getLong(0))
    assert(ks.sameElements(ks.sorted), "file must be internally sorted")
    // sort columns are load-bearing: rename/drop refuse; zorder refuses
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE txcat.ns.srt_a RENAME COLUMN k TO kk") }
    assert(e1.getMessage.contains("bucket key") ||
      e1.getMessage.contains("sort column"))
    val e2 = intercept[Exception] {
      spark.sql("CALL txcat.system.zorder('ns.srt_a', 'k', 'va')")
        .collect() }
    assert(e2.getMessage.contains("competing physical layouts"))
    // unpartitioned sorted tables refuse at CREATE (no chokepoint)
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE txcat.ns.srt_bad (k BIGINT) USING txlog " +
        "TBLPROPERTIES ('sortCols'='k')") }
    assert(e3.getMessage.contains("partitioned layout"))
    // rebucket preserves the sort order and re-arms the ordering (its
    // rewrite lands one file per bucket through the sorting chokepoint)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      spark.sql("CALL txcat.system.rebucket('ns.srt_a', 8)")
      spark.sql("CALL txcat.system.rebucket('ns.srt_b', 8)")
      assert(ta.latestVersion.map(ta.sortColsOf).contains(Seq("k")))
      val post8 = joined.queryExecution.executedPlan.toString
      assert(!post8.contains("Exchange") && !post8.contains("Sort "),
        s"post-rebucket sorted join must stay Sort-free:\n$post8")
      assert(joined.count() == 600)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
    // a MULTI-column sort order satisfies a join on its prefix
    spark.sql("DROP TABLE IF EXISTS txcat.ns.srt_m")
    spark.sql("CREATE TABLE txcat.ns.srt_m (k BIGINT, s BIGINT, " +
      "v STRING) USING txlog PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('sortCols'='k,s')")
    spark.sql("INSERT INTO txcat.ns.srt_m SELECT id % 50, id, " +
      "concat('v', id) FROM range(200)")
    spark.sql("CALL txcat.system.compact('ns.srt_m')")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j2 = spark.sql("""SELECT /*+ MERGE(a) */ a.k, a.s
        FROM txcat.ns.srt_m a JOIN txcat.ns.srt_m b ON a.k = b.k""")
      val p2 = j2.queryExecution.executedPlan.toString
      assert(!p2.contains("Exchange") && !p2.contains("Sort "),
        s"[k,s]-sorted files satisfy a join on prefix k:\n$p2")
      assert(j2.count() == 800) // 50 keys × 4 rows each → 16 pairs/key
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("composite keys via a bucket GRID: layered layout, zero-shuffle " +
      "join on the tuple, per-level point prune") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk2_a")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.bk2_b")
    spark.sql("CREATE TABLE txcat.ns.bk2_a (t BIGINT, e BIGINT, " +
      "va STRING) USING txlog " +
      "PARTITIONED BY (bucket(4, t), bucket(4, e))")
    spark.sql("CREATE TABLE txcat.ns.bk2_b (t BIGINT, e BIGINT, " +
      "vb STRING) USING txlog " +
      "PARTITIONED BY (bucket(4, t), bucket(4, e))")
    spark.sql("INSERT INTO txcat.ns.bk2_a SELECT id % 7, id, " +
      "concat('a', id) FROM range(200)")
    spark.sql("INSERT INTO txcat.ns.bk2_b SELECT id % 7, id, " +
      "concat('b', id) FROM range(0, 200, 2)")
    val ta = TxLogTable(spark, s"$warehouse/ns/bk2_a")
    assert(ta.entries(None).nonEmpty &&
      ta.entries(None).forall(e => e.rel.startsWith("_bkt=") &&
        e.rel.contains("/_bkt1=")),
      s"grid layout expected: ${ta.entries(None).map(_.rel).take(3)}")
    assert(ta.latestVersion.map(ta.bucketSpecsOf)
      .contains(Seq(("t", 4), ("e", 4))))
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // join on BOTH key columns: zero shuffle exchanges
      val j = spark.sql("""SELECT /*+ MERGE(a) */ a.t, a.e, a.va, b.vb
        FROM txcat.ns.bk2_a a
        JOIN txcat.ns.bk2_b b ON a.t = b.t AND a.e = b.e""")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("TxLogSpjScan"), plan)
      assert(!plan.contains("Exchange"),
        s"grid-bucketed join must plan zero shuffles:\n$plan")
      assert(j.count() == 100)
      val expect = (0L until 200L by 2)
        .map(i => (i % 7, i, s"a$i", s"b$i")).toSet
      assert(j.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSet == expect)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
    // point prune: each level prunes independently — the full tuple
    // reaches ONE grid cell, half the tuple still cuts its own level
    val all = ta.entries(None).size
    val hit = ta.candidateFilesWhere(col("t") === 3L && col("e") === 10L)
    assert(hit.nonEmpty && hit.map(r => (r.split('/')(0), r.split('/')(1)))
      .toSet.size == 1,
      s"tuple point lookup must prune to one grid cell: $hit")
    val half = ta.candidateFilesWhere(col("e") === 10L)
    assert(half.size < all && half.nonEmpty &&
      half.map(_.split('/')(1)).toSet.size == 1,
      s"half the tuple still prunes its own level: ${half.size} of $all")
    // both key columns are load-bearing: rename/drop refuse on either
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE txcat.ns.bk2_a RENAME COLUMN e TO e2") }
    assert(e1.getMessage.contains("bucket key"))
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE txcat.ns.bk2_a DROP COLUMN t") }
    assert(e2.getMessage.contains("bucket key"))
    // the tuple-hash form is refused loudly with the grid alternative
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE txcat.ns.bk2_bad (t BIGINT, e BIGINT) " +
        "USING txlog PARTITIONED BY (bucket(4, t, e))") }
    assert(e3.getMessage.contains("bucket grid"), e3.getMessage)
  }

  test("mixed identity + grid layout: day dirs over two bucket levels, " +
      "all three prunes compose") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.mixg")
    spark.sql("CREATE TABLE txcat.ns.mixg (d INT, t BIGINT, e BIGINT, " +
      "v STRING) USING txlog " +
      "PARTITIONED BY (d, bucket(2, t), bucket(2, e))")
    spark.sql("INSERT INTO txcat.ns.mixg SELECT CAST(id % 5 AS INT), " +
      "id % 13, id, concat('v', id) FROM range(400)")
    val t = TxLogTable(spark, s"$warehouse/ns/mixg")
    // layout: d=../_bkt=../_bkt1=.. nested in that order
    assert(t.entries(None).nonEmpty && t.entries(None).forall(e =>
      e.rel.matches("d=\\d+/_bkt=\\d+/_bkt1=\\d+/.*")),
      t.entries(None).map(_.rel).take(3).toString)
    val all = t.entries(None).size
    // identity + both bucket levels constrain → one leaf dir set
    // id = 33 → d = 3, t = 7, e = 33 (a row that exists)
    val hit = t.candidateFilesWhere(
      col("d") === 3 && col("t") === 7L && col("e") === 33L)
    assert(hit.nonEmpty && hit.size < all &&
      hit.map(_.split('/').init.mkString("/")).toSet.size == 1, hit)
    // partial constraints prune their own levels only
    assert(t.candidateFilesWhere(col("e") === 33L).size < all)
    // SHOW PARTITIONS (the procedure) enumerates the full nesting with
    // exact rows
    val parts = spark.sql("CALL txcat.system.partitions('ns.mixg')")
      .collect()
    assert(parts.forall(_.getString(0)
      .matches("d=\\d+/_bkt=\\d+/_bkt1=\\d+")))
    assert(parts.map(_.getLong(2)).sum == 400L)
    // rebucket of one grid level under the identity layout: spec bumps,
    // identity dirs survive, rows intact
    spark.sql("CALL txcat.system.rebucket('ns.mixg', 4, 'e')")
    assert(t.latestVersion.map(t.bucketSpecsOf)
      .contains(Seq(("t", 2), ("e", 4))))
    assert(t.entries(None).forall(e =>
      e.rel.matches("d=\\d+/_bkt=\\d+/_bkt1=\\d+/.*")))
    assert(spark.table("txcat.ns.mixg").count() == 400)
    assert(spark.sql("SELECT count(*) FROM txcat.ns.mixg WHERE d = 2")
      .head().getLong(0) == 80L)
  }

  test("CALL rebucket: spec evolution rewrites the layout, joins stay " +
      "zero-shuffle at the new count") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rb_a")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rb_b")
    spark.sql("CREATE TABLE txcat.ns.rb_a (k BIGINT, va STRING) " +
      "USING txlog PARTITIONED BY (bucket(2, k))")
    spark.sql("CREATE TABLE txcat.ns.rb_b (k BIGINT, vb STRING) " +
      "USING txlog PARTITIONED BY (bucket(2, k))")
    spark.sql("INSERT INTO txcat.ns.rb_a " +
      "SELECT id, concat('a', id) FROM range(300)")
    spark.sql("INSERT INTO txcat.ns.rb_b " +
      "SELECT id, concat('b', id) FROM range(0, 300, 3)")
    val ta = TxLogTable(spark, s"$warehouse/ns/rb_a")
    val tb = TxLogTable(spark, s"$warehouse/ns/rb_b")
    def bucketDirs(t: TxLogTable): Set[String] =
      t.entries(None).map(_.rel.takeWhile(_ != '/')).toSet
    assert(bucketDirs(ta).subsetOf(Set("_bkt=0", "_bkt=1")))
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    def joined = spark.sql("""SELECT /*+ MERGE(a) */ a.k, a.va, b.vb
      FROM txcat.ns.rb_a a JOIN txcat.ns.rb_b b ON a.k = b.k""")
    try {
      val before = joined
      assert(!before.queryExecution.executedPlan.toString
        .contains("Exchange"))
      val rowsBefore = before.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet
      // evolve BOTH sides 2 → 8 (per-bucket bytes ÷4)
      val r = spark.sql("CALL txcat.system.rebucket('ns.rb_a', 8)")
        .collect().head
      assert(r.getInt(1) == 2 && r.getInt(2) == 8)
      spark.sql("CALL txcat.system.rebucket('ns.rb_b', 8)")
      assert(ta.latestVersion.map(ta.bucketSpecsOf)
        .contains(Seq(("k", 8))))
      assert(bucketDirs(ta).size > 2 &&
        bucketDirs(ta).forall(_.startsWith("_bkt=")))
      assert(bucketDirs(tb).size > 2)
      // the join still plans zero exchanges, result identical
      val after = joined
      assert(!after.queryExecution.executedPlan.toString
        .contains("Exchange"),
        after.queryExecution.executedPlan.toString)
      assert(after.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet == rowsBefore)
      // appends after the bump derive ids under the NEW spec
      spark.sql("INSERT INTO txcat.ns.rb_a VALUES (1000, 'a1000')")
      assert(spark.sql(
        "SELECT count(*) FROM txcat.ns.rb_a WHERE k = 1000")
        .head.getLong(0) == 1L)
      // point prune works at the new count
      val hit = ta.candidateFilesWhere(col("k") === 1000L)
      assert(hit.map(_.takeWhile(_ != '/')).toSet.size == 1)
      // time travel: the old version still reads with its own layout
      val hist = ta.versions
      assert(spark.sql(s"SELECT count(*) FROM txcat.ns.rb_a " +
        s"VERSION AS OF ${hist.takeRight(3).head}").head.getLong(0) == 300L)
    } finally spark.conf.set(
      "spark.sql.sources.v2.bucketing.enabled", prev)
    // a non-bucketed table refuses
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rb_plain")
    spark.sql("CREATE TABLE txcat.ns.rb_plain (k BIGINT) USING txlog")
    val e = intercept[Exception] {
      spark.sql("CALL txcat.system.rebucket('ns.rb_plain', 8)").collect() }
    assert(e.getMessage.contains("non-bucketed"))
  }

  test("CALL rebucket folds MOR tombstones and evolves one grid level " +
      "by key") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.rb_c")
    spark.sql("CREATE TABLE txcat.ns.rb_c (t BIGINT, e BIGINT, " +
      "v STRING) USING txlog PARTITIONED BY (bucket(2, t), bucket(2, e))")
    spark.sql("INSERT INTO txcat.ns.rb_c SELECT id % 5, id, " +
      "concat('v', id) FROM range(100)")
    val t = TxLogTable(spark, s"$warehouse/ns/rb_c")
    // a MOR delete leaves keys-only tombstones (no file rewritten)
    t.deleteByKeysMor(spark.range(0, 10).selectExpr("id AS e"))
    assert(t.latestVersion.exists(v => t.tombstonesOf(v).nonEmpty))
    // a grid table must name the level to evolve
    val eAmb = intercept[Exception] {
      spark.sql("CALL txcat.system.rebucket('ns.rb_c', 4)").collect() }
    assert(eAmb.getMessage.contains("name the key"))
    // second-level args must come as a PAIR, both directions: a key2
    // with no buckets2 is refused (not silently dropped), as is the
    // reverse
    val eK2 = intercept[Exception] {
      spark.sql("CALL txcat.system.rebucket(`table` => 'ns.rb_c', " +
        "buckets => 4, key => 'e', key2 => 't')").collect() }
    assert(eK2.getMessage.contains("key2 needs buckets2"), eK2.getMessage)
    val eB2 = intercept[Exception] {
      spark.sql("CALL txcat.system.rebucket(`table` => 'ns.rb_c', " +
        "buckets => 4, key => 'e', buckets2 => 8)").collect() }
    assert(eB2.getMessage.contains("buckets2 needs key2"), eB2.getMessage)
    spark.sql("CALL txcat.system.rebucket('ns.rb_c', 4, 'e')")
    // tombstones folded into the rewrite; ONLY e's level bumped
    assert(t.latestVersion.exists(v => t.tombstonesOf(v).isEmpty))
    assert(t.latestVersion.map(t.bucketSpecsOf)
      .contains(Seq(("t", 2), ("e", 4))))
    assert(spark.table("txcat.ns.rb_c").count() == 90)
    assert(t.entries(None).forall(e => e.rel.startsWith("_bkt=") &&
      e.rel.contains("/_bkt1=")))
  }

  test("CALL semdedup / dedup_near: the SQL surface of the curation " +
      "operators matches the library path") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // semdedup over a small embedding table
    spark.sql("DROP TABLE IF EXISTS txcat.ns.sd_src")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.sd_out")
    val emb = spark.range(60).selectExpr("id AS vec_id",
      "array(CAST(id % 4 AS DOUBLE), CAST((id + 1) % 3 AS DOUBLE), " +
        "CAST(id % 2 AS DOUBLE)) AS embedding")
    emb.createOrReplaceTempView("sd_src_v")
    spark.sql("CREATE TABLE txcat.ns.sd_src USING txlog AS " +
      "SELECT * FROM sd_src_v")
    spark.sql(
      "CALL txcat.system.semdedup('ns.sd_src', 'ns.sd_out', 0.99, 4)")
    val viaSql = spark.sql(
      "SELECT vec_id, cluster, kept FROM txcat.ns.sd_out")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .toSet
    val viaLib = graft.operators.SemDedup.withK(
        spark.table("txcat.ns.sd_src"), k = 4, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .toSet
    assert(viaSql == viaLib && viaSql.size == 60)
    assert(viaSql.exists(!_._3), "contrived dups must mark kept=false")
    // dedup_near over a small documents table
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dn_src")
    spark.sql("DROP TABLE IF EXISTS txcat.ns.dn_out")
    val docs = spark.range(40).selectExpr("id AS doc_id",
      "'web' AS source",
      "CASE WHEN id % 2 = 0 THEN 'alpha beta gamma delta epsilon zeta' " +
        "ELSE concat('unique text number ', id, ' with words ', id * 7) " +
        "END AS text")
    docs.createOrReplaceTempView("dn_src_v")
    spark.sql("CREATE TABLE txcat.ns.dn_src USING txlog AS " +
      "SELECT * FROM dn_src_v")
    spark.sql(
      "CALL txcat.system.dedup_near('ns.dn_src', 'ns.dn_out', 0.5)")
    val keptSql = spark.sql("SELECT doc_id FROM txcat.ns.dn_out")
      .collect().map(_.getLong(0)).toSet
    val keptLib = graft.operators.Dedup.dedupNearExact(
        spark.table("txcat.ns.dn_src"), 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptSql == keptLib)
    assert(keptSql.contains(0L) && !keptSql.contains(2L),
      s"duplicate evens collapse to doc 0: $keptSql")
    // an existing destination refuses (curation outputs are new artifacts)
    val e = intercept[Exception] {
      spark.sql(
        "CALL txcat.system.dedup_near('ns.dn_src', 'ns.dn_out', 0.5)")
        .collect() }
    assert(e.getMessage.contains("already exists"))
  }

  test("CALL system.refresh_all: one sweep refreshes every stale view " +
      "in the namespace; broken views are reported, not fatal") {
    for (t <- Seq("src_t", "v_a", "v_b", "bad_v"))
      spark.sql(s"DROP TABLE IF EXISTS txcat.mvra.$t")
    spark.sql(
      "CREATE TABLE txcat.mvra.src_t (k BIGINT, v DOUBLE) USING txlog")
    spark.sql("INSERT INTO txcat.mvra.src_t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("CALL txcat.system.create_mv('mvra.v_a', 'mvra.src_t', " +
      "'k', 'ta:v')").collect()
    spark.sql("CALL txcat.system.create_mv('mvra.v_b', 'mvra.src_t', " +
      "'k', 'tb:v')").collect()
    spark.sql("INSERT INTO txcat.mvra.src_t VALUES (3, 3.0)")
    // a half-created view in the same namespace must not stop the sweep
    spark.sql(
      "CREATE TABLE txcat.mvra.bad_v (k BIGINT, n BIGINT) USING txlog")
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$warehouse/mvra/bad_v/_log/mv.def"),
      "name=bad\nsource=/none\ngroupCols=k\nsum=n:v\nproj=k BIGINT\n"
        .getBytes("UTF-8"))
    val rows = spark.sql("CALL txcat.system.refresh_all('mvra')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("mvra.v_a") == "incremental" &&
      rows("mvra.v_b") == "incremental", rows.toString)
    assert(rows("mvra.bad_v").startsWith("error"), rows.toString)
    // second sweep: everything current
    val again = spark.sql("CALL txcat.system.refresh_all('mvra')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again("mvra.v_a") == "noop" && again("mvra.v_b") == "noop",
      again.toString)
    val n = spark.sql("SELECT CAST(SUM(CAST(ta AS DOUBLE)) AS DOUBLE) " +
      "FROM txcat.mvra.v_a").head.getDouble(0)
    assert(n == 6.0, s"refreshed view must hold the full rollup: $n")
    // DEPENDENCY ORDER: a view over v_a named to sort FIRST — an
    // alphabetical sweep would refresh it before its source and leave
    // it one cycle stale; the topological sweep lands both in one pass
    spark.sql("DROP TABLE IF EXISTS txcat.mvra.a_chain")
    spark.sql("CALL txcat.system.create_mv('mvra.a_chain', " +
      "'mvra.v_a', 'k', 'tc:ta')").collect()
    spark.sql("INSERT INTO txcat.mvra.src_t VALUES (4, 10.0)")
    val sweep = spark.sql("CALL txcat.system.refresh_all('mvra')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sweep("mvra.v_a") == "incremental" &&
      sweep("mvra.a_chain") == "incremental",
      s"one sweep must land the whole chain: $sweep")
    val chain = spark.sql("SELECT CAST(SUM(CAST(tc AS DOUBLE)) AS " +
      "DOUBLE) FROM txcat.mvra.a_chain").head.getDouble(0)
    assert(chain == 16.0,
      s"the downstream view must reflect this sweep's data: $chain")
  }

  test("CALL system.ann_build_auto: k derives from the corpus, the " +
      "sampled trainer runs, and the index serves through ann_search") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.anna")
    spark.sql("CREATE TABLE txcat.ns.anna USING txlog AS " +
      "SELECT id AS vec_id, array(CAST(id % 5 AS FLOAT), " +
      "CAST(id % 3 AS FLOAT), CAST(1 AS FLOAT), " +
      "CAST(id % 7 AS FLOAT)) AS embedding FROM range(64)")
    val b = spark.sql("CALL txcat.system.ann_build_auto('ns.anna', " +
      "'ns.anna_idx', 16, 32, 2, false)").collect()
    assert(b.length == 1 && b(0).getInt(1) == 4, // ceil(64/16)
      s"auto-k must track the corpus: ${b.mkString(",")}")
    val top = spark.sql(
      "CALL txcat.system.ann_search('ns.anna_idx', 3, 4)").collect()
    assert(top.nonEmpty && top.length <= 4)
    assert(top.map(_.getDouble(2)).toSeq ==
      top.map(_.getDouble(2)).sortBy(-_).toSeq)
  }

  test("CALL system.ann_search: persisted-index top-k in SQL, with an " +
      "optional pre-filter predicate") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.annq")
    // 16 deterministic 4-dim vectors + a metadata column to filter on
    spark.sql("CREATE TABLE txcat.ns.annq USING txlog AS " +
      "SELECT id AS vec_id, array(CAST(id % 5 AS FLOAT), " +
      "CAST(id % 3 AS FLOAT), CAST(1 AS FLOAT), " +
      "CAST(id % 7 AS FLOAT)) AS embedding, " +
      "CAST(id % 2 AS INT) AS parity FROM range(16)")
    spark.sql("CALL txcat.system.ann_build('ns.annq', 'ns.annq_idx', " +
      "2, 2, false)")
    val plain = spark.sql(
      "CALL txcat.system.ann_search('ns.annq_idx', 0, 4)").collect()
    assert(plain.nonEmpty && plain.length <= 4)
    assert(plain.map(_.getDouble(2)).toSeq ==
      plain.map(_.getDouble(2)).sortBy(-_).toSeq,
      "results must come back best-first")
    // pre-filter: every survivor satisfies the predicate
    val odd = spark.sql("CALL txcat.system.ann_search('ns.annq_idx', " +
      "0, 4, 'parity = 1')").collect()
    assert(odd.nonEmpty && odd.forall(_.getLong(0) % 2 == 1),
      s"predicate search must keep only parity=1: ${odd.mkString(",")}")
    // the filter restricts INSIDE the probed cell: plain minus evens
    // from the same cell = the filtered set
    val expect = plain.filter(_.getLong(0) % 2 == 1).map(_.getLong(0))
    assert(expect.forall(odd.map(_.getLong(0)).contains),
      "pre-filter must retain every odd hit the plain search found")
    // nprobe widens routing: with both cells probed (k=2), the search is
    // exact — the top-4 equals the brute-force top-4 over the corpus
    val full = spark.sql("CALL txcat.system.ann_search('ns.annq_idx', " +
      "0, 4, NULL, false, 2)").collect().map(_.getLong(0)).toSeq
    graft.catalyst.CosineSim.register(spark)
    val brute = spark.sql(
      """SELECT vec_id FROM txcat.ns.annq
         CROSS JOIN (SELECT embedding AS qv FROM txcat.ns.annq
                     WHERE vec_id = 0)
         ORDER BY cosine_sim(CAST(embedding AS ARRAY<DOUBLE>),
                             CAST(qv AS ARRAY<DOUBLE>)) DESC, vec_id
         LIMIT 4""").collect().map(_.getLong(0)).toSeq
    assert(full == brute,
      s"nprobe=k must equal brute force: $full vs $brute")
    // monotone recall, rank-wise: nprobe=1's candidates are a subset of
    // nprobe=2's, so at every rank the wider search scores >= (a floor
    // compare would be wrong when the single probed cell held < k hits
    // — the wider search then FILLS the missing ranks with lower
    // scores, which is a recall gain, not a loss)
    val s1 = plain.map(_.getDouble(2)).sorted(Ordering[Double].reverse)
    val s2 = spark.sql("CALL txcat.system.ann_search('ns.annq_idx', " +
        "0, 4, NULL, false, 2)").collect().map(_.getDouble(2))
      .sorted(Ordering[Double].reverse)
    assert(s1.zip(s2).forall { case (a, b) => b >= a - 1e-12 },
      s"nprobe=2 must dominate rank-wise: ${s2.toSeq} vs ${s1.toSeq}")
    // the batch proc serves each query exactly as the single proc does
    val batch = spark.sql("CALL txcat.system.ann_search_batch(" +
      "'ns.annq_idx', array(0L, 5L), 4, 2)").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getDouble(3))).sortBy(_._1))
      .toMap
    assert(batch.keySet == Set(0L, 5L), s"batch keys: ${batch.keySet}")
    Seq(0L, 5L).foreach { q =>
      val single = spark.sql("CALL txcat.system.ann_search(" +
        s"'ns.annq_idx', $q, 4, NULL, false, 2)").collect()
        .map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
      assert(batch(q).toSeq == single,
        s"batch slice for q=$q must equal the single proc: " +
          s"${batch(q).toSeq} vs $single")
    }
  }

  test("metadata tables: cat.db.t.files / history / partitions resolve " +
      "as composable relations") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.mtab")
    spark.sql("CREATE TABLE txcat.ns.mtab (id BIGINT, part STRING) " +
      "USING txlog PARTITIONED BY (part)")
    spark.sql("INSERT INTO txcat.ns.mtab SELECT id, CASE WHEN id % 2 = 0 " +
      "THEN 'a' ELSE 'b' END FROM range(10)")
    spark.sql("INSERT INTO txcat.ns.mtab VALUES (100, 'a')")
    val h = spark.sql("SELECT version, op, num_files " +
      "FROM txcat.ns.mtab.history ORDER BY version").collect()
    assert(h.length == 3 && h.map(_.getInt(0)).toSeq == Seq(0, 1, 2),
      h.mkString(","))
    // partitions: per-partition row counts straight from the manifest
    val p = spark.sql("SELECT partition, rows FROM " +
      "txcat.ns.mtab.partitions ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(p == Seq(("part=a", 6L), ("part=b", 5L)), p.toString)
    // files COMPOSES: aggregating it reproduces partitions
    val f = spark.sql("SELECT partition, sum(rows) FROM " +
      "txcat.ns.mtab.files GROUP BY partition ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(f == p, s"$f != $p")
    assert(spark.sql("SELECT min(bytes) FROM txcat.ns.mtab.files")
      .head.getLong(0) > 0, "bytes come from the filesystem listing")
    // dv_masked surfaces positional-delete masks per file
    spark.sql("CALL txcat.system.delete_pos('ns.mtab', 'id = 2')")
    assert(spark.sql("SELECT sum(dv_masked) FROM txcat.ns.mtab.files")
      .head.getLong(0) == 1L)
    // metadata tables are versioned relations: files AT version 1
    // predates the second insert and the positional delete
    val v1 = spark.sql("SELECT sum(rows), sum(dv_masked) FROM " +
      "txcat.ns.mtab.files VERSION AS OF 1").head
    assert(v1.getLong(0) == 10L && v1.getLong(1) == 0L,
      s"files AS OF 1 must serve the old manifest: $v1")
    assert(spark.sql("SELECT count(*) FROM " +
      "txcat.ns.mtab.history VERSION AS OF 1").head.getLong(0) == 2L,
      "history AS OF 1 truncates at version 1")
    // TIMESTAMP AS OF resolves through the parent like the data table
    assert(spark.sql("SELECT sum(rows) FROM txcat.ns.mtab.files " +
      "TIMESTAMP AS OF current_timestamp()").head.getLong(0) == 11L,
      "files TIMESTAMP AS OF now must serve the head manifest")
    // a metadata name under a NON-table parent still errors cleanly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM txcat.ns.nosuch.files").collect() }
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("tags: immutable named refs — AS OF by name, vacuum pin, " +
      "explicit drop to reclaim") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.tagt")
    spark.sql("CREATE TABLE txcat.ns.tagt (id BIGINT, v STRING) " +
      "USING txlog")
    spark.sql("INSERT INTO txcat.ns.tagt VALUES (1, 'a'), (2, 'b')")
    val tagged = spark.sql(
      "CALL txcat.system.tag('ns.tagt', 'audited')").head
    assert(tagged.getString(0) == "audited" && tagged.getInt(1) == 1)
    spark.sql("INSERT INTO txcat.ns.tagt VALUES (3, 'c')")
    spark.sql("INSERT INTO txcat.ns.tagt VALUES (4, 'd')")
    // by-name time travel reads the tagged snapshot, not the head
    val atTag = spark.sql("SELECT id FROM txcat.ns.tagt " +
      "VERSION AS OF 'audited'").collect().map(_.getLong(0)).toSet
    assert(atTag == Set(1L, 2L), s"AS OF 'audited' read $atTag")
    // metadata tables resolve the same ref through the parent
    assert(spark.sql("SELECT count(*) FROM txcat.ns.tagt.history " +
      "VERSION AS OF 'audited'").head.getLong(0) == 2L)
    // immutable: same name refuses; integer names refuse (ambiguous)
    val dup = intercept[Exception] { spark.sql(
      "CALL txcat.system.tag('ns.tagt', 'audited')").collect() }
    assert(dup.getMessage.contains("immutable"))
    val num = intercept[Exception] { spark.sql(
      "CALL txcat.system.tag('ns.tagt', '7')").collect() }
    assert(num.getMessage.contains("ambiguous"))
    // the tag floors vacuum: keep=1 would drop v0..v2, but 'audited'
    // pins v1 — only v0 is reclaimable
    val t = TxLogTable(spark, s"$warehouse/ns/tagt")
    spark.sql("CALL txcat.system.vacuum('ns.tagt', 1, 0, 0)").collect()
    assert(t.versions == Seq(1, 2, 3),
      s"tag must floor the vacuum at v1: ${t.versions}")
    assert(spark.sql("SELECT count(*) FROM txcat.ns.tagt " +
      "VERSION AS OF 'audited'").head.getLong(0) == 2L,
      "the tagged snapshot stays readable after vacuum")
    // an unknown name is a loud error listing the live tags
    val bad = intercept[Exception] { spark.sql(
      "SELECT * FROM txcat.ns.tagt VERSION AS OF 'nope'").collect() }
    assert(bad.getMessage.contains("neither a version number nor a tag"))
    // the refs are ALSO a metadata table (joins against history work)
    val ref = spark.sql("SELECT h.op FROM txcat.ns.tagt.tags g " +
      "JOIN txcat.ns.tagt.history h ON g.version = h.version " +
      "WHERE g.name = 'audited'").collect()
    assert(ref.length == 1, s"tags metadata table must join: ${ref.toSeq}")
    // drop releases the pin; the next vacuum reclaims to keep=1
    assert(spark.sql("CALL txcat.system.drop_tag('ns.tagt', 'audited')")
      .head.getBoolean(0))
    assert(spark.sql("CALL txcat.system.tags('ns.tagt')").count() == 0)
    spark.sql("CALL txcat.system.vacuum('ns.tagt', 1, 0, 0)").collect()
    assert(t.versions == Seq(3), s"post-drop vacuum: ${t.versions}")
  }

  test("CALL system.cursors / release_cursor expose the vacuum pins") {
    spark.sql("DROP TABLE IF EXISTS txcat.ns.curs")
    spark.sql("CREATE TABLE txcat.ns.curs (id BIGINT, v STRING) USING txlog")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO txcat.ns.curs VALUES ($i, 'v$i')"))
    val t = TxLogTable(spark, s"$warehouse/ns/curs")
    assert(spark.sql("CALL txcat.system.cursors('ns.curs')").count() == 0)
    // dry_run pre-flight: reports the reclaim, touches nothing
    val dry = spark.sql("CALL txcat.system.vacuum('ns.curs', 1, 0, 0, " +
      "true)").collect()
    assert(dry(0).getInt(0) == 3 && t.versions == Seq(0, 1, 2, 3),
      s"dry run moved state: ${dry.mkString(",")} / ${t.versions}")
    t.registerCursor("replica-eu", 1)
    val rows = spark.sql("CALL txcat.system.cursors('ns.curs')").collect()
    assert(rows.length == 1 && rows(0).getString(0) == "replica-eu" &&
      rows(0).getInt(1) == 1, rows.mkString(","))
    // the pin holds against an aggressive SQL vacuum
    spark.sql("CALL txcat.system.vacuum('ns.curs', 1, 0, 0)").collect()
    assert(t.versions == Seq(1, 2, 3)) // v0 = CREATE; pin holds 1..
    val rel = spark.sql(
      "CALL txcat.system.release_cursor('ns.curs', 'replica-eu')").collect()
    assert(rel(0).getBoolean(0))
    val rel2 = spark.sql(
      "CALL txcat.system.release_cursor('ns.curs', 'replica-eu')").collect()
    assert(!rel2(0).getBoolean(0)) // idempotent: already gone
    spark.sql("CALL txcat.system.vacuum('ns.curs', 1, 0, 0)").collect()
    assert(t.versions == Seq(3))
  }

  test("CALL system.mvs survives one broken view: the row is flagged " +
    "with consumed_version = -1 instead of failing the whole listing") {
    spark.sql("DROP TABLE IF EXISTS txcat.mvls.src_t")
    spark.sql("DROP TABLE IF EXISTS txcat.mvls.good_mv")
    spark.sql("DROP TABLE IF EXISTS txcat.mvls.broken")
    spark.sql(
      "CREATE TABLE txcat.mvls.src_t (k BIGINT, v DOUBLE) USING txlog")
    spark.sql("INSERT INTO txcat.mvls.src_t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("CALL txcat.system.create_mv('mvls.good_mv', " +
      "'mvls.src_t', 'k', 'total:v')").collect()
    // a half-created view: mv.def exists but the table never committed
    // an #mvsrc (simulates a crash between mv.def write and the first
    // commit, or a history vacuumed down past every refresh)
    spark.sql(
      "CREATE TABLE txcat.mvls.broken (k BIGINT, n BIGINT) USING txlog")
    val broken = java.nio.file.Paths.get(s"$warehouse/mvls/broken")
    java.nio.file.Files.write(broken.resolve("_log").resolve("mv.def"),
      ("name=broken\nsource=" + s"$warehouse/mvls/src_t" +
        "\ngroupCols=k\nsum=n:v\nproj=k BIGINT,v DOUBLE\n")
        .getBytes("UTF-8"))
    val rows = spark.sql("CALL txcat.system.mvs('mvls')").collect()
    val byTable = rows.map(r => r.getString(0) ->
      (r.getString(1), r.getInt(2))).toMap
    assert(byTable("mvls.good_mv")._1.endsWith("good_mv") &&
      byTable("mvls.good_mv")._2 >= 0, rows.mkString(","))
    assert(byTable("mvls.broken")._2 == -1,
      s"broken view must be flagged, not fatal: ${rows.mkString(",")}")
  }
}
