package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every copy-on-write data commit — `commit` (append and overwrite),
  * `commitDynamic`, `merge`, `deleteWhere`, `replaceWhere`,
  * `commitReplacingDf` and SQL INSERT / UPDATE / DELETE — publishes
  * through one primitive, so they share its invariants: no zero-row data
  * file in the manifest, an NDV sketch never below the true distinct
  * count, a bloom on every staged file, CHECK constraints refusing a
  * violating batch with nothing published, and a lost version race
  * re-staging only what the commit re-reads.
  */
class TxLogDataCommitSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.dccat", "graft.sources.v2.TxLogCatalog")
    s.conf.set("spark.sql.catalog.dccat.warehouse",
      Files.createTempDirectory("dccat-wh").toString)
    s
  }
  import spark.implicits._

  private def warehouse: String =
    spark.conf.get("spark.sql.catalog.dccat.warehouse")

  private def fresh(): TxLogTable = TxLogTable(spark,
    Files.createTempDirectory("txdc").resolve("t").toString)

  private def zeroRowFiles(t: TxLogTable): Seq[String] =
    t.entries().filter(_.stats.get(TxLogTable.RowsKey).exists(_._1 == 0L))
      .map(_.rel)

  test("replaceWhere folds the replacement's new values into the NDV " +
      "sketch") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("c", LongType)))
    val t = fresh()
    t.commit((0L until 2000L).map(i => (i, i % 10)).toDF("id", "c"),
      overwrite = true)
    t.analyze(schema, Seq("c"))
    assert(t.ndvOf(t.latestVersion.get)("c") == 10L)
    // 1,000 new distinct values replace the first half: 1,010 in all
    t.replaceWhere(schema, col("id") < 1000L,
      (0L until 1000L).map(i => (i, 10 + i)).toDF("id", "c"))
    val exact = t.snapshot(schema).select("c").distinct().count()
    assert(exact == 1010L)
    val est = t.ndvOf(t.latestVersion.get)("c")
    assert(est >= 500L, s"replaceWhere left the sketch stale-LOW: $est")
  }

  test("a catalog SQL insert admits no zero-row data file") {
    spark.sql("DROP TABLE IF EXISTS dccat.ns.zr")
    spark.sql("CREATE TABLE dccat.ns.zr (id BIGINT, n INT) USING txlog")
    val t = TxLogTable(spark, s"$warehouse/ns/zr")
    // four tasks over three rows: one task writes an empty file
    spark.sql("INSERT INTO dccat.ns.zr SELECT id, 1 FROM range(0, 3)")
    assert(zeroRowFiles(t).isEmpty, t.entries().map(_.rel).toString)
    spark.sql("INSERT INTO dccat.ns.zr SELECT id, 1 FROM range(0, 0)")
    assert(zeroRowFiles(t).isEmpty, t.entries().map(_.rel).toString)
    assert(spark.sql("SELECT * FROM dccat.ns.zr").count() == 3L)
  }

  // one step of the table-driven spec: `run` commits a valid batch whose
  // ids start at `from` and whose ndv column `c` brings values from
  // `cBase` on (the SQL INSERT: three rows over four tasks, so one task
  // writes an empty file); `refused`, when set, commits a batch
  // violating the check
  private case class Step(name: String, partitionedOnly: Boolean,
                          run: (TxLogTable, Long, Long) => Any,
                          refused: Option[TxLogTable => Any])

  test("every data-commit entry point keeps the shared invariants: no " +
      "zero-row file, NDV never low, a bloom per file, CHECK refusal " +
      "publishes nothing") {
    for (partitioned <- Seq(false, true)) {
      val name = if (partitioned) "dcp" else "dcu"
      val qn = s"dccat.ns.$name"
      spark.sql(s"DROP TABLE IF EXISTS $qn")
      spark.sql(s"CREATE TABLE $qn (id BIGINT, p STRING, k STRING, " +
        "c BIGINT, amt DOUBLE) USING txlog " +
        (if (partitioned) "PARTITIONED BY (p) " else "") +
        "TBLPROPERTIES ('bloomCols'='k', 'ndvCols'='c')")
      val t = TxLogTable(spark, s"$warehouse/ns/$name")
      val schema = t.tableSchema.get
      val layout = if (partitioned) Seq("p") else Nil
      // 12 rows from id `from`: two partition values, distinct keys,
      // three ndv values from `cBase`, amounts negative when `bad`
      def batch(from: Long, cBase: Long, bad: Boolean = false): DataFrame =
        (from until from + 12).map(i => (i, s"p${i % 2}", s"k$i",
          cBase + i % 3, if (bad) -1.0 else i.toDouble))
          .toDF("id", "p", "k", "c", "amt")
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
      t.commit(batch(0, 0), overwrite = false, partitionCols = layout)
      t.addCheck(schema, "amt_pos", "amt >= 0")
      val steps = Seq(
        Step("commit append", false,
          (t, from, c) => t.commit(batch(from, c), overwrite = false,
            partitionCols = layout),
          Some(t => t.commit(batch(900, 0, bad = true), overwrite = false,
            partitionCols = layout))),
        Step("commit overwrite", false,
          (t, from, c) => t.commit(batch(from, c).union(batch(0, 0)),
            overwrite = true, partitionCols = layout),
          Some(t => t.commit(batch(900, 0, bad = true), overwrite = true,
            partitionCols = layout))),
        Step("commitDynamic", true,
          (t, from, c) => t.commitDynamic(
            batch(from, c).union(batch(0, 0)), layout),
          Some(t => t.commitDynamic(batch(900, 0, bad = true), layout))),
        Step("merge", false,
          (t, from, c) => t.merge(schema, batch(from - 100, c), Seq("id")),
          Some(t => t.merge(schema, batch(0, 0, bad = true), Seq("id")))),
        Step("deleteWhere", false,
          (t, _, _) => t.deleteWhere(schema, col("id") % 5 === 0L), None),
        Step("replaceWhere", false,
          (t, from, c) => t.replaceWhere(schema, col("id") >= from - 100,
            batch(from, c)),
          Some(t => t.replaceWhere(schema, col("id") >= 900L,
            batch(900, 0, bad = true)))),
        Step("commitReplacingDf", false,
          (t, from, c) => t.commitReplacingDf(batch(from, c),
            Some(Set.empty), "append"),
          Some(t => t.commitReplacingDf(batch(900, 0, bad = true),
            Some(Set.empty), "append"))),
        Step("SQL INSERT", false,
          (_, from, c) => spark.sql(s"INSERT INTO $qn SELECT id, " +
            s"concat('p', id % 2), concat('k', id), $c + id % 3, " +
            s"CAST(id AS DOUBLE) FROM range($from, ${from + 3}, 1, 4)"),
          Some(_ => spark.sql(s"INSERT INTO $qn SELECT id, 'p0', 'k', 0, " +
            "-1.0 FROM range(900, 912)"))),
        Step("SQL UPDATE", false,
          (_, _, c) => spark.sql(s"UPDATE $qn SET c = $c + id % 3 " +
            "WHERE id < 6"),
          Some(_ => spark.sql(s"UPDATE $qn SET amt = -1.0 WHERE id < 6"))),
        Step("SQL DELETE", false,
          (_, _, _) => spark.sql(s"DELETE FROM $qn WHERE id % 7 = 3"),
          None))
      steps.filter(s => partitioned || !s.partitionedOnly).zipWithIndex
        .foreach { case (step, i) =>
          val what = s"${step.name} (partitioned = $partitioned)"
          step.refused.foreach { bad =>
            val before = t.latestVersion
            val e = intercept[Throwable](bad(t))
            val msgs = Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
            assert(msgs.exists(_.contains("amt_pos")), s"$what: $e")
            assert(t.latestVersion == before,
              s"$what: a refused batch published a version")
          }
          // each step brings three ndv values never seen before: ten
          // steps stay under KmvK = 64, where the sketch counts exactly
          step.run(t, 100L * (i + 1), 3L * (i + 1))
          val v = t.latestVersion.get
          assert(zeroRowFiles(t).isEmpty, s"$what: zero-row file")
          // under k the sketch holds the hash of every value it folded:
          // each live value's hash must be among them
          val live = graft.functions.Sketches.kmvMinima(
              t.snapshot(schema), col("c"), TxLogTable.KmvK)
            .collect().map(_.getString(0).take(15)).toSet
          val folded = t.headerOf(v).ndv.toMap.getOrElse("c", Nil).toSet
          assert(live.subsetOf(folded), s"$what: sketch misses live values")
          assert(t.ndvOf(v)("c") >= live.size,
            s"$what: ndv ${t.ndvOf(v)("c")} below the exact ${live.size}")
          val noBloom = t.entries().filterNot(_.blooms.contains("k"))
          assert(noBloom.isEmpty, s"$what: files without a bloom: $noBloom")
        }
    }
  }

  test("a commit landing during the staging write makes a merge or delete " +
      "lose the race and re-stage; a pre-staged append stages once") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val protocolKey = "spark.sql.sources.commitProtocolClass"
    // the jobs `op` runs on a fresh two-file table; with `race`, a
    // zero-job commit (a restore of the head) lands right after its
    // first write job
    def jobs(race: Boolean)(op: TxLogTable => Any): Seq[String] = {
      val t = fresh()
      t.commit((0L until 20L).map(i => (i, s"a$i")).toDF("id", "v"),
        overwrite = true)
      t.commit((20L until 40L).map(i => (i, s"a$i")).toDF("id", "v"),
        overwrite = false)
      spark.conf.set(protocolKey, classOf[HookedCommitProtocol].getName)
      if (race) HookedCommitProtocol.hook.set(() =>
        TxLogTable(spark, t.root).restore(t.latestVersion.get))
      try {
        val (_, js) = org.apache.spark.JobCount.described(
          spark.sparkContext)(op(t))
        assert(HookedCommitProtocol.hook.get == null || !race)
        js
      } finally {
        HookedCommitProtocol.hook.set(null)
        spark.conf.unset(protocolKey)
      }
    }
    val batch = Seq((5L, "m5"), (50L, "m50")).toDF("id", "v")
    val merge: TxLogTable => Any = _.merge(schema, batch, Seq("id"))
    val delete: TxLogTable => Any = _.deleteWhere(schema, col("id") === 5L)
    val append: TxLogTable => Any = _.commit(batch, overwrite = false)
    for ((name, op) <- Seq("merge" -> merge, "delete" -> delete)) {
      val (calm, raced) = (jobs(race = false)(op), jobs(race = true)(op))
      assert(raced.size > calm.size,
        s"$name must re-stage after its lost race: $calm vs $raced")
    }
    assert(jobs(race = true)(append) == jobs(race = false)(append),
      "a pre-staged append must never be staged twice")
  }

  test("CALL system.refresh_all: a failed upstream view reports its " +
      "error row and its dependents still run") {
    for (t <- Seq("src", "up_v", "a_down"))
      spark.sql(s"DROP TABLE IF EXISTS dccat.ra.$t")
    spark.sql("CREATE TABLE dccat.ra.src (k BIGINT, v DOUBLE) USING txlog")
    spark.sql("INSERT INTO dccat.ra.src VALUES (1, 1.0), (2, 2.0)")
    spark.sql("CALL dccat.system.create_mv('ra.up_v', 'ra.src', 'k', " +
      "'t:v')").collect()
    // named to sort FIRST: the sweep must still order it after up_v
    spark.sql("CALL dccat.system.create_mv('ra.a_down', 'ra.up_v', 'k', " +
      "'t2:t')").collect()
    // the upstream view's source disappears: its refresh fails
    spark.sql("DROP TABLE dccat.ra.src")
    val rows = spark.sql("CALL dccat.system.refresh_all('ra')").collect()
    val modes = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(modes.keySet == Set("ra.up_v", "ra.a_down"), modes.toString)
    assert(modes("ra.up_v").startsWith("error"), modes.toString)
    assert(modes("ra.a_down") == "noop", modes.toString)
    assert(rows.map(_.getString(0)).toSeq == Seq("ra.up_v", "ra.a_down"),
      "rows come in refresh order")
    val t = TxLogTable(spark, s"$warehouse/ra/a_down")
    assert(t.latestVersion.isDefined)
  }

  test("merge of an empty batch publishes nothing; a batch of NULL keys " +
      "still inserts") {
    val schemaI = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val schemaS = StructType(Seq(
      StructField("name", StringType), StructField("v", StringType)))
    for ((schema, key, rows) <- Seq(
        (schemaI, "id", Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
        (schemaS, "name", Seq(("x", "a"), ("y", "b")).toDF("name", "v")))) {
      val t = fresh()
      t.commit(rows, overwrite = true)
      val head = t.latestVersion.get
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      val st = t.merge(schema, empty, Seq(key))
      assert(t.latestVersion.contains(head), s"$key: a version was published")
      assert(st.version == head && st.rewritten == 0 &&
        st.carried == t.fileCount(), s"$key: $st")
      assert(t.history().map(_.version).max == head)
      // a batch whose keys are all NULL matches nothing and inserts
      val nullKeys = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, "n")), schema)
      val ins = t.merge(schema, nullKeys, Seq(key))
      assert(ins.version == head + 1 && ins.rewritten == 0, s"$key: $ins")
      assert(t.snapshot(schema).count() == 3L)
    }
  }
}
