package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** One-decade scale curve for the headline queries: synthesize an
  * sf1-equivalent dataset (the sf0.1 tables replicated 10× with
  * key-column offsets so id spaces stay unique and duplication structure
  * scales), then time each headline query at sf0.1 and at the synthetic
  * sf1 and print the seconds side by side. This turns "the plans are
  * scale-ready" into a measured curve: a query whose plan is linear in
  * the data shows ~10× input at ~≤10× wall; a plan with a hidden
  * quadratic (all-pairs join, corpus rescan) shows ~100×.
  *
  * Run: sbt -batch "runMain graft.tools.Sf1Probe"
  * (writes the synthetic tables to /tmp/graft-sf1 once, reuses after)
  */
object Sf1Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val src = "/root/testdata/sf0.1"
    val out = "/tmp/graft-sf1"
    val reps = 10
    // key offsets keep every id space unique across copies (and the
    // near-dup/banding structure of documents scales with the corpus)
    val tables = Seq(
      "lineitem" -> "l_orderkey", "part" -> "p_partkey",
      "documents" -> "doc_id", "embeddings" -> "vec_id",
      "events" -> "event_id")
    if (!Files.exists(Paths.get(out, "_done"))) {
      for ((tb, key) <- tables) {
        val base = spark.read.parquet(s"$src/$tb.parquet")
        (0 until reps).map(i =>
            base.withColumn(key, col(key) + lit(i * 100000000L)))
          .reduce(_.unionByName(_))
          .write.mode("overwrite").parquet(s"$out/$tb.parquet")
      }
      Files.createFile(Paths.get(out, "_done"))
    }
    // `runMain graft.tools.Sf1Probe armsOnly` skips the (slow) headline
    // decade tables and runs just the dim-delta / targeted-recompute /
    // retrain arms — the iteration loop when tuning an arm
    val armsOnly = args.contains("armsOnly")
    val queries = if (armsOnly) Nil
    else Seq("a1_pricing_summary", "occupancy_index",
      "dd_dedup_near_exact", "sim_ivf_batch", "sql_mv_incremental",
      "tx_quality", "sk_hll_registers", "dd_minhash_lsh")
    // result-row counts ride along: a query whose OUTPUT grows
    // super-linearly (the dedup pair emitters — candidate pairs are
    // quadratic in the duplication density this replication inflates)
    // is judged against its output, not the input decade
    println("| query | sf0.1 s | sf1 s | wall | sf0.1 rows | sf1 rows " +
      "| rows ratio |")
    println("|---|---|---|---|---|---|---|")
    for (q <- queries) {
      def best(dir: String): (Double, Long) = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }.minBy(_._1)
      val (s01, n01) = best(src)
      val (s1, n1) = best(out)
      println(f"| $q | $s01%.2f | $s1%.2f | ${s1 / s01}%.1fx " +
        f"| $n01 | $n1 | ${n1.toDouble / math.max(n01, 1)}%.1fx |")
    }
    // context for the dedup ratio: the replication makes every doc a
    // 10-way near-dup family, so the VERIFY stage's candidate pairs
    // grow quadratically in duplication density — report the actual
    // pair counts so wall-clock can be judged against real work
    if (!armsOnly) for ((label, dir) <- Seq("sf0.1" -> src, "sf1" -> out)) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val pairs = graft.queries.TextQueries.statelessBands(docs)
        .groupBy("band", "band_key").agg(count(lit(1)).as("n"))
        .agg(sum((col("n") * (col("n") - 1)).cast("long") / 2)
          .cast("long")).head.getLong(0)
      println(s"[probe] $label LSH candidate pairs: $pairs")
    }
    // ---- NATURAL-DUPLICATION arm: 10× docs at ~constant dup density --
    // The plain replication above inflates duplication density
    // quadratically (every doc becomes a 10-way near-dup family), which
    // makes the dedup queries' wall look super-linear when the real
    // driver is their output. This arm perturbs each copy with a
    // per-copy LETTER ROTATION (a bijection: near-dup structure WITHIN a
    // copy is preserved exactly, cross-copy shingle overlap is
    // destroyed), so the corpus grows 10× while duplication density
    // stays ~flat — the honest linearity measurement for the dedup path.
    val natOut = "/tmp/graft-sf1nat"
    if (!Files.exists(Paths.get(natOut, "_done"))) {
      val base = spark.read.parquet(s"$src/documents.parquet")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      (0 until reps).map { i =>
        val rot = alpha.drop(i) + alpha.take(i)
        val shifted = base.withColumn("doc_id",
          col("doc_id") + lit(i * 100000000L))
        if (i == 0) shifted
        else shifted.withColumn("text", translate(col("text"),
          alpha + alpha.toUpperCase, rot + rot.toUpperCase))
      }.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$natOut/documents.parquet")
      Files.createFile(Paths.get(natOut, "_done"))
    }
    println("| dedup query | sf0.1 s | sf1-nat s | wall | sf0.1 rows " +
      "| sf1-nat rows | rows ratio |")
    println("|---|---|---|---|---|---|---|")
    for (q <- if (armsOnly) Nil
         else Seq("dd_dedup_near_exact", "dd_minhash_lsh")) {
      def best(dir: String): (Double, Long) = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }.minBy(_._1)
      val (s01, n01) = best(src)
      val (s1, n1) = best(natOut)
      println(f"| $q | $s01%.2f | $s1%.2f | ${s1 / s01}%.1fx " +
        f"| $n01 | $n1 | ${n1.toDouble / math.max(n01, 1)}%.1fx |")
    }
    if (!armsOnly) for ((label, dir) <-
         Seq("sf0.1" -> src, "sf1-nat" -> natOut)) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val pairs = graft.queries.TextQueries.statelessBands(docs)
        .groupBy("band", "band_key").agg(count(lit(1)).as("n"))
        .agg(sum((col("n") * (col("n") - 1)).cast("long") / 2)
          .cast("long")).head.getLong(0)
      println(s"[probe] $label LSH candidate pairs: $pairs")
    }

    // ---- DIM-DELTA arm: 10× fact, FIXED-size dim delta ---------------
    // The r18 claim: a dim window folds in O(dim delta + affected fact
    // rows), with a ≤1024-key IN set pushed into an FK-clustered fact
    // scan so the read is O(touched files). 10× the fact with the SAME
    // 64-key dim delta should hold refresh wall ~flat, not 10×.
    locally {
      import org.apache.spark.sql.types._
      val evs = spark.read.parquet(s"$src/events.parquet")
        .select(col("event_id"), col("user_id"),
          col("value").cast(DoubleType).as("value"))
      val dimRows = evs.select(col("user_id").as("uid")).distinct()
        .withColumn("seg", pmod(col("uid"), lit(13L)))
      val fSchema = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("value", DoubleType)))
      val dSchema = StructType(Seq(StructField("uid", LongType),
        StructField("seg", LongType)))
      println("| fact rows | dim delta keys | refresh s | mode |")
      println("|---|---|---|---|")
      for (mult <- Seq(1, 10)) {
        val base = Paths.get(s"/tmp/graft-sf1-dimarm-$mult")
        org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        val fact = graft.sources.TxLogTable(spark,
          base.resolve("fact").toString)
        val dim = graft.sources.TxLogTable(spark,
          base.resolve("dim").toString)
        val f = (0 until mult).map(i => evs
            .withColumn("event_id", col("event_id") + lit(i * 100000000L)))
          .reduce(_.unionByName(_))
          // FK-clustered: the IN-pushdown's manifest prune is the claim
          .repartitionByRange(32, col("user_id"))
          .sortWithinPartitions("user_id")
        fact.commit(f, overwrite = true)
        dim.commit(dimRows, overwrite = true)
        val mvRoot = base.resolve("mv").toString
        graft.operators.MaterializedView.createJoined(spark, mvRoot,
          s"dimarm$mult", fact, fSchema, dim, dSchema,
          Seq("user_id" -> "uid"), Seq("seg"), Seq("total" -> "value"))
        // untimed warmup window first: the dim-fold path's codegen/JIT
        // would otherwise charge entirely to the first measured decade
        dim.updateWherePos(dSchema, pmod(col("uid"), lit(97L)) === 5L,
          Seq("seg" -> (col("seg") + 1000L)))
        graft.operators.MaterializedView.refresh(spark, mvRoot)
        dim.updateWherePos(dSchema, pmod(col("uid"), lit(30L)) === 7L,
          Seq("seg" -> (col("seg") + 100L)))
        val kchg = dimRows.filter(pmod(col("uid"), lit(30L)) === 7L)
          .count()
        val t0 = System.nanoTime()
        val st = graft.operators.MaterializedView.refresh(spark, mvRoot)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"| ${fact.metaRowCount(None).getOrElse(-1L)} | $kchg " +
          f"| $sec%.2f | ${st.mode} |")
      }
    }

    // ---- SHUFFLE-FOLD arm: over-cap dim delta, 10× fact --------------
    // The r19 claim: a changed-key set past spark.graft.mv.maxDimDeltaKeys
    // no longer pays a full recompute — the same signed arithmetic folds
    // through SHUFFLE joins, O(delta + affected). With the cap forced to
    // 1 the whole delta takes the shuffle path; 10× the fact with the
    // SAME fixed delta should hold refresh wall ~flat and the mode
    // incremental (vs the r18 behavior: mode=full, wall O(view)).
    locally {
      import org.apache.spark.sql.types._
      val evs = spark.read.parquet(s"$src/events.parquet")
        .select(col("event_id"), col("user_id"),
          col("value").cast(DoubleType).as("value"))
      val dimRows = evs.select(col("user_id").as("uid")).distinct()
        .withColumn("seg", pmod(col("uid"), lit(13L)))
      val fSchema = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("value", DoubleType)))
      val dSchema = StructType(Seq(StructField("uid", LongType),
        StructField("seg", LongType)))
      println("| fact rows | dim delta keys | shuffle-fold s | mode |")
      println("|---|---|---|---|")
      spark.conf.set("spark.graft.mv.maxDimDeltaKeys", "1")
      try for (mult <- Seq(1, 10)) {
        val base = Paths.get(s"/tmp/graft-sf1-shufarm-$mult")
        org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        val fact = graft.sources.TxLogTable(spark,
          base.resolve("fact").toString)
        val dim = graft.sources.TxLogTable(spark,
          base.resolve("dim").toString)
        val f = (0 until mult).map(i => evs
            .withColumn("event_id", col("event_id") + lit(i * 100000000L)))
          .reduce(_.unionByName(_))
          .repartitionByRange(32, col("user_id"))
          .sortWithinPartitions("user_id")
        fact.commit(f, overwrite = true)
        dim.commit(dimRows, overwrite = true)
        val mvRoot = base.resolve("mv").toString
        graft.operators.MaterializedView.createJoined(spark, mvRoot,
          s"shufarm$mult", fact, fSchema, dim, dSchema,
          Seq("user_id" -> "uid"), Seq("seg"), Seq("total" -> "value"))
        // untimed warmup window (codegen/JIT), then the measured window
        dim.updateWherePos(dSchema, pmod(col("uid"), lit(97L)) === 5L,
          Seq("seg" -> (col("seg") + 1000L)))
        graft.operators.MaterializedView.refresh(spark, mvRoot)
        dim.updateWherePos(dSchema, pmod(col("uid"), lit(30L)) === 7L,
          Seq("seg" -> (col("seg") + 100L)))
        val kchg = dimRows.filter(pmod(col("uid"), lit(30L)) === 7L)
          .count()
        val t0 = System.nanoTime()
        val st = graft.operators.MaterializedView.refresh(spark, mvRoot)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"| ${fact.metaRowCount(None).getOrElse(-1L)} | $kchg " +
          f"| $sec%.2f | ${st.mode} |")
      } finally spark.conf.unset("spark.graft.mv.maxDimDeltaKeys")
    }

    // ---- 2-DIM STAR arm: both dims churn, 10× fact, ONE refresh ------
    // The r19 claim: with N dims the per-dim signed corrections
    // TELESCOPE — one refresh absorbs fixed-size deltas on BOTH dims in
    // O(sum of deltas + affected fact rows). 10× the fact with the SAME
    // two deltas should hold the refresh wall ~flat and the mode
    // incremental.
    locally {
      import org.apache.spark.sql.types._
      val evs = spark.read.parquet(s"$src/events.parquet")
        .select(col("event_id"), col("user_id"),
          (col("event_id") % 40).as("cat_id"),
          col("value").cast(DoubleType).as("value"))
      val dimU = evs.select(col("user_id").as("uid")).distinct()
        .withColumn("seg", pmod(col("uid"), lit(13L)))
      val dimC = evs.select(col("cat_id").as("cid")).distinct()
        .withColumn("cls", pmod(col("cid"), lit(7L)))
      val fSchema = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("cat_id", LongType),
        StructField("value", DoubleType)))
      val duSchema = StructType(Seq(StructField("uid", LongType),
        StructField("seg", LongType)))
      val dcSchema = StructType(Seq(StructField("cid", LongType),
        StructField("cls", LongType)))
      println("| fact rows | dim0+dim1 delta keys | refresh s | mode |")
      println("|---|---|---|---|")
      for (mult <- Seq(1, 10)) {
        val base = Paths.get(s"/tmp/graft-sf1-star2arm-$mult")
        org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        val fact = graft.sources.TxLogTable(spark,
          base.resolve("fact").toString)
        val du = graft.sources.TxLogTable(spark,
          base.resolve("dimu").toString)
        val dc = graft.sources.TxLogTable(spark,
          base.resolve("dimc").toString)
        val f = (0 until mult).map(i => evs
            .withColumn("event_id", col("event_id") + lit(i * 100000000L)))
          .reduce(_.unionByName(_))
          .repartitionByRange(32, col("user_id"))
          .sortWithinPartitions("user_id")
        fact.commit(f, overwrite = true)
        du.commit(dimU, overwrite = true)
        dc.commit(dimC, overwrite = true)
        val mvRoot = base.resolve("mv").toString
        graft.operators.MaterializedView.createStar(spark, mvRoot,
          s"star2arm$mult", fact, fSchema,
          Seq((du, duSchema, Seq("user_id" -> "uid")),
            (dc, dcSchema, Seq("cat_id" -> "cid"))),
          Seq("seg", "cls"), Seq("total" -> "value"))
        // untimed warmup window (codegen/JIT on the correction path)
        du.updateWherePos(duSchema, pmod(col("uid"), lit(97L)) === 5L,
          Seq("seg" -> (col("seg") + 1000L)))
        graft.operators.MaterializedView.refresh(spark, mvRoot)
        // measured: FIXED deltas on BOTH dims, one refresh
        du.updateWherePos(duSchema, pmod(col("uid"), lit(30L)) === 7L,
          Seq("seg" -> (col("seg") + 100L)))
        dc.updateWherePos(dcSchema, pmod(col("cid"), lit(8L)) === 3L,
          Seq("cls" -> (col("cls") + 50L)))
        val kchg = dimU.filter(pmod(col("uid"), lit(30L)) === 7L).count() +
          dimC.filter(pmod(col("cid"), lit(8L)) === 3L).count()
        val t0 = System.nanoTime()
        val st = graft.operators.MaterializedView.refresh(spark, mvRoot)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"| ${fact.metaRowCount(None).getOrElse(-1L)} | $kchg " +
          f"| $sec%.2f | ${st.mode} |")
      }
    }

    // ---- TARGETED-RECOMPUTE arm: 10× groups, FIXED affected set ------
    // The r18 claim: a deleting window on a MIN/MAX view re-aggregates
    // exactly the affected groups — write O(affected), never O(view).
    // 10× the group count with the SAME affected-group set should hold
    // groupsChanged flat and wall sublinear (the read still scans the
    // snapshot once; the write side is the claim).
    locally {
      import org.apache.spark.sql.types._
      val fSchema = StructType(Seq(StructField("k", LongType),
        StructField("v", DoubleType)))
      println("| groups | affected | refresh s | mode |")
      println("|---|---|---|---|")
      for (mult <- Seq(1, 10)) {
        val groups = 100000L * mult
        val base = Paths.get(s"/tmp/graft-sf1-mmarm-$mult")
        org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        val srcT = graft.sources.TxLogTable(spark,
          base.resolve("src").toString)
        srcT.commit(spark.range(groups * 4)
          .select(pmod(col("id"), lit(groups)).as("k"),
            (col("id") % 1000).cast(DoubleType).as("v"))
          .repartitionByRange(32, col("k")).sortWithinPartitions("k"),
          overwrite = true)
        val mvRoot = base.resolve("mv").toString
        graft.operators.MaterializedView.create(spark, mvRoot,
          s"mmarm$mult", srcT, fSchema, Seq("k"), Seq("total" -> "v"),
          mins = Seq("lo" -> "v"), maxs = Seq("hi" -> "v"))
        // delete rows of exactly 64 groups — the affected set is FIXED
        // across the decade
        srcT.deleteWherePos(fSchema, col("k") < 64L)
        val t0 = System.nanoTime()
        val st = graft.operators.MaterializedView.refresh(spark, mvRoot)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"| $groups | ${st.groupsChanged} | $sec%.2f " +
          f"| ${st.mode} |")
      }
    }

    // ---- RETRAIN-COST arm: 10× corpus, bounded-sample training -------
    // The r18/r19 claim: refreshAuto's retrain routes through buildAuto,
    // whose k-means trains on a BOUNDED sample (train_stride grows with
    // the corpus) — so the training row count stays ~flat across the
    // decade and the retrain cost is dominated by the single assignment
    // pass, not the quadratic fit.
    locally {
      println("| vectors | trained sample | stride | build s |")
      println("|---|---|---|---|")
      for (mult <- Seq(10, 100)) {
        val emb = spark.read.parquet(s"$src/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val corpus = (0 until mult).map(i => emb
            .withColumn("vec_id", col("vec_id") + lit(i * 100000000L)))
          .reduce(_.unionByName(_))
        val base = Paths.get(s"/tmp/graft-sf1-annarm-$mult")
        org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        val ct = graft.sources.TxLogTable(spark,
          base.resolve("c").toString)
        ct.commit(corpus, overwrite = true)
        val idx = base.resolve("i").toString
        val t0 = System.nanoTime()
        graft.operators.AnnIndex.buildAuto(spark, ct.root, idx,
          corpus.schema, iterations = 2, targetCell = 256L,
          trainSample = 8192L, pq = false)
        val sec = (System.nanoTime() - t0) / 1e9
        val meta = graft.sources.TxLogTable(spark, s"$idx/meta")
          .snapshot(graft.operators.AnnIndex.metaSchema).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val n = ct.metaRowCount(None).getOrElse(-1L)
        val stride = meta.getOrElse("train_stride", "1").toLong
        println(f"| $n | ${n / math.max(1L, stride)} | $stride " +
          f"| $sec%.2f |")
      }
    }
    spark.stop()
  }
}
