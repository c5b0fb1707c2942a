package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.AnnIndex
import graft.sources.TxLogTable

/** Measured recall decay of the refresh-without-retrain growth path —
  * the number [[graft.operators.AnnIndex.refreshAuto]]'s threshold
  * exists to bound. The corpus starts on the sf0.1 embeddings
  * distribution; each cycle appends a DRIFTED batch (the embeddings
  * with their dimensions reversed — same norms, different region of the
  * sphere) and routes it to the FROZEN centroids; recall@10 of
  * IVF(nprobe=1) against brute-force ground truth is measured over
  * queries from the drifted region after every cycle, then once more
  * after a retrain. Expectation: recall on the drifted region decays
  * (or sits low) while routing, and recovers after the retrain
  * re-derives cells for the grown distribution.
  *
  * Run: sbt -batch "runMain graft.tools.AnnDriftProbe"
  */
object AnnDriftProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    import spark.implicits._
    val emb = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("ann-drift")
    val corpus = TxLogTable(spark, tmp.resolve("c").toString)
    corpus.commit(emb, overwrite = true)
    val idx = tmp.resolve("i").toString
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val (_, k) = AnnIndex.buildAuto(spark, corpus.root, idx, schema,
      iterations = 4, targetCell = 256L, pq = false)
    val n = emb.count()
    println(s"[drift] corpus=$n k=$k targetCell=256")

    // the drifted batches: reversed dimensions — unit-norm-preserving,
    // but a region the trained centroids never saw
    def drifted(cycle: Int): DataFrame =
      emb.select((col("vec_id") + lit(cycle * 1000000L)).as("vec_id"),
        reverse(col("embedding")).as("embedding"))

    // recall@10 of IVF vs brute force, queries from the NEWEST drifted
    // batch (where decay shows first); nprobe lets the caller hold the
    // CANDIDATE BUDGET constant across different k (recall is only
    // comparable at equal fraction of the corpus scanned)
    def recallAt10(queryIds: Seq[Long], nprobe: Int = 1): Double = {
      val got = AnnIndex.searchIvfBatch(spark, idx, queryIds, 10,
          nprobe = nprobe)
        .select(col("q_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }
      val meta = TxLogTable(spark, s"$idx/meta")
        .snapshot(AnnIndex.metaSchema).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val pinned = meta("corpus_version").toInt
      val full = corpus.snapshot(schema, Some(pinned))
        .select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding"))
            .as("v"))
      val qs = full.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id")
        .orderBy(col("c").desc, col("vec_id"))
      val truth = full.crossJoin(broadcast(qs))
        .select(col("q_id"), col("vec_id"),
          graft.functions.VectorFunctions.cosine(col("v"), col("qv"))
            .as("c"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }
      val hits = truth.toSeq.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      hits.sum / hits.size
    }

    // candidate budget held at ~corpus/8 per query throughout: the
    // stale index keeps k=8 cells (whose size GROWS as routing piles
    // on), the retrained index re-derives k for the grown corpus, so
    // its nprobe scales to match the same scanned fraction
    println("| stage | action | routed_frac | cells | probed frac " +
      "| recall@10 (drifted qs) |")
    println("|---|---|---|---|---|---|")
    val qids3 = (0 until 20).map(i => 3 * 1000000L + i * 7L)
    (1 to 3).foreach { c =>
      corpus.commit(drifted(c), overwrite = false)
      val (_, _, action) = AnnIndex.refreshAuto(spark, idx, 0.99)
      val st = AnnIndex.status(spark, idx)
      val qids = (0 until 20).map(i => c * 1000000L + i * 7L)
      println(f"| cycle $c | $action | ${st.routedFrac}%.3f " +
        f"| ${st.cells} | ${1.0 / st.cells}%.3f " +
        f"| ${recallAt10(qids)}%.3f |")
    }
    // the guard's answer: one retrain re-derives cells for the grown
    // distribution; recall on the same drifted queries recovers AT THE
    // SAME candidate budget (nprobe = cells/8 ≈ the stale 1-of-8 scan)
    val (_, _, action) = AnnIndex.refreshAuto(spark, idx, 0.01)
    require(action == "retrained", s"expected a retrain, got $action")
    val st = AnnIndex.status(spark, idx)
    val np = math.max(1, (st.cells / 8).toInt)
    println(f"| retrain | $action | ${st.routedFrac}%.3f " +
      f"| ${st.cells} | ${np.toDouble / st.cells}%.3f " +
      f"| ${recallAt10(qids3, nprobe = np)}%.3f |")
    spark.stop()
  }
}
