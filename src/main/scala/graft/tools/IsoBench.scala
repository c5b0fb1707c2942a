package graft.tools

/** Single-query isolation bench: times the named SparkEntry queries in a
  * FRESH session with no shared warm caches — the A/B tool for separating
  * a query's own cost from session-state pollution in the full Bench run.
  *   sbt "runMain graft.tools.IsoBench dd_jaccard sql_spj_join"
  */
object IsoBench {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("md5(cast(id as string)) m")
      .agg("m" -> "max").collect()
    for (q <- args; p <- 1 to 3) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).count()
      println(f"[iso] $q pass$p ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
