package graft.tools

import org.apache.spark.sql.functions._

/** Microbench of per-action fixed costs in the bench session shape:
  * times N repetitions of small canonical actions (scan+shuffle+agg,
  * broadcast join, localCheckpoint, tiny parquet write) under the
  * session's AQE/partition settings — the denominator behind every
  * multi-action engine path (MV refresh, DML commit, ANN search).
  */
object ActionCost {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("actioncost")
    val tiny = (1 to 1000).map(i => (i.toLong, i % 50, s"v$i"))
      .toDF("id", "k", "s")
    tiny.write.mode("overwrite").parquet(s"$dir/tiny")
    val small = (1 to 40).map(i => (i % 50, s"d$i")).toDF("k", "dv")
    small.write.mode("overwrite").parquet(s"$dir/small")

    def timed(name: String, n: Int)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => f)
      println(f"[cost] $name: ${(System.nanoTime() - t0) / 1e6 / n}%.1f ms/action")
    }

    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      println(s"=== adaptive=$aqe shuffle.partitions=$cpus")
      val t = spark.read.parquet(s"$dir/tiny")
      val s = spark.read.parquet(s"$dir/small")
      timed("scan+count", 30) { t.count() }
      timed("scan+groupBy+count", 30) { t.groupBy("k").count().count() }
      timed("scan+bcast-join+agg", 30) {
        t.join(broadcast(s), "k").groupBy("dv").count().count() }
      timed("distinct+localCheckpoint", 30) {
        t.select("k").distinct().localCheckpoint().count() }
      timed("tiny parquet write", 20) {
        t.limit(100).write.mode("overwrite").parquet(s"$dir/out") }
      timed("local-relation bcast join", 30) {
        val lr = spark.createDataFrame(
          java.util.Arrays.asList(small.collect(): _*), small.schema)
        t.join(broadcast(lr), "k").groupBy("dv").count().count() }
    }
    spark.stop()
  }
}
