package graft.tools

/** Plan inspector: prints `.explain("formatted")` for the named SparkEntry
  * queries (all of them if none named) — the dev loop for checking pushdown,
  * broadcast choice, and exchange count before/after a rewrite.
  *
  * Usage: runMain graft.tools.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = Sessions.local(4)
    graft.SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable =>
          println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
