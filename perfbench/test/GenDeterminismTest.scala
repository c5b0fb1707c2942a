package graftbench

import java.nio.file.Paths
import java.security.MessageDigest

/** The benchmark's inputs are a function of the seed: the same seed must
  * give byte-identical inputs (the ETL payloads of several runs, and the
  * rows of every generated table in generation order), a different seed
  * different ones. Rows are compared as text, not as parquet files: the
  * parquet writer lists a column chunk's encodings in hash order, which
  * differs between JVMs. Run with `python3 perfbench/run.py --selftest`. */
object GenDeterminismTest {
  private def sha(bytes: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    bytes.foreach(b => md.update(b))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(dir, 2)
    def inputs(seed: Long): String = {
      val feed = new Gen.EtlFeed(seed, 20)
      val payloads = (0 to 3).map { i =>
        if (i > 0) feed.advance()
        feed.payloads.files.map { case (f, s) => f + "\u0000" + s }.mkString("\u0001")
      }
      val tables = Seq(
        "lineitem" -> Gen.lineitem(spark, seed, 1, 1000, slices = 3),
        "merge" -> Gen.lineitem(spark, seed, 11, 50, salt = 1001),
        "orders" -> Gen.orders(spark, seed, 1000, slices = 2),
        "part" -> Gen.part(spark, seed, 1, 500, salt = 30),
        "embeddings" -> Gen.embeddings(spark, seed, 200, 8, 4, slices = 2))
      val rows = tables.iterator.flatMap { case (name, df) =>
        Iterator(name) ++ df.collect().iterator.map(_.toString) }
      sha((payloads.iterator ++ rows).map(_.getBytes("UTF-8")))
    }
    val a = inputs(7)
    val b = inputs(7)
    val c = inputs(8)
    spark.stop()
    val fails = Seq(
      if (a == b) None else Some(s"seed 7 twice: $a != $b"),
      if (a != c) None else Some(s"seeds 7 and 8 gave the same inputs: $a")).flatten
    fails.foreach(f => println(s"FAIL $f"))
    println(if (fails.isEmpty) s"PASS generator determinism ($a)" else "FAILED")
    if (fails.nonEmpty) sys.exit(1)
  }
}
