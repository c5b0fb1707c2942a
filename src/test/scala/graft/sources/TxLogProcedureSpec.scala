package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.v2.{SystemProcedure, TxLogCatalog}

/** The `CALL <cat>.system.*` catalog contract: every procedure's
  * signature (parameter names, types and SQL defaults, result schema) is
  * pinned, the name list has one source, and the argument rule holds for
  * every procedure — NULL for a parameter without a default fails with
  * `IllegalArgumentException("<proc> needs <param>")`.
  */
class TxLogProcedureSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.proccat", "graft.sources.v2.TxLogCatalog")
    s.conf.set("spark.sql.catalog.proccat.warehouse",
      Files.createTempDirectory("proccat-wh").toString)
    s
  }

  private def catalog: TxLogCatalog = {
    val c = new TxLogCatalog
    c.initialize("c", new CaseInsensitiveStringMap(java.util.Map.of(
      "warehouse", Files.createTempDirectory("proc-sig").toString)))
    c
  }

  private def sys(name: String) = Identifier.of(Array("system"), name)

  // (parameter, SQL type, SQL default or null = required) in call order,
  // and the result schema as DDL ("" = the columns depend on the call)
  private val pinned: Seq[(String, Seq[(String, String, String)], String)] =
    Seq(
    ("compact", Seq(("table", "STRING", null), ("files", "INT", "1"),
      ("partition", "STRING", "NULL")),
      "version INT,files_before INT,files_after INT"),
    ("vacuum", Seq(("table", "STRING", null), ("keep", "INT", "1"),
      ("min_age_ms", "BIGINT", "900000"),
      ("retain_ms", "BIGINT", "604800000"),
      ("dry_run", "BOOLEAN", "false")),
      "manifests_deleted INT,files_deleted INT"),
    ("history", Seq(("table", "STRING", null)),
      "version INT,commit_millis BIGINT,op STRING,n_files INT"),
    ("partitions", Seq(("table", "STRING", null)),
      "partition STRING,n_files INT,n_rows BIGINT"),
    ("restore", Seq(("table", "STRING", null), ("version", "INT", null)),
      "version INT,restored_version INT,n_files INT"),
    ("clone", Seq(("source", "STRING", null), ("dest", "STRING", null)),
      "version INT,n_files INT"),
    ("zorder", Seq(("table", "STRING", null), ("col_a", "STRING", null),
      ("col_b", "STRING", "NULL"), ("files", "INT", "8"),
      ("partition", "STRING", "NULL")),
      "version INT,files_after INT"),
    ("rebucket", Seq(("table", "STRING", null), ("buckets", "INT", null),
      ("key", "STRING", "NULL"), ("files", "INT", "0"),
      ("target_bytes", "BIGINT", "134217728"), ("buckets2", "INT", "NULL"),
      ("key2", "STRING", "NULL")),
      "version INT,buckets_before INT,buckets_after INT,n_files INT"),
    ("semdedup", Seq(("source", "STRING", null), ("dest", "STRING", null),
      ("tau", "DOUBLE", null), ("k", "INT", "0")),
      "dest_version INT,n_vectors BIGINT"),
    ("dedup_near", Seq(("source", "STRING", null), ("dest", "STRING", null),
      ("threshold", "DOUBLE", "0.5")),
      "dest_version INT,n_kept BIGINT"),
    ("bm25", Seq(("table", "STRING", null), ("query", "STRING", null),
      ("k", "INT", "10")),
      "doc_id BIGINT,n_terms BIGINT,bm25 DOUBLE"),
    ("optimize", Seq(("table", "STRING", null),
      ("min_bytes", "BIGINT", "16777216"),
      ("target_bytes", "BIGINT", "134217728")),
      "version INT,rewritten INT,carried INT"),
    ("detail", Seq(("table", "STRING", null)),
      "version INT,n_files INT,n_rows BIGINT,bytes BIGINT," +
        "partition_cols STRING,bucket_spec STRING,sort_cols STRING," +
        "bloom_cols STRING,ndv STRING,cursors STRING," +
        "optimize_write BOOLEAN"),
    ("analyze", Seq(("table", "STRING", null), ("cols", "STRING", null)),
      "version INT,ndv STRING"),
    ("resort", Seq(("table", "STRING", null),
      ("target_bytes", "BIGINT", "134217728")),
      "version INT,rewritten INT,carried INT"),
    ("changes", Seq(("source", "STRING", null), ("dest", "STRING", null),
      ("from_v", "INT", "NULL"), ("to_v", "INT", "NULL"),
      ("with_deletes", "BOOLEAN", "false"), ("from_ts", "STRING", "NULL"),
      ("to_ts", "STRING", "NULL")),
      "dest_version INT,from_v INT,to_v INT"),
    ("ann_build", Seq(("corpus", "STRING", null), ("index", "STRING", null),
      ("k", "INT", "8"), ("iterations", "INT", "2"),
      ("pq", "BOOLEAN", "true"), ("sq8", "BOOLEAN", "false")),
      "pinned_version INT"),
    ("ann_refresh", Seq(("index", "STRING", null),
      ("max_routed_frac", "DOUBLE", "NULL")),
      "pinned_version INT,vectors_added BIGINT,action STRING"),
    ("ann_search", Seq(("index", "STRING", null),
      ("query_vec_id", "BIGINT", null), ("k", "INT", "5"),
      ("predicate", "STRING", "NULL"), ("require_fresh", "BOOLEAN", "false"),
      ("nprobe", "INT", "1"), ("variant", "STRING", "'exact'")),
      "vec_id BIGINT,cluster INT,q_cos DOUBLE"),
    ("ann_build_auto", Seq(("corpus", "STRING", null),
      ("index", "STRING", null), ("target_cell", "BIGINT", "4096"),
      ("train_sample", "BIGINT", "262144"), ("iterations", "INT", "2"),
      ("pq", "BOOLEAN", "true"), ("sq8", "BOOLEAN", "false")),
      "pinned_version INT,k INT"),
    ("ann_status", Seq(("index", "STRING", null)),
      "pinned_version INT,corpus_version INT,total_vectors BIGINT," +
        "routed_since_train BIGINT,routed_frac DOUBLE,cells BIGINT," +
        "mean_cell DOUBLE,max_cell BIGINT,imbalance DOUBLE"),
    ("cursors", Seq(("table", "STRING", null)),
      "name STRING,version INT,updated_millis BIGINT"),
    ("release_cursor", Seq(("table", "STRING", null),
      ("name", "STRING", null)), "released BOOLEAN"),
    ("delete_pos", Seq(("table", "STRING", null),
      ("predicate", "STRING", null)),
      "version INT,rows_deleted BIGINT,files_rewritten INT"),
    ("update_pos", Seq(("table", "STRING", null),
      ("predicate", "STRING", null), ("set", "STRING", null)),
      "version INT,rows_updated BIGINT,files_rewritten INT"),
    ("set_time_unit", Seq(("table", "STRING", null),
      ("source", "STRING", null), ("unit", "STRING", null)),
      "version INT,mixed_layout BOOLEAN"),
    ("tag", Seq(("table", "STRING", null), ("name", "STRING", null),
      ("version", "INT", "NULL")), "name STRING,version INT"),
    ("drop_tag", Seq(("table", "STRING", null), ("name", "STRING", null)),
      "dropped BOOLEAN"),
    ("tags", Seq(("table", "STRING", null)), "name STRING,version INT"),
    ("ann_search_batch", Seq(("index", "STRING", null),
      ("query_vec_ids", "ARRAY<BIGINT>", null), ("k", "INT", "5"),
      ("nprobe", "INT", "1"), ("require_fresh", "BOOLEAN", "false"),
      ("variant", "STRING", "'exact'")), ""),
    ("branch", Seq(("table", "STRING", null), ("name", "STRING", null),
      ("version", "INT", "NULL")), "name STRING,forked_from INT"),
    ("publish", Seq(("table", "STRING", null), ("name", "STRING", null)),
      "published_version INT"),
    ("drop_branch", Seq(("table", "STRING", null),
      ("name", "STRING", null)), "dropped BOOLEAN"),
    ("branches", Seq(("table", "STRING", null)),
      "name STRING,head INT,forked_from INT"),
    ("create_mv", Seq(("view", "STRING", null), ("source", "STRING", null),
      ("group_cols", "STRING", null), ("sums", "STRING", null),
      ("filter", "STRING", "NULL"), ("derives", "STRING", "NULL")),
      "version INT,source_version INT"),
    ("create_mv_joined", Seq(("view", "STRING", null),
      ("fact", "STRING", null), ("dim", "STRING", null),
      ("join_on", "STRING", null), ("group_cols", "STRING", null),
      ("sums", "STRING", null), ("filter", "STRING", "NULL"),
      ("derives", "STRING", "NULL")),
      "version INT,fact_version INT,dim_version INT"),
    ("refresh_mv", Seq(("view", "STRING", null),
      ("full", "BOOLEAN", "false")),
      "mode STRING,from_version INT,to_version INT," +
        "groups_changed BIGINT,mv_version INT"),
    ("mv_status", Seq(("view", "STRING", null)),
      "name STRING,consumed_version INT,source_head INT,behind INT," +
        "group_cols STRING,sums STRING,filter STRING,derives STRING," +
        "dim STRING,dim_pinned INT,dim_head INT,dim_behind INT"),
    ("mvs", Seq(("namespace", "STRING", null)),
      "table STRING,name STRING,consumed_version INT,source_head INT," +
        "behind INT"),
    ("remove_orphans", Seq(("table", "STRING", null),
      ("min_age_ms", "BIGINT", "900000"), ("dry_run", "BOOLEAN", "false")),
      "files_deleted INT"),
    ("create_mv_distinct", Seq(("view", "STRING", null),
      ("source", "STRING", null), ("group_cols", "STRING", null),
      ("measure", "STRING", null), ("filter", "STRING", "NULL")),
      "version INT,source_version INT"),
    ("create_mv_hist", Seq(("view", "STRING", null),
      ("source", "STRING", null), ("group_cols", "STRING", null),
      ("measure", "STRING", null), ("filter", "STRING", "NULL")),
      "version INT,source_version INT"),
    ("mv_distinct", Seq(("view", "STRING", null)), ""),
    ("mv_quantile", Seq(("view", "STRING", null), ("q", "DOUBLE", null)), ""),
    ("mv_branch", Seq(("view", "STRING", null), ("name", "STRING", null)),
      "source_fork_version INT,view_fork_version INT"),
    ("mv_publish", Seq(("view", "STRING", null), ("name", "STRING", null)),
      "source_version INT,view_version INT"),
    ("refresh_all", Seq(("namespace", "STRING", null)),
      "table STRING,mode STRING,from_version INT,to_version INT," +
        "groups_changed BIGINT,view_version INT"),
    ("create_mv_distinct_exact", Seq(("view", "STRING", null),
      ("source", "STRING", null), ("group_cols", "STRING", null),
      ("distinct_col", "STRING", null), ("filter", "STRING", "NULL")),
      "keys_version INT,view_version INT,source_version INT"))

  private def signatureOf(c: TxLogCatalog, name: String) = {
    val p = c.loadProcedure(sys(name)).bind(null)
    p.parameters().toSeq.map(q => (q.name, q.dataType.sql,
      Option(q.defaultValue).map(_.getSql).orNull))
  }

  test("every procedure keeps its pinned name, parameters and result") {
    val c = catalog
    assert(c.listProcedures(Array("system")).map(_.name).toSeq ==
      pinned.map(_._1))
    pinned.foreach { case (name, params, result) =>
      assert(signatureOf(c, name) == params, name)
      val declared = c.loadProcedure(sys(name)) match {
        case p: SystemProcedure => p.result.map(_.toDDL).getOrElse("")
      }
      assert(declared == result, name)
    }
  }

  test("listProcedures is exactly what loadProcedure accepts, each " +
      "under its own name") {
    val c = catalog
    val listed = c.listProcedures(Array("system"))
    assert(listed.map(_.name).distinct.length == listed.length)
    listed.foreach { id =>
      assert(c.loadProcedure(id).name() == id.name)
      assert(c.loadProcedure(id).bind(null).name() == id.name)
    }
    for (unknown <- Seq("nope", "compact2", "metadata"))
      intercept[UnsupportedOperationException](c.loadProcedure(sys(unknown)))
    assert(c.listProcedures(Array("other")).isEmpty)
  }

  test("the unknown-procedure error lists every procedure") {
    val c = catalog
    val e = intercept[UnsupportedOperationException](
      c.loadProcedure(sys("nope")))
    val available = e.getMessage.split("available: ", 2)(1)
      .stripSuffix(")").split(",").map(_.trim).toSet
    assert(available == c.listProcedures(Array("system")).map(_.name).toSet,
      e.getMessage)
  }

  // a valid value for every required parameter; each test call replaces
  // exactly one of them with NULL
  private def validArg(proc: String, param: String): String =
    (proc, param) match {
      case (p, "view") if p.startsWith("create_mv") => "'pns.fresh_view'"
      case (_, "view") => "'pns.mv'"
      case ("set_time_unit", "source") => "'id'"
      case ("set_time_unit", "unit") => "'day'"
      case (_, "table" | "source" | "corpus" | "fact" | "dim") => "'pns.t'"
      case (_, "dest") => "'pns.fresh_dest'"
      case (_, "index") => "'pns.idx'"
      case (_, "namespace") => "'pns'"
      case (_, "name") => "'n1'"
      case (_, "group_cols" | "cols" | "col_a") => "'id'"
      case (_, "sums") => "'total:x'"
      case (_, "measure") => "'m:x'"
      case (_, "distinct_col") => "'x'"
      case (_, "join_on") => "'id:id'"
      case (_, "predicate") => "'id > 100'"
      case (_, "set") => "'x = x + 1'"
      case (_, "query") => "'a b'"
      case (_, "version") => "0"
      case (_, "buckets") => "4"
      case (_, "tau" | "q") => "0.5"
      case (_, "query_vec_id") => "1"
      case (_, "query_vec_ids") => "array(CAST(1 AS BIGINT))"
    }

  test("NULL for any required argument fails naming the procedure and " +
      "the parameter") {
    spark.sql("CREATE TABLE proccat.pns.t (id BIGINT, x DOUBLE, txt STRING)" +
      " USING txlog")
    spark.sql("INSERT INTO proccat.pns.t VALUES (1, 1.0, 'a'), (2, 2.0, 'b')")
    spark.sql("CALL proccat.system.create_mv('pns.mv', 'pns.t', 'id', " +
      "'total:x')").collect()
    val c = catalog
    val failures = for {
      id <- c.listProcedures(Array("system")).toSeq
      required = c.loadProcedure(id).bind(null).parameters().toSeq
        .filter(_.defaultValue == null).map(_.name)
      nulled <- required
    } yield {
      val args = required.map(p =>
        s"`$p` => ${if (p == nulled) "NULL" else validArg(id.name, p)}")
      val sql = s"CALL proccat.system.${id.name}(${args.mkString(", ")})"
      val want = s"${id.name} needs $nulled"
      val got = scala.util.Try(spark.sql(sql).collect()).failed.toOption
      val iae = Iterator.iterate(got.orNull)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e.getMessage }
      Option.when(!iae.contains(want))(
        s"$sql: want IllegalArgumentException($want), got " +
          got.fold("no error")(e => s"${e.getClass.getName}: ${e.getMessage}"))
    }
    assert(failures.flatten.isEmpty, failures.flatten.mkString("\n"))
  }

  test("CALL results carry the pinned schema") {
    spark.sql("CREATE TABLE proccat.rns.t (id BIGINT, x DOUBLE) USING txlog")
    spark.sql("INSERT INTO proccat.rns.t VALUES (1, 1.0), (2, 2.0)")
    val calls = Seq(
      "history" -> "('rns.t')", "partitions" -> "('rns.t')",
      "detail" -> "('rns.t')", "tag" -> "('rns.t', 'v1')",
      "tags" -> "('rns.t')", "cursors" -> "('rns.t')",
      "branch" -> "('rns.t', 'b1')", "branches" -> "('rns.t')",
      "analyze" -> "('rns.t', 'id')",
      "vacuum" -> "('rns.t', 1, 0, 0, true)",
      "remove_orphans" -> "('rns.t', 0, true)",
      "create_mv" -> "('rns.mv', 'rns.t', 'id', 'total:x')",
      "refresh_mv" -> "('rns.mv')", "mv_status" -> "('rns.mv')",
      "mvs" -> "('rns')", "refresh_all" -> "('rns')",
      "clone" -> "('rns.t', 'rns.t2')")
    val results = pinned.map(p => p._1 -> p._3).toMap
    calls.foreach { case (name, args) =>
      val df = spark.sql(s"CALL proccat.system.$name$args")
      df.collect()
      assert(df.schema.toDDL == results(name), name)
    }
  }
}
