package graft.sources

import org.apache.spark.sql.types.{DataType, StructType}

/** The `#key=` header of a version manifest — the one codec every header
  * read and write goes through. A manifest is header lines (`#`-prefixed)
  * plus data lines (one data file each, see [[TxLogTable.FileEntry]]);
  * readers are order-independent, so only multi-line keys keep an order.
  *
  * {{{
  * key              value syntax               carry class
  * ---------------  -------------------------  ---------------------------
  * #op=             op name                    restamped by every commit
  * #commitMillis=   epoch millis               restamped by every commit
  * #partitionCols=  a,b (always written)       carried; the op may set it
  * #bloomCols=      a,b                        carried; the op may set it
  * #forkedFrom=     main version               whole-version copies only
  * (unknown #...)   verbatim line              whole-version copies only;
  *                                             other ops write their own
  * #schema=         StructType JSON            table property
  * #colmap=         logical>physical,...       table property
  * #droppedPhys=    a,b                        table property
  * #bloomBits=      bits per bloom             table property
  * #bucketSpec=     key:n, one line per level  table property
  * #timeSpec=       col:unit, one per level    table property
  * #sortCols=       a,b                        table property
  * #ndvCols=        a,b                        table property
  * #ndv:<col>=      md5 minima h1,h2,...       table property
  * #optimizeWrite=  true                       table property
  * #check:<name>=   SQL boolean expression     table property
  * #morKeys=        a,b                        until an overwrite
  * #tomb=           rel;v=<version>            until an overwrite
  * #dv=             dvRel;v=;n=;file=<rel>     while its target survives
  * }}}
  *
  * Single-valued keys are first-wins. A malformed value of a tolerant key
  * (`#colmap` pair, `#ndv`, `#check`, `#tomb`, `#dv`, `#commitMillis`) is
  * skipped; a malformed `#schema`, `#bloomBits`, `#bucketSpec`,
  * `#timeSpec` or `#forkedFrom` fails the decode. The delta encoding
  * keys (`#delta`, `#rm`, `#chain`, `#minReader`) are resolved away
  * before a header is decoded.
  */
final case class ManifestHeader(
    op: Option[String] = None,
    commitMillis: Option[Long] = None,
    partitionCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil,
    forkedFrom: Option[Int] = None,
    annotations: Seq[String] = Nil,
    schema: Option[StructType] = None,
    colmap: Map[String, String] = Map.empty,
    droppedPhys: Set[String] = Set.empty,
    bloomBits: Option[Int] = None,
    bucketSpecs: Seq[(String, Int)] = Nil,
    timeSpecs: Seq[(String, String)] = Nil,
    sortCols: Seq[String] = Nil,
    ndvCols: Seq[String] = Nil,
    ndv: Seq[(String, Seq[String])] = Nil,
    optimizeWrite: Boolean = false,
    checks: Seq[(String, String)] = Nil,
    morKeys: Seq[String] = Nil,
    tombs: Seq[(String, Int)] = Nil,
    dvs: Seq[TxLogTable.DvEntry] = Nil) {
  import ManifestHeader.list

  /** The header as manifest lines. */
  def lines: Seq[String] =
    Seq(s"#partitionCols=${partitionCols.mkString(",")}") ++
      commitMillis.map(m => s"#commitMillis=$m") ++
      op.map(o => s"#op=$o") ++
      list("bloomCols", bloomCols) ++
      forkedFrom.map(v => s"#forkedFrom=$v") ++
      schema.map(s => s"#schema=${s.json}") ++
      list("colmap", colmap.toSeq.sorted.map { case (l, p) => s"$l>$p" }) ++
      list("droppedPhys", droppedPhys.toSeq.sorted) ++
      bloomBits.map(b => s"#bloomBits=$b") ++
      bucketSpecs.map { case (k, n) => s"#bucketSpec=$k:$n" } ++
      timeSpecs.map { case (k, u) => s"#timeSpec=$k:$u" } ++
      list("sortCols", sortCols) ++
      list("ndvCols", ndvCols) ++
      ndv.map { case (c, hs) => s"#ndv:$c=${hs.mkString(",")}" } ++
      (if (optimizeWrite) Seq("#optimizeWrite=true") else Nil) ++
      checks.map { case (n, e) => s"#check:$n=$e" } ++
      list("morKeys", morKeys) ++
      tombs.map { case (rel, v) => s"#tomb=$rel;v=$v" } ++
      dvs.map(d => s"#dv=${d.dvRel};v=${d.v};n=${d.n};file=${d.file}") ++
      annotations

  /** The value of annotation `#key=`, if this version carries one. */
  def annotation(key: String): Option[String] =
    annotations.collectFirst {
      case l if l.startsWith(s"#$key=") => l.substring(key.length + 2) }

  /** This header as a whole-version copy committed by `op` (restore,
    * branch fork and publish, clone, analyze, time-unit change): every
    * field kept, `op` and `commitMillis` restamped.
    */
  def restamp(op: String): ManifestHeader =
    copy(op = Some(op), commitMillis = Some(System.currentTimeMillis()))

  /** THE carry rule: the header a commit by `op` starts from when it
    * keeps the data lines `keptData` of the version this header belongs
    * to. Table properties carry; a `#dv` entry carries while its target
    * file is kept; tombstones and the MOR key set die with an
    * `overwrite`; the fork point and the annotations belong to this
    * version alone and are dropped.
    */
  def carry(op: String, keptData: Seq[String],
            overwrite: Boolean = false): ManifestHeader = {
    val keptDvs =
      if (dvs.isEmpty) dvs
      else {
        val kept = keptData.iterator.map(TxLogTable.relOf).toSet
        dvs.filter(d => kept(d.file))
      }
    restamp(op).copy(forkedFrom = None, annotations = Nil, dvs = keptDvs,
      tombs = if (overwrite) Nil else tombs,
      morKeys = if (overwrite) Nil else morKeys)
  }
}

object ManifestHeader {
  val empty: ManifestHeader = ManifestHeader()

  // keys written `#key=value`; `#ndv:<col>=` and `#check:<name>=` are
  // keyed by their `:` prefix
  private val Keys = Set("op", "commitMillis", "partitionCols", "bloomCols",
    "forkedFrom", "schema", "colmap", "droppedPhys", "bloomBits",
    "bucketSpec", "timeSpec", "sortCols", "ndvCols", "ndv:",
    "optimizeWrite", "check:", "morKeys", "tomb", "dv")

  /** Is `line` a header line (as opposed to a data line)? */
  def isHeaderLine(line: String): Boolean = line.startsWith("#")

  // (key, value) of header line `line` when a known key claims it
  private def known(line: String): Option[(String, String)] = {
    val i = line.indexWhere(c => c == '=' || c == ':', 1)
    if (i < 0) None
    else {
      val key =
        if (line(i) == ':') line.substring(1, i + 1) else line.substring(1, i)
      if (Keys(key)) Some(key -> line.substring(i + 1)) else None
    }
  }

  private def list(key: String, values: Seq[String]): Seq[String] =
    if (values.isEmpty) Nil else Seq(s"#$key=${values.mkString(",")}")

  /** Require `lines` to be annotations: single `#` lines no header key
    * claims (they ride one commit and every reader ignores them).
    */
  def requireAnnotations(lines: Seq[String]): Unit =
    lines.foreach(l => require(isHeaderLine(l) && !l.contains('\n') &&
      known(l).isEmpty, s"annotations must be single #-lines of an " +
      s"unknown key: $l"))

  /** The header of manifest `lines`; data lines are ignored. */
  def decode(lines: Seq[String]): ManifestHeader = {
    val parsed = lines.filter(isHeaderLine).map(l => l -> known(l))
    val byKey = parsed.flatMap(_._2).groupMap(_._1)(_._2)
    def all(key: String): Seq[String] = byKey.getOrElse(key, Nil)
    def one(key: String): Option[String] = all(key).headOption
    def names(key: String): Seq[String] =
      one(key).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    // `<a>:<b>` split at the LAST colon (column names hold none)
    def pair(v: String): (String, String) = {
      val cut = v.lastIndexOf(':')
      (v.substring(0, cut), v.substring(cut + 1))
    }
    // `<name>=<rest>` split at the FIRST `=`
    def named(v: String, minCut: Int): Option[(String, String)] = {
      val cut = v.indexOf('=')
      if (cut < minCut) None
      else Some(v.substring(0, cut) -> v.substring(cut + 1))
    }
    ManifestHeader(
      op = one("op"),
      commitMillis = one("commitMillis").flatMap(_.toLongOption),
      partitionCols = names("partitionCols"),
      bloomCols = names("bloomCols"),
      forkedFrom = one("forkedFrom").map(_.toInt),
      annotations = parsed.collect { case (l, None) => l },
      schema = one("schema").map(
        DataType.fromJson(_).asInstanceOf[StructType]),
      colmap = names("colmap").flatMap(_.split(">") match {
        case Array(lg, ph) => Some(lg -> ph)
        case _ => None
      }).toMap,
      droppedPhys = names("droppedPhys").toSet,
      bloomBits = one("bloomBits").map(_.toInt),
      bucketSpecs = all("bucketSpec").map { v =>
        val (k, n) = pair(v); (k, n.toInt) },
      timeSpecs = all("timeSpec").map(pair),
      sortCols = names("sortCols"),
      ndvCols = names("ndvCols"),
      ndv = all("ndv:").flatMap(named(_, 0)).map { case (c, hs) =>
        c -> hs.split(",").toSeq.filter(_.nonEmpty) },
      optimizeWrite = all("optimizeWrite").contains("true"),
      checks = all("check:").flatMap(named(_, 1)),
      morKeys = names("morKeys"),
      tombs = all("tomb").flatMap(_.split(";v=") match {
        case Array(rel, v) => v.toIntOption.map(rel -> _)
        case _ => None
      }),
      dvs = all("dv").flatMap(decodeDv))
  }

  // `<dvRel>;v=<v>;n=<n>;file=<target>` — the target comes LAST because
  // hive partition segments can hold arbitrary escaped bytes
  private def decodeDv(body: String): Option[TxLogTable.DvEntry] = {
    val c1 = body.indexOf(";v=")
    val c2 = if (c1 < 0) -1 else body.indexOf(";n=", c1)
    val c3 = if (c2 < 0) -1 else body.indexOf(";file=", c2)
    if (c3 < 0) None
    else scala.util.Try(TxLogTable.DvEntry(
      body.substring(0, c1),
      body.substring(c1 + 3, c2).toInt,
      body.substring(c2 + 3, c3).toLong,
      body.substring(c3 + 6))).toOption
  }
}
