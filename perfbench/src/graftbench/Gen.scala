package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input the benchmark feeds graft is a pure
  * function of the workload seed (and, for the ETL feed, the run number), so
  * the same seed reproduces byte-identical inputs. */
object Gen {

  // ---------------------------------------------------------------- ETL feed

  /** BSUIR-shaped API payloads (FIXTURES.md §A) for one nightly run. */
  final case class Payloads(files: Seq[(String, String)]) {
    def bytes: Long = files.map(_._2.getBytes("UTF-8").length.toLong).sum
    def write(dir: java.nio.file.Path): Unit = {
      java.nio.file.Files.createDirectories(dir)
      files.foreach { case (f, s) =>
        java.nio.file.Files.writeString(dir.resolve(f), s) }
    }
  }

  private val Days = Seq("Понедельник", "Вторник", "Среда", "Четверг",
    "Пятница", "Суббота")
  private val Slots = Seq("08:00" -> "09:20", "09:35" -> "10:55",
    "11:25" -> "12:45", "13:00" -> "14:20", "14:35" -> "15:55",
    "16:25" -> "17:45")
  private val Ranks = Seq("доцент", "профессор", "старший преподаватель",
    "ассистент", "преподаватель")

  private def q(s: String): String = "\"" + s + "\""

  /** The nightly feed's state model. The full load is run 0; each later
    * run re-draws ~10% of the entities' schedules, moves a few groups to
    * another course (an SCD2 tracked attribute: close + open) and gives a
    * few employees another rank. An entity whose state did not change
    * emits a byte-identical payload. The model also knows what the
    * warehouse must hold afterwards (see [[Expect]]). */
  final class EtlFeed(seed: Long, val entities: Int) {
    val groups: Int = entities / 2
    val employees: Int = entities - groups
    val faculties = 6
    val departments = 24
    val specialities = 30
    val auditories = 80

    private val schedVersion = Array.fill(entities)(0)
    private val course = Array.tabulate(groups)(g => 1 + g % 4)
    private val rank = Array.tabulate(employees)(m => m % Ranks.size)
    private var run = 0
    private var closedGroupRows = 0L

    def runNumber: Int = run

    private def rng(parts: Long*): SplittableRandom =
      new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)(
        (h, p) => java.lang.Long.rotateLeft(h ^ p, 27) * 0x100000001B3L))

    /** Apply the next run's changes (run 1, 2, ...) to the state model. */
    def advance(): Unit = {
      run += 1
      val r = rng(run, 1)
      (0 until entities).foreach { e =>
        if (r.nextInt(10) == 0) schedVersion(e) += 1 }
      // distinct groups: a group moved twice in one run still closes one row
      Iterator.continually(r.nextInt(groups)).distinct
        .take(math.max(1, groups / 50)).foreach { g =>
        course(g) = course(g) % 4 + 1
        closedGroupRows += 1
      }
      (0 until math.max(1, employees / 50)).foreach { _ =>
        val m = r.nextInt(employees)
        rank(m) = (rank(m) + 1 + r.nextInt(Ranks.size - 1)) % Ranks.size
      }
    }

    private def groupName(g: Int) = (250000 + g).toString
    private def urlId(m: Int) = s"emp-$m"
    private def room(a: Int) = s"${100 + a}-${1 + a % 5} к."

    private def lessonCount(e: Int): (Int, Int) = {
      val r = rng(e, schedVersion(e), 2)
      (20 + r.nextInt(11), 1 + r.nextInt(3))
    }

    /** Schedule events the warehouse must hold after this run. */
    def expectedEvents: Long =
      (0 until entities).map { e => val (l, x) = lessonCount(e); l + x }.sum

    private def lesson(r: SplittableRandom, ownGroup: Option[String],
                       exam: Option[String]): String = {
      val (st, en) = Slots(r.nextInt(Slots.size))
      val subj = s"Предмет ${r.nextInt(60)}"
      val weeks = (1 to 4).filter(_ => r.nextBoolean())
      val aud = room(r.nextInt(auditories))
      val m = r.nextInt(employees)
      val g = r.nextInt(groups)
      val sg = (groupName(g) +: ownGroup.toSeq).distinct
        .map(n => s"""{"name":${q(n)},"numberOfStudents":${20 + r.nextInt(10)}}""")
      val dateField = exam.map(d => s""","dateLesson":${q(d)}""").getOrElse("")
      s"""{"subject":${q(subj)},"subjectFullName":${q(subj + " (полн.)")},""" +
        s""""startLessonTime":${q(st)},"endLessonTime":${q(en)},""" +
        s""""weekNumber":[${weeks.mkString(",")}],""" +
        s""""numSubgroup":${r.nextInt(3)}$dateField,""" +
        s""""auditories":[${q(aud)}],""" +
        s""""employees":[{"firstName":"Имя$m","lastName":"Фамилия$m",""" +
        s""""middleName":"Отчество$m"}],""" +
        s""""studentGroups":[${sg.mkString(",")}]}"""
    }

    private def schedule(e: Int): String = {
      val (name, tpe) =
        if (e < groups) (groupName(e), "group")
        else (urlId(e - groups), "employee")
      val own = if (tpe == "group") Some(name) else None
      val (nLessons, nExams) = lessonCount(e)
      val r = rng(e, schedVersion(e), 3)
      val byDay = (0 until nLessons).map(i => Days(i % Days.size) ->
        lesson(r, own, None)).groupBy(_._1).toSeq.sortBy(_._1)
      val days = byDay.map { case (d, ls) =>
        s"${q(d)}:[${ls.map(_._2).mkString(",")}]" }.mkString(",")
      val exams = (0 until nExams).map(i =>
        lesson(r, own, Some(f"${10 + i}%02d.06.2026")))
      s"""{"entityName":${q(name)},"entityType":${q(tpe)},""" +
        s""""data":{"schedules":{$days},"exams":[${exams.mkString(",")}]}}"""
    }

    def payloads: Payloads = {
      val fac = (1 to faculties).map(f =>
        s"""{"id":$f,"name":"Факультет $f","abbrev":"Ф$f"}""")
      val dep = (0 until departments).map(d =>
        s"""{"id":${100 + d},"name":"Кафедра $d","nameAbbrev":"Каф$d",""" +
          s""""abbrev":"К$d"}""")
      val spec = (0 until specialities).map(s =>
        s"""{"id":${1000 + s},"name":"Специальность $s","abbrev":"С$s",""" +
          s""""code":"1-40 0$s","facultyId":${1 + s % faculties},""" +
          s""""educationForm":{"id":1,"name":"дневная"}}""")
      val grp = (0 until groups).map(g =>
        s"""{"id":${5000 + g},"name":${q(groupName(g))},"course":${course(g)},""" +
          s""""educationDegree":1,"numberOfStudents":25,""" +
          s""""specialityDepartmentEducationFormId":${1000 + g % specialities}}""")
      val emp = (0 until employees).map(m =>
        s"""{"id":${7000 + m},"firstName":"Имя$m","lastName":"Фамилия$m",""" +
          s""""middleName":"Отчество$m","degree":"к.т.н.",""" +
          s""""rank":${q(Ranks(rank(m)))},"urlId":${q(urlId(m))},""" +
          s""""academicDepartment":["Кафедра ${m % departments}",""" +
          s"""{"name":"Кафедра ${(m + 7) % departments}","abbrev":"К${(m + 7) % departments}"}]}""")
      val aud = (0 until auditories).map(a =>
        s"""{"id":${9000 + a},"name":"${100 + a}",""" +
          s""""buildingNumber":{"name":"${1 + a % 5} к."},"capacity":${20 + a % 100},""" +
          s""""auditoryType":{"name":"лк"},"departmentId":${100 + a % departments}}""")
      def arr(xs: Seq[String]) = xs.mkString("[", ",\n", "]")
      Payloads(Seq(
        "current-week.json" -> (1 + run % 4).toString,
        "faculties.json" -> arr(fac),
        "departments.json" -> arr(dep),
        "specialities.json" -> arr(spec),
        "student-groups.json" -> arr(grp),
        "employees.json" -> arr(emp),
        "auditories.json" -> arr(aud),
        "schedules.json" -> arr((0 until entities).map(schedule))))
    }

    /** What the warehouse must hold after the runs so far. */
    def expect: Expect = Expect(
      events = expectedEvents,
      openGroups = groups.toLong,
      closedGroups = closedGroupRows,
      bronzeRows = entities.toLong * (run + 1),
      bronzeOpen = entities.toLong,
      employeeRanks = (0 until employees).map(m =>
        (7000L + m) -> Ranks(rank(m))).toMap)
  }

  final case class Expect(events: Long, openGroups: Long, closedGroups: Long,
                          bronzeRows: Long, bronzeOpen: Long,
                          employeeRanks: Map[Long, String])

  // ----------------------------------------------------- TPC-H-shaped tables

  /** Deterministic per-row uniform in [0, n): a hash of (seed, row, salt). */
  private def pick(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(n))

  val LinesPerOrder = 4
  val Parts = 20000L
  val ShipEpochDay = 8035 // 1992-01-01
  val ShipDays = 2400

  /** Fixed-width encoded size of one lineitem row: 3 longs, 1 int,
    * 4 doubles, two 1-char flags and one timestamp — the `write_amp`
    * denominator. */
  val LineitemRowBytes = 3 * 8 + 4 + 4 * 8 + 2 + 8
  /** One `part` row: long key, 12-char name, 8-char brand, 10-char type,
    * int size, double price. */
  val PartRowBytes = 8 + 12 + 8 + 10 + 4 + 8

  /** `lineitem` rows for orders `[firstOrder, firstOrder + orders)`; `salt`
    * varies the measures (a merge batch re-draws them for the same keys). */
  def lineitem(spark: SparkSession, seed: Long, firstOrder: Long, orders: Long,
               salt: Int = 0, slices: Int = 1): DataFrame = {
    val n = orders * LinesPerOrder
    val id = col("id")
    val key = lit(firstOrder - 1) * LinesPerOrder + id
    spark.range(0, n, 1, slices).select(
      (lit(firstOrder) + id.divide(LinesPerOrder).cast("long")).as("l_orderkey"),
      (pick(seed, key, 1 + salt, Parts) + 1).as("l_partkey"),
      (pick(seed, key, 2 + salt, 1000) + 1).as("l_suppkey"),
      (pmod(id, lit(LinesPerOrder)) + 1).cast("int").as("l_linenumber"),
      (pick(seed, key, 3 + salt, 50) + 1).cast("double").as("l_quantity"),
      (pick(seed, key, 4 + salt, 9000000) / 100.0 + 900.0).as("l_extendedprice"),
      (pick(seed, key, 5 + salt, 11) / 100.0).as("l_discount"),
      (pick(seed, key, 6 + salt, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pick(seed, key, 7 + salt, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pick(seed, key, 8 + salt, 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds((lit(ShipEpochDay) +
        pick(seed, key, 9 + salt, ShipDays)) * 86400L).as("l_shipdate"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long,
             slices: Int = 1): DataFrame = {
    val id = col("id")
    spark.range(1, n + 1, 1, slices).select(
      id.as("o_orderkey"),
      (pick(seed, id, 21, 15000) + 1).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pick(seed, id, 22, 3) + 1).cast("int")).as("o_orderstatus"),
      (pick(seed, id, 23, 50000000) / 100.0).as("o_totalprice"),
      timestamp_seconds((lit(ShipEpochDay) +
        pick(seed, id, 24, ShipDays)) * 86400L).as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (pick(seed, id, 25, 5) + 1).cast("int")).as("o_orderpriority"))
  }

  /** `part` rows for keys `[first, first + n)`; `salt` re-draws the
    * attributes (a dimension update). */
  def part(spark: SparkSession, seed: Long, first: Long, n: Long,
           salt: Int = 0): DataFrame = {
    val id = col("id")
    spark.range(first, first + n, 1, 1).select(
      id.as("p_partkey"),
      format_string("part-%07d", id).as("p_name"),
      format_string("Brand#%02d",
        pick(seed, id, 31 + salt, 25) + 11).as("p_brand"),
      format_string("TYPE-%05d", pick(seed, id, 32 + salt, 150)).as("p_type"),
      (pick(seed, id, 33 + salt, 50) + 1).cast("int").as("p_size"),
      (pick(seed, id, 34 + salt, 100000) / 100.0 + 900.0).as("p_retailprice"))
  }

  /** `embeddings`: `dim`-wide float vectors around `clusters` seeded centres
    * (so the IVF cells are meaningful), plus an int label. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dim: Int,
                 clusters: Int, slices: Int = 1): DataFrame = {
    val id = col("id")
    val c = pick(seed, id, 41, clusters)
    val comps = (0 until dim).map { j =>
      val centre = pmod(xxhash64(lit(seed), c, lit(1000 + j)), lit(2000))
        .cast("float") / 1000.0f - 1.0f
      val noise = pick(seed, id, 2000 + j, 2000).cast("float") / 10000.0f - 0.1f
      (centre + noise).cast("float")
    }
    spark.range(0, n, 1, slices).select(id.as("vec_id"),
      array(comps: _*).as("embedding"), c.cast("int").as("label"))
  }
}
