package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}

import graft.GraftSession
import graft.checks.Checks
import graft.checks.Checks.Threshold
import graft.core.{ConflictStrategy, FileRef, IfExists, TableRef}
import graft.functions.{Dedup, TextAnalysis}
import graft.sql.{SqlDialect, SqlTemplate}

/** What one op reports back: input rows it processed, bytes it loaded and
  * exported, and (reports) the request index and the collected result rows,
  * hashed after the op's time is taken. */
final case class OpOutcome(
    rows: Long,
    loadBytes: Long = 0L,
    exportBytes: Long = 0L,
    result: Option[(Int, Seq[Row])] = None)

/** One workload: input registration, then ops run one after another by a
  * single client. `check` verifies the output of the op just run against
  * the generator's truth and is not timed. */
trait Workload {
  def register(): Unit
  def hasNext: Boolean
  def op(): OpOutcome
  /** The untimed, checked ops that end the set-up phase. */
  def warmup(): Seq[OpOutcome] = Seq(op())
  def check(o: OpOutcome): Option[String]
  /** Ops that form one unit of a traced run's traced/untraced order: one op,
    * or, for a report stream, one block holding each template once. */
  def traceGroup: Int = 1
  /** Workload counters filled by the last `check`, for the trace. */
  var lastCounters: Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, gs: GraftSession, tr: Tracer, in: String, work: String): Workload =
    name match {
      case "elt_daily"     => new EltDaily(gs, tr, in, work)
      case "sql_reports"   => new SqlReports(gs, tr, in)
      case "curate_corpus" => new CurateCorpus(gs, tr, in)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def fileBytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(x => fileBytes(x.getPath)).sum).getOrElse(0L)
    else f.length()
  }

  /** Canonical text of one cell, identical to what the DuckDB side prints. */
  def cell(v: Any): String = v match {
    case null                  => "\\N"
    case d: java.sql.Date      => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: java.math.BigDecimal => b.toPlainString
    case other                 => other.toString
  }

  /** Order-independent hash of a result: sha-256 over the sorted row texts. */
  def resultHash(rows: Seq[Row]): String = {
    val lines = rows.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** elt_daily: one op replays one day of an incremental DAG. */
final class EltDaily(gs: GraftSession, tr: Tracer, in: String, work: String) extends Workload {
  private val spark = gs.spark
  private val manifest = Json.readMap(s"$in/manifest.json")
  private val truth = manifest("truth").asInstanceOf[Seq[Map[String, Any]]]
  private val fact = TableRef("fact_orders")
  private val dim = TableRef("dim_customer")
  private val audit = TableRef("audit_orders")
  private val exportDir = s"$work/export"
  private var day = 0

  private val Clean =
    """SELECT o_orderkey::int8 AS o_orderkey, o_custkey::int8 AS o_custkey,
      |  upper(trim(o_orderstatus))::text AS o_orderstatus, o_totalcents::int8 AS o_totalcents,
      |  o_orderdate::date AS o_orderdate, o_orderpriority::text AS o_orderpriority,
      |  o_clerk::text AS o_clerk, o_shippriority::int4 AS o_shippriority,
      |  trim(o_comment) AS o_comment
      |FROM {{delta}} WHERE o_orderkey IS NOT NULL""".stripMargin
  private val Summary =
    """SELECT o_orderstatus, count(*) AS n_orders, sum(o_totalcents) AS total_cents
      |FROM {{clean}} GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  private val CustCols = Seq("c_name", "profile_segment", "profile_nation", "contact_phone")

  def register(): Unit = {
    val base = tr.span("io.load") {
      gs.readFile(FileRef(s"$in/base_orders.csv"), inferFromFirstFileOnly = true)
    }
    tr.span("session.write") { gs.writeTable(base, fact, IfExists.Replace) }
    val cust = tr.span("io.load") { gs.readFile(FileRef(s"$in/base_customers.ndjson")) }
    val staged = TableRef.temp()
    tr.span("session.write") { gs.writeTable(cust, staged, IfExists.Replace) }
    tr.span("session.transform") {
      gs.transform(
        s"""SELECT c_custkey, ${CustCols.mkString(", ")}, DATE '2023-12-31' AS valid_from,
           |  CAST(NULL AS DATE) AS valid_to, TRUE AS is_current FROM {{src}}""".stripMargin,
        Map("src" -> staged), Some(dim))
    }
    tr.span("session.cleanup") { gs.cleanup() }
  }

  def hasNext: Boolean = day < truth.size

  def op(): OpOutcome = {
    val t = truth(day)
    val dir = f"$in/day_$day%04d"
    val delta, cust, clean = TableRef.temp()
    val od = tr.span("io.load") {
      gs.readFile(FileRef(s"$dir/orders_*.csv"), inferFromFirstFileOnly = true)
    }
    tr.span("session.write") { gs.writeTable(od, delta, IfExists.Replace) }
    val cd = tr.span("io.load") { gs.readFile(FileRef(s"$dir/customers.ndjson")) }
    tr.span("session.write") { gs.writeTable(cd, cust, IfExists.Replace) }
    tr.span("session.transform") {
      gs.transform(Clean, Map("delta" -> delta), Some(clean), dialect = "postgres")
    }
    tr.span("checks.column") {
      Checks.checkColumn(spark.table(clean.qualifiedName), Map(
        "o_orderkey" -> Map("null_check" -> Threshold(equalTo = Some(0)),
          "unique_check" -> Threshold(equalTo = Some(0))),
        "o_totalcents" -> Map("min" -> Threshold(geqTo = Some(0)))))
    }
    tr.span("checks.table") {
      Checks.checkTable(spark.table(clean.qualifiedName), Map(
        "status_known" -> "o_orderstatus IN ('F', 'O', 'P')",
        "ship_priority_flag" -> "o_shippriority IN (0, 1)"))
    }
    tr.span("ops.merge") {
      gs.merge(clean, fact, Nil, Seq("o_orderkey"), ConflictStrategy.Update)
    }
    tr.span("ops.scd2") {
      gs.scd2Merge(cust, dim, Seq("c_custkey"), CustCols, t("date").toString)
    }
    tr.span("session.append") { gs.append(clean, audit) }
    val out = f"$exportDir/summary_$day%04d.csv"
    val summary = tr.span("sql.analyze") { gs.sql(Summary, Map("clean" -> clean)) }
    tr.span("io.export") { gs.exportToFile(summary, FileRef(out)) }
    tr.span("session.cleanup") { gs.cleanup() }
    day += 1
    OpOutcome(
      rows = t("delta_rows").toString.toLong,
      loadBytes = Workload.fileBytes(dir),
      exportBytes = Workload.fileBytes(out))
  }

  private def digest(table: TableRef, cols: Seq[String], where: String): (Long, String) = {
    val row = spark.sql(
      s"""SELECT count(*), CAST(coalesce(sum(CAST(conv(substr(md5(concat_ws('|',
         |  ${cols.map(c => s"CAST($c AS STRING)").mkString(", ")})), 1, 15), 16, 10)
         |  AS DECIMAL(20, 0))), 0) AS STRING)
         |FROM ${table.qualifiedName} WHERE $where""".stripMargin).collect()(0)
    (row.getLong(0), row.getString(1))
  }

  def check(o: OpOutcome): Option[String] = {
    val t = truth(day - 1)
    val (factRows, factDigest) = digest(fact,
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalcents", "o_orderdate",
        "o_orderpriority", "o_clerk", "o_shippriority", "o_comment"), "true")
    val (curRows, curDigest) = digest(dim, "c_custkey" +: CustCols, "is_current")
    val dimRows = spark.table(dim.qualifiedName).count()
    val auditRows = spark.table(audit.qualifiedName).count()
    val got = Seq(factRows.toString, factDigest, dimRows.toString, curRows.toString, curDigest,
      auditRows.toString)
    val want = Seq("fact_rows", "fact_digest", "dim_rows", "dim_current", "dim_current_digest",
      "audit_rows").map(k => t(k).toString)
    if (got == want) None
    else Some(s"day ${t("day")}: got ${got.mkString(",")} want ${want.mkString(",")}")
  }
}

/** sql_reports: one op is one report request, rendered through SqlTemplate,
  * translated from its warehouse dialect and collected. */
final class SqlReports(gs: GraftSession, tr: Tracer, in: String) extends Workload {
  private val req = Json.readMap(s"$in/requests.json")
  private val requests = req("requests").asInstanceOf[Seq[Map[String, Any]]]
  private val warmupRequests = req("warmup").asInstanceOf[Seq[Map[String, Any]]]
  private val manifest = Json.readMap(s"$in/manifest.json")
  private val rowsRead = manifest("rows_read").asInstanceOf[Map[String, Any]]
  private val tables = manifest("tables").asInstanceOf[Seq[Any]].map(_.toString)
  /** template name -> (template text, source dialect), from reports.json */
  private val templates: Map[String, (String, String)] =
    Json.readMap(s"$in/reports.json")("templates").asInstanceOf[Seq[Map[String, Any]]].map { t =>
      t("name").toString -> (t("sql").asInstanceOf[Seq[Any]].mkString("\n"), t("dialect").toString)
    }.toMap
  private var next = 0

  def register(): Unit = tables.foreach { t =>
    val df = tr.span("io.load") { gs.readFile(FileRef(s"$in/$t.parquet")) }
    df.createOrReplaceTempView(t)
  }

  def hasNext: Boolean = next < requests.size
  override def traceGroup: Int = templates.size

  private def param(v: Any): Any = v match {
    case m: Map[_, _] => java.sql.Date.valueOf(m.asInstanceOf[Map[String, Any]]("date").toString)
    case i: Int       => i.toLong
    case other        => other
  }

  /** One request per template: a report session pays each template's cold
    * codegen once, in set-up. */
  override def warmup(): Seq[OpOutcome] =
    warmupRequests.zipWithIndex.map { case (r, i) => report(r, -1 - i) }

  def op(): OpOutcome = { next += 1; report(requests(next - 1), next - 1) }

  private def report(r: Map[String, Any], index: Int): OpOutcome = {
    val name = r("template").toString
    val (template, dialect) = templates(name)
    val params = r("params").asInstanceOf[Map[String, Any]]
    val bindings: Map[String, Any] =
      tables.map(t => t -> TableRef(t)).toMap ++ params.map { case (k, v) => k -> param(v) }
    if (tr.enabled)
      tr.span("sql.translate") { SqlDialect.toSparkSql(SqlTemplate.render(template, bindings), dialect) }
    val df = tr.span("sql.analyze") { gs.sql(template, bindings, dialect) }
    val rows = tr.span("spark.collect") { df.collect().toSeq }
    OpOutcome(
      rows = rowsRead(name).toString.toLong,
      result = Some((index, rows)))
  }

  /** Correctness against DuckDB is checked after the run, per distinct
    * request; here only an empty result is rejected. */
  def check(o: OpOutcome): Option[String] =
    o.result.collect { case (i, rows) if rows.isEmpty => s"empty result for request $i" }
}

/** curate_corpus: one op is one curation pass over the two dumps. */
final class CurateCorpus(gs: GraftSession, tr: Tracer, in: String) extends Workload {
  private val spark = gs.spark
  private val kept = Json.readLongs(s"$in/kept_ids.json").toSet
  private val planted = Json.readLongs(s"$in/dup_ids.json").toSet
  private val docs = Json.readMap(s"$in/manifest.json")("sizes")
    .asInstanceOf[Map[String, Any]]("docs").toString.toLong
  private val dumps = Seq("a", "b").map(n => s"$in/dump_$n.ndjson")

  def register(): Unit = ()
  def hasNext: Boolean = true

  private val pairsOut = TableRef("near_dup_pairs")
  private val keptOut = TableRef("curated_docs")

  /** A lazy step (the function calls) and its materialization. */
  private def step(name: String, out: TableRef = TableRef.temp())(plan: => DataFrame): TableRef =
    tr.span(name) {
      val df = tr.span("functions.plan_build")(plan)
      tr.span("session.write") { gs.writeTable(df, out, IfExists.Replace) }
      out
    }

  def op(): OpOutcome = {
    val loaded = dumps.map { p =>
      val df = tr.span("io.load") { gs.readFile(FileRef(p)) }
      val t = TableRef.temp()
      tr.span("session.write") { gs.writeTable(df, t, IfExists.Replace) }
      spark.table(t.qualifiedName)
    }
    val union = loaded.reduce(_.unionByName(_))
    val q = step("functions.quality") { TextAnalysis.qualityFilter(union, "text") }
    val e = step("functions.exact_dedup") {
      Dedup.exactDedup(spark.table(q.qualifiedName), Seq("text"), "id")
    }
    val p = step("functions.near_dup", pairsOut) {
      Dedup.minHashNearDupPairs(spark.table(e.qualifiedName), "id", "text")
    }
    val k = step("functions.keep", keptOut) {
      Dedup.keepFirstFromPairs(spark.table(e.qualifiedName), "id", spark.table(p.qualifiedName))
    }
    tr.span("checks.column") {
      Checks.checkColumn(spark.table(k.qualifiedName), Map(
        "id" -> Map("null_check" -> Threshold(equalTo = Some(0)),
          "unique_check" -> Threshold(equalTo = Some(0)))))
    }
    tr.span("session.cleanup") { gs.cleanup() }
    OpOutcome(rows = docs, loadBytes = dumps.map(Workload.fileBytes).sum)
  }

  /** Reads the pass's two named outputs; fills the curation counters. */
  def check(o: OpOutcome): Option[String] = {
    val ids = spark.table(keptOut.qualifiedName).select("id").collect().map(_.getLong(0)).toSet
    val falseRemovals = (kept -- ids).size
    val extraKept = (ids -- kept).size
    lastCounters = Map(
      "near_dup_pairs" -> spark.table(pairsOut.qualifiedName).count().toDouble,
      "dup_recall" -> (planted.size - (planted & ids).size).toDouble / math.max(1, planted.size),
      "false_removals" -> falseRemovals.toDouble)
    if (falseRemovals == 0 && extraKept == 0) None
    else Some(s"kept ids differ from truth: $falseRemovals wrongly removed, $extraKept wrongly kept")
  }
}
