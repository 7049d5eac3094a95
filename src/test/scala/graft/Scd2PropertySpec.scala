package graft

import java.sql.Date

import graft.core.MergeConflictException
import graft.ops.{Merge, Scd2}
import org.apache.spark.sql.functions.lit
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck property tests for the type-2 SCD merge: the Catalyst plan
  * ([[Scd2.scd2Plan]]) against a driver-side Scala model of the decision
  * on random targets — NULL compared values, NULL is_current rows, dirty
  * duplicate current rows for one key and history rows — and random
  * sources. Runs under sbt test via ScalaCheck's own framework, like
  * [[MergePropertySpec]]. */
object Scd2PropertySpec extends Properties("Scd2") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** (id, seg, score, valid_from, valid_to, is_current) */
  type Row = (Int, Option[String], Option[Int], Date, Option[Date], Option[Boolean])

  private val Effective = Date.valueOf("2024-06-01")
  private val dates = Seq("2021-01-01", "2022-01-01", "2023-01-01").map(Date.valueOf)

  private val segGen = Gen.option(Gen.oneOf("a", "b"))
  private val scoreGen = Gen.option(Gen.choose(0, 2))

  private val targetGen: Gen[List[Row]] = Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, for {
    id <- Gen.choose(0, 6)
    seg <- segGen
    score <- scoreGen
    from <- Gen.oneOf(dates)
    state <- Gen.frequency(5 -> Some(true), 2 -> Some(false), 1 -> None)
    to <- if (state.contains(false)) Gen.oneOf(dates).map(Some(_)) else Gen.const(None)
  } yield (id, seg, score, from, to, state)))

  /** at most one row per key: (id, seg, score) */
  private val sourceGen: Gen[List[(Int, Option[String], Option[Int])]] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, for {
      id <- Gen.choose(0, 8)
      seg <- segGen
      score <- scoreGen
    } yield (id, seg, score))).map(_.distinctBy(_._1))

  /** The decision, row by row: history and dirty (NULL is_current) rows
    * pass; a key whose current rows ALL match its source row null-safely
    * stays; otherwise every current row of a source key closes and one
    * new version is inserted; a source key with no current row inserts. */
  private def model(target: List[Row], source: List[(Int, Option[String], Option[Int])])
      : List[Row] = {
    val cur = target.filter(_._6.contains(true)).groupBy(_._1)
    val src = source.map(s => s._1 -> s).toMap
    def differs(id: Int) = src.get(id).exists(s =>
      cur.getOrElse(id, Nil).exists(t => (t._2, t._3) != (s._2, s._3)))
    val kept = target.map { t =>
      if (t._6.contains(true) && differs(t._1)) (t._1, t._2, t._3, t._4, Some(Effective), Some(false))
      else t
    }
    val inserted = source.collect {
      case s if !cur.contains(s._1) || differs(s._1) =>
        (s._1, s._2, s._3, Effective, None, Some(true))
    }
    kept ++ inserted
  }

  private def sorted(rows: Seq[Row]) = rows.map(r => r.toString).sorted

  private def plan(target: List[Row], source: Seq[(Option[Int], Option[String], Option[Int])]) =
    Scd2.scd2Plan(
      target.toDF("id", "seg", "score", "valid_from", "valid_to", "is_current"),
      source.toDF("id", "seg", "score"),
      Seq("id"), Seq("seg", "score"), lit(Effective.toString))

  property("plan equals the driver-side model") = Prop.forAll(targetGen, sourceGen) { (t, s) =>
    val out = plan(t, s.map(r => (Some(r._1), r._2, r._3)))
      .as[Row].collect().toSeq
    sorted(out) == sorted(model(t, s))
  }

  property("a duplicated or NULL source key raises the typed conflict") =
    Prop.forAll(targetGen, sourceGen.suchThat(_.nonEmpty), Gen.oneOf(true, false)) {
      (t, s, nullKey) =>
        val bad = if (nullKey) (None, Some("a"), Some(1)) else (Some(s.head._1), Some("b"), None)
        val src = s.map(r => (Option(r._1), r._2, r._3)) :+ bad
        Prop.throws(classOf[MergeConflictException]) {
          Merge.surfacingConflicts(plan(t, src).collect())
        }
    }
}
