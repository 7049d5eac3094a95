package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** Type-2 slowly-changing-dimension merge — the dimension-history ELT
  * pattern one step past the reference's merge surface
  * (python-sdk/src/astro/sql/operators/merge.py stops at
  * ignore/update/exception on the CURRENT state): apply a source batch
  * to a versioned dimension, closing changed rows and appending new
  * versions, so every historical attribute state stays queryable
  * ("the customer's segment as of last March").
  *
  * Contract: the target carries `keyCols ++ compareCols` plus the three
  * bookkeeping columns ([[ValidFrom]], [[ValidTo]], [[IsCurrent]]); the
  * source carries `keyCols ++ compareCols` with at most one row per key
  * and NON-NULL keys (duplicate or NULL source keys raise in-plan, the
  * [[Merge.surfacingConflicts]] discipline — a NULL key never matches
  * the null-unsafe key join and would silently insert duplicate current
  * rows). One batch application:
  *
  *   - key absent from the current state        → insert (from, null, true)
  *   - key present, any compareCol differs
  *     (null-safe)                              → close the current row
  *     (valid_to = effectiveDate, is_current = false) + insert the new
  *     version
  *   - key present, attributes identical        → untouched
  *   - history rows (is_current = false)        → untouched, always
  *   - dirty rows (is_current NULL)             → kept verbatim as
  *     history (never compared, closed, or dropped — row count is
  *     conserved on dirty bookkeeping)
  *   - dirty duplicate current rows for a key   → all close when any of
  *     them differs from the source row, and one new version is
  *     inserted; all stay when every one matches it
  *
  * 100 TB shape: history is one filtered scan, passed through untouched
  * (an is_current/date-partitioned layout rewrites only the current
  * partition). The CURRENT slice and the batch are each shuffled once by
  * the dimension key; the per-key windows (duplicate-source count on the
  * batch; rank and min/max attribute struct on the current slice) ride
  * those shuffles, and ONE full outer join on the key, co-partitioned by
  * them, decides every key: each joined row emits its kept or closed
  * current row and/or the new version through
  * `inline(filter(array(...)))`. No global sort, no second exchange.
  * Every output value is a pure function of the inputs and the literal
  * effective date, so the whole new state replays in an external
  * engine — `op_scd2_merge` hash-matches the decision against DuckDB. */
object Scd2 {
  val ValidFrom = "valid_from"
  val ValidTo = "valid_to"
  val IsCurrent = "is_current"

  private val TgtHit = "__graft_t_hit"
  private val TgtRank = "__graft_t_rank"
  private val TgtLo = "__graft_t_lo"
  private val TgtHi = "__graft_t_hi"
  private val SrcHit = "__graft_s_hit"
  private val SrcCount = "__graft_s_count"

  /** The new table state after applying `source` at `effectiveDate`.
    * Lazy — validation (NULL or duplicate source keys) raises with the
    * plan. */
  def scd2Plan(
      target: DataFrame,
      source: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      effectiveDate: Column): DataFrame = {
    require(keyCols.nonEmpty, "scd2 needs at least one key column")
    require(compareCols.nonEmpty, "scd2 needs at least one compared column")
    val meta = Seq(ValidFrom, ValidTo, IsCurrent)
    meta.foreach(c => require(target.columns.exists(_.equalsIgnoreCase(c)),
      s"scd2 target must carry bookkeeping column $c"))
    val attrs = keyCols ++ compareCols
    attrs.foreach(c => require(source.columns.exists(_.equalsIgnoreCase(c)),
      s"scd2 source must carry column $c"))

    val outFields = target.schema.fields.toSeq
    def isMeta(f: StructField, name: String) = f.name.equalsIgnoreCase(name)

    // A NULL is_current is dirty bookkeeping, not a version statement:
    // treat it as history (kept verbatim, never closed or compared) so
    // the row count is conserved — the raw !col/col split would match a
    // NULL in NEITHER branch and silently drop the row.
    val isCur = coalesce(col(IsCurrent), lit(false))
    val hist = target.where(!isCur)

    // Current slice, windowed per key on the shuffle the join reuses:
    // the rank picks the one joined row that emits a changed key's new
    // version, and the min/max attribute structs tell whether EVERY
    // current row of the key (dirty duplicates included) matches the
    // source row — min == max == source null-safely, field by field.
    val byKey = Window.partitionBy(keyCols.map(col): _*).orderBy(keyCols.map(col): _*)
    val wholeKey = byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val attrStruct = struct(compareCols.zipWithIndex.map { case (c, i) => col(c).as(s"f$i") }: _*)
    val cur = target.where(isCur).select(target.columns.map(col).toSeq ++ Seq(
      lit(true).as(TgtHit),
      row_number().over(byKey).as(TgtRank),
      min(attrStruct).over(wholeKey).as(TgtLo),
      max(attrStruct).over(wholeKey).as(TgtHi)): _*)
    val src = source.select(attrs.map(col) ++ Seq(
      lit(true).as(SrcHit),
      count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)).as(SrcCount)): _*)

    val joined = cur.alias("t").join(src.alias("s"),
      keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "full_outer")
    val tHit = col(s"t.$TgtHit").isNotNull
    val sHit = col(s"s.$SrcHit").isNotNull
    val unchanged = compareCols.indices.map { i =>
      val s = col(s"s.${compareCols(i)}")
      (col(s"t.$TgtLo").getField(s"f$i") <=> s) && (col(s"t.$TgtHi").getField(s"f$i") <=> s)
    }.reduce(_ && _)
    val changed = tHit && sHit && !unchanged

    // the current row: kept, or closed at the effective date
    val keptOrClosed = when(tHit, struct(outFields.map { f =>
      val kept = col(s"t.${f.name}")
      val v =
        if (isMeta(f, ValidTo)) when(changed, effectiveDate.cast(f.dataType)).otherwise(kept)
        else if (isMeta(f, IsCurrent)) when(changed, lit(false)).otherwise(kept)
        else kept
      v.as(f.name)
    }: _*))
    // the new version: a new key, or once per changed key
    val newVersion = when(sHit && (!tHit || (changed && col(s"t.$TgtRank") === 1)),
      struct(outFields.map { f =>
        val v =
          if (isMeta(f, ValidFrom)) effectiveDate
          else if (isMeta(f, ValidTo)) lit(null)
          else if (isMeta(f, IsCurrent)) lit(true)
          else col(s"s.${f.name}")
        v.cast(f.dataType).as(f.name)
      }: _*))

    // In-plan source guards on the generator input, which every output
    // row of the join needs, so no projection can prune them away; the
    // messages carry Merge's conflict marker so surfacingConflicts
    // re-types the task failure as the MergeConflictException callers
    // already handle.
    val keys = keyCols.mkString(",")
    val rowsType = ArrayType(StructType(outFields.map(_.copy(nullable = true))))
    val emitted = when(sHit && keyCols.map(k => col(s"s.$k").isNull).reduce(_ || _),
        raise_error(lit(s"merge(if_conflicts=scd2, keys=$keys): NULL source key")).cast(rowsType))
      .when(col(s"s.$SrcCount") > 1,
        raise_error(lit(s"merge(if_conflicts=scd2, keys=$keys): duplicate source keys"))
          .cast(rowsType))
      .otherwise(filter(array(keptOrClosed, newVersion), _.isNotNull))

    hist.unionByName(joined.select(inline(emitted)))
  }
}
