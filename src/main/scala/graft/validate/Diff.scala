package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reconciliation algebra — the Spark-native form of CDM `DiffData`
  * (reference: docs/04-cdm-approach.md:355-377) and of the sampled validator
  * (reference: lab/scripts/validate_migration.py:41-72).
  *
  * Semantics reproduced:
  *  - full row-by-row diff classifying valid / missing / mismatch
  *    (docs/04-cdm-approach.md:357-358); we additionally surface
  *    extra_in_target, which CDM ignores because it never deletes
  *    (docs/04-cdm-approach.md:367).
  *  - autocorrect: missing rows re-inserted, mismatched rows overwritten by
  *    origin UNLESS the target row carries a newer writetime — last-write-wins
  *    (docs/04-cdm-approach.md:358-369,837-841).
  *  - sampled validation: small origin sample point-looked-up on target
  *    (validate_migration.py:43-67) → broadcast hash join, no shuffle of the
  *    big side.
  *
  * Scale posture: classify() is the ONE wide operator of the whole migration
  * surface (SURVEY §3.2). Both inputs shuffle once on the PK and sort-merge
  * join; everything downstream (classification, report) is narrow. At 100 TB
  * pre-bucketing both sides on the PK removes even that exchange.
  */
object Diff {

  val StatusCol = "diff_status"

  /** How the diff family treats duplicated PKs. The full-outer join's
    * semantics assume PK uniqueness: a PK duplicated d× on one side
    * multiplies into d output rows (d×d if both sides) — silently wrong
    * counts AND a hot PK partition the AQE skew-split can't help, because
    * the skew IS the key (SkewSpec proves the shape). Cassandra can't
    * produce duplicate PKs, but a half-migrated parquet export, a bad
    * upstream union, or a writetime-versioned dump can.
    *
    *  - [[FailOnDup]] (default): in-join gate — each side carries a per-PK
    *    row count through the join's OWN shuffle (a count window over the
    *    PK rides the exchange+sort the sort-merge join needs anyway — no
    *    extra pass, no extra exchange; PlanSpec pins the exchange count),
    *    and a post-join FILTER `raise_error`s on the first PK whose count
    *    exceeds 1, failing the job before wrong rows can be consumed. The
    *    throw surfaces at the ACTION (the join job), naming the side, the
    *    key, and the two remediations.
    *  - [[CollapseLww]]: pre-collapse each side with [[lwwMerge]] (max
    *    writetime — the reference's own conflict rule,
    *    docs/04-cdm-approach.md:837-841), then diff. No gate jobs.
    *  - [[AssumeUnique]]: caller vouches (e.g. both sides just came out of
    *    lwwMerge or a PK-grouped write); zero overhead.
    */
  sealed trait DupPkPolicy
  case object FailOnDup extends DupPkPolicy
  final case class CollapseLww(writetime: String,
                               tieBreak: Seq[String] = Nil) extends DupPkPolicy
  case object AssumeUnique extends DupPkPolicy

  private def eqPred(compare: Seq[String]): Column =
    compare.map(c => col(s"o_$c") <=> col(s"t_$c"))
      .reduceOption(_ && _).getOrElse(lit(true)) // PK-only table: trivially equal

  /** Per-row classification over a single full-outer join on the PK.
    * Both sides pass the [[DupPkPolicy]] gate first — see its doc.
    */
  def classify(origin: DataFrame, target: DataFrame,
               pk: Seq[String], compare: Seq[String],
               onDup: DupPkPolicy = FailOnDup): DataFrame =
    classifyWith(origin, target, pk, onDup,
      side => compare.map(c => col(c).as(s"${side}_$c")) :+ lit(1).as(s"_${side}_present"),
      side => col(s"_${side}_present"), eqPred(compare))

  /** Engine-internal fast classification: compares row content via a single
    * 64-bit xxhash of the compare columns (graft.core.Hashing.fastRowHash)
    * instead of N column-wise null-safe comparisons. Same classes as
    * [[classify]] up to hash collisions (~2^-64 per pair — acceptable for
    * the hot path when both sides are Spark; the portable md5 path is for
    * cross-engine validation). Halves the shuffled width for wide tables:
    * only (pk, hash) moves, not every compare column.
    */
  def classifyByHash(origin: DataFrame, target: DataFrame,
                     pk: Seq[String], compare: Seq[String],
                     onDup: DupPkPolicy = FailOnDup): DataFrame =
    classifyWith(origin, target, pk, onDup,
      side => Seq(graft.core.Hashing.fastRowHash(compare).as(s"_${side}_h")),
      side => col(s"_${side}_h"), col("_o_h") === col("_t_h"))

  /** The one classification body: each side ("o", "t") projects the PK
    * plus `payload(side)`, whose `present(side)` column is null only where
    * the side is absent from the full-outer join; `valid` compares the
    * payloads. The [[DupPkPolicy]] steps run here and nowhere else:
    * CollapseLww pre-collapses both sides; FailOnDup adds each side's
    * per-PK count window, guards the join with a FILTER (any action must
    * evaluate it, even a bare count) that raises on a PK counted twice (a
    * null count is a side absent from the join, a legal diff outcome),
    * and drops the counts.
    */
  private def classifyWith(origin: DataFrame, target: DataFrame, pk: Seq[String],
                           onDup: DupPkPolicy, payload: String => Seq[Column],
                           present: String => Column, valid: Column): DataFrame = {
    val gate = onDup == FailOnDup
    def collapse(df: DataFrame): DataFrame = onDup match {
      case CollapseLww(wt, tb) => lwwMerge(df, pk, wt, tb)
      case _ => df
    }
    def sel(df: DataFrame, side: String): DataFrame = {
      val out = df.select(pk.map(col) ++ payload(side): _*)
      if (!gate) out
      else out.withColumn(s"_${side}_cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(pk.map(col): _*)))
    }
    val (o, t) = (collapse(origin), collapse(target))
    val joined = sel(o, "o").join(sel(t, "t"), pk, "full_outer")
    val guarded = if (!gate) joined else {
      def msg(side: String) = concat(
        lit(s"$side side has duplicate-PK rows on (${pk.mkString(", ")}), e.g. "),
        concat_ws(",", pk.map(c => col(c).cast("string")): _*),
        lit(": the diff full-outer join would multiply them into phantom " +
          "rows. Pre-collapse with Diff.CollapseLww(writetimeCol) or fix the feed."))
      def guard(cnt: String, side: String): Column =
        when(coalesce(col(cnt), lit(1L)) > 1L,
          raise_error(msg(side)).cast("boolean")).otherwise(lit(true))
      joined.filter(guard("_o_cnt", "origin") && guard("_t_cnt", "target"))
    }
    val classified = guarded.withColumn(StatusCol,
      when(present("o").isNull, lit("extra_in_target"))
        .when(present("t").isNull, lit("missing"))
        .when(valid, lit("valid"))
        .otherwise(lit("mismatch")))
    if (gate) classified.drop("_o_cnt", "_t_cnt") else classified
  }

  /** DiffData-style summary report: one row per class with its count
    * (reference log shape: lab/exercises/04-cdm-migration.md:254).
    */
  def report(origin: DataFrame, target: DataFrame,
             pk: Seq[String], compare: Seq[String],
             onDup: DupPkPolicy = FailOnDup): DataFrame =
    classify(origin, target, pk, compare, onDup)
      .groupBy(col(StatusCol)).agg(count(lit(1)).as("n"))
      .orderBy(StatusCol)

  /** Rows present in origin, absent in target — autocorrect.missing feed
    * (docs/04-cdm-approach.md:357). Left-anti join: shuffles on PK only.
    */
  def missing(origin: DataFrame, target: DataFrame, pk: Seq[String]): DataFrame =
    origin.join(target.select(pk.map(col): _*), pk, "left_anti")

  /** Same-PK rows whose content differs — autocorrect.mismatch feed
    * (docs/04-cdm-approach.md:358).
    */
  def mismatched(origin: DataFrame, target: DataFrame,
                 pk: Seq[String], compare: Seq[String],
                 onDup: DupPkPolicy = FailOnDup): DataFrame =
    classify(origin, target, pk, compare, onDup)
      .filter(col(StatusCol) === "mismatch")

  /** Sampled validation (validate_migration.py:43-72): take the first n rows
    * of origin in PK order, look each up on target. The sample side is tiny
    * by construction, so we broadcast it — the target table never shuffles.
    * Returns one summary row (sampled / found / missing / mismatched).
    */
  def validateSample(origin: DataFrame, target: DataFrame,
                     pk: Seq[String], compare: Seq[String], n: Int): DataFrame = {
    val sample = origin.orderBy(pk.map(col): _*).limit(n)
    val sSel = sample.select(
      pk.map(col) ++ compare.map(c => col(c).as(s"o_$c")): _*)
    val tSel = target.select(
      pk.map(col) ++ compare.map(c => col(c).as(s"t_$c")): _*)
    // The broadcast hint must land on the BUILD side of the join. No outer
    // join preserving the sample can build the sample side (LeftOuter
    // builds right, RightOuter builds left), so an outer formulation always
    // degrades to a sort-merge join that shuffles the full target. Instead:
    // INNER join streaming the target with the broadcast sample (BHJ
    // build-right is supported for inner) — target is scanned once, never
    // shuffled — and recover `missing` arithmetically as sampled - found.
    // found/mismatched count DISTINCT sample PKs (not join rows), so a
    // duplicate-PK target can't inflate found past sampled or go negative
    // on missing; a PK is `mismatched` if ANY of its target rows differs.
    val pkStruct = struct(pk.map(col): _*)
    val joined = tSel.join(broadcast(sSel), pk, "inner")
      .agg(
        countDistinct(pkStruct).as("found"),
        countDistinct(when(!eqPred(compare), pkStruct)).as("mismatched"))
    sSel.agg(count(lit(1)).as("sampled")).crossJoin(joined)
      .select(col("sampled"), col("found"),
        (col("sampled") - col("found")).as("missing"), col("mismatched"))
  }

  /** Last-write-wins merge: keep, per PK, the row with the greatest
    * (writetime, tieBreak…) — the conflict rule ZDM/CDM rely on during
    * dual-write + backfill (docs/04-cdm-approach.md:837-841).
    *
    * Shape: `max_by(row, ordering-struct)` hash aggregate, NOT a window.
    * A `row_number` window shuffles every version row and SORTS each PK
    * partition; `max_by` keeps one candidate row per key inside the map
    * task (partial aggregation), so the exchange carries ~#keys rows
    * instead of #versions and nothing sorts. Tie semantics are identical —
    * lexicographic max over (writetime, tieBreak…), which the caller makes
    * total (e.g. a src column) exactly as the window form required. The
    * streaming twin ([[graft.stream.DualWrite.lwwStream]]) runs the same
    * max_by shape — pass it the same tieBreak columns to keep batch and
    * stream conflict rules identical on exact-writetime ties.
    */
  def lwwMerge(df: DataFrame, pk: Seq[String], writetime: String,
               tieBreak: Seq[String]): DataFrame = {
    val valueCols = df.columns.toIndexedSeq.filterNot(pk.contains)
    val ord = struct((col(writetime) +: tieBreak.map(col)): _*)
    df.groupBy(pk.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), ord).as("_v"))
      // restore the INPUT's column order (the window form preserved it;
      // positional consumers must not see pk columns hoisted to the front)
      .select(df.columns.toIndexedSeq.map(c =>
        if (pk.contains(c)) col(c) else col(s"_v.$c").as(c)): _*)
  }

  /** Autocorrect (docs/04-cdm-approach.md:358-369): produce the corrected
    * target — origin content wins for missing + mismatched rows except where
    * the target's writetime is strictly newer (LWW); target-only rows are
    * kept (CDM never deletes, :367).
    */
  def autocorrect(origin: DataFrame, target: DataFrame, pk: Seq[String],
                  compare: Seq[String], writetime: String): DataFrame = {
    val allCols = pk ++ compare :+ writetime
    val o = origin.select(allCols.map(col): _*).withColumn("_src", lit(0))
    val t = target.select(allCols.map(col): _*).withColumn("_src", lit(1))
    // origin beats target at equal writetime would re-apply backfill over a
    // live write; keep target on ties → order by (writetime, _src) desc.
    lwwMerge(o.unionByName(t), pk, writetime, Seq("_src")).drop("_src")
  }
}
