package graft.spatial

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType}

/** The optimizer half of the q3c migration story.
  *
  * `q3c_radial_query(...)` already expands to a sargable dec-band +
  * haversine conjunction (functions/SqlFunctions.scala). But the
  * reference's users ALSO write the naive distance form —
  * `WHERE q3c_dist(ra, dec, cRa, cDec) <= r` appears throughout the
  * reference's example SQL (src/webserver/dbapp.py:126-232,
  * docs/overview.rst) — and on Postgres the q3c extension's planner
  * support rewrites exactly that form into an index scan. Without the
  * equivalent here, the naive form full-scans 100 TB while the
  * "blessed" form prunes: a silent 1000× cliff between two spellings
  * of the same query.
  *
  * [[GreatCircleDist]] is the recognizable anchor: `q3c_dist` builds
  * this codegen'd expression (arithmetic bit-identical to
  * `Funcs.greatCircleDeg`, pinned by SargableConeSpec), so the
  * comparison survives analysis and constant folding intact where the
  * composed builtin tree would be folded beyond recognition.
  * [[SargableCone]] then rewrites `dist ≤ r` (any orientation) into
  * `dec BETWEEN cDec−r AND cDec+r AND dist ≤ r` whenever the center
  * declination and radius are foldable. The band is implied by the
  * distance cut (|Δdec| ≤ great-circle separation, and NaN/null fail
  * both forms), so results never change — but it is a plain column
  * range that parquet row-group min/max skipping and partition pruning
  * can consume.
  *
  * Injected via `GraftExtensions` at session build (every
  * `GraftSession` and `spark.sql.extensions` cluster deploys), into a
  * fixed-point batch, so the rewrite marks the expression
  * (`bandApplied`) to stay idempotent.
  */
case class GreatCircleDist(ra: Expression, dec: Expression,
    cRa: Expression, cDec: Expression, bandApplied: Boolean = false)
    extends QuaternaryExpression {

  override def first: Expression = ra
  override def second: Expression = dec
  override def third: Expression = cRa
  override def fourth: Expression = cDec

  // AbstractDataType (hence ImplicitCastInputTypes) is private[sql]:
  // the q3c_dist builder casts its args to double instead, so by
  // construction every child is DoubleType here (DotProduct does the
  // same).
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(_.dataType == DoubleType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"q3c_dist needs four double inputs, got ${children.map(_.dataType).mkString(", ")}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "q3c_dist"

  // mirrors Funcs.greatCircleDeg operation-for-operation (same
  // java.lang.Math calls, same association order), so the value is
  // bit-identical to the composed builtin tree — SargableConeSpec
  // asserts exact equality on randomized inputs.
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val ra1 = a.asInstanceOf[Double]; val dec1 = b.asInstanceOf[Double]
    val ra2 = c.asInstanceOf[Double]; val dec2 = d.asInstanceOf[Double]
    val dRa = Math.toRadians(ra2 - ra1) / 2.0
    val dDec = Math.toRadians(dec2 - dec1) / 2.0
    val h = Math.pow(Math.sin(dDec), 2.0) +
      Math.cos(Math.toRadians(dec1)) * Math.cos(Math.toRadians(dec2)) *
        Math.pow(Math.sin(dRa), 2.0)
    Math.toDegrees(2.0 * Math.asin(Math.sqrt(h)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      val dRa = ctx.freshName("dRa"); val dDec = ctx.freshName("dDec")
      val h = ctx.freshName("h")
      s"""
         |double $dRa = java.lang.Math.toRadians($c - $a) / 2.0;
         |double $dDec = java.lang.Math.toRadians($d - $b) / 2.0;
         |double $h = java.lang.Math.pow(java.lang.Math.sin($dDec), 2.0) +
         |  java.lang.Math.cos(java.lang.Math.toRadians($b)) *
         |    java.lang.Math.cos(java.lang.Math.toRadians($d)) *
         |    java.lang.Math.pow(java.lang.Math.sin($dRa), 2.0);
         |${ev.value} = java.lang.Math.toDegrees(2.0 * java.lang.Math.asin(java.lang.Math.sqrt($h)));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): GreatCircleDist =
    copy(ra = newFirst, dec = newSecond, cRa = newThird, cDec = newFourth)
}

object SargableCone extends Rule[LogicalPlan] {

  /** Foldable double value, if the expression folds to a non-null,
    * non-NaN one. Children of a double comparison / a double-typed
    * function are already coerced, so eval() yields java.lang.Double
    * or null. NaN must NOT band: Spark's total order ranks NaN above
    * every double, so `dist <= NaN` is true for all rows while a
    * `dec >= cDec − NaN` conjunct would be false for all — the rewrite
    * would invert the result instead of preserving it. (±Infinity is
    * fine: the band degenerates consistently with the comparison.) */
  private def foldD(e: Expression): Option[Double] =
    if (e.foldable) e.eval() match {
      case d: java.lang.Double if !d.isNaN => Some(d.doubleValue())
      case _ => None
    } else None

  /** dec BETWEEN cDec−r AND cDec+r, as pre-folded literals so the
    * conjuncts are immediately translatable to data-source filters
    * (the session-level `extraOptimizations` batch has no
    * ConstantFolding of its own). */
  private def band(g: GreatCircleDist, r: Expression): Option[(Expression, GreatCircleDist)] =
    if (g.bandApplied) None
    else for { cd <- foldD(g.cDec); rv <- foldD(r) } yield (
      // |dec − cDec| <= dist holds in real arithmetic but not strictly
      // in floating point: for a boundary row (pure-dec offset) the
      // haversine round-trip can come out an ulp BELOW |Δdec|, so an
      // exact band could drop a row the distance predicate keeps. The
      // band is only a pruning aid — widen it by a fixed epsilon (1e-9°
      // ≈ 3.6 µas, far above any double rounding here) so it can never
      // change results.
      And(GreaterThanOrEqual(g.dec, Literal(cd - rv - 1e-9)),
        LessThanOrEqual(g.dec, Literal(cd + rv + 1e-9))),
      g.copy(bandApplied = true))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = cond.transformUp {
        case p @ LessThanOrEqual(g: GreatCircleDist, r) =>
          band(g, r).map { case (b, gm) => And(b, p.copy(left = gm)) }.getOrElse(p)
        case p @ LessThan(g: GreatCircleDist, r) =>
          band(g, r).map { case (b, gm) => And(b, p.copy(left = gm)) }.getOrElse(p)
        case p @ GreaterThanOrEqual(r, g: GreatCircleDist) =>
          band(g, r).map { case (b, gm) => And(b, p.copy(right = gm)) }.getOrElse(p)
        case p @ GreaterThan(r, g: GreatCircleDist) =>
          band(g, r).map { case (b, gm) => And(b, p.copy(right = gm)) }.getOrElse(p)
      }
      if (rewritten fastEquals cond) f else f.copy(condition = rewritten)
  }
}
