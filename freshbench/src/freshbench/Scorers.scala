package freshbench

import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.{Cells, ColumnName, DataRequest}
import graft.score.{ExprScorer, MllibScorer, ScorerContext}

/** The benchmark's producers. The registry instantiates scorers
  * reflectively through a no-arg constructor, so each attached expression
  * scorer is its own class; [[Affine]] holds their parameters for the
  * oracles. */
object Affine {
  /** (multiplier, addend) of the scorer on cell i. */
  val params: Array[(Double, Double)] =
    Array((2.0, 1.0), (3.0, -7.0), (0.5, 4.0), (-1.0, 1000.0),
      (4.0, 0.0), (1.0, 0.25), (-2.0, 3.0))
  def cell(i: Int): ColumnName = ColumnName("g", Some(s"c$i"))
  def score(i: Int, newest: Double): Double = newest * params(i)._1 + params(i)._2
}

/** score = newest value of g:c&lt;i&gt; × m + a, written back onto g:c&lt;i&gt;. */
abstract class AffineScorer(i: Int) extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(Affine.cell(i)))
  override def outputColumn: ColumnName = Affine.cell(i)
  override def scoreExpr(ctx: ScorerContext): Column =
    Cells.newestValue(col(Affine.cell(i).flat)) * lit(Affine.params(i)._1) +
      lit(Affine.params(i)._2)
}
final class Affine0 extends AffineScorer(0)
final class Affine1 extends AffineScorer(1)
final class Affine2 extends AffineScorer(2)
final class Affine3 extends AffineScorer(3)
final class Affine4 extends AffineScorer(4)
final class Affine5 extends AffineScorer(5)
final class Affine6 extends AffineScorer(6)

object AffineScorers {
  val classes: Seq[Class[_ <: AffineScorer]] = Seq(classOf[Affine0], classOf[Affine1],
    classOf[Affine2], classOf[Affine3], classOf[Affine4], classOf[Affine5], classOf[Affine6])
}

/** MLlib batch scorer on g:c7: a linear regression over the newest values of
  * (g:c7, g:c0), fit at set-up from seeded data and published here before
  * the capsule is attached. */
final class LinearModelScorer extends MllibScorer {
  override def model: LinearRegressionModel = LinearModelScorer.model
  override def inputColumns: Seq[ColumnName] = LinearModelScorer.inputs
  override def outputColumn: ColumnName = Affine.cell(7)
}
object LinearModelScorer {
  val inputs: Seq[ColumnName] = Seq(Affine.cell(7), Affine.cell(0))
  @volatile var model: LinearRegressionModel = _
  /** The model's prediction recomputed outside MLlib. */
  def predict(x: Seq[Double]): Double = {
    val w = model.coefficients.toArray
    x.indices.foldLeft(0.0)((s, j) => s + x(j) * w(j)) + model.intercept
  }
}
