package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.expressions.{SketchExpressions, SketchKernels}

/**
 * SQL surface of the engine's custom kernels, mirroring the reference's
 * FFI exports (`/root/reference/src/ffi.rs:244-325`: compare /
 * count_common-style verbs) as Catalyst functions:
 *
 *   graft_jaccard(minsA, minsB[, num])  — combined-denominator similarity
 *   graft_containment(minsA, minsB)     — asymmetric containment
 *   graft_band_keys(mins, bands, rows)  — LSH band keys
 *   graft_angular(mA, aA, mB, aB)       — abundance-weighted (angular)
 *   graft_downsample(mins, scaled)      — re-truncate to a coarser scaled
 *
 * Each builds the same expression as its Column twin in `GraftFunctions`
 * ([[SketchExpressions]]), argument checks included. Register either
 * per-session (`GraftExtensions.register(spark)`) or cluster-wide via
 * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def kernelInfo(name: String) = new ExpressionInfo(SketchKernels.getClass.getName, name)

  private[functions] val descriptors: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_jaccard",
      kernelInfo("graft_jaccard"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => SketchExpressions.jaccard(a, b, 0)
        case Seq(a, b, n) => SketchExpressions.jaccard(a, b, intLit(n, "num"))
        case _ => throw new IllegalArgumentException("graft_jaccard(a, b[, num])")
      }),
    ("graft_containment",
      kernelInfo("graft_containment"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => SketchExpressions.containment(a, b)
        case _ => throw new IllegalArgumentException("graft_containment(a, b)")
      }),
    ("graft_band_keys",
      kernelInfo("graft_band_keys"),
      (args: Seq[Expression]) => args match {
        case Seq(m, bands, rows) =>
          SketchExpressions.bandKeys(m, intLit(bands, "bands"), intLit(rows, "rowsPerBand"), 42L)
        case _ => throw new IllegalArgumentException("graft_band_keys(mins, bands, rows)")
      }),
    ("graft_downsample",
      kernelInfo("graft_downsample"),
      (args: Seq[Expression]) => args match {
        case Seq(m, scaled) =>
          val s = scaled match {
            case Literal(v: Int, _) => v.toLong
            case Literal(v: Long, _) => v
            case other => throw new IllegalArgumentException(
              s"scaled must be an integer literal, got $other")
          }
          SketchExpressions.downsample(m, graft.core.SketchConfig.scaledToMaxHash(s))
        case _ => throw new IllegalArgumentException("graft_downsample(mins, scaled)")
      }),
    ("graft_angular",
      kernelInfo("graft_angular"),
      (args: Seq[Expression]) => args match {
        case Seq(ma, aa, mb, ab) => SketchExpressions.angular(ma, aa, mb, ab)
        case _ => throw new IllegalArgumentException(
          "graft_angular(minsA, abundsA, minsB, abundsB)")
      }),
    // Spark's OWN runtime-filter machinery (the aggregate + predicate
    // that InjectRuntimeFilter plants under broadcast exchanges),
    // surfaced as explicit SQL functions so a pipeline can build a Bloom
    // filter of a small side ON THE EXECUTORS (one binary blob row — no
    // driver collect, unlike DataFrameStatFunctions.bloomFilter) and
    // prefilter a 100-TB stream before its shuffle. The bloom argument
    // of graft_might_contain must be a constant or scalar subquery
    // (Spark's own analysis rule for BloomFilterMightContain enforces
    // this — the subquery result is what gets shipped to executors).
    ("graft_bloom_agg",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case _ => throw new IllegalArgumentException(
          "graft_bloom_agg(col[, expectedItems])")
      }),
    ("graft_might_contain",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (args: Seq[Expression]) => args match {
        case Seq(bloom, v) =>
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bloom, v)
        case _ => throw new IllegalArgumentException(
          "graft_might_contain(bloom, col)")
      }))

  /** Idempotent per-session registration (for sessions created without
    * the extensions conf, e.g. the driver harness's). */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
