package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The SQL functions graft adds to Spark: the ones its operators call
  * that Spark does not ship. Quantile and theta sketches are Spark's own
  * (`kll_sketch_agg_double`, `theta_sketch_agg`, ...), not listed here.
  *
  * [[GraftExtensions]] installs this list when a session is built;
  * `GraftSession.builder` applies it, and a session built elsewhere gets
  * it with `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  /** One function: its name, its argument count, its expression class and
    * `DESCRIBE FUNCTION` usage line, and the builder that runs once the
    * count is checked.
    */
  final case class Fn(name: String, arity: Int, cls: Class[_], usage: String,
                      build: Seq[Expression] => Expression) {
    def builder(exprs: Seq[Expression]): Expression = {
      if (exprs.length != arity)
        throw new IllegalArgumentException(
          s"$name requires exactly $arity argument${if (arity == 1) "" else "s"}, " +
            s"got ${exprs.length}")
      build(exprs)
    }
  }

  private def intLiteral(fn: String)(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$fn bounds must be INT literals, got $other")
  }

  val All: Seq[Fn] = Seq(
    Fn("dot_f", 2, classOf[DotProductFloat],
      "dot_f(a, b) - dot product of two ARRAY<FLOAT> columns in double precision",
      e => DotProductFloat(e(0), e(1))),
    Fn("minhash_sig", 1, classOf[MinHashSignature],
      "minhash_sig(shingles) - 12-slot MinHash signature of an ARRAY<STRING>",
      e => MinHashSignature(e(0))),
    Fn("gram_pack", 3, classOf[GramPack],
      "gram_pack(s, lo, hi) - bytes [lo, hi] of a 7-bit string packed into a BIGINT",
      e => GramPack(e(0), intLiteral("gram_pack")(e(1)), intLiteral("gram_pack")(e(2)))),
    Fn("hex_pack", 3, classOf[HexPack],
      "hex_pack(s, lo, hi) - hex chars [lo, hi] of a string packed into a BIGINT",
      e => HexPack(e(0), intLiteral("hex_pack")(e(1)), intLiteral("hex_pack")(e(2)))),
    Fn("nearest_centroid", 5, classOf[NearestCentroidPacked],
      "nearest_centroid(code, vqn, csums, cqns, ids) - packed argmax over a literal centroid table",
      e => NearestCentroidPacked(e)),
    Fn("top_centroids_f", 6, classOf[TopCentroidsFloat],
      "top_centroids_f(vec, vnorm, cmat, cnorms, ids, k) - top-k centroid ids over a literal table",
      e => TopCentroidsFloat(e)),
    Fn("jacc_summary", 2, classOf[JaccardSummaryBytes],
      "jacc_summary(shingles, buckets) - saturating murmur3 bucket counts of a shingle set",
      e => JaccardSummaryBytes(e(0), e(1))),
    Fn("minsum_b", 2, classOf[MinSumBytes],
      "minsum_b(a, b) - sum of byte-wise minima of two summaries (intersection upper bound)",
      e => MinSumBytes(e(0), e(1))))
}

/** SparkSessionExtensions injector for [[GraftFunctions.All]]: applied by
  * `GraftSession.builder`, or by
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.All.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, "", f.name, f.usage, ""), f.builder))
    }
}
