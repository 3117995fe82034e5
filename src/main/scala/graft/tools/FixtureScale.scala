package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic fixture scaler: synthesizes an f-times-larger scale
  * factor from an existing driver fixture (TESTDATA.md tables) as f
  * DISJOINT ISOMETRIC REPLICAS — the honest way to grow a benchmark
  * corpus without changing the workload's per-decade shape:
  *
  *  - every table's dense 0-based keys shift by `copy * tableSize`, so
  *    the star-schema relationships (order->customer, lineitem->part/
  *    supplier, event->user) replicate with identical fan-outs, skew
  *    profiles, and join selectivities — copy k is the same graph as
  *    copy 0, relabeled;
  *  - document TEXT gets a per-copy affine substitution over the
  *    EFFECTIVE 36-char alphabet [a-z0-9] — the alphabet that survives
  *    the pipeline's own case-folding tokenizer — applied
  *    case-preservingly to the raw [a-zA-Z0-9] chars: effective char i
  *    -> effective char (u*(i+k)) mod 36, u stepping through the units
  *    of Z/36 every 36 copies (an uppercase source letter takes the
  *    uppercase form of its target when the target is a letter; when
  *    the target is a digit both cases collapse to it — harmless, and
  *    the only place the raw map is not injective, because every text
  *    operator in this engine case-folds before anything else, and the
  *    INDUCED post-lowercase map IS a bijection of the 36-char
  *    effective alphabet). Per-char (lengths and n_chars stay exact)
  *    and alphanumerics stay alphanumeric, so tokenization boundaries,
  *    Zipf profile, and within-copy post-fold duplicate structure are
  *    preserved, while the INDUCED
  *    maps on post-lowercase tokens — hence effective vocabularies —
  *    are PROVABLY distinct across copies for every k < 36*12 = 432
  *    (two affine maps over the wheel agree only if both the rotation
  *    k mod 36 and the unit u coincide). Two prior schemes failed this:
  *    r11's letter rotation had period 26 (copies k, k+26 shared
  *    letter vocabulary outright), and a raw 62-wheel rotation maps
  *    lowercase to uppercase at k=26, which the tokenizer's lower()
  *    folds straight back to the identity — the effective alphabet is
  *    where disjointness must hold. Dedup and search therefore scale as
  *    "f-times more corpus at the same dup rate", not as a pathological
  *    everything-matches-everything blowup;
  *  - EMBEDDINGS get a per-copy SIGNED coordinate permutation: a cyclic
  *    shift by (k*step) mod dims (step coprime to dims, so shifts are
  *    bijective per lap) composed with Walsh-Hadamard sign flips
  *    epsilon_lap(i) = (-1)^popcount(i AND lap), lap = k / dims. Signed
  *    permutations are isometries (norms and within-copy dot products
  *    bit-preserved); any two distinct laps differ in sign on exactly
  *    half the coordinates, so cross-copy cosines — INCLUDING copies
  *    that share the same shift once f exceeds dims — land near 0. The
  *    r11 pure-shift scheme had period dims (=64): copies k and k+64
  *    carried bit-identical vectors, a duplicate explosion at factor
  *    >= 65. Distinct (shift, lap) pairs cover k < dims^2;
  *  - region/nation are catalog dims and copy verbatim; sources, langs,
  *    brands, event types, and the event-time window deliberately do NOT
  *    grow (10x density in the same domains — how real feeds scale).
  *
  * No RNG anywhere: same input + factor => bit-identical output.
  *
  * Usage: runMain graft.tools.FixtureScale <srcDir> <dstDir> [factor=10]
  */
object FixtureScale {

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  private val Digits = "0123456789"
  private val Base = Letters + Letters.toUpperCase + Digits

  /** The effective post-lowercase wheel and the 12 units of Z/36. */
  private val Wheel36 = Letters + Digits
  private val Units36: IndexedSeq[Int] =
    (1 until 36).filter(u => BigInt(u).gcd(BigInt(36)) == 1)

  /** The copy-k substitution alphabet over [a-zA-Z0-9], acting as the
    * affine map i -> (u * (i + k)) mod 36 on the EFFECTIVE 36-char
    * wheel (u stepping through the units every 36 copies) and
    * preserving case on the raw chars. k = 0 is the identity. The
    * induced post-lowercase maps are distinct for every k < 36 * 12 =
    * 432: equality of two affine maps over the wheel forces equal
    * rotation (k mod 36) AND equal unit.
    */
  private[graft] def mapped(k: Int): String = {
    require(k < 36 * Units36.length, s"copy index $k exceeds the distinct-map range")
    val u = Units36((k / 36) % Units36.length)
    def tgt(i: Int): Char = Wheel36((u * (i + k)) % 36)
    val lower = (0 until 26).map(tgt)
    val upper = lower.map(c => if (c.isLetter) c.toUpper else c)
    val digits = (26 until 36).map(tgt)
    (lower ++ upper ++ digits).mkString
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FixtureScale <srcDir> <dstDir> [factor]")
    val src = args(0)
    val dst = args(1)
    val f = if (args.length > 2) args(2).toInt else 10
    require(f >= 1 && f <= 400, "factor in [1, 400]")
    require(f <= 36 * Units36.length,
      s"factor $f exceeds the text substitution's distinct-map range")
    val spark = graft.GraftSession.builder("fixture-scale", "local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = Tables.load(spark, src, t)
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // catalog dims: verbatim
    for (t <- Seq("region", "nation")) write(read(t), t)

    val nCust = span(read("customer"), "c_custkey")
    val nSupp = span(read("supplier"), "s_suppkey")
    val nPart = span(read("part"), "p_partkey")
    val nOrd = span(read("orders"), "o_orderkey")
    val nEv = span(read("events"), "event_id")
    val nUser = span(read("events"), "user_id")
    val nDoc = span(read("documents"), "doc_id")
    val nVec = span(read("embeddings"), "vec_id")
    val dims = read("embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    // shift stride: a mid-wheel value coprime to dims, so per-lap shifts
    // are a bijection of 0..dims-1 AND adjacent copies land far apart
    // (defensive against any short-lag autocorrelation in the vectors)
    val shiftStep = (dims / 2 to 1 by -1)
      .find(s => BigInt(s).gcd(BigInt(dims)) == 1).getOrElse(1)
    // Walsh-Hadamard sign laps are provably distinct while lap's bits sit
    // inside the coordinate index range
    require(f <= dims.toLong * java.lang.Integer.highestOneBit(dims),
      s"factor $f exceeds the signed-permutation distinct range for dims=$dims")

    /** f unioned copies with per-copy column rewrites. */
    def scaled(t: String)(tx: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = read(t)
      (0 until f).map(k => tx(base, k)).reduce(_ unionByName _)
    }

    write(scaled("customer") { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * nCust))
    }, "customer")
    write(scaled("supplier") { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * nSupp))
    }, "supplier")
    write(scaled("part") { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * nPart))
    }, "part")
    write(scaled("orders") { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * nCust))
    }, "orders")
    write(scaled("lineitem") { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * nPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * nSupp))
    }, "lineitem")
    write(scaled("events") { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * nEv))
        .withColumn("user_id", col("user_id") + lit(k * nUser))
    }, "events")
    write(scaled("documents") { (d, k) =>
      d.withColumn("doc_id", col("doc_id") + lit(k * nDoc))
        .withColumn("text",
          if (k == 0) col("text") else translate(col("text"), Base, mapped(k)))
    }, "documents")
    write(scaled("embeddings") { (d, k) =>
      val s = (k * shiftStep) % dims
      val lap = k / dims
      d.withColumn("vec_id", col("vec_id") + lit(k * nVec))
        .withColumn("embedding",
          if (s == 0 && lap == 0) col("embedding")
          else expr(
            s"""transform(sequence(0, ${dims - 1}), i ->
               |  CASE WHEN bit_count(i & $lap) % 2 = 0
               |       THEN embedding[(i + $s) % $dims]
               |       ELSE -embedding[(i + $s) % $dims] END)""".stripMargin))
    }, "embeddings")

    // sanity: row counts scale exactly, keys stay distinct
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")) {
      val in = read(t).count()
      val out = Tables.load(spark, dst, t).count()
      require(out == in * f, s"$t: expected ${in * f} rows, wrote $out")
    }
    val keyOf = Map("customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id")
    for ((t, k) <- keyOf) {
      val d = Tables.load(spark, dst, t)
      require(d.select(k).distinct().count() == d.count(),
        s"$t: key $k not distinct after scaling")
    }
    println(s"scaled $src -> $dst at ${f}x")
    spark.stop()
  }
}
