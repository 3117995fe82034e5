package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the gram_pack bijection that lets substring dedup key its
  * exchange on two longs instead of the k-char gram string: packed
  * equality must BE string equality on the canonical-fold alphabet
  * (7-bit bytes), with no collision argument involved.
  */
class GramPackSpec extends AnyFunSuite with SparkTestBase {

  test("gram_pack is injective on 7-bit strings and matches the positional formula") {
    import spark.implicits._
    val grams = Seq(
      "abcdefgh01234567", "abcdefgh01234568", "bbcdefgh01234567",
      "aaaaaaaaaaaaaaaa", "zzzzzzzzzzzzzzzz", "0123456789 abcde",
      "                ", "a b c d e f g h ").toDF("gram")
    val packed = grams.selectExpr("gram",
      "gram_pack(gram, 0, 7) AS g1", "gram_pack(gram, 8, 15) AS g2")
      .collect()
    // distinct strings -> distinct (g1, g2) pairs
    assert(packed.map(r => (r.getLong(1), r.getLong(2))).distinct.length ==
      packed.length)
    // positional base-128 formula, spelled independently
    packed.foreach { r =>
      val s = r.getString(0)
      def fold(lo: Int, hi: Int): Long =
        (lo to hi).foldLeft(0L)((a, i) => (a << 7) | (s.charAt(i) & 0x7fL))
      assert(r.getLong(1) == fold(0, 7), s"g1 mismatch for '$s'")
      assert(r.getLong(2) == fold(8, 15), s"g2 mismatch for '$s'")
    }
  }

  test("gram_pack empty slice (lo > hi) folds to zero and nulls propagate") {
    val r = spark.sql(
      "SELECT gram_pack('abcdefgh', 8, 7), gram_pack(CAST(NULL AS STRING), 0, 7)")
      .collect().head
    assert(r.getLong(0) == 0L)
    assert(r.isNullAt(1))
  }

  test("gram_pack rejects a byte with the high bit set instead of colliding") {
    // 'é' is two UTF-8 bytes, both >= 0x80; masked to 7 bits they would
    // pack equal to some 7-bit gram
    val err = intercept[Exception] {
      spark.sql("SELECT gram_pack('caf\u00e9', 0, 4)").collect()
    }
    assert(err.getMessage.contains("non-7-bit") ||
      Option(err.getCause).exists(_.getMessage.contains("non-7-bit")))
  }

  test("hex_pack is the base-16 positional fold and rejects non-hex bytes") {
    import spark.implicits._
    val rows = Seq("0123456789abcdef0123456789abcdef",
      "ffffffffffffffff0000000000000000").toDF("h")
      .selectExpr("h", "hex_pack(h, 0, 15) AS p1", "hex_pack(h, 16, 31) AS p2")
      .collect()
    rows.foreach { r =>
      val s = r.getString(0)
      def fold(lo: Int, hi: Int): Long = (lo to hi).foldLeft(0L) { (a, i) =>
        (a << 4) | java.lang.Long.parseLong(s.charAt(i).toString, 16)
      }
      assert(r.getLong(1) == fold(0, 15) && r.getLong(2) == fold(16, 31))
    }
    val err = intercept[Exception] {
      spark.sql("SELECT hex_pack('zzzz', 0, 3)").collect()
    }
    assert(err.getMessage.contains("non-hex") ||
      Option(err.getCause).exists(_.getMessage.contains("non-hex")))
  }

  test("winnow pairs are identical through the hex-packed and string key paths") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "quick brown fox jumps over the lazy dog again and again yes"),
      (2L, "entirely unrelated content with no shared runs whatsoever!!"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val packed = Dedup.winnowPairsCore(docs, 8, 4, 1L, 100L).collect()
    // string-key re-derivation (the pre-pack spelling)
    val fps = graft.operators.TextAnalysis.winnowSelections(docs, 8, 4)
      .select(col("doc_id"), expr("substring(wmin, 1, 32)").as("fp"))
      .distinct()
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 100L).select(col("fp"))
    val kept = fps.join(rare, Seq("fp"))
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val reference = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 1L)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("nb")), Seq("doc_b"))
      .withColumn("overlap_1e4", expr(
        "CAST((20000 * n_shared + least(na, nb)) DIV (2 * least(na, nb)) AS BIGINT)"))
      .filter(col("overlap_1e4") >= 0L)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("overlap_1e4"))
      .orderBy(col("doc_a"), col("doc_b"))
      .collect()
    assert(packed.nonEmpty, "fixture must produce at least one pair")
    assert(packed.map(_.toString).toSeq == reference.map(_.toString).toSeq)
  }

  test("substring dedup spans are identical through the packed and string key paths") {
    // every packed k: g1 alone for k <= 8, g1 + g2 up to k = 16 (k = 17
    // exceeds the pack and keeps the string key). Compare against a
    // straight re-derivation that groups on the gram STRING (the pre-pack
    // spelling) at the same k.
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "quick brown fox jumps over the lazy dog again and again yes"),
      (2L, "entirely unrelated content with no shared runs whatsoever!!"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    (2 to 16).foreach { k =>
      val packed = Dedup.substringDedupCore(docs, k, 100L, 32L).collect()
      val reference = stringKeySpans(docs, k, 32L)
      assert(packed.nonEmpty, s"k = $k: fixture must produce at least one span")
      assert(packed.map(_.toString).toSeq == reference.map(_.toString).toSeq, s"k = $k")
    }
  }

  /** Substring dedup spans re-derived with the gram STRING as the group
    * key (the pre-pack spelling), in the packed path's output order.
    */
  private def stringKeySpans(docs: org.apache.spark.sql.DataFrame, k: Int,
                             minLen: Long): Array[org.apache.spark.sql.Row] = {
    import graft.operators.Dedup
    val grams = Dedup.gramRows(docs, k)
    val byDoc = grams.groupBy(col("gram"), col("doc_id"))
      .agg(collect_list(col("pos")).as("ps"))
    val kept = byDoc.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))))
      .filter(col("df") <= 100L)
    val m = kept.groupBy(col("gram"))
      .agg(collect_list(struct(col("doc_id"), col("ps"))).as("os"))
      .select(explode(expr(
        """flatten(transform(os, a ->
             flatten(transform(filter(os, b -> b.doc_id > a.doc_id), b ->
               flatten(transform(a.ps, pa ->
                 transform(b.ps, pb ->
                   struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
                          pa AS pa, pb AS pb))))))))""")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.pa"), col("p.pb"))
    Dedup.mergeSpans(m, k, minLen)
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
      .collect()
  }
}
