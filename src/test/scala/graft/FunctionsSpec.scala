package graft

import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkTestBase {

  test("dot_f is bit-identical to the HOF aggregate/zip_with form") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet").limit(50)
    val hof = """aggregate(zip_with(a, b, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
                 CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("b")))
      .withColumn("native", expr("dot_f(a, b)"))
      .withColumn("hofv", expr(hof))
    assert(pairs.filter(col("native") =!= col("hofv")).count() == 0)
  }

  test("dot_f null semantics: null array or length mismatch yields null") {
    val out = spark.sql(
      "SELECT dot_f(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS d")
      .head()
    assert(out.isNullAt(0))
    val mismatch = spark.sql(
      """SELECT dot_f(array(CAST(1.0 AS FLOAT)),
                      array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d""")
      .head()
    assert(mismatch.isNullAt(0))
  }

  test("dot_f rejects non-FLOAT arrays and a wrong arity at analysis") {
    // no action: spark.sql analyzes eagerly, so these fail before any job
    val wrongType = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT dot_f(array(1, 2), array(3, 4))"))
    assert(wrongType.getMessage.contains("dot_f expects (ARRAY<FLOAT>, ARRAY<FLOAT>)"),
      s"message was: ${wrongType.getMessage}")
    val arity = intercept[Exception](spark.sql("SELECT dot_f(array(CAST(1 AS FLOAT)))"))
    assert(arity.getMessage.contains("dot_f requires exactly 2 arguments"),
      s"message was: ${arity.getMessage}")
  }

  test("BloomBitset: exact bits set, order- and partitioning-independent, OR merge") {
    val agg = new graft.functions.BloomBitset(256)
    // direct semantics: position p sets word p/64, bit p%64
    val direct = Seq(0L, 63L, 64L, 255L, 64L).foldLeft(agg.zero)(agg.reduce)
    assert(direct(0) == (1L | (1L << 63)) && direct(1) == 1L && direct(3) == (1L << 63))
    assert(direct(2) == 0L)
    // merge is bitwise OR
    val a = agg.reduce(agg.zero, 5L)
    val b = agg.reduce(agg.zero, 70L)
    val m = agg.merge(a, b)
    assert(m(0) == (1L << 5) && m(1) == (1L << 6))
    // through the engine: any partitioning/order yields the same bitset
    val bloom = udaf(agg, org.apache.spark.sql.Encoders.scalaLong)
    val pos = spark.range(0, 200).select((col("id") * 37 % 256).as("p"))
    val one = pos.repartition(1).agg(bloom(col("p"))).head.getSeq[Long](0)
    val many = pos.repartition(13).agg(bloom(col("p"))).head.getSeq[Long](0)
    assert(one == many)
  }

  test("minhash_sig native expression matches the composed HOF definition") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .selectExpr("doc_id", "regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS ws")
      .filter("size(ws) >= 3")
      .selectExpr("doc_id", Dedup.ShinglesExpr + " AS sh")
    val hofCols = (0 until 12).map(j => s"${Dedup.sigExpr(j)} AS h_$j")
    val both = docs
      .withColumn("sigarr", org.apache.spark.sql.functions.expr("minhash_sig(sh)"))
      .selectExpr(Seq("doc_id", "sigarr") ++ hofCols: _*)
    (0 until 12).foreach { j =>
      assert(both.filter(s"sigarr[$j] <> h_$j").count() == 0, s"slot $j diverged")
    }
  }

  test("TopKNeighbors keeps the (m DESC, vecId ASC) top-k through reduce and merge") {
    import graft.functions.{ScoredNeighbor, TopKNeighbors}
    val agg = new TopKNeighbors(3)
    val xs = Seq(
      ScoredNeighbor(5, 9), ScoredNeighbor(7, 2), ScoredNeighbor(5, 1),
      ScoredNeighbor(9, 4), ScoredNeighbor(1, 0), ScoredNeighbor(5, 3))
    // all-in-one reduce
    val viaReduce = xs.foldLeft(agg.zero)(agg.reduce)
    assert(viaReduce == List(ScoredNeighbor(9, 4), ScoredNeighbor(7, 2), ScoredNeighbor(5, 1)))
    // split across two partitions, merged — same answer regardless of split
    for (cut <- 1 until xs.length) {
      val (l, r) = xs.splitAt(cut)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == viaReduce, s"cut=$cut")
    }
    // equals the window-equivalent selection against Spark itself
    import spark.implicits._
    val topkUdaf = org.apache.spark.sql.functions.udaf(
      agg, org.apache.spark.sql.Encoders.product[ScoredNeighbor])
    val df = xs.toDF("m", "vecId")
    val viaSpark = df.groupBy(org.apache.spark.sql.functions.lit(1))
      .agg(topkUdaf(org.apache.spark.sql.functions.col("m"),
        org.apache.spark.sql.functions.col("vecId")).as("nn"))
      .selectExpr("inline(nn)").as[ScoredNeighbor].collect().toList
    assert(viaSpark == viaReduce)
  }

  test("HeavyHittersSketch: MG guarantees hold under any split and partitioning") {
    import graft.functions.{HeavyHitter, HeavyHittersSketch, MgBuffer}
    val rnd = new scala.util.Random(7)
    // planted: "hot" at 30% of a 2000-item stream, tail spread over a
    // 200-item cold domain (domain >> capacity); n/k = 200 < 600 = f(hot)
    val stream = rnd.shuffle(
      (List.fill(600)("hot") ++ List.fill(1400)(s"cold${rnd.nextInt(200)}")))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.length
    val k = 10
    val agg = new HeavyHittersSketch(k)
    def check(out: Seq[HeavyHitter], label: String): Unit = {
      assert(out.size <= k, label)
      assert(out.exists(_.item == "hot"), s"$label: f > n/k item must survive")
      out.foreach { h =>
        val f = truth(h.item)
        assert(h.count <= f && f <= h.count + h.err,
          s"$label: bounds violated for ${h.item}: count=${h.count} err=${h.err} f=$f")
        assert(h.err <= n / k, s"$label: err ${h.err} exceeds n/k")
      }
    }
    def run(xs: List[String]): MgBuffer = xs.foldLeft(agg.zero)(agg.reduce)
    check(agg.finish(run(stream)), "single reduce")
    for (cut <- Seq(13, 500, 1999)) {
      val (l, r) = stream.splitAt(cut)
      check(agg.finish(agg.merge(run(l), run(r))), s"merge at $cut")
    }
    // through Spark under different physical partitionings
    import spark.implicits._
    val hh = org.apache.spark.sql.functions.udaf(
      agg, org.apache.spark.sql.Encoders.STRING)
    for (p <- Seq(1, 7)) {
      val out = stream.toDF("item").repartition(p)
        .agg(hh(org.apache.spark.sql.functions.col("item")).as("hh"))
        .selectExpr("inline(hh)").as[HeavyHitter].collect().toSeq
      check(out, s"spark p=$p")
    }
    // domain <= capacity: the sketch degenerates to an exact count
    val exact = agg.finish(run(List("a", "b", "a", "c", "a", "b")))
    assert(exact == Seq(HeavyHitter("a", 3, 0), HeavyHitter("b", 2, 0),
      HeavyHitter("c", 1, 0)))
  }

  test("jacc_summary: bytes are the murmur3-bucket histogram, saturating at 255") {
    val b = 32
    // histogram semantics: the expression's buckets must agree with the
    // engine's own hash() (murmur3 seed 42) bucketed the composed way
    val docs = spark.read.parquet(s"$Sf/documents.parquet").limit(40)
      .selectExpr("doc_id",
        "array_distinct(split(lower(text), ' ')) AS sh")
      .where("size(sh) >= 1")
    val rows = docs
      .selectExpr("doc_id", s"jacc_summary(sh, $b) AS sm",
        s"transform(sh, x -> pmod(hash(x), $b)) AS hs")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sm = r.getAs[Array[Byte]]("sm")
      assert(sm.length == b)
      val want = r.getSeq[Int](2).groupBy(identity).view.mapValues(_.size).toMap
      (0 until b).foreach { i =>
        assert((sm(i) & 0xFF) == math.min(want.getOrElse(i, 0), 255))
      }
    }
    // saturation: 300 copies of one token pile into a single bucket,
    // clamped at 255 (the exactness guard's boundary)
    val sat = spark.sql(
      s"SELECT jacc_summary(transform(sequence(1, 300), i -> 'tok'), $b) AS sm")
      .head().getAs[Array[Byte]](0)
    assert(sat.map(_ & 0xFF).sum == 255 && sat.map(_ & 0xFF).max == 255)
    // null array -> null summary; null ELEMENT -> null summary (the
    // conservative cannot-prune contract)
    assert(spark.sql(s"SELECT jacc_summary(CAST(NULL AS ARRAY<STRING>), $b)")
      .head().isNullAt(0))
    assert(spark.sql(s"SELECT jacc_summary(array('a', CAST(NULL AS STRING)), $b)")
      .head().isNullAt(0))
  }

  test("minsum_b upper-bounds the true intersection on real shingle sets") {
    val b = graft.operators.Dedup.SummaryBuckets
    val docs = graft.operators.Dedup.withShingles(spark, Sf)
      .selectExpr("doc_id", "sh", s"jacc_summary(sh, $b) AS sm")
      .limit(60).localCheckpoint(true)
    val pairs = docs.selectExpr("doc_id AS ia", "sh AS a", "sm AS sa")
      .crossJoin(docs.selectExpr("doc_id AS ib", "sh AS b", "sm AS sb"))
      .where("ia < ib")
      .selectExpr("minsum_b(sa, sb) AS ub", "size(array_intersect(a, b)) AS tru")
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getInt(0) >= r.getInt(1),
        s"bound ${r.getInt(0)} < true intersection ${r.getInt(1)}")
    }
  }

  test("minsum_b null semantics: null input or length mismatch yields null") {
    assert(spark.sql("SELECT minsum_b(CAST(NULL AS BINARY), X'00')").head().isNullAt(0))
    assert(spark.sql("SELECT minsum_b(X'0102', X'01')").head().isNullAt(0))
    // byte-wise unsigned min: min(0x02,0xFF)=2, min(0x80,0x7F)=127
    assert(spark.sql("SELECT minsum_b(X'0280', X'FF7F')").head().getInt(0) == 2 + 127)
  }

  test("top_centroids_f / nearest_centroid reject k < 1 and out-of-range ids loudly") {
    val cm = "array(array(CAST(1 AS FLOAT)))"
    val v = "array(CAST(1 AS FLOAT)), CAST(1.0 AS DOUBLE)"
    def fails(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains(frag), s"message was: ${e.getMessage}")
    }
    fails(s"SELECT top_centroids_f($v, $cm, array(CAST(1.0 AS DOUBLE)), array(CAST(0 AS BIGINT)), 0)",
      "k must be >= 1")
    fails(s"SELECT top_centroids_f($v, $cm, array(CAST(1.0 AS DOUBLE)), array(CAST(65536 AS BIGINT)), 1)",
      "must be in [0, 65536)")
    fails(s"""SELECT nearest_centroid(array(CAST(1 AS BIGINT)), CAST(1.0 AS DOUBLE),
      array(array(CAST(1 AS BIGINT))), array(CAST(1.0 AS DOUBLE)), array(CAST(-1 AS BIGINT)))""",
      "must be in [0, 65536)")
    // a NULL ELEMENT passes the ArrayType(LongType, containsNull=true)
    // type match — it must still fail with the clean analysis-time
    // message, not an NPE from a bulk toLongArray conversion
    fails(s"SELECT top_centroids_f($v, $cm, array(CAST(1.0 AS DOUBLE)), array(CAST(NULL AS BIGINT)), 1)",
      "must not contain NULL")
    fails(s"""SELECT nearest_centroid(array(CAST(1 AS BIGINT)), CAST(1.0 AS DOUBLE),
      array(array(CAST(1 AS BIGINT))), array(CAST(1.0 AS DOUBLE)), array(CAST(NULL AS BIGINT)))""",
      "must not contain NULL")
    // the valid spelling still works
    val ok = spark.sql(
      s"SELECT top_centroids_f($v, $cm, array(CAST(1.0 AS DOUBLE)), array(CAST(7 AS BIGINT)), 1)")
      .head().getSeq[Long](0)
    assert(ok == Seq(7L))
  }

  /** Every function graft installs; Spark's own sketches stay out. */
  private val graftNames = Seq("dot_f", "minhash_sig", "gram_pack", "hex_pack",
    "nearest_centroid", "top_centroids_f", "jacc_summary", "minsum_b")

  test("the SparkTestBase session resolves every graft function with no install call") {
    assert(graft.functions.GraftFunctions.All.map(_.name) === graftNames)
    graftNames.foreach(n => assert(spark.catalog.functionExists(n), n))
    // the same functions on a sibling session of the context
    val sibling = spark.newSession()
    graftNames.foreach(n => assert(sibling.catalog.functionExists(n), n))
  }

  // LAST test in this suite on purpose: spark.sql.extensions is a static
  // conf read at CONTEXT creation, so proving the cluster-deploy path
  // (--conf spark.sql.extensions=graft.functions.GraftExtensions) needs a
  // fresh SparkContext. Suites run sequentially in the forked test JVM,
  // and the finally block restores a SparkTestBase-identical baseline
  // session for whatever runs next.
  test("GraftExtensions injects dot_f/minhash_sig via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    spark.stop()
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val dot = s2.sql(
        """SELECT dot_f(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
                        array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))""")
        .collect().head.getDouble(0)
      assert(dot == 11.0)
      val sig = s2.sql("SELECT minhash_sig(array('a b c'))").collect().head.getSeq[String](0)
      assert(sig.length == graft.operators.Dedup.NumHashes)
      graftNames.foreach(n => assert(s2.catalog.functionExists(n), n))
      assert(s2.sql("SELECT minsum_b(X'0280', X'FF7F')").head().getInt(0) == 2 + 127)
    } finally {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .foreach(_.stop())
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      SparkTestBase.builder().getOrCreate()
    }
  }
}
