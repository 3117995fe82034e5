package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewUtils

class SkewUtilsSpec extends SparkTestBase {

  test("saltedJoin result equals plain join (inner)") {
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = spark.read.parquet(s"$Sf/customer.parquet")
      .select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, "o_custkey")
      .select("o_orderkey", "o_custkey", "c_name")
    val salted = SkewUtils.saltedJoin(orders, customer, "o_custkey", salts = 4)
      .select("o_orderkey", "o_custkey", "c_name")
    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("saltedJoin spreads a hot key across salt partitions") {
    import spark.implicits._
    // one hot key with 1000 rows + small right side
    val left = (1 to 1000).map(i => (42L, i)).toDF("k", "payload")
    val right = Seq((42L, "hot")).toDF("k", "name")
    val out = SkewUtils.saltedJoin(left, right, "k", salts = 8)
    assert(out.count() == 1000)
    // salts actually distribute: hash-of-row salt should hit several buckets
    val distinctSalts = left
      .withColumn("s", pmod(xxhash64(col("k"), col("payload")), lit(8)))
      .select("s").distinct().count()
    assert(distinctSalts >= 4)
  }

  test("bloomSemiJoin equals the plain left-semi join") {
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
    val dim = spark.read.parquet(s"$Sf/customer.parquet")
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select("c_custkey")
    val plain = orders.join(dim, orders("o_custkey") === dim("c_custkey"),
      "left_semi")
    val bloomed = SkewUtils.bloomSemiJoin(orders, dim, "o_custkey", "c_custkey")
    assert(plain.exceptAll(bloomed).count() == 0)
    assert(bloomed.exceptAll(plain).count() == 0)
  }

  test("bloomSemiJoin screen is a superset of the true matches (no false negatives)") {
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
    val dim = spark.read.parquet(s"$Sf/customer.parquet")
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select("c_custkey")
    // tiny filter (64 bits, 1 hash) -> false positives all but guaranteed,
    // yet the result must STILL be exact: the rejoin removes them
    val tiny = SkewUtils.bloomSemiJoin(orders, dim, "o_custkey", "c_custkey",
      nBits = 64, hashes = 1)
    val plain = orders.join(dim, orders("o_custkey") === dim("c_custkey"),
      "left_semi")
    assert(tiny.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(tiny).count() == 0)
  }

  test("bloomSemiJoin handles backtick-needing key names (Column API, no SQL interpolation)") {
    import spark.implicits._
    // names with spaces break any expr()-string probe outright; dotted
    // names work through the Column API with the caller's backticks
    val left = Seq((1L, "a"), (2L, "b"), (3L, "c"), (42L, "d"))
      .toDF("left key", "payload")
    val right = Seq(2L, 42L).toDF("right key")
    val out = SkewUtils.bloomSemiJoin(left, right, "left key", "right key")
    assert(out.select(col("left key")).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 42L))
    val leftDot = left.withColumnRenamed("left key", "left.key")
    val outDot = SkewUtils.bloomSemiJoin(leftDot, right, "`left.key`", "right key")
    assert(outDot.select(col("`left.key`")).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 42L))
    // reserved-name guard fails loudly instead of corrupting the probe
    val clash = left.withColumn("__bits", lit(1))
    val e = intercept[IllegalArgumentException] {
      SkewUtils.bloomSemiJoin(clash, right, "left key", "right key")
    }
    assert(e.getMessage.contains("__bits"))
  }

  /** Deterministic synthetic embeddings: 4-dim, label-controlled, with the
    * same (vec_id, label, embedding, vnorm) shape nearestInLabelCore reads.
    */
  private def embFixture(rows: Seq[(Long, Int)]) = {
    import spark.implicits._
    rows.map { case (id, label) =>
      val rnd = new java.util.Random(7700L + id)
      (id, label, Array.fill(4)(rnd.nextFloat()))
    }.toDF("vec_id", "label", "embedding")
      .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
  }

  test("nearestInLabel: packed max_by top-1 equals the window reference below the cap") {
    import graft.operators.Similarity
    val emb = embFixture((0L until 40L).map(i => (i, (i % 3).toInt)))
    val out = Similarity.nearestInLabelCore(emb, maxBlock = 1 << 16)
    // reference: the pre-r5 window shape (row_number over m DESC, b_vec_id)
    val a = emb.select(col("vec_id"), col("label"), col("embedding"), col("vnorm"))
    val b = emb.select(col("vec_id").as("b_vec_id"), col("label"),
      col("embedding").as("b_embedding"), col("vnorm").as("b_vnorm"))
    val pairs = a.join(b, Seq("label"))
      .filter(col("vec_id") =!= col("b_vec_id"))
      .withColumn("m", expr(Similarity.scoreMicrosFromNorms(
        "dot_f(embedding, b_embedding)", "vnorm", "b_vnorm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("m").desc, col("b_vec_id"))
    val ref = pairs.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("b_vec_id").as("nn_vec_id"),
        expr(Similarity.Micro4).as("nn_score"),
        (col("m") >= 950000).as("is_near_dup"))
    assert(out.exceptAll(ref).count() == 0 && ref.exceptAll(out).count() == 0)
  }

  test("nearestInLabel: whale labels sub-block (bounded work), small labels stay exact") {
    import graft.operators.Similarity
    // label 1 is a whale (120 members, cap 32 -> 4 hash sub-blocks);
    // label 2 fits the cap (8 members) and must be untouched by it
    val emb = embFixture(
      (0L until 120L).map(i => (i, 1)) ++ (200L until 208L).map(i => (i, 2)))
    val capped = Similarity.nearestInLabelCore(emb, maxBlock = 32)
    val exact = Similarity.nearestInLabelCore(emb, maxBlock = 1 << 16)

    val cappedSmall = capped.filter(col("label") === 2)
    val exactSmall = exact.filter(col("label") === 2)
    assert(cappedSmall.exceptAll(exactSmall).count() == 0 &&
      exactSmall.exceptAll(cappedSmall).count() == 0,
      "labels under the cap must be exact (n_sub = 1)")

    // whale label: every reported NN must come from one of the vector's
    // TWO probed sub-blocks (its own + the adjacent one)
    val nSubWhale = 4 // ceil(120 / 32)
    val subs = emb.filter(col("label") === 1)
      .select(col("vec_id"),
        pmod(xxhash64(col("vec_id")), lit(nSubWhale)).cast("int").as("sub"))
    val whale = capped.filter(col("label") === 1)
      .join(subs, "vec_id")
      .join(subs.withColumnRenamed("vec_id", "nn_vec_id")
        .withColumnRenamed("sub", "nn_sub"), "nn_vec_id")
    assert(whale.filter(col("nn_sub") =!= col("sub") &&
        col("nn_sub") =!= pmod(col("sub") + 1, lit(nSubWhale)).cast("int"))
      .count() == 0,
      "whale-label candidates must come from the vector's probed sub-blocks")
    // every whale vector emits a row (each probes 2 of the 4 sub-blocks,
    // and with 120 members every sub-block pair here is non-empty)
    assert(capped.filter(col("label") === 1).count() == 120)
    // multi-probe can only improve on single-probe: each vector's score
    // is the best over a SUPERSET of its own sub-block's candidates, so
    // within-own-sub pairs never score above the reported NN
    val ownSubBest = emb.filter(col("label") === 1).as("x")
      .join(subs.as("sx"), col("x.vec_id") === col("sx.vec_id"))
      .join(emb.filter(col("label") === 1).as("y"), col("x.vec_id") =!= col("y.vec_id"))
      .join(subs.as("sy"), col("y.vec_id") === col("sy.vec_id"))
      .filter(col("sx.sub") === col("sy.sub"))
      .withColumn("m", expr(graft.operators.Similarity.scoreMicrosFromNorms(
        "dot_f(x.embedding, y.embedding)", "x.vnorm", "y.vnorm")))
      .groupBy(col("x.vec_id").as("vec_id"))
      .agg(max(col("m")).as("own_best"))
    // nn_score is half-up micro4 (= m/100), so rescale with a +-50 margin
    val joined = capped.filter(col("label") === 1)
      .withColumn("nn_m", col("nn_score") * 100)
      .join(ownSubBest, "vec_id")
    assert(joined.filter(col("own_best") > col("nn_m") + 50).count() == 0,
      "multi-probe must never score below the vector's own sub-block best")
  }

  test("semanticDedup whale-cluster cap: probe-rule-exact drops, sound, exact under the cap") {
    import graft.operators.Similarity
    import spark.implicits._
    // cluster 1 is a whale (30 members, cap 8 -> 4 hash sub-blocks);
    // cluster 2 fits the cap (6 members) and must be bit-identical to the
    // exact within-cluster search
    val rows = (0L until 30L).map(i => (i, 1)) ++ (100L until 106L).map(i => (i, 2))
    val emb = rows.map { case (id, cl) =>
      val rnd = new java.util.Random(4200L + id)
      (id, cl, Array.fill(4)(rnd.nextFloat()))
    }.toDF("vec_id", "cluster_id", "embedding")
      .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
    val thr = 900000L
    val capped = Similarity.semanticDropsCore(emb, thr, maxBlock = 8,
      Long.MinValue).collect().map(_.getLong(0)).toSet
    val exact = Similarity.semanticDropsCore(emb, thr, maxBlock = 1 << 16,
      Long.MinValue).collect().map(_.getLong(0)).toSet

    // reference: all qualifying earlier-neighbor pairs, scored with the
    // operator's own integer rounding
    val a = emb.select(col("cluster_id"), col("vec_id"),
      col("embedding").as("ea"), col("vnorm").as("na"))
    val b = emb.select(col("cluster_id"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("vnorm").as("nb"))
    val pairs = a.join(b, Seq("cluster_id"))
      .filter(col("vec_b") < col("vec_id"))
      .withColumn("m", expr(Similarity.scoreMicrosFromNorms(
        "dot_f(ea, eb)", "na", "nb")))
      .filter(col("m") >= thr)
      .select(col("cluster_id"), col("vec_id"), col("vec_b"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")

    // replicate the deterministic sub assignment (xxhash64 mod n_sub) and
    // the own+adjacent probe rule
    val nSubOf = Map(1 -> 4, 2 -> 1) // ceil(30/8), ceil(6/8)
    val subs = emb.select(col("vec_id"),
        pmod(xxhash64(col("vec_id")),
          when(col("cluster_id") === 1, lit(4)).otherwise(lit(1)))
          .cast("int").as("sub"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(subs.filter(_._1 < 30).values.toSet.size >= 3,
      "whale fixture must actually shard across sub-blocks")
    val expectedExact = pairs.map(_._2).toSet
    val expectedCapped = pairs.filter { case (cl, later, earlier) =>
      val ns = nSubOf(cl)
      val sa = subs(later)
      subs(earlier) == sa || subs(earlier) == (sa + 1) % ns
    }.map(_._2).toSet

    assert(exact == expectedExact, "uncapped core must equal the exact all-pairs search")
    assert(capped == expectedCapped, "capped core must equal the probe-rule reference")
    assert(capped.subsetOf(exact),
      "sub-blocking may only prune drops (soundness), never fabricate them")
    // the small cluster is untouched by the cap
    assert(capped.filter(_ >= 100L) == exact.filter(_ >= 100L),
      "clusters at or under the cap must be exact (n_sub = 1)")
  }
}
