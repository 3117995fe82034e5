package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Spot-value and invariant checks per operator family. The full
  * cell-exact cross-engine check is the driver's DuckDB gate; these specs
  * pin down semantics and invariants that survive refactors.
  */
class OperatorSpec extends SparkTestBase {

  test("pricing summary: groups complete, counts conserve") {
    val out = Analytics.pricingSummary(spark, Sf).collect()
    assert(out.length == 6) // 3 returnflags x 2 linestatus (as observed in data)
    val total = out.map(_.getAs[Long]("count_order")).sum
    val expected = spark.read.parquet(s"$Sf/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp")).count()
    assert(total == expected)
  }

  test("outer join keeps zero-order customers; semi+anti partition customers") {
    val outer = Analytics.customerOrderCounts(spark, Sf)
    val nCust = spark.read.parquet(s"$Sf/customer.parquet").count()
    assert(outer.count() == nCust)
    val semi = Analytics.customersWithUrgentOrders(spark, Sf).count()
    val anti = Analytics.customersWithoutOrders(spark, Sf).count()
    val withOrders = outer.filter(col("order_count") > 0).count()
    assert(withOrders + anti == nCust)
    assert(semi <= withOrders)
  }

  test("rollup: grand total row equals table count") {
    val out = Analytics.orderRollup(spark, Sf)
      .filter(col("status") === "ALL" && col("priority") === "ALL").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_orders") ==
      spark.read.parquet(s"$Sf/orders.parquet").count())
  }

  test("moving average: first row per user equals its own value") {
    val out = Analytics.movingAverage(spark, Sf)
    val firsts = out.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")))
      .filter(col("rn") === 1)
    // window of one row: avg == the row's own cents, in 1e-4 units
    assert(firsts.filter(col("moving_avg_1e4") =!=
      expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) * 100"))
      .count() == 0)
  }

  test("pivot/unpivot round-trip conserves the order count") {
    val wide = Reshape.orderStatusPivot(spark, Sf)
    val nOrders = spark.read.parquet(s"$Sf/orders.parquet").count()
    val wideTotal = wide.select((col("n_f") + col("n_o") + col("n_p")).as("t"))
      .agg(sum("t")).head().getLong(0)
    assert(wideTotal == nOrders)
    val long = Reshape.orderStatusUnpivot(spark, Sf)
    assert(long.count() == wide.count() * 3)
    assert(long.agg(sum("n")).head().getLong(0) == nOrders)
  }

  test("range join assigns every event to exactly one band") {
    val out = RangeJoin.eventValueBands(spark, Sf)
    val nEvents = spark.read.parquet(s"$Sf/events.parquet").count()
    assert(out.agg(sum("n_events")).head().getLong(0) == nEvents)
  }

  test("rank family: quartile in 1..4, pct_rank/cume bounded, cume hits 1") {
    val out = Analytics.orderPriceRanks(spark, Sf)
    assert(out.filter(col("quartile") < 1 || col("quartile") > 4).count() == 0)
    assert(out.filter(col("pct_rank") < 0 || col("pct_rank") > 1).count() == 0)
    val maxCume = out.groupBy("o_orderpriority").agg(max("cume").as("m"))
    assert(maxCume.filter(col("m") =!= 1.0).count() == 0)
  }

  test("upsert: updates win on key collision, unmatched rows survive") {
    import spark.implicits._
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    val merged = sinks.Sinks.upsert(existing, updates, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
  }

  test("upsert: duplicate key within one side fails (MERGE precondition)") {
    import spark.implicits._
    val existing = Seq((1L, "a")).toDF("k", "v")
    val updates = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    val e = intercept[Exception] {
      sinks.Sinks.upsert(existing, updates, Seq("k")).collect()
    }
    assert(e.getMessage.contains("ambiguous duplicate") ||
      Option(e.getCause).exists(_.getMessage.contains("ambiguous duplicate")))
  }

  test("upsert: versionCols picks the highest version deterministically") {
    import spark.implicits._
    val existing = Seq((1L, 0L, "a")).toDF("k", "ver", "v")
    val updates = Seq((1L, 5L, "x"), (1L, 9L, "y"), (2L, 1L, "z"))
      .toDF("k", "ver", "v")
    val merged = sinks.Sinks.upsert(existing, updates, Seq("k"), Seq("ver"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(merged == Map(1L -> "y", 2L -> "z"))
  }

  test("date parts: month rollup conserves orders; calendar fields bounded") {
    val out = Analytics.orderDateParts(spark, Sf).collect()
    val nOrders = spark.read.parquet(s"$Sf/orders.parquet").count()
    assert(out.map(_.getAs[Long]("n_orders")).sum == nOrders)
    assert(out.forall(r => r.getAs[Long]("mon") >= 1 && r.getAs[Long]("mon") <= 12))
    assert(out.forall(_.getAs[Long]("distinct_days") <= 31))
    assert(out.forall(r => r.getAs[String]("month_start") <= r.getAs[String]("month_end")))
  }

  test("regression slope matches a driver-side double computation") {
    val out = Analytics.priceQuantitySlope(spark, Sf).collect()
    val rows = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1),
        math.floor(r.getDouble(2) * 100 + 0.5)))
    assert(out.map(_.getAs[Long]("n")).sum == rows.length)
    out.foreach { r =>
      val g = rows.filter(_._1 == r.getString(0))
      val n = g.length.toDouble
      val (sq, sp) = (g.map(_._2).sum, g.map(_._3).sum)
      val sqp = g.map(x => x._2 * x._3).sum
      val sqq = g.map(x => x._2 * x._2).sum
      val expect = (n * sqp - sq * sp) / (n * sqq - sq * sq)
      assert(math.abs(r.getAs[Long]("slope_cents_1e6") / 1e6 - expect) < 0.01,
        s"flag ${r.getString(0)}")
    }
  }

  test("materialized IVF index answers identically to the inline IVF path") {
    val idx = tmpDir("ivfidx")
    Similarity.buildIvfIndex(spark, Sf, idx)
    // partitioned layout on disk = list-pruned reads at query time
    val parts = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName)
    assert(parts.nonEmpty)
    val fromIndex = Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq
    val inline = Similarity.ivfTopK(spark, Sf).collect().toSeq
    assert(fromIndex == inline)
  }

  test("IVF tombstones: screened at query time, applied physically by compaction") {
    val idx = tmpDir("ivftomb")
    Similarity.buildIvfIndex(spark, Sf, idx)
    val before = Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq
    // delete two ids that actually appear in the current results (and are
    // not centroid vectors, so the FirstN quantizer is untouched)
    val victims = before.map(_.getLong(2)).filter(_ >= 16).distinct.take(2)
    assert(victims.length == 2, "fixture must surface deletable neighbors")
    Similarity.tombstoneIvfIndex(spark, idx, victims)
    val after = Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq
    assert(after != before)
    assert(!after.exists(r => victims.contains(r.getLong(2))),
      "tombstoned ids must never be returned")
    // idempotent: deleting again changes nothing
    Similarity.tombstoneIvfIndex(spark, idx, victims.take(1))
    assert(Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq == after)
    // compaction applies the tombstones physically and clears the artifact
    val rowsBefore = spark.read.parquet(idx).count()
    Similarity.compactIvfIndex(spark, idx)
    assert(!new java.io.File(idx, "_tombstones").exists(),
      "compaction must clear applied tombstones")
    assert(spark.read.parquet(idx).count() == rowsBefore - victims.length)
    assert(!spark.read.parquet(idx).collect()
      .exists(r => victims.contains(r.getAs[Long]("vec_id"))))
    assert(Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq == after,
      "query results must be identical before and after physical deletion")
    assert(new java.io.File(idx, "_centroids_f").exists(),
      "compaction must carry the first-N quantizer across the swap")
  }

  test("first-N IVF index consumers read the list count from the index") {
    // built at nLists = 32; neither consumer is told, so each must take
    // the quantizer (and its width) from the index's _centroids_f
    val idx = tmpDir("ivf32")
    Similarity.buildIvfIndex(spark, Sf, idx, nLists = 32)
    assert(Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq ==
      Similarity.ivfTopK(spark, Sf, nLists = 32).collect().toSeq)
    val inc = tmpDir("ivf32inc")
    Similarity.buildIvfIndex(spark, Sf, inc, nLists = 32, maxVecIdExclusive = 400)
    Similarity.appendToIvfIndex(spark, Sf, inc, minVecId = 400)
    def lists(dir: String) = spark.read.parquet(dir)
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
    val all = lists(idx)
    assert(all.exists(_._1 >= 400), "fixture must leave a delta to append")
    assert(lists(inc) == all)
  }

  test("an index directory without a stored quantizer is rejected by name") {
    val idx = tmpDir("ivfnoq")
    Similarity.buildIvfIndex(spark, Sf, idx)
    val q = new org.apache.hadoop.fs.Path(idx, "_centroids_f")
    assert(q.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(q, true))
    val err = intercept[IllegalArgumentException](
      Similarity.ivfTopKFromIndex(spark, Sf, idx))
    assert(err.getMessage.contains("buildIvfIndex") &&
      err.getMessage.contains("stageIvfQuantizer"), err.getMessage)
  }

  test("winnowing fingerprints equal a driver-side reference implementation") {
    val (k, w) = (8, 4)
    val got = operators.TextAnalysis.winnowFingerprints(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    var checked = 0
    docs.foreach { case (id, text) =>
      val txt = "[a-z0-9]+".r
        .findAllIn(text.toLowerCase(java.util.Locale.ROOT)).mkString(" ")
      if (txt.length >= k) {
        val packed = (0 to txt.length - k).map(i =>
          md5hex(txt.substring(i, i + k)) + f"${999999 - i}%06d")
        val n = packed.length
        val sel = (0 to math.max(n - w, 0))
          .map(i => packed.slice(i, math.min(i + w, n)).min).distinct
        val hashes = sel.map(_.take(32))
        assert(got(id) == (n.toLong, sel.size.toLong,
          hashes.distinct.size.toLong, hashes.min), s"doc $id")
        // winnowing density: at most one selection per window start
        assert(sel.size <= math.max(n - w, 0) + 1, s"doc $id density")
        checked += 1
      } else assert(!got.contains(id), s"doc $id under $k chars must drop")
    }
    assert(checked > 400, "fixture must exercise the fingerprinter broadly")
  }

  test("winnow pairs: containment scoring, specificity, df-cap boilerplate guard") {
    import spark.implicits._
    // doc 2 quotes doc 1 wholesale inside extra text; doc 3 is unrelated
    val quoted = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, quoted),
      (2L, "intro words " + quoted + " closing remarks"),
      (3L, "completely different vocabulary everywhere here now")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairsCore(docs, 8, 4, 1L, 100L).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(pairs.contains((1L, 2L)), "the quoting pair must surface")
    val (shared, overlap) = pairs((1L, 2L))
    assert(shared >= 1L)
    // containment reading: the quoted doc's interior fingerprints are all
    // re-selected inside the quoting doc (hash dominates the packed min,
    // so selection is position-shift-robust), so shared/min(na,nb) is high
    assert(overlap >= 5000L, s"wholesale quote must score high, got $overlap")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "an unrelated doc must not pair")
    // dfCap = 1: any fingerprint in 2+ docs is 'boilerplate' and drops
    // BEFORE the join, so nothing can pair at all
    assert(Dedup.winnowPairsCore(docs, 8, 4, 1L, 1L).collect().isEmpty,
      "the df cap must drop shared fingerprints before the self-join")
  }

  test("substring dedup: spans are exact, maximal, and df-cap guarded") {
    import spark.implicits._
    def canonical(t: String): String =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).mkString(" ")
    // brute-force longest-common-substring — the spec's own oracle
    def lcsLen(a: String, b: String): Int = {
      var best = 0
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          if (dp(i)(j) > best) best = dp(i)(j)
        }
      best
    }
    val t1 = "alpha beta quick brown fox jumps gamma"
    val t2 = "delta quick brown fox jumps epsilon zeta"
    val t3 = "unrelated words occupy this document entirely"
    val docs = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
    val rows = Dedup.substringDedupCore(docs, 8, 100L, 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty, "the shared run must surface")
    val canon = Map(1L -> canonical(t1), 2L -> canonical(t2), 3L -> canonical(t3))
    rows.foreach { case (a, b, sa, sb, len) =>
      val (ca, cb) = (canon(a), canon(b))
      // exactness: the reported span IS the same characters in both docs
      assert(ca.substring(sa.toInt, sa.toInt + len.toInt) ==
        cb.substring(sb.toInt, sb.toInt + len.toInt), s"span mismatch: $a/$b")
      // maximality: extending one char either way must break the match
      assert(sa == 0 || sb == 0 || ca(sa.toInt - 1) != cb(sb.toInt - 1),
        "span extends left")
      assert(sa + len == ca.length || sb + len == cb.length ||
        ca((sa + len).toInt) != cb((sb + len).toInt), "span extends right")
    }
    // the longest reported span between 1 and 2 is THE longest common
    // substring (all its grams are rare here, so recall is exact)
    val best12 = rows.filter(r => r._1 == 1L && r._2 == 2L).map(_._5).max
    assert(best12 == lcsLen(canon(1L), canon(2L)).toLong,
      s"maximal span must equal brute-force LCS, got $best12")
    assert(!rows.exists(r => r._1 == 3L || r._2 == 3L),
      "an unrelated doc must not pair")
    // df-cap boilerplate guard: a span present in MORE than dfCap docs
    // drops before the self-join — 4 docs share the license block, so at
    // dfCap=3 its grams (df=4) all leave and nothing can pair
    val boiler = (1 to 4).map(i =>
      (i.toLong, s"uniq$i common license header text block tail$i")).toDF("doc_id", "text")
    assert(Dedup.substringDedupCore(boiler, 8, 3L, 10L).collect().isEmpty,
      "capped boilerplate grams must not produce spans")
    val withCap = Dedup.substringDedupCore(boiler, 8, 100L, 10L).collect()
    assert(withCap.length == 6, "uncapped: every pair of the 4 docs spans")
  }

  test("incremental substring dedup equals the batch run restricted to the delta") {
    val full = Dedup.substringDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val maxId = sources.Tables.documents(spark, Sf)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("doc_id"))).head().getLong(0)
    val split = maxId * 4 / 5
    val idx = tmpDir("gramidx")
    Dedup.buildGramIndex(spark, Sf, idx, maxDocIdExclusive = split)
    val inc = Dedup.substringDedupIncremental(spark, Sf, idx, split).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // ids append-monotone => a delta pair's greater member is doc_b
    assert(inc.toSet == full.filter(_._2 >= split).toSet,
      "incremental must equal batch restricted to greater-member-in-delta")
    assert(inc.nonEmpty, "the fixture's delta must contain real spans")
  }

  test("gram-index append: two-increment screen equals the batch run per delta") {
    // steady-state loop: index the first 60%, screen+append the next 20%,
    // screen the last 20% — each increment's spans must equal the batch
    // operator restricted to greater-member-in-that-delta
    val maxId = sources.Tables.documents(spark, Sf)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("doc_id"))).head().getLong(0)
    val (s1, s2) = (maxId * 3 / 5, maxId * 4 / 5)
    val idx = tmpDir("gramappend")
    Dedup.buildGramIndex(spark, Sf, idx, maxDocIdExclusive = s1)
    val full = Dedup.substringDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // increment 1: docs in [s1, s2) — emulate via the max-exclusive trick:
    // screen against the index with delta = [s1, maxId], then restrict
    // assertions to doc_b < s2 (the operator itself takes only minDeltaId;
    // the second delta's rows are screened in increment 2)
    val inc1 = Dedup.substringDedupIncremental(spark, Sf, idx, s1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .filter(_._2 < s2)
    assert(inc1.toSet == full.filter(p => p._2 >= s1 && p._2 < s2).toSet,
      "increment 1 must equal batch restricted to its delta")
    // append increment 1's grams, then screen increment 2 against the
    // GROWN index — cross-pairs against increment 1 must now surface
    // without re-reading any text before s2
    Dedup.appendToGramIndex(spark, Sf, idx,
      minDocId = s1, maxDocIdExclusive = s2)
    val grown = spark.read.parquet(idx)
      .select("doc_id").distinct().count()
    assert(grown == sources.Tables.documents(spark, Sf)
      .filter(org.apache.spark.sql.functions.expr(s"doc_id < $s2")).count(),
      "append must grow the index by exactly the delta's docs")
    // lifecycle: compact the append-fragmented index (the warehouse
    // compaction discipline applied to the index) — rows identical,
    // parquet file count shrinks, and increment 2 below reads the
    // COMPACTED index, proving screen-readout equality survives it
    val rowsBefore = spark.read.parquet(idx).count()
    val filesBefore = new java.io.File(idx).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 1, "append must have fragmented the index")
    val filesAfter = Dedup.compactGramIndex(spark, idx)
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    assert(spark.read.parquet(idx).count() == rowsBefore,
      "compaction must preserve every index row")
    val inc2 = Dedup.substringDedupIncremental(spark, Sf, idx, s2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(inc2.toSet == full.filter(_._2 >= s2).toSet,
      "increment 2 must equal batch restricted to its delta")
  }

  test("substring dup profile: covered chars recompute from the span set") {
    val spans = Dedup.substringDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // driver-side oracle: union both sides' intervals, merge, count
    val intervals = (spans.map(s => (s._1, (s._3, s._3 + s._5))) ++
        spans.map(s => (s._2, (s._4, s._4 + s._5)))).distinct
      .groupBy(_._1).map { case (d, xs) =>
        val sorted = xs.map(_._2).sortBy(identity)
        var regions = 0L; var covered = 0L
        var curSt = -1L; var curEn = -1L
        sorted.foreach { case (st, en) =>
          if (st > curEn) { // fresh island
            if (curEn > curSt) { regions += 1; covered += curEn - curSt }
            curSt = st; curEn = en
          } else curEn = math.max(curEn, en)
        }
        if (curEn > curSt) { regions += 1; covered += curEn - curSt }
        d -> (regions, covered)
      }
    val got = Dedup.substringDupProfile(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.foreach { case (d, nReg, dup, total, permille) =>
      val (expReg, expDup) = intervals.getOrElse(d, (0L, 0L))
      assert((nReg, dup) == (expReg, expDup), s"doc $d regions/chars")
      assert(dup <= total, s"doc $d covered chars cannot exceed length")
      val expPm = if (total == 0) 0L else (2000L * dup + total) / (2L * total)
      assert(permille == expPm, s"doc $d permille")
    }
    assert(got.length == sources.Tables.documents(spark, Sf).count(),
      "every document must report")
    assert(got.exists(_._3 > 0), "the fixture must exercise nonzero coverage")
  }

  test("substring rewrite: clean text recomputes from the span set, keep-first") {
    def canonical(t: String): String =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).mkString(" ")
    val docsRaw = sources.Tables.documents(spark, Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> canonical(r.getString(1))).toMap
    val spans = Dedup.substringDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // driver-side oracle: the LATER doc loses each span; merge, excise
    val cutBy = spans.map(s => (s._2, (s._4, s._4 + s._5))).distinct
      .groupBy(_._1).map { case (d, xs) =>
        val merged = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
        xs.map(_._2).sortBy(identity).foreach { case (st, en) =>
          if (merged.nonEmpty && st <= merged.last._2)
            merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, en))
          else merged += ((st, en))
        }
        d -> merged.toList
      }
    val got = Dedup.substringDedupRewrite(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.length == docsRaw.size, "every document must report")
    var cutTotal = 0L
    got.foreach { case (d, clean, cut, total) =>
      val txt = docsRaw(d)
      assert(total == txt.length, s"doc $d total")
      val expected = cutBy.get(d) match {
        case None => txt
        case Some(regions) =>
          val keep = new StringBuilder; var at = 0L
          regions.foreach { case (st, en) =>
            keep ++= txt.substring(at.toInt, st.toInt); at = en }
          keep ++= txt.substring(at.toInt)
          keep.toString
      }
      assert(clean == expected, s"doc $d rewrite mismatch")
      assert(cut == total - clean.length, s"doc $d cut_chars")
      cutTotal += cut
    }
    assert(cutTotal > 0, "the fixture must exercise real cuts")
    // keep-first: the SMALLEST doc holding a span keeps it verbatim
    val firstHolders = spans.map(s => (s._1, s._3, s._5)).distinct
    val cleanOf = got.map(g => g._1 -> g._2).toMap
    firstHolders.filter { case (a, _, _) => !cutBy.contains(a) }.take(20)
      .foreach { case (a, st, len) =>
        val span = docsRaw(a).substring(st.toInt, (st + len).toInt)
        assert(cleanOf(a).contains(span), s"doc $a must keep its first-occurrence span")
      }
  }

  test("winnowing guarantee: docs sharing a >= w+k-1 substring share a fingerprint") {
    import spark.implicits._
    // A and B share the 30-char normalized run 'alpha beta gamma delta
    // epsilon' (>= 4+8-1 = 11); C shares no 8-char gram with either
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon unique tail one"),
      (2L, "prefix words here alpha beta gamma delta epsilon other end"),
      (3L, "zzzz qqqq wwww rrrr tttt yyyy uuuu iiii oooo")).toDF("doc_id", "text")
    val sel = operators.TextAnalysis.winnowSelections(docs, 8, 4)
      .selectExpr("doc_id", "substring(wmin, 1, 32) AS fp").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDoc = sel.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "a shared >= w+k-1 substring must yield a shared fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty,
      "disjoint-vocabulary docs must share nothing")
  }

  test("PQ and IVF-PQ tombstones: deleted ids never surface pre-compaction") {
    // the PQ layouts must honor the same delete contract as IVF-flat: a
    // tombstoned id disappears at query time immediately, and compaction
    // only changes the physical layout, never the results
    val pq = tmpDir("pqtomb")
    Similarity.buildPqIndex(spark, Sf, pq)
    val before = Similarity.pqTopKFromIndex(spark, Sf, pq).collect().toSeq
    val victims = before.map(_.getLong(2)).filter(_ >= 16).distinct.take(2)
    assert(victims.length == 2, "fixture must surface deletable neighbors")
    Similarity.tombstoneIvfIndex(spark, pq, victims)
    val after = Similarity.pqTopKFromIndex(spark, Sf, pq).collect().toSeq
    assert(after != before)
    assert(!after.exists(r => victims.contains(r.getLong(2))),
      "tombstoned ids must never surface from a PQ index pre-compaction")
    Similarity.compactPqIndex(spark, pq)
    assert(!new java.io.File(pq, "_tombstones").exists())
    assert(Similarity.pqTopKFromIndex(spark, Sf, pq).collect().toSeq == after,
      "physical deletion must be result-invisible")

    val ivfpq = tmpDir("ivfpqtomb")
    Similarity.buildIvfPqIndex(spark, Sf, ivfpq)
    val before2 = Similarity.ivfPqTopKFromIndex(spark, Sf, ivfpq).collect().toSeq
    val victims2 = before2.map(_.getLong(2)).filter(_ >= 16).distinct.take(2)
    assert(victims2.length == 2, "fixture must surface deletable neighbors")
    Similarity.tombstoneIvfIndex(spark, ivfpq, victims2)
    val after2 = Similarity.ivfPqTopKFromIndex(spark, Sf, ivfpq).collect().toSeq
    assert(!after2.exists(r => victims2.contains(r.getLong(2))),
      "tombstoned ids must never surface from an IVF-PQ index pre-compaction")
    Similarity.compactIvfPqIndex(spark, ivfpq)
    assert(!new java.io.File(ivfpq, "_tombstones").exists())
    assert(Similarity.ivfPqTopKFromIndex(spark, Sf, ivfpq).collect().toSeq == after2,
      "physical deletion must be result-invisible")
  }

  test("incremental IVF append equals a from-scratch index build") {
    val full = tmpDir("ivffull")
    val inc = tmpDir("ivfinc")
    Similarity.buildIvfIndex(spark, Sf, full)
    val maxVec = spark.read.parquet(s"$Sf/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("vec_id"))).head().getLong(0)
    val split = maxVec * 4 / 5
    Similarity.buildIvfIndex(spark, Sf, inc, maxVecIdExclusive = split)
    Similarity.appendToIvfIndex(spark, Sf, inc, minVecId = split)
    val viaFull = Similarity.ivfTopKFromIndex(spark, Sf, full).collect().toSeq
    val viaInc = Similarity.ivfTopKFromIndex(spark, Sf, inc).collect().toSeq
    assert(viaInc == viaFull)
    assert(viaFull.nonEmpty)
  }

  test("trained-quantizer IVF index answers identically to the inline trained path") {
    val idx = tmpDir("ivftrained")
    Similarity.buildIvfIndex(spark, Sf, idx,
      quantizer = Similarity.TrainedQuantizer(iters = 2))
    // the frozen quantizer is persisted inside the index, invisible to
    // the posting-list scan
    assert(new java.io.File(idx, "_centroids").exists())
    val fromIndex = Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq
    val inline = Similarity.ivfTopKTrained(spark, Sf, iters = 2).collect().toSeq
    assert(fromIndex == inline)
    assert(fromIndex.nonEmpty)
  }

  test("trained-quantizer incremental append equals a from-scratch trained build") {
    val full = tmpDir("ivftfull")
    val inc = tmpDir("ivftinc")
    val maxVec = spark.read.parquet(s"$Sf/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("vec_id"))).head().getLong(0)
    val split = maxVec * 4 / 5
    // train-once-append-forever: both indexes train on the same stable
    // prefix, so the frozen centroids — and therefore every assignment —
    // are identical; only the indexed row set differs until the append
    val q = Similarity.TrainedQuantizer(iters = 2, trainMaxVecIdExclusive = split)
    Similarity.buildIvfIndex(spark, Sf, full, quantizer = q)
    Similarity.buildIvfIndex(spark, Sf, inc, maxVecIdExclusive = split, quantizer = q)
    Similarity.appendToIvfIndex(spark, Sf, inc, minVecId = split)
    val viaFull = Similarity.ivfTopKFromIndex(spark, Sf, full).collect().toSeq
    val viaInc = Similarity.ivfTopKFromIndex(spark, Sf, inc).collect().toSeq
    assert(viaInc == viaFull)
    assert(viaFull.nonEmpty)
  }

  test("IVF index compaction: same answers, flat layout, frozen quantizer kept") {
    val idx = tmpDir("ivfcompact")
    val maxVec = spark.read.parquet(s"$Sf/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("vec_id"))).head().getLong(0)
    val split = maxVec * 4 / 5
    val q = Similarity.TrainedQuantizer(iters = 2, trainMaxVecIdExclusive = split)
    Similarity.buildIvfIndex(spark, Sf, idx, maxVecIdExclusive = split, quantizer = q)
    Similarity.appendToIvfIndex(spark, Sf, idx, minVecId = split)
    val before = Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq
    def parquetFiles(dir: java.io.File): Int =
      Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      }.sum
    val filesBefore = parquetFiles(new java.io.File(idx))
    Similarity.compactIvfIndex(spark, idx)
    val after = Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq
    assert(after == before)
    assert(after.nonEmpty)
    assert(parquetFiles(new java.io.File(idx)) < filesBefore,
      "compaction must reduce the index file count")
    // layout is the canonical flat one and the quantizer survived the swap
    val top = new java.io.File(idx).listFiles().map(_.getName)
    assert(top.exists(_.startsWith("centroid_id=")))
    assert(!top.exists(_.startsWith("batch=")))
    assert(new java.io.File(idx, "_centroids").exists())
  }

  test("materialized PQ index answers identically to the inline path") {
    val idx = tmpDir("pqidx")
    Similarity.buildPqIndex(spark, Sf, idx)
    val fromIndex = Similarity.pqTopKFromIndex(spark, Sf, idx).collect().toSeq
    val inline = Similarity.pqTopK(spark, Sf).collect().toSeq
    assert(fromIndex == inline)
    assert(inline.nonEmpty)
    // codebooks frozen alongside the packed codes, invisible to the scan
    assert(new java.io.File(idx, "_codebooks").exists())
  }

  test("PQ index queries read the codebook shape from _codebooks") {
    // a non-default shape: a query that assumed the default m = 8,
    // subDim = 8 would slice the wrong subvectors and score nothing
    val idx = tmpDir("pqshape")
    Similarity.buildPqIndex(spark, Sf, idx, m = 4, subDim = 16)
    val books = Similarity.storedCodebooks(spark, idx)
    assert((books.m, books.subDim, books.ksub) == (4, 16, 16))
    val fromIndex = Similarity.pqTopKFromIndex(spark, Sf, idx).collect().toSeq
    val inline = Similarity.pqTopK(spark, Sf, m = 4, subDim = 16).collect().toSeq
    assert(fromIndex == inline)
    assert(inline.nonEmpty)
  }

  test("PQ index: build(prefix) + append(rest) == build(all) with frozen codebooks") {
    val full = tmpDir("pqfull")
    val inc = tmpDir("pqinc")
    val maxVec = spark.read.parquet(s"$Sf/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("vec_id"))).head().getLong(0)
    val split = maxVec * 4 / 5
    // both indexes train codebooks on the same stable prefix, so every
    // code — and therefore every ADC score — is identical; only the
    // indexed row set differs until the append catches up
    Similarity.buildPqIndex(spark, Sf, full, trainMaxVecIdExclusive = split)
    Similarity.buildPqIndex(spark, Sf, inc, maxVecIdExclusive = split,
      trainMaxVecIdExclusive = split)
    Similarity.appendToPqIndex(spark, Sf, inc, minVecId = split)
    val viaFull = Similarity.pqTopKFromIndex(spark, Sf, full).collect().toSeq
    val viaInc = Similarity.pqTopKFromIndex(spark, Sf, inc).collect().toSeq
    assert(viaInc == viaFull)
    assert(viaFull.nonEmpty)
  }

  test("materialized IVF-PQ index answers identically to the inline composition") {
    val idx = tmpDir("ivfpqidx")
    Similarity.buildIvfPqIndex(spark, Sf, idx)
    val fromIndex = Similarity.ivfPqTopKFromIndex(spark, Sf, idx).collect().toSeq
    val inline = Similarity.ivfPqTopK(spark, Sf).collect().toSeq
    assert(fromIndex == inline)
    assert(inline.nonEmpty)
    // both frozen quantizers persisted alongside, invisible to the scan
    assert(new java.io.File(idx, "_centroids").exists())
    assert(new java.io.File(idx, "_codebooks").exists())
    // the payload is packed codes, never float vectors
    val cols = spark.read.option("basePath", idx).parquet(idx).columns.toSet
    assert(cols == Set("centroid_id", "vec_id", "pcode", "xn"))
  }

  test("IVF-PQ index: build(prefix) + append(rest) == build(all) with frozen quantizers") {
    val full = tmpDir("ivfpqfull")
    val inc = tmpDir("ivfpqinc")
    val maxVec = spark.read.parquet(s"$Sf/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("vec_id"))).head().getLong(0)
    val split = maxVec * 4 / 5
    Similarity.buildIvfPqIndex(spark, Sf, full, trainMaxVecIdExclusive = split)
    Similarity.buildIvfPqIndex(spark, Sf, inc, maxVecIdExclusive = split,
      trainMaxVecIdExclusive = split)
    Similarity.appendToIvfPqIndex(spark, Sf, inc, minVecId = split)
    val viaFull = Similarity.ivfPqTopKFromIndex(spark, Sf, full).collect().toSeq
    val viaInc = Similarity.ivfPqTopKFromIndex(spark, Sf, inc).collect().toSeq
    assert(viaInc == viaFull)
    assert(viaFull.nonEmpty)
    // the appended rows must actually land in multiple lists (routing
    // happened against the frozen coarse quantizer, not a default list)
    val incLists = spark.read.option("basePath", inc).parquet(inc)
      .filter(org.apache.spark.sql.functions.col("vec_id") >= split)
      .select("centroid_id").distinct().count()
    assert(incLists > 1)
  }

  test("hybrid search: RRF fuses the lexical and vector channels") {
    val rows = Retrieval.hybridTopK(spark, Sf).collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rs.length).toSeq)
      assert(rs.length <= 10, s"query $q returned ${rs.length} rows")
      rs.foreach { r =>
        val lex = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.longValue)
        val vec = Option(r.getAs[java.lang.Long]("vec_rank")).map(_.longValue)
        assert(lex.nonEmpty || vec.nonEmpty)
        val expected = lex.map(l => 1000000L / (60 + l)).getOrElse(0L) +
          vec.map(v => 1000000L / (60 + v)).getOrElse(0L)
        assert(r.getAs[Long]("rrf_micro") == expected)
      }
    }
    // fusion must actually fuse: some result is endorsed by BOTH channels,
    // and such results carry strictly higher scores than a same-rank
    // single-channel hit could reach
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("lex_rank")) &&
      !r.isNullAt(r.fieldIndex("vec_rank"))))
  }

  test("bm25: rarity and saturation rank, stop-term pruning holds") {
    val rows = Retrieval.bm25TopK(spark, Sf).collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rs) =>
      assert(rs.length <= 10, s"query $q returned ${rs.length} rows")
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rs.length).toSeq)
      // scores decrease with rank (doc_id breaks exact ties)
      val ordered = rs.sortBy(_.getAs[Long]("rank"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getAs[Long]("score_micro"), b.getAs[Long]("score_micro"))
          assert(sa > sb || (sa == sb &&
            a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")))
        case _ =>
      }
      rs.foreach { r =>
        assert(r.getAs[Long]("doc_id") != q, "self-match must be excluded")
        assert(r.getAs[Long]("score_micro") > 0L)
        assert(r.getAs[Long]("n_terms") >= 1L)
      }
    }
    // every scored term survived the relative stop-term cap (df <= 80%
    // of the corpus), so no candidate can owe its score to a stop term.
    // Sanity-check the cap bites on this corpus: at least one token
    // exceeds it (otherwise the prune is untested) — the 500-doc fixture
    // cap is df > 400.
    import org.apache.spark.sql.functions._
    val overCap = graft.sources.Tables.spread(spark, Sf, "documents")
      .select(col("doc_id"), explode(expr(graft.operators.TextAnalysis.TokensExpr)).as("t"))
      .distinct().groupBy("t").count().filter(col("count") > 400).count()
    assert(overCap > 0, "fixture should contain at least one stop term over the df cap")
  }

  test("cluster-balanced sample: per-cluster quota, content-hash determinism") {
    val rows = Similarity.clusterBalancedSample(spark, Sf).collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    // quota respected everywhere, and the fixture is dense enough that
    // some cluster actually hits it (otherwise nothing was balanced)
    byCluster.foreach { case (c, rs) =>
      assert(rs.length <= 12, s"cluster $c exceeded quota: ${rs.length}")
      assert(rs.map(_.getAs[Long]("sample_rank")).sorted.toSeq ==
        (1L to rs.length).toSeq, s"cluster $c ranks not contiguous")
    }
    assert(byCluster.values.exists(_.length == 12))
    // deterministic: a rerun picks the identical subset
    val again = Similarity.clusterBalancedSample(spark, Sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("incremental semantic dedup equals the frozen-quantizer from-scratch run") {
    val maxVec = spark.read.parquet(s"$Sf/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("vec_id"))).head().getLong(0)
    val split = maxVec * 4 / 5
    val qdir = tmpDir("semdedupq")
    // the frozen quantizer and both from-scratch runs train on the SAME
    // stable prefix, so cluster assignment is bit-identical everywhere
    Similarity.stageIvfQuantizer(spark, Sf, qdir, trainMaxVecIdExclusive = split)
    val whole = Similarity.semanticDedup(spark, Sf,
      trainMaxVecIdExclusive = split).collect().toSeq
    val prior = Similarity.semanticDedup(spark, Sf,
      maxVecIdExclusive = split, trainMaxVecIdExclusive = split)
    val inc = Similarity.semanticDedupIncremental(spark, Sf, qdir, split, prior)
      .collect().toSeq
    assert(inc == whole)
    assert(whole.nonEmpty)
    // the delta portion must be non-trivial and contain real drops
    val deltaRows = whole.filter(_.getLong(0) >= split)
    assert(deltaRows.nonEmpty)
    assert(deltaRows.exists(!_.getBoolean(2)),
      "fixture delta must exercise the incremental drop path")
  }

  test("IVF compaction crash mid-swap self-heals on the next call") {
    val idx = tmpDir("ivfrecover")
    Similarity.buildIvfIndex(spark, Sf, idx)
    val before = Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq
    // simulate a JVM death between the two renames: index moved aside to
    // .compact-old, replacement never moved in
    val p = new org.apache.hadoop.fs.Path(idx)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(idx + ".compact-old")))
    // the next compaction recovers the stranded state, then compacts
    Similarity.compactIvfIndex(spark, idx)
    val after = Similarity.ivfTopKFromIndex(spark, Sf, idx).collect().toSeq
    assert(after == before)
    assert(after.nonEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".compact-old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".compact-tmp")))
  }

  test("materialized LSH band index answers identically to the inline path") {
    val idx = tmpDir("lshidx")
    Dedup.buildLshBandIndex(spark, Sf, idx)
    // band_idx partition dirs on disk = the candidate join never touches
    // shingles or signatures again
    val parts = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("band_idx=")).map(_.getName)
    assert(parts.length == Dedup.Bands)
    val fromIndex = Dedup.minHashLshFromIndex(spark, Sf, idx).collect().toSeq
    val inline = Dedup.minHashLsh(spark, Sf).collect().toSeq
    assert(fromIndex == inline)
    assert(inline.nonEmpty)
  }

  test("interp residuals: exactly the series endpoints are NULL") {
    import org.apache.spark.sql.functions.col
    val out = Analytics.valueVsLocalTrend(spark, Sf)
    val nulls = out.filter(col("residual_cents").isNull).count()
    // a user's first and last events have no interpolation neighbors
    // (a 1-event series has one such row, not two)
    val expected = spark.read.parquet(s"$Sf/events.parquet")
      .groupBy(col("user_id")).count().collect()
      .map(r => math.min(2L, r.getAs[Long]("count"))).sum
    assert(nulls == expected)
    assert(out.count() > nulls, "interior rows must carry residuals")
  }

  test("rolling active users: wau bounds dau and matches a brute recompute") {
    import org.apache.spark.sql.functions.{col, expr}
    val out = Analytics.rollingActiveUsers(spark, Sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Long]("wau") >= r.getAs[Long]("dau")))
    // driver-side brute force on the middle window; read through
    // Tables.events so the fixture's ts encoding vintage never matters
    val userDays = graft.sources.Tables.events(spark, Sf)
      .select(col("user_id"),
        expr("CAST(unix_micros(ts) div 1000000 div 86400 AS BIGINT)").as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mid = out(out.length / 2)
    val d = mid.getAs[Long]("day")
    val bruteWau = userDays.filter { case (_, ud) => ud >= d - 6 && ud <= d }
      .map(_._1).distinct.length
    val bruteDau = userDays.filter(_._2 == d).map(_._1).distinct.length
    assert(mid.getAs[Long]("wau") == bruteWau)
    assert(mid.getAs[Long]("dau") == bruteDau)
  }

  test("corpus report: per-source sums reconcile with per-doc stats") {
    import org.apache.spark.sql.functions.{col, sum}
    val report = TextAnalysis.corpusReport(spark, Sf).collect()
    val totalDocs = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(report.map(_.getAs[Long]("n_docs")).sum == totalDocs)
    val tokensFromStats = TextAnalysis.textStats(spark, Sf)
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(report.map(_.getAs[Long]("total_tokens")).sum == tokensFromStats)
    report.foreach { r =>
      assert(r.getAs[Long]("en_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("quality_sum_1e4") <= r.getAs[Long]("n_docs") * 10000)
    }
  }

  test("corpus funnel: stages shrink monotonically from the full corpus") {
    val rows = TextAnalysis.corpusFunnel(spark, Sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("0_all", "1_quality", "2_lang_en", "3_dedup"))
    val docs = rows.map(_.getAs[Long]("docs_kept"))
    val chars = rows.map(_.getAs[Long]("chars_kept"))
    val total = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(docs(0) == total)
    docs.sliding(2).foreach { case Array(a, b) => assert(b <= a) }
    chars.sliding(2).foreach { case Array(a, b) => assert(b <= a) }
    assert(docs.last > 0, "the funnel should not annihilate the fixture corpus")

    // the fused flag expressions must stay in lockstep with the standalone
    // operators they duplicate (fusion buys the single scan; this buys the
    // guarantee it computes the same gates)
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    val composed = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
      .join(TextAnalysis.qualityScore(spark, Sf).select(col("doc_id"), col("quality_1e4")),
        Seq("doc_id"), "left")
      .join(TextAnalysis.langId(spark, Sf).select(col("doc_id"), col("pred_lang")),
        Seq("doc_id"), "left")
      .join(Dedup.minHashLsh(spark, Sf).select(col("doc_b").as("doc_id")).distinct()
        .withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
      .select(
        coalesce(col("quality_1e4") >= 5000, lit(false)).as("q_ok"),
        coalesce(col("pred_lang") === "en", lit(false)).as("l_ok"),
        coalesce(col("is_dup"), lit(false)).as("dup"),
        col("n_chars"))
    val c = composed.agg(
      sum(when(col("q_ok"), 1L).otherwise(0L)),
      sum(when(col("q_ok") && col("l_ok"), 1L).otherwise(0L)),
      sum(when(col("q_ok") && col("l_ok") && !col("dup"), 1L).otherwise(0L))).head()
    assert(Seq(c.getLong(0), c.getLong(1), c.getLong(2)) == docs.drop(1).toSeq)
  }

  test("incremental dedup equals the full run restricted to delta pairs") {
    import org.apache.spark.sql.functions.{col, max}
    val maxId = spark.read.parquet(s"$Sf/documents.parquet")
      .agg(max(col("doc_id"))).head().getLong(0)
    val split = maxId * 4 / 5
    val idx = tmpDir("lshinc")
    Dedup.buildLshBandIndex(spark, Sf, idx, maxDocIdExclusive = split)
    // index must hold ONLY the old corpus
    val idxMax = spark.read.parquet(idx).agg(max(col("doc_id"))).head().getLong(0)
    assert(idxMax < split)
    val inc = Dedup.minHashLshIncremental(spark, Sf, idx, split).collect().toSeq
    val full = Dedup.minHashLsh(spark, Sf)
      .filter(col("doc_b") >= split).collect().toSeq
    assert(inc == full)
  }

  test("chunk dedup finds only cross-doc shared chunks, keeper is min doc") {
    val out = TextAnalysis.chunkDedup(spark, Sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("n_occurrences") >= r.getAs[Long]("n_docs"))
    }
    // near-dup docs exist in the fixture, so shared chunks must exist
    assert(out.nonEmpty)
  }

  test("upsert: equal key AND version on one side fails loudly") {
    import spark.implicits._
    val existing = Seq((1L, 0L, "a")).toDF("k", "ver", "v")
    val updates = Seq((1L, 5L, "x"), (1L, 5L, "y")).toDF("k", "ver", "v")
    val e = intercept[Exception] {
      sinks.Sinks.upsert(existing, updates, Seq("k"), Seq("ver")).collect()
    }
    assert(e.getMessage.contains("ambiguous duplicate") ||
      Option(e.getCause).exists(_.getMessage.contains("ambiguous duplicate")))
  }

  test("compaction preserves a dt= partition layout") {
    val dir = tmpDir("compactp") + "/t"
    spark.read.parquet(s"$Sf/orders.parquet")
      .withColumn("dt", to_date(col("o_orderdate")))
      .write.partitionBy("dt").parquet(dir)
    val before = spark.read.parquet(dir).count()
    sinks.Sinks.compact(spark, dir)
    val dtDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("dt="))
    assert(dtDirs.nonEmpty, "partition layout must survive compaction")
    val after = spark.read.parquet(dir)
    assert(after.count() == before)
    assert(after.columns.contains("dt"))
  }

  test("compaction shrinks file count and preserves every row") {
    val dir = tmpDir("compact") + "/t"
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
    orders.repartition(20).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files() == 20)
    val before = orders.count()
    sinks.Sinks.compact(spark, dir)
    assert(files() < 20)
    assert(spark.read.parquet(dir).count() == before)
    assert(!new java.io.File(dir + ".compact-tmp").exists())
    assert(!new java.io.File(dir + ".compact-old").exists())
  }

  test("interval overlaps: symmetric pairs counted once, bounded by window") {
    val out = RangeJoin.intervalOverlaps(spark, Sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_pairs") >= 1)
      assert(r.getAs[Long]("overlap_sec_total") <= r.getAs[Long]("n_pairs") * 600)
      assert(r.getAs[Long]("overlap_sec_total") > 0)
    }
  }

  test("sorted-neighborhood pairs are a subset of the banded simhash pairs") {
    // byte-banding guarantees ALL pairs within Hamming 3 (pigeonhole), so
    // any SNM find at that radius must already be in the banded set
    val snm = Dedup.sortedNeighborhoodPairs(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val banded = Dedup.simHashPairs(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(snm.subsetOf(banded))
    assert(snm.nonEmpty)
  }

  test("sorted-neighborhood block key spans far more than 256 blocks") {
    // the parallelism ceiling the 16-bit key buys: the block domain is
    // 65,536 — fixture simhashes must actually land beyond the 256 a
    // high-byte key could ever produce
    import org.apache.spark.sql.functions.{col, countDistinct, expr, max}
    val blocks = Dedup.simHash(spark, Sf)
      .select(expr("(simhash >> 16) & 65535").as("block"))
      .agg(max(col("block")).as("max_block"),
        countDistinct(col("block")).as("n_blocks"))
      .collect()(0)
    assert(blocks.getAs[Long]("max_block") > 255L,
      "16-bit block key should exceed the old 256-block ceiling")
    assert(blocks.getAs[Long]("n_blocks") > 64L)
  }

  test("quality checks report violations with evidence") {
    import spark.implicits._
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq((10L, 1L), (11L, 3L), (12L, 3L)).toDF("id", "fk")
    val orph = Quality.orphans(child, "fk", parent, "pk").collect()
    assert(orph.map(_.getLong(0)).toSet == Set(11L, 12L))
    val dups = Quality.duplicateKeys(child, Seq("fk")).collect()
    assert(dups.map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(3L -> 2L))
    val comp = Quality.completeness(
      Seq((1L, Some("a")), (2L, None), (3L, Some("a"))).toDF("k", "v"),
      Seq("k", "v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(comp("k") == ((3L, 0L, 3L)))
    assert(comp("v") == ((3L, 1L, 1L)))
  }

  test("contract audit: the fixture warehouse is healthy") {
    val out = Quality.contractAudit(spark, Sf).collect()
    assert(out.length == 5)
    out.foreach(r => assert(r.getAs[Long]("n_violations") == 0L, r.getString(0)))
  }

  test("funnel steps are monotonically non-increasing") {
    val out = Analytics.eventFunnel(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_users")).toMap
    assert(out.keySet == Set("1_view", "2_click", "3_purchase"))
    assert(out("1_view") >= out("2_click"))
    assert(out("2_click") >= out("3_purchase"))
    assert(out("1_view") > 0)
  }

  test("cohort retention: offset 0 equals cohort size, actives never exceed it") {
    val out = Analytics.cohortRetention(spark, Sf).collect()
    val day0 = out.filter(_.getAs[Long]("day_offset") == 0L)
      .map(r => r.getAs[Long]("cohort_day") -> r.getAs[Long]("n_active")).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("day_offset") >= 0)
      assert(r.getAs[Long]("n_active") <= day0(r.getAs[Long]("cohort_day")))
    }
  }

  test("token-budget mix stays within budget and is deterministic") {
    val a = Sampling.tokenBudgetMix(spark, Sf).collect()
    val b = Sampling.tokenBudgetMix(spark, Sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    a.foreach(r => assert(r.getAs[Long]("mixed_tokens") <= 2000))
    assert(a.nonEmpty)
  }

  test("frame sampling: real GIF decode equals the generation-formula prediction") {
    // end-to-end proof the multi-frame path is a faithful codec
    // round-trip: the generator writes a real animated GIF, sampleFrames
    // seeks+decodes frames via reader.read(idx), and every decoded value
    // (including the frame count read from the container) equals what the
    // md5-derived formula — and thus the DuckDB oracle — predicts
    val decoded = Multimodal.frameFeatures(spark, Sf, k = 3).collect()
    val predicted = Multimodal.predictedFrameFeatures(spark, Sf, k = 3).collect()
    assert(decoded.length == predicted.length && decoded.nonEmpty)
    decoded.zip(predicted).foreach { case (d, p) =>
      assert(d.toSeq == p.toSeq, s"decoded $d != predicted $p")
    }
    // sampling dedupes when n_frames < k: per-asset row count is
    // min(k, n_frames) distinct evenly spaced indices
    val byAsset = decoded.groupBy(_.getAs[Long]("asset_id"))
    byAsset.foreach { case (_, fs) =>
      val n = fs.head.getAs[Int]("n_frames")
      val expectIdx = (0 until 3).map(i => (n * i) / 3).distinct.sorted
      assert(fs.map(_.getAs[Int]("frame_idx")).toSeq.sorted == expectIdx)
    }
  }

  test("centroid affinity matches a driver-side exact recompute") {
    val out = Similarity.labelCentroidAffinity(spark, Sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    val vecs = spark.read.parquet(s"$Sf/embeddings.parquet").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getSeq[Float](r.fieldIndex("embedding"))
          .map(x => math.floor(x.toDouble * 1048576 + 0.5).toLong)))
    val centroids = vecs.groupBy(_._2).map { case (l, g) =>
      l -> g.toSeq.map(_._3.toSeq).transpose.map(_.sum)
    }
    vecs.take(25).foreach { case (id, label, codes) =>
      val expect = codes.zip(centroids(label)).map { case (a, b) => a * b }.sum
      assert(out(id).getAs[Long]("affinity_q") == expect, s"vec $id")
      assert(out(id).getAs[Long]("n_label") == vecs.count(_._2 == label))
    }
  }

  test("spreadForCompute widens small scans and is identity on big ones") {
    val docs = s"$Sf/documents.parquet"
    val cores = spark.sparkContext.defaultParallelism
    // small input (fixture is a few hundred KB) -> repartitioned to cores
    val spreadDf = sources.Tables.spread(spark, Sf, "documents")
    assert(spreadDf.rdd.getNumPartitions == cores)
    // pretend the scan already fills the cluster: unit-suffixed conf must
    // parse as bytes ("1b" = 1 byte -> condition bytes >= cores*1 holds)
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "1b")
      val noSpread = sources.Tables.spreadForCompute(spark.read.parquet(docs))
      assert(noSpread.queryExecution.logical ==
        spark.read.parquet(docs).queryExecution.logical)
    } finally spark.conf.set(key, old)
  }

  test("tokenizer maps null text to the empty token list") {
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "a b")).toDF("doc_id", "text")
    val out = df.selectExpr("doc_id", s"${TextAnalysis.TokensExpr} AS toks")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).length).toMap
    assert(out == Map(1L -> 0, 2L -> 2))
  }

  test("repetition stats: ratios bounded, distinct never exceeds total") {
    val out = TextAnalysis.repetitionStats(spark, Sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_grams"))
      val dup = r.getAs[Long]("dup_gram_ratio_1e4")
      val top = r.getAs[Long]("top_gram_frac_1e4")
      assert(dup >= 0 && dup <= 10000)
      assert(top > 0 && top <= 10000)
    }
  }

  test("tfidf: per-doc ranks are 1..k with non-increasing scores") {
    val out = TextAnalysis.tfidfTopTerms(spark, Sf).collect()
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rk"))
      assert(byRank.map(_.getAs[Long]("rk")).toSeq == (1L to byRank.length))
      val scores = byRank.map(_.getAs[Long]("score_1e6"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("chunking: chunk indexes contiguous, sizes capped, coverage complete") {
    val stats = graft.operators.TextAnalysis.textStats(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val chunks = TextAnalysis.chunkDocs(spark, Sf).collect()
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rows) =>
      val n = stats(doc)
      val idxs = rows.map(_.getAs[Long]("chunk_idx")).sorted.toSeq
      assert(idxs == (0L until ((n - 1) / 30 + 1)), s"doc $doc")
      assert(rows.forall(_.getAs[Long]("chunk_tokens") <= 40))
      // strided chunks cover every token at least once
      assert(rows.map(_.getAs[Long]("chunk_tokens")).sum >= n)
    }
  }

  test("pii redaction finds exactly the injected email/phone/ip per doc") {
    val out = TextAnalysis.piiRedact(spark, Sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1)
      assert(r.getAs[Long]("n_phones") == 1)
      assert(r.getAs[Long]("n_ips") == 1)
    }
  }

  test("dup clusters: both ends of every near-dup pair share a cluster") {
    val labels = Dedup.dupClusters(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val pairs = Dedup.minHashLsh(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is the smallest member; every cluster has >= 2 docs
    labels.foreach { case (doc, c) => assert(c <= doc) }
    labels.groupBy(_._2).foreach { case (_, m) => assert(m.size >= 2) }
  }

  test("embedding LSH pairs: exactly the band-sharing pairs at/above threshold") {
    val got = Similarity.embeddingLshPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    // reference: brute-force every pair, keep band-sharers >= threshold
    val sigs = Similarity.lshSignatures(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bandsOf(sig: Long) = Set((0, sig & 255L), (1, (sig >> 8) & 255L))
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosMicros(a: Array[Double], b: Array[Double]): Long = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5).toLong
    }
    val ids = emb.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      if bandsOf(sigs(a)).intersect(bandsOf(sigs(b))).nonEmpty
      if cosMicros(emb(a), emb(b)) >= 300000L
    } yield (a, b)).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("incremental dup clustering equals the from-scratch clustering") {
    val maxId = spark.read.parquet(s"$Sf/documents.parquet")
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0)
    val split = maxId * 4 / 5
    val idx = tmpDir("clusteridx")
    Dedup.buildLshBandIndex(spark, Sf, idx, maxDocIdExclusive = split)
    val inc = Dedup.dupClustersIncremental(spark, Sf, idx, split).collect().toSeq
    val full = Dedup.dupClusters(spark, Sf).collect().toSeq
    assert(inc == full)
    assert(full.nonEmpty)
  }

  test("mergeClusterLabels: a bridging delta edge merges two prior clusters exactly") {
    import spark.implicits._
    // prior: {1,2} labeled 1 and {5,9} labeled 5; doc 9 has no delta edge,
    // so only contracted-graph propagation can relabel it
    val prior = Seq((1L, 1L), (2L, 1L), (5L, 5L), (9L, 5L))
      .toDF("doc_id", "cluster_id")
    val newPairs = Seq((2L, 5L), (11L, 12L)).toDF("src", "dst")
    val got = Dedup.mergeClusterLabels(prior, newPairs, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 9L -> 1L, 11L -> 11L, 12L -> 11L))
  }

  test("min-label propagation is one Spark job per round on a chain graph") {
    import spark.implicits._
    // chain 0-1-...-8: diameter 8, so label 0 needs 8 rounds to reach the
    // far end plus one fixed-point round — the worst case for job count
    val n = 8
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val edges = pairs
      .unionByName(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .toDF("src", "dst").localCheckpoint(true)
    val sc = spark.sparkContext
    // AQE splits one action into a job per query stage and a broadcast
    // join spawns a broadcast-exchange job, which would drown the thing
    // under test (actions per round); with both off, every round is
    // exactly one localCheckpoint action
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup("prop-jobs", "min-label propagation job count", false)
    val labels = try Dedup.propagateMinLabels(edges, maxIters = 50)
      finally {
        sc.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
      }
    val rounds = n + 1
    val jobs = sc.statusTracker.getJobIdsForGroup("prop-jobs").length
    // init checkpoint + one fused checkpoint+observe job per round; the
    // pre-Observation shape paid 2 jobs per round (checkpoint + count)
    assert(jobs <= rounds + 2, s"$jobs jobs for $rounds rounds — convergence count no longer fused?")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 to n).map(_.toLong -> 0L).toMap)
  }

  test("corpus report: merged slice reports equal the full rescan") {
    val maxId = spark.read.parquet(s"$Sf/documents.parquet")
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0)
    val split = maxId * 4 / 5
    val merged = TextAnalysis.mergeCorpusReports(
      TextAnalysis.corpusReportSlice(spark, Sf, 0L, split),
      TextAnalysis.corpusReportSlice(spark, Sf, split)).collect().toSeq
    val full = TextAnalysis.corpusReport(spark, Sf).collect().toSeq
    assert(merged == full)
    assert(full.nonEmpty)
  }

  test("corpus funnel: prefix snapshot + delta funnel equals the full rescan") {
    val maxId = spark.read.parquet(s"$Sf/documents.parquet")
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0)
    val split = maxId * 4 / 5
    val idx = tmpDir("funnelidx")
    Dedup.buildLshBandIndex(spark, Sf, idx, maxDocIdExclusive = split)
    val merged = TextAnalysis.mergeFunnels(
      TextAnalysis.corpusFunnelSlice(spark, Sf, split),
      TextAnalysis.corpusFunnelDelta(spark, Sf, idx, split)).collect().toSeq
    val full = TextAnalysis.corpusFunnel(spark, Sf).collect().toSeq
    assert(merged == full)
    assert(full.map(_.getString(0)) == Seq("0_all", "1_quality", "2_lang_en", "3_dedup"))
  }

  test("text cleaning never grows text and is idempotent on its output") {
    val out = TextAnalysis.cleanText(spark, Sf)
    assert(out.filter(col("removed_chars") < 0).count() == 0)
    assert(out.count() == spark.read.parquet(s"$Sf/documents.parquet").count())
  }

  test("int8 quantization: codes bounded, reconstruction error tiny") {
    val out = Quantize.int8Summary(spark, Sf)
    assert(out.filter(col("q_min") < -127 || col("q_max") > 127).count() == 0)
    // unit-norm 64-dim: per-dim error <= (1/254)^2, so mse < ~1e-3 = 1000 micro
    assert(out.filter(col("mse_micro") < 0 || col("mse_micro") > 2000).count() == 0)
  }

  test("hash sampling is deterministic and near the nominal rate") {
    val a = Sampling.sampledDocs(spark, Sf).collect().map(_.getLong(0)).toSeq
    val b = Sampling.sampledDocs(spark, Sf).collect().map(_.getLong(0)).toSeq
    assert(a == b) // same rows every run, any partitioning
    val total = spark.read.parquet(s"$Sf/documents.parquet").count().toDouble
    assert(a.length > total * 0.15 && a.length < total * 0.35) // 25% nominal
  }

  test("weighted mix keeps all of src0 and drops unlisted sources") {
    val mix = Sampling.weightedMix(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val src0Total = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("source") === "src0").count()
    assert(mix("src0") == src0Total)
    assert(!mix.keySet.exists(s => !Sampling.DefaultMixWeights.contains(s)))
  }

  test("as-of join: every matched order predates its event") {
    val ev = sources.Tables.events(spark, Sf).select(col("event_id"), col("ts"))
    val joined = AsofJoin.eventsAsofOrders(spark, Sf).join(ev, "event_id")
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"))
    val checked = joined.join(orders, "o_orderkey")
      .filter(col("o_orderdate") > col("ts"))
    assert(checked.count() == 0)
    // "latest such order" is covered cell-exactly by the DuckDB ASOF oracle;
    // here we assert the temporal invariant only
  }

  test("minhash-LSH pairs are a subset of exhaustive ngram-jaccard pairs") {
    val lsh = Dedup.minHashLsh(spark, Sf).select("doc_a", "doc_b").collect().toSet
    val exact = Dedup.ngramJaccard(spark, Sf).select("doc_a", "doc_b").collect().toSet
    assert(lsh.subsetOf(exact))
    // recall on this dataset's injected near-dups should be high
    assert(lsh.size >= (exact.size * 0.8).toInt)
  }

  test("first-touch attribution: in-memory recompute + conservation vs last-touch") {
    val evs = graft.sources.Tables.events(spark, Sf)
      .selectExpr("user_id", "event_id", "event_type",
        "unix_micros(ts) AS t_us",
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val want = evs.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._4, e._2))
      val firstChan = sorted.collectFirst {
        case e if e._3 != "purchase" => (e._4, e._2, e._3)
      }
      sorted.filter(_._3 == "purchase").map { p =>
        val chan = firstChan match {
          case Some((t, id, c)) if t < p._4 || (t == p._4 && id < p._2) => c
          case _ => "(none)"
        }
        (chan, p._5)
      }
    }.toSeq.groupBy(_._1).view
      .mapValues(rows => (rows.length.toLong, rows.map(_._2).sum)).toSeq
      .map { case (ch, (n, rev)) => (ch, n, rev) }.sortBy(_._1)
    val got = Analytics.firstTouchAttribution(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // both models conserve the same purchase count and revenue
    val lastT = Analytics.lastTouchAttribution(spark, Sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.map(_._2).sum == lastT.map(_._1).sum)
    assert(got.map(_._3).sum == lastT.map(_._2).sum)
  }

  test("embed drift matches the in-memory cross-multiplied recompute") {
    val thr = graft.operators.Sampling.hexThreshold(0.8)
    val rows = graft.sources.Tables.load(spark, Sf, "embeddings")
      .select("vec_id", "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    def code(x: Float): Long = math.floor(x.toDouble * 1048576.0 + 0.5).toLong
    def md5hex4(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 4)
    val want = rows.groupBy(_._2).toSeq.map { case (label, vs) =>
      val (ref, cur) = vs.partition(v => md5hex4(v._1) < thr)
      val d = vs.head._3.length
      def sums(half: Array[(Long, Long, Array[Float])]) =
        Array.tabulate(d)(i => half.map(v => code(v._3(i))).sum)
      val (sr, sc) = (sums(ref), sums(cur))
      val (nr, nc) = (ref.length.toLong, cur.length.toLong)
      val l1 = (0 until d).map(i => math.abs(sr(i) * nc - sc(i) * nr)).sum
      val den = math.max(1048576L * nr * nc * d, 1L)
      (label, nr, nc, l1, (20000L * l1 + den) / (2L * den))
    }.sortBy(_._1)
    val got = Similarity.embedDrift(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want)
    assert(got.forall(r => r._2 > 0 && r._3 > 0),
      "every label must populate both halves on the fixture")
  }

  test("mmr rerank equals the in-memory greedy recompute; selection invariants hold") {
    val emb = graft.sources.Tables.load(spark, Sf, "embeddings")
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // dot_f parity: left-to-right double accumulation of float products
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val vecs = emb.toMap
    val norm = emb.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    def micro(a: Long, b: Long): Long =
      math.floor(dot(vecs(a), vecs(b)) / (norm(a) * norm(b)) * 1e6 + 0.5).toLong
    def micro4(v: Long): Long = if (v >= 0) (v + 50) / 100 else -((-v + 50) / 100)
    val ids = emb.map(_._1)
    val want = ids.filter(_ < 5).sorted.flatMap { q =>
      val pool = ids.filter(_ != q).map(c => (c, micro(q, c)))
        .sortBy { case (c, m) => (-m, c) }.take(10)
      val rel = pool.toMap
      var avail = pool.map(_._1).toSet
      val sel = scala.collection.mutable.ArrayBuffer[Long]()
      (1 to 5).flatMap { rank =>
        if (avail.isEmpty) None
        else {
          val (best, mmr) = avail.toSeq.map { c =>
            val pen = if (sel.isEmpty) 0L else sel.map(s0 => micro(c, s0)).max
            (c, rel(c) - pen)
          }.minBy { case (c, v) => (-v, c) }
          avail -= best; sel += best
          Some((q, rank.toLong, best, micro4(rel(best)), micro4(mmr)))
        }
      }
    }.toSeq
    val got = Similarity.mmrRerank(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want)
    // NOTE: mmr is NOT monotone down the ranks — cosine penalties can be
    // NEGATIVE (an anti-similar candidate gains from the diversity term),
    // so only these invariants hold unconditionally:
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      // rank 1 is pure relevance: its mmr IS its relevance
      assert(sorted.head._4 == sorted.head._5)
      // k distinct selections, ranks dense from 1
      assert(sorted.map(_._3).distinct.length == sorted.length)
      assert(sorted.map(_._2) == (1L to sorted.length))
    }
  }

  test("incremental encode: staged frozen vocab equals the inline recompute") {
    val maxId = graft.sources.Tables.documents(spark, Sf)
      .agg(max(col("doc_id"))).head().getLong(0)
    val split = maxId * 4 / 5
    val vdir = tmpDir("vocabidx")
    TextAnalysis.buildVocabIndex(spark, Sf, vdir, maxDocIdExclusive = split)
    val staged = TextAnalysis.encodeDocsIncremental(spark, Sf, vdir, split)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    // every encoded row is a delta doc, and the full-corpus encode over
    // the SAME split-restricted vocab gives identical rows (frozen vocab
    // means the delta's ids cannot depend on delta token frequencies)
    assert(staged.nonEmpty && staged.forall(_._1 >= split))
    // delta docs see REAL OOV from post-split vocabulary drift or at
    // least yield the same ids as a by-hand vocab join
    val vocab = spark.read.parquet(vdir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.sources.Tables.load(spark, Sf, "documents")
      .filter(col("doc_id") >= split)
      .selectExpr("doc_id", s"${TextAnalysis.TokensExpr} AS ws")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    def md5(sx: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = docs.filter(_._2.nonEmpty).map { case (id, ws) =>
      val ids = ws.map(w => vocab.getOrElse(w, 0L))
      (id, ws.size.toLong, ids.count(_ == 0L).toLong, md5(ids.mkString(",")))
    }.sortBy(_._1).toSeq
    assert(staged == want)
  }

  test("token-id encoding matches the in-memory vocab + sequence recompute") {
    val docs = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr("doc_id", s"${TextAnalysis.TokensExpr} AS ws")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val freq = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val vocab = freq.toSeq.sortBy { case (w, c) => (-c, w) }.take(16)
      .zipWithIndex.map { case ((w, _), i) => w -> (i + 1L) }.toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = docs.filter(_._2.nonEmpty).map { case (id, ws) =>
      val ids = ws.map(w => vocab.getOrElse(w, 0L))
      (id, ws.size.toLong, ids.count(_ == 0L).toLong, md5(ids.mkString(",")))
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.encodeDocs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == want)
    assert(got.exists(_._3 > 0), "OOV id must carry real traffic (V < |vocab|)")
    assert(got.exists(r => r._3 < r._2), "covered ids must carry real traffic")
  }

  test("importance weights match the in-memory DSIR recompute") {
    val docs = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr("doc_id", "source", s"${TextAnalysis.TokensExpr} AS ws")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    val target = SparkEntry.Dsir.target
    val ct = scala.collection.mutable.Map.empty[String, Long]
    val cr = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, src, ws) =>
      val m = if (src == target) ct else cr
      ws.foreach(w => m(w) = m.getOrElse(w, 0L) + 1)
    }
    val (t, r) = (ct.values.sum, cr.values.sum)
    val v = (ct.keySet ++ cr.keySet).size.toLong
    def ratio(w: String): Long = {
      val num = 20000L * (ct.getOrElse(w, 0L) + 1) * (r + v)
      val den = (cr.getOrElse(w, 0L) + 1) * (t + v)
      (num + den) / (2 * den)
    }
    val want = docs.filter(d => d._2 != target && d._3.nonEmpty).map {
      case (id, src, ws) =>
        val sr = ws.map(ratio).sum
        (id, src, ws.size.toLong, (2 * sr + ws.size) / (2L * ws.size))
    }.sortBy(d => (-d._4, d._1)).take(SparkEntry.Dsir.k).toSeq
    val got = TextAnalysis
      .importanceWeights(spark, Sf, target, SparkEntry.Dsir.k)
      .collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
      .toSeq
    assert(got == want)
    // target-domain docs never select themselves; scores must spread
    assert(got.forall(_._2 != target))
    assert(got.map(_._4).distinct.size > 1,
      s"fixture must produce a non-degenerate score distribution: $got")
  }

  test("bpe training matches the in-memory merge learner") {
    // third algorithm: classic in-memory BPE over the word-frequency
    // dictionary — symbol vectors, pair counts, (count DESC, l, r)
    // argmax, leftmost-greedy merge — cross-checks both the distributed
    // replace-on-separated-strings loop and the unrolled SQL surfaces
    val words = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr(s"explode(${TextAnalysis.TokensExpr}) AS w")
      .collect().map(_.getString(0))
    val wc = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var dict: Map[Vector[String], Long] =
      wc.map { case (w, c) => w.map(_.toString).toVector -> c }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (rank <- 1 to SparkEntry.Bpe.merges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((rank.toLong, l, r, cnt))
        dict = dict.groupBy { case (syms, _) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result()
        }.view.mapValues(_.values.sum).toMap
      }
    }
    val want = merges.result()
    val got = TextAnalysis.bpeTrain(spark, Sf, SparkEntry.Bpe.merges)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    assert(got.size == SparkEntry.Bpe.merges)
    // the fixture must exercise a second-order merge (a learned symbol
    // longer than 2 chars proves merges compose, not just pair counts)
    assert(got.exists(t => (t._2 + t._3).length > 2),
      s"expected a composed merge in $got")
    // wrapped-symbol replace == leftmost-greedy on repeated runs (the
    // case the corpus fixture never exercises): "aaaaa" under merge
    // (a,a) must segment [aa,aa,a], not the boundary-consuming [aa,a,aa]
    val us = "\u001F"
    val run = "aaaaa".map(c => s"$us$c$us").mkString
    val merged = spark.sql(
      s"SELECT replace('$run', '${us}a$us${us}a$us', '${us}aa$us') AS x")
      .head().getString(0)
    assert(merged.split(us).filter(_.nonEmpty).toSeq == Seq("aa", "aa", "a"),
      s"replace must be leftmost-greedy over wrapped symbols: $merged")
  }

  test("bpe encoding applies the learned merges word-by-word") {
    // recompute: learn merges with the operator (already pinned above),
    // apply them in rank order leftmost-greedy per distinct word in
    // memory, and re-derive every document's token count
    val merges = TextAnalysis.bpeTrain(spark, Sf, SparkEntry.Bpe.merges)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    def encode(w: String): Long = {
      var syms = w.map(_.toString).toVector
      merges.foreach { case (l, r) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length.toLong
    }
    val docs = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr("doc_id", s"${TextAnalysis.TokensExpr} AS ws")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val want = docs.filter(_._2.nonEmpty).map { case (id, ws) =>
      val nb = ws.map(encode).sum
      (id, ws.size.toLong, nb, (20000 * nb + ws.size) / (2L * ws.size))
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.bpeEncode(spark, Sf, SparkEntry.Bpe.merges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    // merges must actually compress: some word ends below its char count
    assert(got.exists(d => d._3 < docs.toMap.apply(d._1).map(_.length).sum),
      "learned merges must shorten at least one document")
  }

  test("dedup recall report: buckets reconcile with the two pair sets") {
    val exact = Dedup.prefixFilterJaccard(spark, Sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val found = Dedup.minHashLsh(spark, Sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exact.groupBy { case (_, j) => math.min((j - 5000) / 1000, 4L) }
      .toSeq.map { case (b, rows) =>
        val nf = rows.count { case (p, _) => found(p) }.toLong
        val np = rows.length.toLong
        (b, 5000L + 1000L * b, np, nf, (20000L * nf + np) / (2L * np))
      }.sortBy(_._1)
    val got = Dedup.dedupRecallReport(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want)
    assert(got.map(_._3).sum == exact.length.toLong)
    assert(got.forall(r => r._4 <= r._3))
  }

  test("prefix-filter jaccard equals the in-memory exact threshold join") {
    import graft.operators.TextAnalysis
    // third algorithm: collect full shingle sets and do the O(n^2) exact
    // jaccard in memory (fine at sf0.001) — cross-checks BOTH the
    // operator's prefix filter and the oracle's naive join
    val sets = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr("doc_id", s"${TextAnalysis.TokensExpr} AS ws")
      .where("size(ws) >= 3")
      .selectExpr("doc_id", s"${Dedup.ShinglesExpr} AS sh")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    val want = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (da, sa) = if (sets(i)._1 < sets(j)._1) sets(i) else sets(j)
      (db, sb) = if (sets(i)._1 < sets(j)._1) sets(j) else sets(i)
      c = (sa intersect sb).size.toLong
      u = sa.size + sb.size - c
      jac = (20000L * c + u) / (2L * u) if jac >= 5000L
    } yield (da, db, jac)).sortBy(t => (t._1, t._2))
    val got = Dedup.prefixFilterJaccard(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want.toSeq)
    assert(got.nonEmpty, "fixture must contain threshold-passing near-dups")
  }

  test("substringSpans: planted repeat recovered exactly; fixture invariants hold") {
    import spark.implicits._
    // planted case: docs 0 and 2 share a verbatim 15-token run; doc 1 is
    // unique filler. Exactly one span per sharing doc, positioned on the
    // planted run, n_windows = 15 - 12 + 1 = 4.
    val shared = (1 to 15).map(i => s"rep$i").mkString(" ")
    val tmp = tmpDir("spans")
    Seq(
      (0L, s"alpha beta gamma $shared tail0 tail1", "en", "s0", 0L),
      (1L, (1 to 40).map(i => s"u$i").mkString(" "), "en", "s1", 0L),
      (2L, s"$shared omega psi", "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = Dedup.substringSpans(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(planted.toSeq === Seq((0L, 4L, 18L, 4L), (2L, 1L, 15L, 4L)),
      s"planted spans mismatch: ${planted.toSeq}")

    // fixture invariants: every span is >= K tokens, spans within a doc
    // are disjoint with a gap (islands merged maximally), and every
    // exact-dup member doc (>= K tokens) is covered end-to-end
    val k = 12
    val spans = Dedup.substringSpans(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty, "fixture planted dups should produce spans")
    spans.foreach { case (_, s0, e0, nw) =>
      assert(e0 - s0 + 1 >= k && nw >= 1 && nw <= e0 - s0 + 1 - (k - 1))
    }
    spans.groupBy(_._1).values.foreach { g =>
      g.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1 + 1, "adjacent spans must have merged")
        case _ =>
      }
    }
    val nTok = graft.sources.Tables.documents(spark, Sf)
      .selectExpr("doc_id", s"size(${graft.operators.TextAnalysis.TokensExpr}) AS n")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dupDocs = Dedup.exact(spark, Sf).filter($"n_docs" >= 2)
    val fps = dupDocs.collect().map(_.getString(0)).toSet
    val members = graft.sources.Tables.documents(spark, Sf)
      .selectExpr("doc_id",
        s"md5(array_join(${graft.operators.TextAnalysis.TokensExpr}, ' ')) AS fp")
      .collect().filter(r => fps(r.getString(1))).map(_.getLong(0))
    val byDoc = spans.groupBy(_._1)
    members.filter(nTok(_) >= k).foreach { d =>
      val s = byDoc.getOrElse(d, Array.empty)
      assert(s.exists(x => x._2 == 1 && x._3 == nTok(d)),
        s"exact-dup doc $d should carry a full-doc span")
    }
  }

  test("containment: directed, bounded, and dominates jaccard per pair") {
    val cont = Dedup.containment(spark, Sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cont.nonEmpty, "fixture near-dups should produce containment pairs")
    assert(cont.values.forall(c => c >= 7000 && c <= 10000))
    // |A∩B|/|A| >= |A∩B|/|A∪B|, so any jaccard pair at or above the
    // containment threshold must appear in BOTH directions, each scoring
    // at least the pair's jaccard (half-up floor preserves monotonicity)
    val jac = Dedup.ngramJaccard(spark, Sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    jac.filter(_._2 >= 7000).foreach { case ((a, b), j) =>
      assert(cont.contains((a, b)) && cont.contains((b, a)),
        s"jaccard pair ($a,$b)@$j missing a containment direction")
      assert(cont((a, b)) >= j && cont((b, a)) >= j)
    }
    // the relation is genuinely asymmetric on this fixture: some directed
    // score differs from (or lacks) its mirror, because the two sides
    // normalize by their own shingle-set sizes
    assert(cont.exists { case ((a, b), c) => !cont.get((b, a)).contains(c) },
      "expected at least one asymmetric containment pair")
  }

  test("source overlap: complete pair matrix, consistent with per-source shingle sets") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val nSources = docs.select("source").distinct().count()
    val out = Dedup.sourceOverlap(spark, Sf).collect()
    // every unordered source pair appears exactly once, disjoint included
    assert(out.length == (nSources * (nSources - 1) / 2).toInt)
    out.foreach { r =>
      val (common, union, jac) = (r.getAs[Long]("common"),
        r.getAs[Long]("union_sh"), r.getAs[Long]("jaccard_1e4"))
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
      assert(common >= 0 && common <= union)
      assert(jac == (20000 * common + union) / (2 * union)) // half-up floor
    }
    // the fixture's injected near-dups span sources, so at least one pair
    // genuinely intersects — the report is not a trivially-zero matrix
    assert(out.exists(_.getAs[Long]("common") > 0))
  }

  test("collocations: top-K ordered by lift, counts consistent, exact quotient") {
    val out = TextAnalysis.collocations(spark, Sf,
      SparkEntry.Colloc.minCount, SparkEntry.Colloc.topK).collect()
    assert(out.nonEmpty && out.length <= SparkEntry.Colloc.topK)
    val nTokens = spark.read.parquet(s"$Sf/documents.parquet")
      .select(explode(expr(TextAnalysis.TokensExpr)).as("w")).count()
    out.foreach { r =>
      val (cab, ca, cb, lift) = (r.getAs[Long]("c_ab"), r.getAs[Long]("c_a"),
        r.getAs[Long]("c_b"), r.getAs[Long]("lift_1e4"))
      assert(cab >= SparkEntry.Colloc.minCount)
      assert(cab <= ca && cab <= cb,
        "a bigram cannot occur more often than either of its words")
      assert(lift == (BigInt(10000) * cab * nTokens / (BigInt(ca) * cb)).toLong)
    }
    // ranking is total: non-increasing lift, ties by (w1, w2)
    out.sliding(2).foreach {
      case Array(a, b) =>
        val (la, lb) = (a.getAs[Long]("lift_1e4"), b.getAs[Long]("lift_1e4"))
        val (w1a, w1b) = (a.getAs[String]("w1"), b.getAs[String]("w1"))
        assert(la > lb || (la == lb && (w1a < w1b ||
          (w1a == w1b && a.getAs[String]("w2") < b.getAs[String]("w2")))))
      case _ => ()
    }
  }

  test("LSH band stats: per-band rows conserve, pair budget covers candidates") {
    val out = Dedup.lshBandStats(spark, Sf).collect()
    assert(out.length == Dedup.Bands)
    val nShingled = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(expr(s"size(${TextAnalysis.TokensExpr}) >= 3")).count()
    out.foreach { r =>
      assert(r.getAs[Long]("n_rows") == nShingled,
        "every shingled doc lands in exactly one bucket per band")
      assert(r.getAs[Long]("max_bucket") >= 1)
      assert(r.getAs[Long]("n_colliding") <= r.getAs[Long]("n_buckets"))
    }
    // the budget is an upper bound on DISTINCT candidate pairs: every
    // LSH candidate pair shares at least one band bucket
    val distinctCands = Dedup.minHashLsh(spark, Sf, threshold = 0.0)
      .select("doc_a", "doc_b").distinct().count()
    assert(out.map(_.getAs[Long]("candidate_pairs")).sum >= distinctCands)
  }

  test("bloom screen: no false negatives, FP identity, probe counts conserve") {
    val out = Dedup.bloomScreen(spark, Sf).collect()
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    assert(out.length <= docs.select("source").distinct().count())
    out.foreach { r =>
      val (np, nb, nc, nf) = (r.getAs[Long]("n_probe"), r.getAs[Long]("n_bloom_hit"),
        r.getAs[Long]("n_candidates"), r.getAs[Long]("n_false_pos"))
      assert(nc <= nb, "bloom filters cannot produce false negatives")
      assert(nf == nb - nc, "false positives are exactly the non-candidate hits")
      assert(nb <= np)
    }
    val probeTotal = docs
      .filter(expr(s"size(${TextAnalysis.TokensExpr}) >= 3"))
      .filter(expr(
        s"substring(md5(CAST(doc_id AS STRING)), 1, 8) >= '${Sampling.hexThreshold(0.8)}'"))
      .count()
    assert(out.map(_.getAs[Long]("n_probe")).sum == probeTotal)
    // the hash split must not align with the fixtures' source layout
    assert(out.length >= 10, "probe docs should span most sources")
    // the fixture's injected near-dups straddle the split, so the screen
    // flags at least one incoming doc as a band-sharing candidate
    assert(out.map(_.getAs[Long]("n_bloom_hit")).sum > 0, "expected bloom hits")
  }

  test("key skew audit: ranks total-ordered, shares and ratios consistent") {
    val out = Analytics.keySkewAudit(spark, Sf).collect()
    assert(out.length == 5)
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    val total = ev.count()
    val nKeys = ev.select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("rank")).toSeq == (1L to 5L))
    out.foreach { r =>
      val n = r.getAs[Long]("n_events")
      assert(r.getAs[Long]("share_1e4") == (20000 * n + total) / (2 * total))
      assert(r.getAs[Long]("ratio_to_avg_1e4") == (20000 * n * nKeys + total) / (2 * total))
    }
    val ns = out.map(_.getAs[Long]("n_events"))
    assert(ns.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    // the top key is at least as heavy as the mean by construction
    assert(out.head.getAs[Long]("ratio_to_avg_1e4") >= 10000L)
  }

  test("vocab coverage: all sources reported, shares bounded and partial") {
    val out = TextAnalysis.vocabCoverage(spark, Sf).collect()
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    assert(out.length == docs.select("source").distinct().count())
    out.foreach { r =>
      val (n, c, cov) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_covered"),
        r.getAs[Long]("coverage_1e4"))
      assert(c <= n && cov == (20000 * c + n) / (2 * n))
      // top-10 of a 31-word vocabulary covers a real but partial share
      assert(cov > 0 && cov < 10000)
    }
  }

  test("value outliers: fences are robust, counts conserve and stay minority") {
    val out = Analytics.valueOutliers(spark, Sf).collect()
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    assert(out.length == ev.select("event_type").distinct().count())
    assert(out.map(_.getAs[Long]("n_events")).sum == ev.count())
    out.foreach { r =>
      val (n, o, sh) = (r.getAs[Long]("n_events"), r.getAs[Long]("n_outliers"),
        r.getAs[Long]("outlier_1e4"))
      // Tukey fences on any distribution flag at most ~25% per tail by
      // construction; on this heavy-tailed fixture a strict minority
      assert(o < n / 4, s"fences flagging $o of $n cannot be robust")
      assert(sh == (20000 * o + n) / (2 * n))
    }
    // the fixture's value tail is genuinely heavy — some outliers exist
    assert(out.map(_.getAs[Long]("n_outliers")).sum > 0)
  }

  test("RFM segments: customers conserve, scores bounded, quartiles roughly even") {
    val out = Analytics.rfmSegments(spark, Sf).collect()
    val nCust = spark.read.parquet(s"$Sf/orders.parquet")
      .select("o_custkey").distinct().count()
    assert(out.map(_.getAs[Long]("n_customers")).sum == nCust)
    out.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val v = r.getAs[Long](c); assert(v >= 1 && v <= 4)
      }
    }
    // marginal distribution of each score is a quartile split: every
    // score value covers between 5% and 45% of customers (exact quarters
    // are impossible with ties, but the split must not collapse)
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val marginal = out.groupBy(_.getAs[Long](c))
        .view.mapValues(_.map(_.getAs[Long]("n_customers")).sum).toMap
      assert(marginal.keySet == Set(1L, 2L, 3L, 4L), s"$c missing a quartile: $marginal")
      marginal.values.foreach(n =>
        assert(n >= nCust / 20 && n <= nCust * 9 / 20, s"$c lopsided: $marginal"))
    }
  }

  test("image dedup: groups are decoded-content identities, keeper is min id") {
    val groups = Multimodal.imageDedup(spark, Sf).collect()
    assert(groups.nonEmpty, "the content-addressed dims collide on this fixture")
    val feats = Multimodal.assetFeatures(spark, Sf)
      .select("asset_id", "width", "height", "gray_level").collect()
      .groupBy(r => (r.getInt(1), r.getInt(2), r.getLong(3)))
    groups.foreach { g =>
      val key = (g.getAs[Int]("width"), g.getAs[Int]("height"), g.getAs[Long]("gray_level"))
      val members = feats(key)
      assert(members.length.toLong == g.getAs[Long]("n_assets"))
      assert(members.map(_.getLong(0)).min == g.getAs[Long]("keeper_asset_id"))
      assert(g.getAs[Long]("n_assets") > 1)
    }
  }

  test("event transitions: counts conserve, row shares sum to ~one") {
    val out = Analytics.eventTransitions(spark, Sf).collect()
    val events = spark.read.parquet(s"$Sf/events.parquet")
    val nUsers = events.select("user_id").distinct().count()
    // each user's timeline of n events contributes n-1 transitions
    assert(out.map(_.getAs[Long]("n_transitions")).sum == events.count() - nUsers)
    out.groupBy(_.getAs[String]("from_type")).foreach { case (_, rows) =>
      val shares = rows.map(_.getAs[Long]("share_1e4"))
      // half-up rounding keeps each row's share within half a unit, so a
      // full row of the matrix sums to 10000 ± (#cells)/2
      assert(math.abs(shares.sum - 10000L) <= rows.length,
        s"row shares ${shares.mkString(",")} should sum to ~10000")
    }
  }

  test("hard negatives: labels always differ, scores dominated by unrestricted search") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val hard = Similarity.hardNegatives(spark, Sf).collect()
    assert(hard.nonEmpty)
    hard.foreach { r =>
      assert(labels(r.getAs[Long]("neighbor_id")) != labels(r.getAs[Long]("query_id")),
        "a hard negative must carry a different label")
    }
    // restricting the candidate pool can only lower the rank-1 score
    val free = Similarity.bruteForceTopK(spark, Sf).collect()
      .filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("score")).toMap
    hard.filter(_.getAs[Long]("rank") == 1L).foreach { r =>
      assert(r.getAs[Long]("score") <= free(r.getAs[Long]("query_id")))
    }
  }

  test("k-means cluster report: population conserves, cohesion bounded") {
    import SparkEntry.TrainedIvf.{nLists, iters}
    val rep = Similarity.clusterReport(spark, Sf, nLists, iters).collect()
    val nVecs = spark.read.parquet(s"$Sf/embeddings.parquet").count()
    assert(rep.map(_.getAs[Long]("n_vecs")).sum == nVecs,
      "every vector lands in exactly one cluster")
    assert(rep.length <= nLists && rep.nonEmpty)
    rep.foreach { r =>
      val m = r.getAs[Long]("mean_sim_micro")
      assert(m >= -1000000L && m <= 1000000L, "mean cosine stays in micro bounds")
      assert(r.getAs[Long]("n_vecs") > 0)
    }
  }

  test("ANN recall report: identity, bounds, exhaustive probing scores 10000") {
    import SparkEntry.TrainedIvf.{nQueries, k, nLists, nProbe, iters}
    val rep = Similarity.recallReport(spark, Sf, nQueries, k, nLists, nProbe, iters)
      .collect()
    assert(rep.length == nQueries)
    rep.foreach { r =>
      val (m, rc) = (r.getAs[Long]("n_match"), r.getAs[Long]("recall_1e4"))
      assert(m >= 0 && m <= k)
      assert(rc == (20000 * m + k) / (2 * k))
    }
    // probing every list makes the candidate set exhaustive, so the
    // reranked top-k equals brute force and recall is perfect
    val full = Similarity.recallReport(spark, Sf, nQueries, k, nLists, nLists, iters)
      .collect()
    assert(full.length == nQueries)
    assert(full.forall(_.getAs[Long]("recall_1e4") == 10000L))
  }

  test("domain affinity: covers all non-target docs, positive, discriminative") {
    val target = SparkEntry.Affinity.targetSource
    val out = TextAnalysis.domainAffinity(spark, Sf, target).collect()
    val expected = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("source") =!= target)
      .filter(expr(s"size(${TextAnalysis.TokensExpr}) >= 3")).count()
    assert(out.length == expected, "every shingled non-target doc gets a score")
    assert(out.forall(_.getAs[Long]("affinity_1e4") > 0),
      "Laplace smoothing keeps every weight strictly positive")
    // the fixture's cross-source near-dups of the target feed must rank
    // far above the unrelated bulk — the score is discriminative, not flat
    val scores = out.map(_.getAs[Long]("affinity_1e4")).sorted
    assert(scores.last >= 2 * scores.head && scores.last > scores(scores.length / 2),
      "top affinity should clearly exceed the unrelated bulk")
  }

  test("BPE pair counts: histogram-weighted path equals naive stream recount") {
    val out = TextAnalysis.bpePairCounts(spark, Sf).collect()
    assert(out.length == 20)
    // recompute from every token OCCURRENCE (no histogram collapse)
    val naive = spark.read.parquet(s"$Sf/documents.parquet")
      .select(explode(expr(TextAnalysis.TokensExpr)).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val key = r.getAs[String]("left_sym") + r.getAs[String]("right_sym")
      assert(r.getAs[Long]("n_pairs") == naive(key),
        s"pair '$key' weighted count diverges from the stream recount")
    }
    assert(out.map(_.getAs[Long]("n_pairs")).sliding(2).forall {
      case Array(a, b) => a >= b
      case _ => true
    }, "top-K must be non-increasing")
  }

  test("fuzzy name join equals the brute-force edit-distance join") {
    import org.apache.spark.sql.functions.{col, levenshtein}
    val out = Dedup.fuzzyMatchNames(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.nonEmpty, "consecutive customer ids differ by one digit")
    // ground truth by exhaustive cross join — feasible at spec scale only;
    // equality proves the deletion-neighborhood candidates are COMPLETE
    // (no ed<=1 pair escapes the blocking) and the verify is precise
    val c = spark.read.parquet(s"$Sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val brute = c.as("a").crossJoin(c.as("b"))
      .filter(col("a.c_custkey") < col("b.c_custkey"))
      .filter(levenshtein(col("a.c_name"), col("b.c_name")) <= 1)
      .select(col("a.c_custkey"), col("b.c_custkey"),
        levenshtein(col("a.c_name"), col("b.c_name")).cast("bigint"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == brute)
  }

  test("exact dedup: keeper is min doc_id and groups cover all docs") {
    val out = Dedup.exact(spark, Sf)
    val docs = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(out.agg(sum("n_docs")).head().getLong(0) == docs)
  }

  test("ANN LSH recall vs brute force on clustered vectors") {
    // The driver testdata embeddings are near-orthogonal random vectors (no
    // true neighbors), where hyperplane LSH legitimately finds nothing. Build
    // a clustered fixture — 40 clusters x 10 members around unit centroids —
    // where true neighbors are close (cos ~0.99): LSH must recover most.
    import spark.implicits._
    val rnd = new java.util.Random(7)
    val dim = 64
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val rows = for {
      c <- 0 until 40
      centroid = normalize(Array.fill(dim)(rnd.nextGaussian().toFloat))
      m <- 0 until 10
    } yield {
      val v = normalize(centroid.zip(
        Array.fill(dim)((rnd.nextGaussian() * 0.05).toFloat)).map { case (a, b) => a + b })
      ((c * 10 + m).toLong, v, c)
    }
    val dir = tmpDir("graft_ann")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annLshTopK(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    info(f"ANN LSH recall@5 = $recall%.2f")
    assert(recall >= 0.5)
    // IVF with the deterministic first-K quantizer: on this fixture the
    // first 16 vectors all sit in 2 of the 40 clusters, so recall measures
    // the probe mechanics, not quantizer quality (a trained k-means
    // quantizer is the production path) — probe wider to compensate
    val ivf = Similarity.ivfTopK(spark, dir, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = (brute intersect ivf).size.toDouble / brute.size
    info(f"ANN IVF recall@5 (nProbe=8) = $ivfRecall%.2f")
    assert(ivfRecall >= 0.5)
    // the trained quantizer (2 Lloyd iterations from the same first-16
    // init) must dominate the raw first-N quantizer at equal probe width:
    // k-means pulls the 16 centroids apart toward the 40 true clusters,
    // while first-N leaves them all inside clusters 0 and 1. Compare at
    // BOTH widths — the narrow probe is where quantizer quality shows
    def recallOf(pairs: Set[(Long, Long)]): Double =
      (brute intersect pairs).size.toDouble / brute.size
    for (probe <- Seq(2, 8)) {
      val firstN = recallOf(Similarity.ivfTopK(spark, dir, nProbe = probe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
      val trained = recallOf(Similarity.ivfTopKTrained(spark, dir, nProbe = probe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
      info(f"ANN IVF recall@5 (nProbe=$probe) first-N=$firstN%.2f trained=$trained%.2f")
      assert(trained >= firstN,
        f"trained k-means quantizer ($trained%.2f) must be >= first-N ($firstN%.2f) at nProbe=$probe")
    }
    // PQ/ADC: with 8 subspaces x 16 codewords each vector is reduced to
    // 8 bytes, yet on tightly clustered data the codebooks recover the
    // cluster structure and ADC ranking stays close to exact cosine
    val pq = Similarity.pqTopK(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRecall = recallOf(pq)
    info(f"ANN PQ/ADC recall@5 = $pqRecall%.2f")
    assert(pqRecall >= 0.5)
    // IVF-PQ: coarse routing loses at most the probe misses on top of PQ
    val ivfpq = Similarity.ivfPqTopK(spark, dir, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpqRecall = recallOf(ivfpq)
    info(f"ANN IVF-PQ recall@5 (nProbe=8) = $ivfpqRecall%.2f")
    assert(ivfpqRecall >= 0.5)
  }

  test("IVF-PQ with full probe width degenerates to plain PQ exactly") {
    // nProbe = nLists routes every query to every list — the candidate set
    // is the whole corpus, so the composition must reproduce pqTopK
    // row-for-row (same ADC scores, same ranking, same emitted integers)
    val pq = Similarity.pqTopK(spark, Sf).collect().toSeq
    val full = Similarity.ivfPqTopK(spark, Sf, nProbe = 16, nLists = 16)
      .collect().toSeq
    assert(full == pq)
    assert(pq.nonEmpty)
  }

  test("nearest_centroid expression equals the crossJoin+max_by dataflow argmax") {
    // the r12 sf10 fix replaced the row-exploding spelling with a
    // codegen'd literal-table loop; this pins the two forms equal on the
    // full fixture (the arithmetic claim every oracle already rides) —
    // including a non-contiguous centroid id set (dropped-cluster shape)
    import graft.operators.Similarity
    graft.functions.GraftFunctions.register(spark)
    val emb = sources.Tables.spread(spark, Sf, "embeddings")
      .withColumn("vnorm", org.apache.spark.sql.functions.expr(
        "sqrt(dot_f(embedding, embedding))"))
    val codes = Similarity.vectorCodes(emb)
    val centroids = codes
      .filter(org.apache.spark.sql.functions.expr(
        "vec_id IN (0, 3, 7, 11, 19, 42, 99, 123)"))
      .selectExpr("vec_id AS centroid_id", "code AS csum")
    val viaExpr = Similarity.assignNearest(codes, centroids)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaRows = Similarity.nearestCentroid(
        Similarity.scoreAgainstCentroids(codes, centroids))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaExpr == viaRows, "expression and dataflow argmax must agree exactly")
    assert(viaExpr.size == codes.count(), "every vector assigns")
  }

  test("semantic dedup: keeper rule and drop evidence hold exactly") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.semanticDedup(spark, Sf,
      nLists = SparkEntry.SemDedup.nLists, iters = SparkEntry.SemDedup.iters,
      thresholdMicros = SparkEntry.SemDedup.thresholdMicros).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.length == emb.size, "one row per corpus vector")
    // each cluster's smallest vec_id can have no smaller neighbor: kept
    out.groupBy(_._2).foreach { case (c, members) =>
      val smallest = members.minBy(_._1)
      assert(smallest._3, s"cluster $c smallest id ${smallest._1} must be kept")
    }
    def cosMicros(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5).toLong
    }
    val thr = SparkEntry.SemDedup.thresholdMicros
    val byCluster = out.groupBy(_._2)
    var drops = 0
    out.filter(!_._3).foreach { case (v, c, _) =>
      drops += 1
      val hasWitness = byCluster(c).exists { case (b, _, _) =>
        b < v && cosMicros(emb(v), emb(b)) >= thr
      }
      assert(hasWitness, s"dropped $v has no smaller same-cluster neighbor >= $thr")
    }
    // kept rows must have NO such witness (drop set is exact, not a superset)
    out.filter(_._3).foreach { case (v, c, _) =>
      val witness = byCluster(c).exists { case (b, _, _) =>
        b < v && cosMicros(emb(v), emb(b)) >= thr
      }
      assert(!witness, s"kept $v actually has a qualifying smaller neighbor")
    }
    assert(drops > 0, "fixture must exercise the drop path")
  }

  test("token estimate: BPE pieces refine the whitespace split") {
    val rows = TextAnalysis.tokenEstimate(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ws = r.getAs[Long]("n_ws_tokens")
      val bpe = r.getAs[Long]("n_bpe_tokens")
      // every whitespace-delimited token yields at least one non-space
      // piece, so the pre-tokenizer can only split further
      assert(bpe >= ws, s"doc ${r.getAs[Long]("doc_id")}: bpe $bpe < ws $ws")
      if (bpe > 0) {
        val cpb = r.getAs[Long]("chars_per_bpe_1e4")
        assert(cpb >= 10000L, s"a piece is at least one char, got $cpb")
      } else assert(r.isNullAt(r.fieldIndex("chars_per_bpe_1e4")))
    }
    // the parquet fixture is bare lowercase words (bpe == ws there), so
    // the refinement semantics are pinned exactly on a crafted fixture:
    // contraction suffix, punctuation runs, and digits each split off
    import spark.implicits._
    val crafted = TextAnalysis.tokenEstimateOf(
      Seq((1L, "don't stop, world! 42 times."), (2L, null: String))
        .toDF("doc_id", "text")).collect()
    val r1 = crafted.find(_.getLong(0) == 1L).get
    // pieces: don | 't | _stop | , | _world | ! | _42 | _times | .
    assert(r1.getAs[Long]("n_ws_tokens") == 5L)
    assert(r1.getAs[Long]("n_bpe_tokens") == 9L)
    // 28 chars / 9 pieces, half-up ten-thousandths
    assert(r1.getAs[Long]("chars_per_bpe_1e4") == 31111L)
    val r2 = crafted.find(_.getLong(0) == 2L).get
    assert(r2.getAs[Long]("n_ws_tokens") == 0L &&
      r2.getAs[Long]("n_bpe_tokens") == 0L &&
      r2.isNullAt(r2.fieldIndex("chars_per_bpe_1e4")))
  }

  test("multimodal: real WAV decode matches the generation-formula prediction") {
    // end-to-end proof the payloads are faithful audio containers: the
    // generator writes a real RIFF/WAVE file, javax.sound parses it, and
    // every decoded feature equals what the md5-derived formula (and
    // thus the DuckDB oracle) predicts
    val decoded = Multimodal.audioFeatures(spark, Sf).collect()
    val predicted = Multimodal.predictedAudioFeatures(spark, Sf).collect()
    assert(decoded.length == predicted.length && decoded.nonEmpty)
    decoded.zip(predicted).foreach { case (d, p) =>
      assert(d.toSeq == p.toSeq, s"decoded $d != predicted $p")
    }
    // the fixture must span the formula's range: several rates and
    // half-periods, so the crossings path is exercised beyond hp=1
    val rates = decoded.map(_.getAs[Int]("sample_rate")).distinct
    assert(rates.length > 1)
  }

  test("multimodal: real PNG decode matches the generation-formula prediction") {
    // end-to-end proof the payloads are faithful images: generator writes
    // a real PNG, ImageIO decodes it, and every decoded feature equals
    // what the md5-derived formula (and thus the DuckDB oracle) predicts
    val predicted = Multimodal.predictedFeatures(spark, Sf).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Long]("channel_sum"), r.getAs[Long]("gray_level")))).toMap
    val decoded = Multimodal.decodeAssets(spark, Sf).collect()
    assert(decoded.length == predicted.size)
    decoded.foreach { f =>
      assert(predicted(f.asset_id) ==
        ((f.width, f.height, f.channel_sum, f.gray_level)),
        s"decoded features diverge from generation formula for asset ${f.asset_id}")
      assert(f.byte_size > 0)
      assert(f.width >= 32 && f.width <= 152 && f.height >= 32 && f.height <= 152)
    }
  }

  test("multimodal payloads are genuine PNG files") {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val payloads = Multimodal.assets(spark, Sf)
      .select("payload").limit(20).collect()
      .map(_.getAs[Array[Byte]]("payload"))
    assert(payloads.nonEmpty)
    payloads.foreach { p =>
      assert(p.take(8).sameElements(sig), "payload must start with the PNG signature")
    }
  }

  test("lang_id predicts only known languages") {
    val langs = TextAnalysis.langId(spark, Sf)
      .select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es")))
  }

  test("scd2: intervals tile each user's timeline, one current row per user") {
    val rows = Analytics.scd2Intervals(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, g) =>
      val byV = g.sortBy(_._5)
      // versions are 1..n consecutive; exactly the last row is current
      assert(byV.map(_._5).toSeq == (1L to byV.length).toSeq)
      assert(byV.count(_._6) == 1 && byV.last._6 && byV.last._4.isEmpty)
      byV.sliding(2).foreach {
        case Array(a, b) =>
          // each interval closes exactly where the next opens; consecutive
          // runs carry DIFFERENT types (runs were collapsed maximally)
          assert(a._4.contains(b._3), "valid_to must equal next valid_from")
          assert(a._2 != b._2, "adjacent runs must differ in type")
        case _ =>
      }
    }
    // run heads never outnumber events; every user appears
    val ev = graft.sources.Tables.events(spark, Sf)
    assert(rows.length <= ev.count())
    assert(rows.map(_._1).toSet ==
      ev.select("user_id").distinct().collect().map(_.getLong(0)).toSet)
  }

  test("salted join equals the plain join exactly (salting is invisible)") {
    val salted = Analytics.saltedPurchaseRevenue(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = graft.sources.Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("c_custkey"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .join(graft.sources.Tables.customer(spark, Sf)
        .select("c_custkey", "c_mktsegment"), "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev"))
      .orderBy(col("c_mktsegment"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(salted === plain)
    assert(salted.map(_._2).sum > 0)
  }

  test("load reconciliation: dirty buckets are exactly the dropped keys' buckets") {
    val got = Quality.loadReconciliation(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toSeq
    val keys = graft.sources.Tables.orders(spark, Sf)
      .select("o_orderkey").collect().map(_.getLong(0))
    val droppedBuckets = keys.filter(_ % 997 == 0).map(k => ((k % 16) + 16) % 16).toSet
    val perBucketDrops = keys.filter(_ % 997 == 0).groupBy(k => ((k % 16) + 16) % 16)
      .view.mapValues(_.length.toLong).toMap
    got.foreach { case (bucket, nSrc, nDst, missing, flag) =>
      assert(missing === perBucketDrops.getOrElse(bucket, 0L))
      assert(nSrc - nDst === missing)
      assert((flag == 1) === !droppedBuckets.contains(bucket),
        s"bucket $bucket flag $flag vs dropped=$droppedBuckets")
    }
    assert(got.map(_._2).sum === keys.length.toLong)
    assert(got.exists(_._5 == 0) && got.exists(_._5 == 1),
      "fixture must exercise both clean and dirty buckets")
  }

  test("session quality: per-day rollup recomputes from the session table") {
    val got = Analytics.sessionQualityByDay(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val sessions = Analytics.sessionizeBatch(spark, Sf).collect()
      .map(r => (r.getLong(3), r.getLong(2), r.getLong(4))) // start_us, n_events, end_us
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    val expected = sessions.groupBy { case (start, _, _) =>
      fmt.format(java.time.Instant.ofEpochSecond(start / 1000000L)) }
      .toSeq.map { case (day, g) =>
        val n = g.length.toLong
        val b = g.count(_._2 == 1L).toLong
        val dur = g.map(t => t._3 - t._1).sum
        (day, n, b, (20000L * b + n) / (2L * n), (2L * dur + n) / (2L * n))
      }.sortBy(_._1)
    assert(got === expected)
    assert(got.forall(d => d._3 <= d._2 && d._4 >= 0 && d._4 <= 10000))
    assert(got.map(_._2).sum === sessions.length.toLong)
  }

  test("conversion window: per-signup lookahead equals the brute-force recompute") {
    val got = Analytics.conversionWindow(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ev = graft.sources.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1).view.mapValues(_.sortBy(e => (e._4, e._2))).toMap
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    val horizon = 7L * 86400L * 1000000L
    val signups = for {
      (_, tl) <- byUser.toSeq; (i, e) <- tl.zipWithIndex.map(_.swap)
      if e._3 == "signup"
    } yield {
      val converted = tl.drop(i + 1)
        .exists(l => l._3 == "purchase" && l._4 - e._4 <= horizon)
      (fmt.format(java.time.Instant.ofEpochSecond(e._4 / 1000000L)), converted)
    }
    val expected = signups.groupBy(_._1).toSeq.map { case (day, g) =>
      val n = g.length.toLong; val c = g.count(_._2).toLong
      (day, n, c, (20000L * c + n) / (2L * n))
    }.sortBy(_._1)
    assert(got === expected)
    assert(got.map(_._2).sum === ev.count(_._3 == "signup").toLong)
    assert(got.exists(_._3 > 0), "fixture must exercise real conversions")
  }

  test("equal-frequency binning: two-level CDF equals the naive sorted-rank bins") {
    val got = Analytics.equalFreqBins(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // naive recompute: sort every cents value, bin by exclusive rank of
    // the value's FIRST occurrence — all rows of one value share a bin
    val cents = graft.sources.Tables.orders(spark, Sf).select(
      expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
        .as("c")).collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    val firstRank = cents.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> g.map(_._2).min.toLong }
    val expected = cents.groupBy(identity).toSeq
      .map { case (v, g) => (10L * firstRank(v) / n + 1L, v, g.length.toLong) }
      .groupBy(_._1).toSeq
      .map { case (bin, g) =>
        (bin, g.map(_._3).sum, g.map(_._2).min, g.map(_._2).max) }
      .sortBy(_._1)
    assert(got === expected)
    // bins tile: counts conserve, ranges are disjoint and ordered
    assert(got.map(_._2).sum === n)
    got.sliding(2).foreach {
      case Seq(a, b) => assert(a._4 < b._3, "bin value ranges must be disjoint")
      case _ =>
    }
    assert(got.forall(b => b._1 >= 1 && b._1 <= 10))
  }

  test("scd2 point lookup: carry equals the declarative BETWEEN interval join") {
    val got = Analytics.scd2PointLookup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    // the declarative form the oracle states, built from the same pieces
    val ev = graft.sources.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("t_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
    val heads = ev.filter(col("event_type") =!= "purchase")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val dimNp = heads
      .withColumn("valid_from_us", col("t_us"))
      .withColumn("valid_to_us", lead(col("t_us"), 1).over(w))
      .withColumn("state_version", row_number().over(w).cast("long"))
      .select(col("user_id").as("d_uid"), col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"), col("state_version"))
    val expected = ev.filter(col("event_type") === "purchase")
      .join(dimNp, col("user_id") === col("d_uid") &&
        col("t_us") >= col("valid_from_us") &&
        (col("valid_to_us").isNull || col("t_us") < col("valid_to_us")), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("state"), lit("(none)")).as("state"),
        coalesce(col("state_version"), lit(0L)).as("state_version"))
      .orderBy(col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === expected)
    // every purchase resolves exactly once, and some resolve to a real state
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    assert(got.length.toLong === nPurch)
    assert(got.exists(_._3 != "(none)"))
  }

  test("last-touch attribution conserves purchase count and revenue") {
    val out = Analytics.lastTouchAttribution(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val purchases = graft.sources.Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)),
        sum(expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")))
      .head()
    assert(out.map(_._2).sum == purchases.getLong(0), "every purchase attributed once")
    assert(out.map(_._3).sum == purchases.getLong(1), "revenue conserved across channels")
    // purchases never credit themselves; channels come from real types
    assert(out.map(_._1).toSet.subsetOf(
      Set("click", "error", "signup", "view", "(none)")))
  }

  test("ewma: first event per user equals its own cents; bounded by window extremes") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    val out = Analytics.ewmaUserValue(spark, Sf)
    val firsts = out.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(firsts.filter(col("ewma_1e4") =!= col("cents") * 10000).count() == 0)
    // EWMA is a convex combination: never outside [min, max] of the
    // trailing-6 cents (checked via the exact same lag frame)
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id").rowsBetween(-5, 0)
    val bounded = out
      .withColumn("lo", min(col("cents")).over(wl) * 10000)
      .withColumn("hi", max(col("cents")).over(wl) * 10000)
      .filter(col("ewma_1e4") < col("lo") || col("ewma_1e4") > col("hi") + 10000)
    assert(bounded.count() == 0)
  }

  test("embed dim stats: one row per dimension, counts and sums reconcile") {
    val out = Similarity.dimStats(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val nVec = spark.read.parquet(s"$Sf/embeddings.parquet").count()
    assert(out.map(_._1).toSeq == (0L until 64L).toSeq, "64 dims, dense and ordered")
    out.foreach { case (_, n, nPos, nNeg, minC, maxC, sumC) =>
      assert(n == nVec, "every vector contributes to every dim")
      assert(nPos + nNeg <= n && minC <= maxC)
      assert(sumC >= minC * n && sumC <= maxC * n)
    }
  }

  test("profile columns: PK uniqueness and exact min/max encodings surface") {
    val out = Quality.profileOrders(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    val nOrders = spark.read.parquet(s"$Sf/orders.parquet").count()
    assert(out.keySet == Set("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"))
    out.values.foreach { case (rows, nulls, _, _, _) =>
      assert(rows == nOrders && nulls == 0)
    }
    // primary key: distinct == rows; status min/max span the enum
    assert(out("o_orderkey")._3 == nOrders)
    assert(out("o_orderstatus")._4 == "F" && out("o_orderstatus")._5 == "P")
    // money min/max decode as exact cents, numerically ordered
    assert(out("o_totalprice")._4.toLong <= out("o_totalprice")._5.toLong)
  }

  test("throttle dedup: greedy chain recomputed exactly; lag-gap survivors are a subset") {
    val winUs = SparkEntry.Throttle.windowUs
    val out = Analytics.throttleDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // driver-side greedy recompute from the raw timeline
    val raw = graft.sources.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("t_us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val brute = raw.groupBy(e => (e._1, e._2)).values.flatMap { g =>
      var lastKept = Long.MinValue
      g.sortBy(e => (e._4, e._3)).filter { e =>
        val keep = lastKept == Long.MinValue || e._4 > lastKept + winUs
        if (keep) lastKept = e._4
        keep
      }
    }.toSet
    assert(out.toSet == brute, "operator must equal the greedy recompute")
    // consecutive kept events per key are > window apart
    out.groupBy(e => (e._1, e._2)).values.foreach { g =>
      g.sortBy(_._4).sliding(2).foreach {
        case Array(a, b) => assert(b._4 - a._4 > winUs)
        case _ =>
      }
    }
    // lag-gap survivors are provably a subset (raw gap > W implies gap
    // from last kept > W); throttle keeps strictly more on this fixture
    val lagKept = raw.groupBy(e => (e._1, e._2)).values.flatMap { g =>
      val s = g.sortBy(e => (e._4, e._3))
      s.zip(None +: s.map(Some(_))).collect {
        case (e, None) => e
        case (e, Some(p)) if e._4 - p._4 > winUs => e
      }
    }.toSet
    assert(lagKept.subsetOf(out.toSet) && lagKept.size < out.length)
  }

  test("scd2 incremental: merge over a time split equals the from-scratch build") {
    val full = Analytics.scd2Intervals(spark, Sf).collect().map(_.toSeq)
    val r = graft.sources.Tables.events(spark, Sf)
      .agg(min(expr("unix_micros(ts)")), max(expr("unix_micros(ts)"))).head()
    val split = r.getLong(0) + (r.getLong(1) - r.getLong(0)) * 4 / 5
    val deltaEv = graft.sources.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("t_us"))
      .filter(col("t_us") >= split)
    assert(deltaEv.count() > 0, "split must leave a non-empty delta")
    val prior = Analytics.scd2Slice(spark, Sf, Long.MinValue, split)
    assert(prior.count() > 0, "split must leave a non-empty prior snapshot")
    val merged = Analytics.scd2Merge(prior, deltaEv).collect().map(_.toSeq)
    assert(merged.toSeq == full.toSeq, "merge must equal rescan row-for-row")

    // planted micro-case pinning all three merge paths: absorb (first
    // delta run continues the carried type), idle (user absent from the
    // delta), close (delta opens a differing run)
    import spark.implicits._
    val ev = Seq(
      (100L, 1L, "click", 1000L), (100L, 2L, "click", 2000L), // absorb user
      (200L, 3L, "view", 1000L),                              // idle user
      (300L, 4L, "view", 1000L)                               // close user
    ).toDF("user_id", "event_id", "event_type", "t_us")
    val emptyPrior = Seq.empty[(Long, String, Long, Option[Long], Long, Boolean)]
      .toDF("user_id", "event_type", "valid_from_us", "valid_to_us", "version", "is_current")
    val prior2 = Analytics.scd2Merge(emptyPrior, ev) // merge from empty == build
    val delta2 = Seq(
      (100L, 5L, "click", 5000L), (100L, 6L, "view", 6000L),
      (300L, 7L, "click", 5500L)
    ).toDF("user_id", "event_id", "event_type", "t_us")
    val m2 = Analytics.scd2Merge(prior2, delta2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4), r.getBoolean(5)))
    assert(m2.toSeq == Seq(
      (100L, "click", 1000L, Some(6000L), 1L, false), // absorbed 5000, closed by view
      (100L, "view", 6000L, None, 2L, true),
      (200L, "view", 1000L, None, 1L, true),          // idle stays current
      (300L, "view", 1000L, Some(5500L), 1L, false),  // closed by click
      (300L, "click", 5500L, None, 2L, true)), s"planted merge mismatch: ${m2.toSeq}")
  }

  test("gram matrix: symmetric, complete, diagonal reconciles with a direct recompute") {
    val g = Similarity.gramMatrix(spark, Sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val nVec = spark.read.parquet(s"$Sf/embeddings.parquet").count()
    assert(g.size == 64 * 64, "full d x d grid")
    g.foreach { case ((i, j), (n, s)) =>
      assert(n == nVec)
      assert(g((j, i))._2 == s, s"gram must be symmetric at ($i,$j)")
    }
    // diagonal = sum of squared codes, recomputed independently
    val sq = spark.read.parquet(s"$Sf/embeddings.parquet")
      .selectExpr("""aggregate(transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * CAST(1048576 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)),
        CAST(0 AS BIGINT), (a, c) -> a + c * c) AS ss""")
      .agg(sum("ss")).head().getLong(0)
    assert((0 until 64).map(i => g((i.toLong, i.toLong))._2).sum == sq)
  }

  test("whitening: output covariance is the identity on non-degenerate dimensions") {
    val rows = Similarity.whiten(spark, Sf).collect()
      .map(r => r.getAs[scala.collection.Seq[Double]]("whitened").toArray)
    val n = rows.length
    val d = rows.head.length
    assert(n > 0 && d == 64)
    val mean = Array.tabulate(d)(i => rows.map(_(i)).sum / n)
    // spot-check a grid of pairs (full d^2 loop is slow in a spec)
    val idx = Seq(0, 7, 13, 21, 33, 42, 55, 63)
    for (i <- idx; j <- idx) {
      val cov = rows.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / n
      if (i == j) assert(math.abs(cov - 1.0) < 0.05, s"diag($i) = $cov")
      else assert(math.abs(cov) < 0.05, s"offdiag($i,$j) = $cov")
    }
  }

  test("bigram LM: scores bounded, reference slice scores above foreign slices") {
    val docs = graft.sources.Tables.documents(spark, Sf).select("doc_id", "lang")
    val out = TextAnalysis.bigramLmScore(spark, Sf).join(docs, "doc_id")
    assert(out.filter(col("lm_score_1e6") < 0 || col("lm_score_1e6") > 1000000).count() == 0)
    // the model was counted from lang='en': its docs must average higher
    // smoothed likelihood than any non-reference slice
    val avgByLang = out.groupBy("lang")
      .agg(org.apache.spark.sql.functions.avg(col("lm_score_1e6")).as("a"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("a")).toMap
    assert(avgByLang("en") > avgByLang("zh") && avgByLang("en") > avgByLang("de"),
      s"reference slice must dominate: $avgByLang")
    // n_bigrams == token count - 1 for multi-token docs (spot-check join)
    val nb = TextAnalysis.bigramLmScore(spark, Sf)
      .join(graft.sources.Tables.documents(spark, Sf)
        .selectExpr("doc_id", s"size(${TextAnalysis.TokensExpr}) AS n_toks"), "doc_id")
      .filter(col("n_bigrams") =!= col("n_toks") - 1)
    assert(nb.count() == 0)
  }

  test("session paths: ranks dense, shares bounded, counts within session total") {
    val out = Analytics.sessionPaths(spark, Sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    assert(out.map(_.getAs[Long]("rk")).toSeq == (1L to out.length).toSeq)
    val counts = out.map(_.getAs[Long]("n_sessions"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "path counts must be non-increasing in rank")
    assert(out.forall(r => r.getAs[Long]("share_1e4") <= 10000L))
    val nSessions = Analytics.sessionizeBatch(spark, Sf).count()
    assert(counts.sum <= nSessions)
    // every path is a '>'-joined sequence of at most 5 event types
    assert(out.forall(_.getAs[String]("path").split(">").length <= 5))
  }

  test("interval union: covered bounded by span and by n_events * hold") {
    val hold = 5
    val out = Analytics.intervalUnionTime(spark, Sf, hold)
    val perUser = graft.sources.Tables.events(spark, Sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
    val joined = out.join(perUser, "user_id").collect()
    assert(joined.nonEmpty)
    val holdUs = hold * 60L * 1000000L
    joined.foreach { r =>
      val covered = r.getAs[Long]("covered_us")
      val span = r.getAs[Long]("span_us")
      val nEv = r.getAs[Long]("n_ev")
      val blocks = r.getAs[Long]("n_blocks")
      assert(covered >= holdUs && covered <= span, s"covered $covered vs span $span")
      assert(covered <= nEv * holdUs, "union cannot exceed sum of interval lengths")
      assert(blocks >= 1 && blocks <= nEv)
      assert(r.getAs[Long]("density_1e4") <= 10000L)
    }
    // distinct users conserve
    assert(joined.length ==
      graft.sources.Tables.events(spark, Sf).select("user_id").distinct().count())
  }

  test("dow profile: per-type shares sum to ~1e4, counts conserve") {
    val out = Analytics.dowProfile(spark, Sf)
    val total = out.agg(sum(col("n_events"))).head().getLong(0)
    assert(total == graft.sources.Tables.events(spark, Sf).count())
    val perType = out.groupBy("event_type")
      .agg(sum(col("traffic_share_1e4")).as("ts"), sum(col("value_share_1e4")).as("vs"),
        count(lit(1)).as("n_dows")).collect()
    perType.foreach { r =>
      val slack = r.getAs[Long]("n_dows") // half-up rounding: ±1 per cell
      assert(math.abs(r.getAs[Long]("ts") - 10000L) <= slack)
      assert(math.abs(r.getAs[Long]("vs") - 10000L) <= slack)
    }
    assert(out.filter(col("dow") < 0 || col("dow") > 6).count() == 0)
  }

  test("phrase search: every match is a contiguous occurrence, counts exact") {
    val phrase = Seq("part", "filter")
    val out = Retrieval.phraseSearch(spark, Sf, phrase).collect()
    assert(out.nonEmpty, "fixture phrase must occur at sf0.001")
    // recompute occurrences by scanning the token string per doc
    val needle = " " + phrase.mkString(" ") + " "
    val expected = graft.sources.Tables.documents(spark, Sf)
      .selectExpr("doc_id",
        s"concat(' ', array_join(${TextAnalysis.TokensExpr}, ' '), ' ') AS ts")
      .collect().map { r =>
        val ts = r.getAs[String]("ts")
        var n = 0L; var i = ts.indexOf(needle)
        while (i >= 0) { n += 1; i = ts.indexOf(needle, i + 1) }
        r.getAs[Long]("doc_id") -> n
      }.toMap
    val got = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_matches")).toMap
    assert(got == expected.filter(_._2 > 0),
      "operator matches must equal the brute-force text scan")
  }

  test("dim ablation: full-dim prefix recalls everything, counts fixed") {
    val out = Similarity.dimAblation(spark, Sf).collect()
    assert(out.map(_.getAs[Long]("dim")).toSeq == Seq(8L, 16L, 32L))
    out.foreach { r =>
      assert(r.getAs[Long]("n_retrieved") == 50L) // 10 queries x k=5
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_retrieved"))
      assert(r.getAs[Long]("recall_1e4") <= 10000L)
    }
    // the 64-dim "prefix" is the full vector: recall must be exactly 1
    val full = Similarity.dimAblation(spark, Sf, dims = Seq(64)).collect()
    assert(full.length == 1 && full.head.getAs[Long]("recall_1e4") == 10000L)
    assert(full.head.getAs[Long]("n_hits") == full.head.getAs[Long]("n_retrieved"))
  }

  test("MAD outliers: integer thresholds, flags match a driver recompute") {
    val out = Analytics.madOutliers(spark, Sf).collect()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("n_events")).sum
    assert(total == graft.sources.Tables.events(spark, Sf).count())
    // recompute one group brute-force on the driver
    val g = out.head.getAs[String]("event_type")
    val cents = graft.sources.Tables.events(spark, Sf)
      .filter(col("event_type") === g)
      .selectExpr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c")
      .collect().map(_.getLong(0)).sorted
    def med2(xs: Array[Long]): Long = { // 2x the interpolated median
      val n = xs.length
      if (n % 2 == 1) 2 * xs(n / 2) else xs(n / 2 - 1) + xs(n / 2)
    }
    val m2 = med2(cents)
    assert(out.head.getAs[Long]("med_x2") == m2)
    val d2 = cents.map(c => math.abs(2 * c - m2)).sorted
    val m4 = med2(d2)
    assert(out.head.getAs[Long]("mad_x4") == m4)
    val nOut = cents.count(c => 2 * math.abs(2 * c - m2) > 3 * m4)
    assert(out.head.getAs[Long]("n_outliers") == nOut)
    // MAD flags a minority by construction (3 MADs > 50th percentile)
    out.foreach(r => assert(r.getAs[Long]("n_outliers") * 2 < r.getAs[Long]("n_events")))
  }

  test("behavior overlap: jaccard bounds, symmetric pair coverage, exact spot-check") {
    val out = Analytics.behaviorOverlap(spark, Sf).collect()
    val types = graft.sources.Tables.events(spark, Sf)
      .select("event_type").distinct().collect().map(_.getString(0)).sorted
    // every unordered pair appears exactly once, in sorted order
    assert(out.length == types.length * (types.length - 1) / 2)
    out.foreach { r =>
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
      val (both, na, nb) = (r.getAs[Long]("n_both"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(both <= math.min(na, nb))
      assert(r.getAs[Long]("jaccard_1e4") <= 10000L)
    }
    // exact recompute of one pair from the raw table
    val r0 = out.head
    val ut = graft.sources.Tables.events(spark, Sf)
      .select("user_id", "event_type").distinct()
    val sa = ut.filter(col("event_type") === r0.getAs[String]("type_a"))
      .select("user_id").collect().map(_.getLong(0)).toSet
    val sb = ut.filter(col("event_type") === r0.getAs[String]("type_b"))
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(r0.getAs[Long]("n_both") == (sa intersect sb).size.toLong)
    assert(r0.getAs[Long]("n_a") == sa.size.toLong && r0.getAs[Long]("n_b") == sb.size.toLong)
  }

  test("new vs returning: day-one all new, user first-days count once, conservation") {
    val out = Analytics.newVsReturning(spark, Sf).collect()
    assert(out.nonEmpty)
    // the first active day has only new users
    val first = out.head
    assert(first.getAs[Long]("n_new") == first.getAs[Long]("n_active"))
    assert(first.getAs[Long]("n_returning") == 0L)
    // every user is new on exactly one day: sum(n_new) == distinct users
    val users = graft.sources.Tables.events(spark, Sf)
      .select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_new")).sum == users)
    // active = new + returning, shares bounded
    out.foreach { r =>
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_returning"))
      assert(r.getAs[Long]("new_share_1e4") <= 10000L)
    }
    // sum(n_active) == distinct (user, day) pairs
    val ud = graft.sources.Tables.events(spark, Sf)
      .selectExpr("user_id", "date_format(ts, 'yyyy-MM-dd') AS day").distinct().count()
    assert(out.map(_.getAs[Long]("n_active")).sum == ud)
  }

  test("zipf profile matches the in-memory rank recompute and anchors at 1e4") {
    val out = graft.operators.TextAnalysis.zipfProfile(spark, Sf).collect()
    assert(out.nonEmpty)
    // rank 1 is its own anchor: 1e4 * 1 * f1 / f1 == 1e4 exactly
    out.filter(_.getAs[Long]("rk") == 1L)
      .foreach(r => assert(r.getAs[Long]("rf_ratio_1e4") == 10000L))
    // independent recompute for one source
    val src = out.head.getAs[String]("source")
    val toks = graft.sources.Tables.load(spark, Sf, "documents")
      .filter(col("source") === src)
      .selectExpr(s"explode(${graft.operators.TextAnalysis.TokensExpr}) AS t")
      .collect().map(_.getString(0))
    val byFreq = toks.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, n) => (-n, t) }
    val f1 = byFreq.head._2
    val want = Seq(1, 2, 4, 8, 16, 32, 64).filter(_ <= byFreq.size).map { r =>
      val (t, n) = byFreq(r - 1)
      (r.toLong, t, n, (20000L * r * n + f1) / (2 * f1))
    }
    val got = out.filter(_.getAs[String]("source") == src)
      .map(r => (r.getAs[Long]("rk"), r.getAs[String]("token"),
        r.getAs[Long]("n"), r.getAs[Long]("rf_ratio_1e4"))).toSeq
    assert(got == want)
    // frequencies are non-increasing down the ranks
    got.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 >= b._3)
      case _ =>
    }
  }

  test("retrieval eval metrics recompute from the truth and rank frames") {
    val out = graft.operators.Retrieval.retrievalEval(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(out.map(_._1) == Seq(1L, 5L, 10L))
    // recompute the metrics in memory from the two green constituents:
    // the exact truth pairs and a BM25 ranking restricted to truth queries
    val truth = graft.operators.Dedup.prefixFilterJaccard(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rel = (truth.map { case (a, b) => (a, b) } ++
      truth.map { case (a, b) => (b, a) }).toSeq
    val relByQ = rel.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nQ = relByQ.size.toLong
    val nRel = rel.size.toLong
    val ranked = graft.operators.Retrieval.retrievalRankedForTest(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (k, nq, nr, nh, rec, hit, mrr) =>
      assert(nq == nQ && nr == nRel)
      val hits = ranked.filter { case (q, rank, d) =>
        rank <= k && relByQ.getOrElse(q, Set.empty).contains(d) }
      assert(nh == hits.length.toLong)
      assert(rec == (20000L * nh + nRel) / (2 * nRel))
      val firsts = hits.groupBy(_._1).view.mapValues(_.map(_._2).min).values.toSeq
      assert(hit == (20000L * firsts.size + nQ) / (2 * nQ))
      val sumRr = firsts.map(r => (2000000L + r) / (2 * r)).sum
      assert(mrr == (2 * sumRr + nQ) / (2 * nQ))
    }
    // metrics are monotone non-decreasing in k
    out.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._4 <= b._4 && a._5 <= b._5 && a._6 <= b._6 && a._7 <= b._7)
      case _ =>
    }
  }

  test("lang confusion recomputes from langId and conserves row shares") {
    val declared = graft.sources.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pred = graft.operators.TextAnalysis.langId(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    val want = declared.toSeq.map { case (id, l) => (l, pred(id)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((l, p), n) => (l, p, n) }
      .sortBy { case (l, p, _) => (l, p) }
    val got = graft.operators.TextAnalysis.langConfusion(spark, Sf).collect()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq == want)
    // shares within each declared label sum to ~1 (half-up rounding)
    got.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val s = rows.map(_.getLong(3)).sum
      assert(math.abs(s - 10000L) <= rows.length)
    }
  }

  test("source mix diversity matches the in-memory mass recompute") {
    def halfUp(num: Long, den: Long): Long = (2 * num + den) / (2 * den)
    val rows = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr("source",
        s"CAST(size(${graft.operators.TextAnalysis.TokensExpr}) AS BIGINT) AS m")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val mass = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = mass.values.sum
    val ss = mass.values.map(v => v * v).sum
    val want = (mass.size.toLong, total,
      halfUp(10000L * total * total, ss),
      halfUp(10000L * mass.values.max, total))
    val got = graft.operators.TextAnalysis.sourceMixDiversity(spark, Sf)
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == want)
    // effective sources cannot exceed the actual source count
    assert(got.getLong(2) <= got.getLong(0) * 10000L)
  }

  test("weighted length percentiles match the in-memory cumulative scan") {
    val lens = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr(s"CAST(size(${graft.operators.TextAnalysis.TokensExpr}) AS BIGINT) AS len")
      .collect().map(_.getLong(0))
    val total = lens.sum
    val byLen = lens.groupBy(identity).view.mapValues(_.sum).toSeq.sortBy(_._1)
    def at(pct: Long): Long = {
      var cum = 0L
      byLen.find { case (_, m) => cum += m; cum * 100 >= pct * total }.get._1
    }
    val want = Seq(25L, 50L, 75L, 90L, 99L).map(q => (q, at(q), total))
    val got = graft.operators.TextAnalysis
      .weightedLengthPercentiles(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // percentile lengths are non-decreasing in q
    assert(got.map(_._2) == got.map(_._2).sorted)
  }

  test("zone prune audit: reads cover matches, corner box actually prunes") {
    val got = graft.operators.Layout.zonePruneAudit(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val totalRows = graft.sources.Tables.load(spark, Sf, "lineitem").count()
    got.foreach { case (_, cellsTotal, cellsRead, rowsRead, rowsMatch, amp) =>
      assert(cellsTotal == 16L)
      assert(cellsRead >= 0L && cellsRead <= cellsTotal)
      // skipping must never lose a matching row, and never read past all
      assert(rowsRead >= rowsMatch)
      assert(rowsRead <= totalRows)
      // amplification is consistent with its own inputs (half-up)
      val den = math.max(rowsMatch, 1L)
      assert(amp == (20000L * rowsRead + den) / (2L * den))
    }
    // the z-aligned corner box must skip SOMETHING — that is the point
    // of the layout; a 16/16 read there would mean the audit is vacuous
    assert(got.find(_._1 == 1L).get._3 < 16L)
  }

  test("cohort ltv matches the in-memory cohort recompute and is monotone") {
    def halfUp(num: Long, den: Long): Long = (2 * num + den) / (2 * den)
    val ev = graft.sources.Tables.events(spark, Sf)
      .select(col("user_id"),
        expr("CAST(unix_micros(ts) DIV 1000000 DIV 86400 AS BIGINT)").as("d"),
        col("event_type"),
        expr("CAST(floor(value * 100D + 0.5D) AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val cohort = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val sizes = cohort.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rev = ev.filter(_._3 == "purchase")
      .groupBy(e => (cohort(e._1), e._2 - cohort(e._1))).view
      .mapValues(_.map(_._4).sum).toSeq
      .map { case ((c, o), v) => (c, o, v) }.sortBy(t => (t._1, t._2))
    val want = rev.groupBy(_._1).toSeq.flatMap { case (c, rows) =>
      var cum = 0L
      rows.sortBy(_._2).map { case (_, o, v) =>
        cum += v
        (c, o, v, cum, sizes(c), halfUp(10000L * cum, sizes(c)))
      }
    }.sortBy(t => (t._1, t._2))
    val got = graft.operators.Analytics.cohortLtv(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
    // LTV is non-decreasing down each cohort's curve
    got.groupBy(_._1).values.foreach { rows =>
      val curve = rows.sortBy(_._2).map(_._6)
      assert(curve == curve.sorted)
    }
  }

  test("time-weighted value matches the in-memory step-function recompute") {
    val ev = graft.sources.Tables.events(spark, Sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val tl = rows.sortBy(r => (r._2, r._3))
      val held = tl.zip(tl.tail).map { case (a, b) =>
        (a._4, (b._2 - a._2) / 1000000L)
      }
      val span = held.map(_._2).sum
      if (held.isEmpty || span <= 0) None
      else {
        val wsum = held.map { case (c, d) => c * d }.sum
        Some((uid, held.length.toLong, span,
          (20000L * wsum + span) / (2L * span)))
      }
    }.sortBy(_._1)
    val got = graft.operators.Analytics.timeWeightedValue(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // a held week at high value must dominate: twap lies inside the held
    // cents range for every user
    val centsByUser = ev.groupBy(_._1).view
      .mapValues(rows => rows.sortBy(r => (r._2, r._3)).dropRight(1).map(_._4))
    got.foreach { case (uid, _, _, tw) =>
      val cs = centsByUser(uid)
      assert(tw >= cs.min * 10000L - 10000L && tw <= cs.max * 10000L + 10000L)
    }
  }

  test("lang diversity matches the in-memory Simpson recompute") {
    def halfUp(num: Long, den: Long): Long = (2 * num + den) / (2 * den)
    val rows = graft.sources.Tables.load(spark, Sf, "documents")
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = rows.groupBy(_._1).toSeq.map { case (src, xs) =>
      val cs = xs.groupBy(_._2).values.map(_.size.toLong).toSeq
      val n = cs.sum
      val ss = cs.map(c => c * c).sum
      (src, n, cs.length.toLong,
        halfUp(1000000L * (n * n - ss), n * n),
        halfUp(10000L * n * n, ss))
    }.sortBy(_._1)
    val got = graft.operators.TextAnalysis.langDiversity(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want)
    // index bounds: simpson in [0, 1e6); effective count in [1, n_langs]
    got.foreach { case (_, _, nl, simp, inv) =>
      assert(simp >= 0L && simp < 1000000L)
      assert(inv >= 10000L && inv <= nl * 10000L)
    }
  }

  test("vocab drift equals the in-memory two-slice recompute") {
    val docs = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr("doc_id", s"${graft.operators.TextAnalysis.TokensExpr} AS toks")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val maxId = docs.map(_._1).max
    val counts = scala.collection.mutable.Map[(String, Boolean), Long]()
      .withDefaultValue(0L)
    docs.foreach { case (id, toks) =>
      val old = id * 5 <= maxId * 4
      toks.foreach(t => counts((t, old)) += 1)
    }
    val tOld = counts.collect { case ((_, true), n) => n }.sum
    val tNew = counts.collect { case ((_, false), n) => n }.sum
    val byTok = counts.groupBy(_._1._1).view.mapValues { m =>
      (m.collect { case ((_, true), n) => n }.sum,
       m.collect { case ((_, false), n) => n }.sum)
    }
    val want = byTok.toSeq.collect { case (t, (o, nw)) if o + nw >= 20 =>
      val so = (2000000000L * o + tOld) / (2 * tOld)
      val sn = (2000000000L * nw + tNew) / (2 * tNew)
      (t, o, nw, so, sn, math.abs(sn - so))
    }.sortBy { case (t, _, _, _, _, sh) => (-sh, t) }.take(25)
    val got = graft.operators.TextAnalysis.vocabDrift(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
  }

  test("journey trigrams equal the in-memory per-user sequence recompute") {
    val ev = graft.sources.Tables.events(spark, Sf)
      .selectExpr("user_id", "CAST(ts AS STRING) AS ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val counts = scala.collection.mutable.Map[(String, String, String), Long]()
      .withDefaultValue(0L)
    ev.groupBy(_._1).values.foreach { rows =>
      val seq = rows.sortBy(r => (r._2, r._3)).map(_._4).toIndexedSeq
      seq.sliding(3).filter(_.size == 3)
        .foreach(g => counts((g(0), g(1), g(2))) += 1)
    }
    val want = counts.toSeq.map { case ((a, b, c), n) => (a, b, c, n) }
      .sortBy { case (a, b, c, n) => (-n, a, b, c) }.take(25)
    val got = graft.operators.Analytics.journeyTrigrams(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == want)
  }

  test("shot boundaries recompute from the decoded frame stream") {
    val frames = graft.operators.Multimodal.frameFeatures(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(6))) // asset, idx, gray
    val want = frames.groupBy(_._1).toSeq.map { case (a, fs) =>
      val ordered = fs.sortBy(_._2)
      val cuts = ordered.zip(ordered.tail).collect {
        case ((_, _, p), (_, idx, g)) if math.abs(g - p) * 16 >= p => idx
      }
      (a, ordered.length.toLong, cuts.length.toLong,
        if (cuts.isEmpty) -1L else cuts.min.toLong)
    }.sortBy(_._1)
    val got = graft.operators.Multimodal.shotBoundaries(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // a cut needs a predecessor: boundaries are bounded by n_sampled - 1
    got.foreach { case (_, n, b, _) => assert(b <= n - 1) }
  }

  test("token burstiness equals the in-memory moments recompute") {
    val docs = graft.sources.Tables.load(spark, Sf, "documents")
      .selectExpr("doc_id", s"${graft.operators.TextAnalysis.TokensExpr} AS toks")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val n = docs.length.toLong
    val per = scala.collection.mutable.Map[(Long, String), Long]().withDefaultValue(0L)
    docs.foreach { case (id, toks) => toks.foreach(t => per((id, t)) += 1) }
    val byTok = per.groupBy(_._1._2).view.mapValues { m =>
      val cs = m.values.toSeq
      (cs.size.toLong, cs.sum, cs.map(c => c * c).sum)
    }
    val want = byTok.toSeq.collect { case (t, (df, tot, sq)) if tot >= 50 =>
      (t, df, tot,
        (20000L * (n * sq - tot * tot) + (n - 1) * tot) / (2 * (n - 1) * tot))
    }.sortBy { case (t, _, _, b) => (-b, t) }.take(25)
    val got = graft.operators.TextAnalysis.tokenBurstiness(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    // dispersion of a counting process is non-negative
    got.foreach { case (_, _, _, b) => assert(b >= 0L) }
  }

  test("tokenizer fertility reconciles with per-doc token estimates") {
    val perDoc = graft.operators.TextAnalysis.tokenEstimate(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val langs = graft.sources.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = perDoc.groupBy(t => langs(t._1)).toSeq.map { case (l, g) =>
      val words = g.map(_._2).sum; val pieces = g.map(_._3).sum
      (l, g.length.toLong, words, pieces, (20000L * pieces + words) / (2 * words))
    }.sortBy(_._1)
    val got = graft.operators.TextAnalysis.tokenizerFertility(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want)
    // pieces never undercount words on this regex pair
    got.foreach { case (_, _, w, p, f) => assert(p >= w && f >= 10000L) }
  }

  test("temperature mix equals a driver-side sqrt-mass apportionment") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val bySource = docs.groupBy(_._2)
    val weights = bySource.map { case (src, rows) =>
      val n = rows.size.toLong
      src -> (n, math.floor(math.sqrt(n.toDouble) * 1e6 + 0.5).toLong)
    }
    val wTotal = weights.values.map(_._2).sum
    val want = bySource.toSeq.map { case (src, rows) =>
      val (n, wgt) = weights(src)
      val target = 1000L * wgt / wTotal
      val kept = rows.sortBy(r => (md5hex(r._1.toString), r._1))
        .take(target.toInt)
      (src, n, wgt, target, kept.size.toLong, kept.map(_._3).sum)
    }.sortBy(_._1)
    val got = graft.operators.Sampling.temperatureMix(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
    // the sqrt flattening must hand the tail a larger share than its
    // doc share: min-source kept/total >= min-source docs/total
    val minSrc = want.minBy(_._2)
    assert(minSrc._5 * docs.size >= minSrc._2 * want.map(_._5).sum,
      "temperature sampling must over-represent the smallest source")
  }

  test("bitext margin from the IVF index: exhaustive probe equals brute bit-for-bit") {
    val idx = tmpDir("bitext_ivf")
    Similarity.buildIvfIndex(spark, Sf, idx) // 16 first-N lists
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val brute = rows(Similarity.bitextMarginMine(spark, Sf))
    // full probe => candidates are ALL positive pairs => identical CSLS
    val full = rows(Similarity.bitextMarginFromIndex(spark, Sf, idx,
      nProbe = 16))
    assert(full == brute, "exhaustive probing must reproduce brute mining")
    // partial probe: still one row per mined a, every a from the A shard,
    // and the candidate screen can only shrink the mined set
    val partial = rows(Similarity.bitextMarginFromIndex(spark, Sf, idx))
    assert(partial.map(_._1).distinct.size == partial.size)
    assert(partial.forall(_._1 % 2 == 0))
    assert(partial.size <= brute.size)
    assert(partial.nonEmpty)
  }

  test("bitext margin mining equals a driver-side CSLS recompute") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // the operator's exact arithmetic: left-to-right double fold + norms
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cosMicro(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1e6 + 0.5).toLong
    val aSide = emb.filter(_._1 % 2 == 0); val bSide = emb.filter(_._1 % 2 == 1)
    val pos = for {
      (aid, av) <- aSide; (bid, bv) <- bSide
      m = cosMicro(av, bv) if m > 0
    } yield (aid, bid, m)
    def knnSum(pairs: Seq[(Long, Long)]): (Long, Long) = { // (sum, k) of top-4
      val top = pairs.sortBy { case (id, m) => (-m, id) }.take(4)
      (top.map(_._2).sum, top.size.toLong)
    }
    val fwd = pos.groupBy(_._1).map { case (a, ps) =>
      a -> knnSum(ps.toSeq.map(p => (p._2, p._3))) }
    val bwd = pos.groupBy(_._2).map { case (b, ps) =>
      b -> knnSum(ps.toSeq.map(p => (p._1, p._3))) }
    val want = pos.groupBy(_._1).map { case (a, ps) =>
      val (fs, fk) = fwd(a)
      val scoredPairs = ps.map { case (_, b, m) =>
        val (bs, bk) = bwd(b)
        (b, m, (2L * m * fk * bk * 1000000L) / (fs * bk + bs * fk))
      }
      val (b, m, mm) = scoredPairs.minBy { case (bid, _, marg) => (-marg, bid) }
      (a, b, m, mm, if (mm >= 1060000L) 1L else 0L)
    }.toSeq.sortBy(_._1)
    val got = graft.operators.Similarity.bitextMarginMine(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    // every A-side doc with a positive-cosine pair is matched exactly once
    assert(got.map(_._1).distinct.size == got.size)
  }

  test("registry bitext index face equals a driver-side index-approximated CSLS recompute") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cosMicro(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1e6 + 0.5).toLong
    // first-N quantizer: nearest of the first-16 centroids, tie-break
    // (cm desc, centroid_id asc) — the packed max_by ordering
    val cents = emb.filter(_._1 < 16)
    def centScores(v: Array[Float]): Seq[(Long, Long)] =
      cents.toSeq.map { case (cid, cv) => (cid, cosMicro(v, cv)) }
    def assignOf(v: Array[Float]): Long =
      centScores(v).minBy { case (cid, cm) => (-cm, cid) }._1
    val bAssign = emb.filter(_._1 % 2 == 1)
      .map { case (bid, bv) => bid -> assignOf(bv) }.toMap
    // per A doc: top-3 probed lists, same tie-break
    val probes = emb.filter(_._1 % 2 == 0).map { case (aid, av) =>
      aid -> centScores(av).sortBy { case (cid, cm) => (-cm, cid) }
        .take(3).map(_._1).toSet
    }.toMap
    val byId = emb.toMap
    // index-approximated CSLS: every ingredient over candidate pairs only
    val pos = for {
      (aid, lists) <- probes.toSeq
      (bid, blist) <- bAssign if lists.contains(blist)
      m = cosMicro(byId(aid), byId(bid)) if m > 0
    } yield (aid, bid, m)
    def knnSum(pairs: Seq[(Long, Long)]): (Long, Long) = {
      val top = pairs.sortBy { case (id, m) => (-m, id) }.take(4)
      (top.map(_._2).sum, top.size.toLong)
    }
    val fwd = pos.groupBy(_._1).map { case (a, ps) =>
      a -> knnSum(ps.map(p => (p._2, p._3))) }
    val bwd = pos.groupBy(_._2).map { case (b, ps) =>
      b -> knnSum(ps.map(p => (p._1, p._3))) }
    val want = pos.groupBy(_._1).map { case (a, ps) =>
      val (fs, fk) = fwd(a)
      val scoredPairs = ps.map { case (_, b, m) =>
        val (bs, bk) = bwd(b)
        (b, m, (2L * m * fk * bk * 1000000L) / (fs * bk + bs * fk))
      }
      val (b, m, mm) = scoredPairs.minBy { case (bid, _, marg) => (-marg, bid) }
      (a, b, m, mm, if (mm >= 1060000L) 1L else 0L)
    }.toSeq.sortBy(_._1)
    val got = graft.operators.Similarity.bitextMarginIndexed(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    // the candidate screen prunes: strictly fewer scored pairs than brute
    // at nProbe=3 of 16 lists on this fixture, yet every probed A doc
    // with a positive-cosine candidate is matched exactly once
    assert(got.map(_._1).distinct.size == got.size)
    assert(got.nonEmpty)
  }

  test("registry semantic decontamination equals a driver-side index-probe recompute") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cosMicro(a: Array[Float], b: Array[Float]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1e6 + 0.5).toLong
    // first-N quantizer, packed (cm desc, centroid_id asc) tie-break —
    // the same recompute conventions as the bitext index face
    val cents = emb.filter(_._1 < 16)
    def centScores(v: Array[Float]): Seq[(Long, Long)] =
      cents.toSeq.map { case (cid, cv) => (cid, cosMicro(v, cv)) }
    val corpusAssign = emb.filter(_._1 % 97 != 0)
      .map { case (id, v) =>
        id -> centScores(v).minBy { case (cid, cm) => (-cm, cid) }._1 }.toMap
    val probes = emb.filter(_._1 % 97 == 0).map { case (eid, ev) =>
      eid -> centScores(ev).sortBy { case (cid, cm) => (-cm, cid) }
        .take(3).map(_._1).toSet
    }.toMap
    val byId = emb.toMap
    val hits = for {
      (eid, lists) <- probes.toSeq
      (cid, clist) <- corpusAssign if lists.contains(clist)
      m = cosMicro(byId(cid), byId(eid)) if m >= 350000L
    } yield (cid, eid, m)
    val want = hits.groupBy(_._1).map { case (cid, ps) =>
      (cid, ps.size.toLong, ps.map(_._3).max)
    }.toSeq.sortBy(_._1)
    val got = graft.operators.Similarity.semanticDecontaminate(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    assert(got.nonEmpty, "fixture must exercise at least one contamination hit")
  }

  test("incremental decontamination (build prefix + guarded append) equals one-shot") {
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = rows(graft.operators.Similarity.semanticDecontaminate(spark, Sf))
    val incr = rows(SparkEntry.queries("q_semantic_decontaminate_incremental")(spark, Sf))
    assert(incr == oneShot)
    // the registry entry must stay idempotent across reruns (the prefix
    // rebuild truncates the previous append, so the boundary guard sees
    // a clean index every time)
    val again = rows(SparkEntry.queries("q_semantic_decontaminate_incremental")(spark, Sf))
    assert(again == oneShot)
  }

  test("semantic decontamination flags a planted paraphrase and nothing else") {
    // a paraphrase shares no n-gram but sits next to its eval doc in
    // embedding space — plant exactly that and pin recall + precision at
    // a high threshold where the random background can never collide
    val rng = new scala.util.Random(7)
    val dim = 8
    def randVec(): Array[Float] = Array.fill(dim)(rng.nextGaussian().toFloat)
    val base = (0L until 120L).map(i => i -> randVec()).toMap
    // vec 50 := vec 0 (an eval doc: 0 % 97 == 0) + 1% noise
    val planted = base.updated(50L,
      base(0L).map(x => x + 0.01f * rng.nextGaussian().toFloat))
    val dir = tmpDir("decon_fixture")
    import spark.implicits._
    planted.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Similarity
      .semanticDecontaminate(spark, dir, thresholdMicro = 950000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((50L, 1L)),
      s"expected exactly the planted paraphrase flagged once, got $got")
  }
}
