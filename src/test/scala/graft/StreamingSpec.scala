package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, expr, max}
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Dedup
import graft.streaming.EventsStream
import graft.streaming.EventsStream.Event

class StreamingSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed aggregation over a memory stream matches batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:25:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 11:10:00"), 2, "view", 3.0),
      Event(4, ts("2024-01-01 11:40:00"), 1, "click", 4.0))
    val agg = EventsStream.hourlyCounts(input.toDF())
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      // advance watermark far enough to close both windows
      input.addData(Event(9, ts("2024-01-01 14:00:00"), 9, "view", 0.0))
      q.processAllAvailable()
      val out = spark.table("hourly")
        .select("bucket_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(out.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
      assert(out.contains(("2024-01-01 11:00:00.0", "view", 1L, 3.0)))
      assert(out.contains(("2024-01-01 11:00:00.0", "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming type drift on the fixture equals the batch chi2 audit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val baseline = EventsStream.typeBaseline(
      graft.sources.Tables.events(spark, Sf))
    val input = MemoryStream[Event]
    val q = EventsStream.typeDrift(input.toDS(), baseline)
      .writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // sentinel far in the future finalizes every fixture window
      input.addData(Event(999999, ts("2030-01-01 00:00:00"), 999999, "view", 0.0))
      q.processAllAvailable()
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:00").withZone(java.time.ZoneOffset.UTC)
      val got = spark.table("drift").collect()
        .map(r => (fmt.format(r.getTimestamp(0).toInstant), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .filter(_._1 < "2030").toSet
      val expected = graft.operators.Quality.typeDriftHourly(spark, Sf)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      assert(got === expected)
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("streaming bitmap index readouts equal the batch bitmap operators") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.bitmapIndex(input.toDF())
      .writeStream.format("memory").queryName("bmidx")
      .outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val distinct = spark.sql(
        """SELECT event_type, sum(bit_count(bits)) AS n_users
           FROM bmidx GROUP BY event_type""")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantDistinct = graft.operators.Sketches.bitmapDistinctUsers(spark, Sf)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(distinct === wantDistinct)
      val frags = spark.table("bmidx").collect()
        .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      val byType = frags.groupBy(_._1._1)
      val types = byType.keys.toSeq.sorted
      val overlap = (for {
        ta <- types; tb <- types if ta < tb
        wa = byType(ta).map { case ((_, bl, w), bits) => (bl, w) -> bits }.toMap
        n = byType(tb).map { case ((_, bl, w), bits) =>
          java.lang.Long.bitCount(wa.getOrElse((bl, w), 0L) & bits).toLong
        }.sum if n > 0
      } yield (ta, tb) -> n).toMap
      val wantOverlap = graft.operators.Sketches.bitmapOverlap(spark, Sf)
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(overlap === wantOverlap)
    } finally q.stop()
  }

  test("streaming cusum cells + batch epilogue equal the batch detector") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.cusumCells(input.toDF())
      .writeStream.format("memory").queryName("cusumcells")
      .outputMode(OutputMode.Complete()).start()
    try {
      // split MID-DAY so at least one day's cents accumulate across
      // triggers (the state-merge path, not just fresh rows)
      val (b1, b2) = all.splitAt(all.length / 2 + 7)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = graft.operators.Analytics
        .cusumFromDaily(spark.table("cusumcells")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      val want = graft.operators.Analytics.cusumChangepoint(spark, Sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming freshness cells + batch readout equal the batch audit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.freshnessCells(input.toDF())
      .writeStream.format("memory").queryName("freshcells")
      .outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2 + 1)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = graft.operators.Quality
        .freshnessFromCells(spark.table("freshcells")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val want = graft.operators.Quality.freshnessAudit(spark, Sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming moment cells + batch readout equal the batch profile") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.momentCells(input.toDF())
      .writeStream.format("memory").queryName("momentcells")
      .outputMode(OutputMode.Complete()).start()
    try {
      // split mid-feed so every type's power sums MERGE across triggers
      val (b1, b2) = all.splitAt(all.length / 2 + 3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = graft.operators.Quality
        .momentReadoutFromSums(spark.table("momentcells")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      val want = graft.operators.Quality.momentProfile(spark, Sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming daily cells + holt epilogue equal the batch smoother") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    // the Holt face REUSES cusumCells verbatim: daily cents cells are
    // one complete-mode state table serving both monitors
    val q = EventsStream.cusumCells(input.toDF())
      .writeStream.format("memory").queryName("holtcells")
      .outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2 + 7)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))
      val got = graft.operators.Analytics
        .holtFromDaily(spark.table("holtcells")).collect().map(key).toSeq
      val want = graft.operators.Analytics.holtForecast(spark, Sf)
        .collect().map(key).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming seq-span cells + pair epilogue equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.seqSpanCells(input.toDF())
      .writeStream.format("memory").queryName("seqspans")
      .outputMode(OutputMode.Complete()).start()
    try {
      // split mid-stream so some (user, type) min/max cells must merge
      // a second batch's occurrences into existing state
      val (b1, b2) = all.splitAt(all.length / 2 + 3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = graft.operators.Mining
        .seqPairsFromSpans(spark.table("seqspans")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val want = graft.operators.Mining.seqPairSupport(spark, Sf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming seasonal cells + batch epilogue equal the batch monitor") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.seasonalCells(input.toDF())
      .writeStream.format("memory").queryName("seasonalcells")
      .outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = graft.operators.Quality
        .seasonalFromCells(spark.table("seasonalcells")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
      val want = graft.operators.Quality.seasonalAnomaly(spark, Sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("sessionization: 30-min gap splits sessions, state emits on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventsStream.sessionize(input.toDS())
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
        // 50-min gap -> new session
        Event(3, ts("2024-01-01 11:00:00"), 1, "click", 4.0))
      q.processAllAvailable()
      // push watermark forward so the open session times out
      input.addData(Event(9, ts("2024-01-01 15:00:00"), 2, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(10, ts("2024-01-01 20:00:00"), 3, "view", 0.0))
      q.processAllAvailable()
      val out = spark.table("sessions").as[EventsStream.UserSession]
        .collect().filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(out.length >= 1)
      val first = out.head
      assert(first.n_events == 2 && first.sum_value == 3.0)
      assert(first.session_start == ts("2024-01-01 10:00:00"))
      assert(first.session_end == ts("2024-01-01 10:10:00"))
    } finally q.stop()
  }

  test("streaming conversions: purchases resolve signups across batches, watermark expires the rest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val conv = EventsStream.conversions(input.toDS(), windowDays = 7)
    val q = conv.writeStream.format("memory").queryName("conversions")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 signs up; user 2 signs up; user 2 purchases BEFORE
      // signing up (must not convert the later signup)
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "signup", 0.0),
        Event(2, ts("2024-01-02 09:00:00"), 2, "purchase", 5.0),
        Event(3, ts("2024-01-02 10:00:00"), 2, "signup", 0.0))
      q.processAllAvailable()
      // batch 2: user 1 purchases inside the 7d horizon -> converted NOW,
      // before any watermark reaches user 1's deadline
      input.addData(Event(4, ts("2024-01-03 10:00:00"), 1, "purchase", 9.0))
      q.processAllAvailable()
      val mid = spark.table("conversions")
        .collect().map(r => (r.getLong(1), r.getBoolean(3))).toMap
      assert(mid === Map(1L -> true), s"only user 1's signup is resolved: $mid")
      // batch 3: a far-future event drives the watermark (1h allowance)
      // past user 2's Jan 9 deadline -> expired unconverted
      input.addData(Event(9, ts("2024-02-01 00:00:00"), 9, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(10, ts("2024-02-01 01:00:00"), 9, "view", 0.0))
      q.processAllAvailable()
      val fin = spark.table("conversions")
        .collect().map(r => (r.getLong(1), r.getBoolean(3))).toMap
      assert(fin === Map(1L -> true, 3L -> false), s"user 2 expires unconverted: $fin")
    } finally q.stop()
  }

  test("streaming conversions on the fixture equal the batch funnel day rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay ALL sf0.001 events through the stream in two batches, flush
    // every pending signup with a far-future watermark driver, then the
    // day-rolled outcomes must equal the batch operator's counts exactly
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.conversions(input.toDS(), windowDays = 7)
      .writeStream.format("memory").queryName("conv_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(Event(999999, ts("2030-01-01 00:00:00"), 999999, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(999998, ts("2030-01-01 01:00:00"), 999999, "view", 0.0))
      q.processAllAvailable()
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
        .withZone(java.time.ZoneOffset.UTC)
      val got = spark.table("conv_parity")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .groupBy(t => fmt.format(java.time.Instant.ofEpochSecond(t._2 / 1000000L)))
        .view.mapValues(g => (g.length.toLong, g.count(_._3).toLong)).toMap
      val expected = graft.operators.Analytics.conversionWindow(spark, Sf)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === expected)
      assert(expected.values.map(_._1).sum > 0)
    } finally q.stop()
  }

  test("streaming new-vs-returning: first day flags new, later days returning, no re-emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventsStream.newVsReturning(input.toDS())
      .writeStream.format("memory").queryName("nvr")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
        Event(2, ts("2024-01-01 11:00:00"), 1, "click", 0.0)) // same day: one flag
      q.processAllAvailable()
      input.addData(
        Event(3, ts("2024-01-02 10:00:00"), 1, "view", 0.0),  // next day: returning
        Event(4, ts("2024-01-02 10:30:00"), 2, "view", 0.0))  // user 2: new
      q.processAllAvailable()
      val got = spark.table("nvr").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      assert(got === Set(
        (1L, "2024-01-01", true),
        (1L, "2024-01-02", false),
        (2L, "2024-01-02", true)))
    } finally q.stop()
  }

  test("streaming new-vs-returning on the fixture equals the batch daily split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.newVsReturning(input.toDS())
      .writeStream.format("memory").queryName("nvr_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("nvr_parity").collect()
        .map(r => (r.getString(1), r.getBoolean(2)))
        .groupBy(_._1)
        .view.mapValues(g => (g.length.toLong, g.count(_._2).toLong)).toMap
      val expected = graft.operators.Analytics.newVsReturning(spark, Sf)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === expected)
      assert(expected.values.map(_._2).sum > 0)
    } finally q.stop()
  }

  test("streaming throttle: greedy chain carries across batches, matches batch recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val kept = EventsStream.throttle(input.toDS())
    val q = kept.writeStream.format("memory").queryName("throttled")
      .outputMode(OutputMode.Append()).start()
    val all = Seq(
      // batch 1: user 1 clicks at 10:00 (kept) and 11:00 (dropped, inside
      // 24h); user 1 view (independent key) kept
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 11:00:00"), 1, "click", 1.0),
      Event(3, ts("2024-01-01 12:00:00"), 1, "view", 1.0),
      // batch 2: 20:00 still inside the 24h window of the KEPT 10:00
      // (a lag-gap filter would keep it — gap from 11:00 is 9h... also
      // inside; from the kept 10:00 it is 10h: dropped either way), and
      // next-day 10:30 is 24.5h after the kept 10:00 -> kept
      Event(4, ts("2024-01-01 20:00:00"), 1, "click", 1.0),
      Event(5, ts("2024-01-02 10:30:00"), 1, "click", 1.0))
    try {
      input.addData(all.take(3): _*)
      q.processAllAvailable()
      input.addData(all.drop(3): _*)
      q.processAllAvailable()
      val ids = spark.table("throttled").select("event_id")
        .collect().map(_.getLong(0)).toSet
      // driver-side greedy recompute over the full ordered feed
      val winUs = SparkEntry.Throttle.windowUs
      val brute = all.groupBy(e => (e.user_id, e.event_type)).values.flatMap { g =>
        var lastKept = Long.MinValue
        g.sortBy(_.ts.getTime).filter { e =>
          val us = e.ts.getTime * 1000L
          val keep = lastKept == Long.MinValue || us > lastKept + winUs
          if (keep) lastKept = us
          keep
        }
      }.map(_.event_id).toSet
      assert(ids == brute && ids == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("streaming scd2 emits closed intervals matching the batch builder") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val closed = EventsStream.scd2(input.toDS())
    val q = closed.writeStream.format("memory").queryName("scd2closed")
      .outputMode(OutputMode.Append()).start()
    val all = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 11:00:00"), 1, "click", 1.0), // run continues
      Event(3, ts("2024-01-01 12:00:00"), 1, "view", 1.0),  // closes click
      // batch 2: run spanning the batch boundary closes with version 2
      Event(4, ts("2024-01-01 13:00:00"), 1, "purchase", 1.0),
      Event(5, ts("2024-01-01 14:00:00"), 2, "view", 1.0))
    try {
      input.addData(all.take(3): _*)
      q.processAllAvailable()
      input.addData(all.drop(3): _*)
      q.processAllAvailable()
      val out = spark.table("scd2closed").as[EventsStream.ClosedInterval]
        .collect().sortBy(c => (c.user_id, c.version))
      def us(s: String) = ts(s).toInstant.getEpochSecond * 1000000L
      assert(out.toSeq == Seq(
        EventsStream.ClosedInterval(1, "click",
          us("2024-01-01 10:00:00"), us("2024-01-01 12:00:00"), 1),
        EventsStream.ClosedInterval(1, "view",
          us("2024-01-01 12:00:00"), us("2024-01-01 13:00:00"), 2)))
      // closed stream == the batch builder's non-current rows on the
      // same feed (same run collapse, same versions)
      val batch = all.map(e => (e.user_id, e.event_id,
          e.event_type, e.ts.toInstant.getEpochSecond * 1000000L))
        .toDF("user_id", "event_id", "event_type", "t_us")
      val emptyPrior = Seq.empty[(Long, String, Long, Option[Long], Long, Boolean)]
        .toDF("user_id", "event_type", "valid_from_us", "valid_to_us", "version", "is_current")
      val batchClosed = graft.operators.Analytics.scd2Merge(emptyPrior, batch)
        .filter(!col("is_current"))
        .collect().map(r => EventsStream.ClosedInterval(r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(c => (c.user_id, c.version))
      assert(out.toSeq == batchClosed.toSeq)
    } finally q.stop()
  }

  test("streaming ewma continues the decay chain across batches, integer-exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val pts = EventsStream.ewma(input.toDS())
    val q = pts.writeStream.format("memory").queryName("ewmapts")
      .outputMode(OutputMode.Append()).start()
    val all = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.00),
      Event(2, ts("2024-01-01 10:05:00"), 1, "click", 2.00),
      Event(3, ts("2024-01-01 10:10:00"), 1, "click", 4.00),
      // batch 2 continues the same user's chain
      Event(4, ts("2024-01-01 10:15:00"), 1, "click", 8.00),
      Event(5, ts("2024-01-01 10:20:00"), 2, "view", 3.00))
    try {
      input.addData(all.take(3): _*)
      q.processAllAvailable()
      input.addData(all.drop(3): _*)
      q.processAllAvailable()
      val out = spark.table("ewmapts").as[EventsStream.EwmaPoint]
        .collect().sortBy(_.event_id)
      // hand-computed integer chain: weights 32,16,8,... half-up 1e-4
      // e1: 100*10000 = 1000000
      // e2: (20000*(32*200+16*100)+48)/(2*48) = floor(166666.67..) -> exact div
      def ew(lags: Seq[Long]): Long = {
        val (n, d) = lags.take(6).zipWithIndex.foldLeft((0L, 0L)) {
          case ((a, b), (c, i)) => (a + c * (32L >> i), b + (32L >> i))
        }
        (20000L * n + d) / (2L * d)
      }
      assert(out.map(_.ewma_1e4).toSeq == Seq(
        ew(Seq(100)), ew(Seq(200, 100)), ew(Seq(400, 200, 100)),
        ew(Seq(800, 400, 200, 100)), ew(Seq(300))))
      // and the whole stream equals the batch operator run over the same
      // feed written as an events table
      val dir = tmpDir("ewma-stream")
      all.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = graft.operators.Analytics.ewmaUserValue(spark, dir)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
      assert(out.map(p => (p.event_id, p.cents, p.ewma_1e4)).toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming journey trigrams span batch boundaries and match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val hits = EventsStream.journeyTrigrams(input.toDS())
    val q = hits.writeStream.format("memory").queryName("trihits")
      .outputMode(OutputMode.Append()).start()
    val all = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(3, ts("2024-01-01 10:10:00"), 1, "cart", 1.0),
      // batch 2: the next trigram SPANS the trigger boundary
      Event(4, ts("2024-01-01 10:15:00"), 1, "purchase", 1.0),
      Event(5, ts("2024-01-01 10:20:00"), 2, "view", 1.0))
    try {
      input.addData(all.take(3): _*)
      q.processAllAvailable()
      input.addData(all.drop(3): _*)
      q.processAllAvailable()
      val out = spark.table("trihits").as[EventsStream.TrigramHit]
        .collect().sortBy(_.event_id)
      assert(out.map(h => (h.e1, h.e2, h.e3)).toSeq ==
        Seq(("view", "click", "cart"), ("click", "cart", "purchase")))
      // aggregated replay equals the batch operator over the same feed
      val dir = tmpDir("trigram-stream")
      all.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = graft.operators.Analytics.journeyTrigrams(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
      val streamAgg = out.map(h => (h.e1, h.e2, h.e3))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .map { case ((a, b, c), n) => (a, b, c, n) }
        .sortBy { case (a, b, c, n) => (-n, a, b, c) }
      assert(streamAgg == batch)
    } finally q.stop()
  }

  test("streaming twap intervals span batch boundaries and match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val ivs = EventsStream.twapIntervals(input.toDS())
    val q = ivs.writeStream.format("memory").queryName("twapivs")
      .outputMode(OutputMode.Append()).start()
    val all = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.00),
      Event(2, ts("2024-01-01 10:05:00"), 1, "click", 3.00),
      // batch 2: the open hold from e2 must close across the boundary
      Event(3, ts("2024-01-01 10:20:00"), 1, "purchase", 5.00),
      Event(4, ts("2024-01-01 10:30:00"), 2, "view", 2.00))
    try {
      input.addData(all.take(2): _*)
      q.processAllAvailable()
      input.addData(all.drop(2): _*)
      q.processAllAvailable()
      val out = spark.table("twapivs").as[EventsStream.HeldInterval]
        .collect().sortBy(h => (h.user_id, h.dur_s))
      assert(out.map(h => (h.user_id, h.cents, h.dur_s)).toSeq == Seq(
        (1L, 100L, 300L), (1L, 300L, 900L)))
      // rollup over the emitted holds equals the batch operator
      val dir = tmpDir("twap-stream")
      all.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = graft.operators.Analytics.timeWeightedValue(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      val rollup = out.groupBy(_.user_id).toSeq.flatMap { case (u, hs) =>
        val span = hs.map(_.dur_s).sum
        if (span <= 0) None
        else {
          val wsum = hs.map(h => h.cents * h.dur_s).sum
          Some((u, hs.length.toLong, span, (20000L * wsum + span) / (2L * span)))
        }
      }.sortBy(_._1)
      assert(rollup == batch)
    } finally q.stop()
  }

  test("streaming markov steps cut at first purchase and match batch attribution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val steps = EventsStream.markovSteps(input.toDS())
    val q = steps.writeStream.format("memory").queryName("mkvsteps")
      .outputMode(OutputMode.Append()).start()
    val all = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      // batch 2: the conversion spans the trigger boundary; the
      // post-conversion event must NOT emit (journey closed)
      Event(3, ts("2024-01-01 10:10:00"), 1, "purchase", 5.0),
      Event(4, ts("2024-01-01 10:15:00"), 1, "view", 1.0),
      Event(5, ts("2024-01-01 10:20:00"), 2, "view", 1.0),
      Event(6, ts("2024-01-01 10:25:00"), 2, "error", 1.0))
    try {
      input.addData(all.take(2): _*)
      q.processAllAvailable()
      input.addData(all.drop(2): _*)
      q.processAllAvailable()
      val out = spark.table("mkvsteps").as[EventsStream.MarkovStep]
        .collect().sortBy(s => (s.user_id, s.pos))
      assert(out.map(s => (s.user_id, s.src, s.dst)).toSeq == Seq(
        (1L, "START", "view"), (1L, "view", "click"), (1L, "click", "CONV"),
        (2L, "START", "view"), (2L, "view", "error")))
      // readout: each user's last OPEN step becomes a DROP terminal, then
      // the shared value-iteration epilogue equals the batch operator
      val dir = tmpDir("markov-stream")
      all.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val drops = out.groupBy(_.user_id).values.toSeq
        .map(_.maxBy(_.pos)).filter(_.dst != "CONV")
        .map(s => (s.dst, "DROP"))
      val trans = (out.map(s => (s.src, s.dst)).toSeq ++ drops)
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .map { case ((a, b), n) => (a, b, n) }
        .toDF("src", "dst", "cnt")
      // same scenario rule as the batch operator: channels = distinct
      // transition srcs minus START (journey-observed states only)
      val channels = (out.map(_.src).toSeq ++ drops.map(_._1))
        .distinct.filter(_ != "START").toDF("rm")
      val got = graft.operators.Analytics
        .markovFromTransitions(spark, trans, channels, 12)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val batch = graft.operators.Analytics.markovAttribution(spark, dir, 12)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming dedup drops in-watermark duplicate event_ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = EventsStream.dedupedEvents(input.toDF())
    val q = out.writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 1, "view", 2.0),
        Event(1, ts("2024-01-01 10:02:00"), 1, "click", 1.0)) // dup id
      q.processAllAvailable()
      input.addData(Event(3, ts("2024-01-01 10:03:00"), 2, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events with the user's recent clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val joined = EventsStream.recentClickJoin(input.toDF())
    val q = joined.writeStream.format("memory").queryName("clickjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:05:00"), 1, "view", 2.0),   // joins click 1
        Event(3, ts("2024-01-01 10:20:00"), 1, "view", 3.0),   // >10min after click 1
        Event(4, ts("2024-01-01 10:05:00"), 2, "view", 4.0))   // other user
      q.processAllAvailable()
      val pairs = spark.table("clickjoin")
        .select("event_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((2L, 1L)))
    } finally q.stop()
  }

  test("traffic stream ingests each landed CSV exactly once") {
    import java.nio.file.Files
    val root = tmpPath("trafficstream")
    val (raw, wh, ckpt) = (s"$root/raw", s"$root/wh", s"$root/ckpt")
    new java.io.File(raw).mkdirs()
    def writeCsv(name: String, rows: Int): Unit = {
      val lines = (0 until rows).map(i => f"23/05/2021 ${i / 12}%02d:${(i % 12) * 5}%02d,${4.0 + i * 0.1}%.4f")
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        ("Time,Traffic\n" + lines.mkString("\n")).getBytes)
    }
    val runTs = ts("2026-01-01 00:00:00")
    writeCsv("day1.csv", 24)
    graft.streaming.TrafficStream.start(spark, raw, wh, ckpt, runTs).awaitTermination()
    assert(spark.read.parquet(wh).count() == 24)
    // second file lands; rerun picks up ONLY the new file (checkpoint)
    writeCsv("day2.csv", 12)
    graft.streaming.TrafficStream.start(spark, raw, wh, ckpt, runTs).awaitTermination()
    val out = spark.read.parquet(wh)
    assert(out.count() == 36)
    assert(out.columns.toSeq == Seq("time", "traffic", "created_at"))
    // day-first parse held: hour 1 of day1 file = 2021-05-23 01:00
    assert(out.filter(org.apache.spark.sql.functions.col("time") ===
      ts("2021-05-23 01:00:00")).count() == 1)
  }

  test("streaming upsert applies CDC batches keyed and versioned") {
    import java.nio.file.Files
    import spark.implicits._
    val root = tmpPath("streamupsert")
    val (raw, tbl, ckpt) = (s"$root/raw", s"$root/tbl", s"$root/ckpt")
    new java.io.File(raw).mkdirs()
    def land(name: String, rows: Seq[(Long, Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        ("k,ver,v\n" + rows.map { case (k, ver, v) => s"$k,$ver,$v" }.mkString("\n")).getBytes)
    def run(): Unit = {
      val src = spark.readStream
        .schema("k LONG, ver LONG, v STRING")
        .option("header", "true").csv(raw)
      graft.streaming.TrafficStream
        .startUpsert(spark, src, tbl, ckpt, Seq("k"), Seq("ver"))
        .awaitTermination()
    }
    // batch 1: initial state, including an in-batch same-key race (ver wins)
    land("b1.csv", Seq((1L, 1L, "a"), (2L, 1L, "b"), (2L, 3L, "B")))
    run()
    val after1 = spark.read.parquet(tbl).as[(Long, Long, String)].collect().toSet
    assert(after1 == Set((1L, 1L, "a"), (2L, 3L, "B")))
    // batch 2: update key 1, insert key 3; key 2 untouched
    land("b2.csv", Seq((1L, 9L, "A2"), (3L, 1L, "c")))
    run()
    val after2 = spark.read.parquet(tbl).as[(Long, Long, String)].collect().toSet
    assert(after2 == Set((1L, 9L, "A2"), (2L, 3L, "B"), (3L, 1L, "c")))
  }

  test("sliding windows: an event lands in overlapping 15/5-min windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = EventsStream.slidingRates(input.toDF())
    val q = agg.writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, ts("2024-01-01 10:07:00"), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(2, ts("2024-01-01 14:00:00"), 2, "view", 0.0))
      q.processAllAvailable()
      val windows = spark.table("sliding")
        .filter("event_type = 'click'")
        .collect().map(_.getTimestamp(0).toString).toSet
      // 10:07 falls in [09:55,10:10), [10:00,10:15), [10:05,10:20)
      assert(windows == Set("2024-01-01 09:55:00.0",
        "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0"))
    } finally q.stop()
  }

  test("streaming bloom screen: flags cross-batch near-dups, never misses one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("bloomstream")
    val input = MemoryStream[(Long, String)]
    val body = "the quick brown fox jumps over the lazy dog and runs far away home"
    val q = graft.streaming.BloomScreenStream.start(
      input.toDF().toDF("doc_id", "text"),
      s"$base/filter", s"$base/flagged", s"$base/ckpt")
    try {
      // batch 0: nothing prior — nobody can be flagged
      input.addData((1L, body),
        (2L, "completely different words about streaming parquet indexes here"))
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$base/flagged/batch=0")
      assert(b0.isEmpty, "first batch has no history to hit")
      // batch 1: a near-dup of doc 1 plus a fresh doc — the near-dup
      // shares a full signature band, so the screen MUST flag it (no
      // false negatives); the fresh doc may only appear as a (rare) FP
      input.addData((10L, body + " again"),
        (11L, "unrelated text speaking of benchmarks and sorted runs today"))
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$base/flagged/batch=1")
        .collect().map(_.getLong(0)).toSet
      assert(b1.contains(10L), s"cross-batch near-dup not flagged: $b1")
      // ground truth from the batch machinery: docs of batch 1 sharing a
      // band key with batch 0 must ALL be flagged (bloom superset)
      val bands = Dedup.bandSigRows(
        Seq((1L, body), (2L, "completely different words about streaming parquet indexes here"),
          (10L, body + " again"),
          (11L, "unrelated text speaking of benchmarks and sorted runs today"))
          .toDF("doc_id", "text"))
        .select(col("doc_id"), concat(col("band_idx").cast("string"), col("band_val")).as("bkey"))
      val trueSharers = bands.filter(col("doc_id") >= 10L).as("n")
        .join(bands.filter(col("doc_id") < 10L).as("o"), Seq("bkey"))
        .select(col("n.doc_id")).collect().map(_.getLong(0)).toSet
      assert(trueSharers.subsetOf(b1), s"missed true band-sharers: $trueSharers vs $b1")
      // the filter state stays bounded: distinct positions only
      val posCount = spark.read.parquet(s"$base/filter").select("pos").distinct().count()
      assert(posCount <= 65536)
    } finally q.stop()
  }

  test("streaming diversity cells + batch readout equal the batch audit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val input = MemoryStream[(String, String)]
    val q = graft.streaming.CorpusStream
      .diversityCells(input.toDF().toDF("source", "lang"))
      .writeStream.format("memory").queryName("divcells")
      .outputMode(OutputMode.Complete()).start()
    try {
      // split mid-corpus so (source, lang) cells MERGE across triggers
      val (b1, b2) = all.splitAt(all.length / 2 + 3)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = graft.operators.TextAnalysis
        .diversityFromCounts(spark.table("divcells")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
      val want = graft.operators.TextAnalysis.langDiversity(spark, Sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming winnow screen: per-batch pairs equal the batch operator over the corpus-so-far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("winnowstream")
    val quoted = "alpha beta gamma delta epsilon zeta eta theta"
    val d1 = Seq(
      (1L, quoted),
      (2L, "intro words " + quoted + " closing remarks"),
      (3L, "completely different vocabulary everywhere here now"))
    val d2 = Seq((10L, "second wave copy " + quoted + " trailing text"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.WinnowStream.start(
      input.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/pairs", s"$base/ckpt",
      k = 8, w = 4, minShared = 1, dfCap = 100, overlapMin1e4 = 0)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "n_shared", "overlap_1e4").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    try {
      input.addData(d1: _*)
      q.processAllAvailable()
      // batch 0's pairs ARE the batch operator over batch 0's corpus
      val got0 = pairsOf(spark.read.parquet(s"$base/pairs/batch=0"))
      val want0 = pairsOf(graft.operators.Dedup
        .winnowPairsCore(d1.toDF("doc_id", "text"), 8, 4, 1L, 100L, 0L))
      assert(got0 == want0, s"batch 0: $got0 vs $want0")
      assert(got0.exists(p => p._1 == 1L && p._2 == 2L),
        "the intra-batch quoting pair must surface")
      input.addData(d2: _*)
      q.processAllAvailable()
      // batch 1's pairs = the batch operator over the WHOLE corpus-so-far,
      // restricted by MEMBERSHIP: at least one member in batch 1, not both
      // members prior (NOT "greater member arrived in batch 1" — pairs are
      // canonicalized least/greatest, so that phrasing only coincides with
      // membership under monotone doc_ids; the r11 advisory) — found via
      // the persistent index, without re-reading batch 0 text
      val ids1 = d2.map(_._1).toSet
      val got1 = pairsOf(spark.read.parquet(s"$base/pairs/batch=1"))
      val want1 = pairsOf(graft.operators.Dedup
        .winnowPairsCore((d1 ++ d2).toDF("doc_id", "text"), 8, 4, 1L, 100L, 0L))
        .filter(p => ids1.contains(p._1) || ids1.contains(p._2))
      assert(got1 == want1, s"batch 1: $got1 vs $want1")
      assert(got1.exists(p => p._1 == 1L && p._2 == 10L),
        "the cross-batch quote must be found via the index")
      // batch 2 arrives with a SMALLER doc_id than the indexed doc 10: the
      // pair (5, 10)'s greater member predates this batch, so the old
      // greater-id phrasing would exclude it — membership demands it
      val d3 = Seq((5L, "late arrival quoting " + quoted + " out of order"))
      input.addData(d3: _*)
      q.processAllAvailable()
      val ids2 = d3.map(_._1).toSet
      val got2 = pairsOf(spark.read.parquet(s"$base/pairs/batch=2"))
      val want2 = pairsOf(graft.operators.Dedup
        .winnowPairsCore((d1 ++ d2 ++ d3).toDF("doc_id", "text"), 8, 4, 1L, 100L, 0L))
        .filter(p => ids2.contains(p._1) || ids2.contains(p._2))
      assert(got2 == want2, s"batch 2: $got2 vs $want2")
      assert(got2.exists(p => p._1 == 5L && p._2 == 10L),
        "the non-monotone arrival must pair with the LARGER prior id")
      assert(!((got0 ++ got1 ++ got2).exists(p => p._1 == 3L || p._2 == 3L)),
        "the disjoint-vocabulary doc must never pair")
      // every screened doc's fingerprints are indexed
      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed == Set(1L, 2L, 3L, 5L, 10L))
    } finally q.stop()
  }

  test("streaming substring screen: per-batch spans equal the batch operator over the corpus-so-far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("substrstream")
    val quoted = "alpha beta gamma delta epsilon zeta eta theta"
    val d1 = Seq(
      (1L, quoted),
      (2L, "intro words " + quoted + " closing remarks"),
      (3L, "completely different vocabulary everywhere here now"))
    val d2 = Seq((10L, "second wave copy " + quoted + " trailing text"))
    val d3 = Seq((5L, "late arrival quoting " + quoted + " out of order"))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.SubstringStream.start(
      input.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/spans", s"$base/ckpt",
      k = 8, dfCap = 100, minLen = 10)
    def spansOf(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "start_a", "start_b", "match_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    def batchOver(docs: Seq[(Long, String)]) = spansOf(graft.operators.Dedup
      .substringDedupCore(docs.toDF("doc_id", "text"), 8, 100L, 10L))
    try {
      input.addData(d1: _*)
      q.processAllAvailable()
      val got0 = spansOf(spark.read.parquet(s"$base/spans/batch=0"))
      assert(got0 == batchOver(d1), "batch 0 IS the batch operator")
      assert(got0.exists(p => p._1 == 1L && p._2 == 2L))
      input.addData(d2: _*)
      q.processAllAvailable()
      val ids1 = d2.map(_._1).toSet
      val got1 = spansOf(spark.read.parquet(s"$base/spans/batch=1"))
      val want1 = batchOver(d1 ++ d2)
        .filter(p => ids1.contains(p._1) || ids1.contains(p._2))
      assert(got1 == want1, s"batch 1: $got1 vs $want1")
      // non-monotone arrival: doc 5 pairs with the LARGER prior id 10,
      // positions must follow the least/greatest canonicalization
      input.addData(d3: _*)
      q.processAllAvailable()
      val ids2 = d3.map(_._1).toSet
      val got2 = spansOf(spark.read.parquet(s"$base/spans/batch=2"))
      val want2 = batchOver(d1 ++ d2 ++ d3)
        .filter(p => ids2.contains(p._1) || ids2.contains(p._2))
      assert(got2 == want2, s"batch 2: $got2 vs $want2")
      assert(got2.exists(p => p._1 == 5L && p._2 == 10L),
        "the non-monotone arrival must span-pair with the larger prior id")
      assert(!((got0 ++ got1 ++ got2).exists(p => p._1 == 3L || p._2 == 3L)),
        "the disjoint-vocabulary doc must never span-pair")
    } finally q.stop()
  }

  test("sessionization splits a gap longer than 30 min by microseconds, as the batch twin does") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 10:00:00 -> 10:30:00.0005 is 1,800,000,500 us: over the gap by 500 us
    val events = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:30:00.0005"), 1, "click", 2.0))
    val input = MemoryStream[Event]
    val q = EventsStream.sessionize(input.toDS()).writeStream.format("memory")
      .queryName("subms_sessions").outputMode(OutputMode.Append()).start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      // push the watermark past both sessions so the open one times out
      input.addData(Event(9, ts("2024-01-01 15:00:00"), 2, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(10, ts("2024-01-01 20:00:00"), 3, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    def us(t: Timestamp) = t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val streamed = spark.table("subms_sessions").as[EventsStream.UserSession]
      .collect().filter(_.user_id == 1)
      .map(x => (x.n_events, us(x.session_start), us(x.session_end))).toSet
    val dir = tmpDir("submsevents")
    events.toDF().write.parquet(s"$dir/events.parquet")
    val batch = graft.operators.Analytics.sessionizeBatch(spark, dir)
      .select("n_events", "start_us", "end_us").as[(Long, Long, Long)]
      .collect().toSet
    assert(batch.size == 2, s"the batch rule splits the pair: $batch")
    assert(streamed == batch)
  }

  test("streaming ingestion dedup: later batches screen against earlier ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("dedupstream")
    val input = MemoryStream[(Long, String)]
    val body = "the quick brown fox jumps over the lazy dog and runs far away home"
    val q = graft.streaming.DedupStream.start(
      input.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/pairs", s"$base/ckpt")
    try {
      // batch 1: a near-identical pair + one unique doc
      input.addData((1L, body), (2L, body + " tonight"),
        (3L, "completely different words about streaming parquet indexes here"))
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(s"$base/pairs")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB1.contains((1L, 2L)), s"intra-batch pair missing: $afterB1")
      assert(!afterB1.exists(p => p._1 == 3L || p._2 == 3L))
      // batch 2: a near-dup of doc 1 — found ONLY via the persistent index
      input.addData((10L, body + " again"))
      q.processAllAvailable()
      val afterB2 = spark.read.parquet(s"$base/pairs")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB2.contains((1L, 10L)), s"cross-batch pair missing: $afterB2")
      // batch 3: a near-dup with a SMALLER id than anything indexed —
      // pair orientation must still be (least, greatest), independent of
      // arrival order
      input.addData((0L, body + " yesterday"))
      q.processAllAvailable()
      val afterB3 = spark.read.parquet(s"$base/pairs")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB3.contains((0L, 1L)), s"backfill pair missing: $afterB3")
      assert(afterB3.forall(p => p._1 < p._2),
        s"every pair must be least/greatest-normalized: $afterB3")
      // the index now holds band rows for every screened doc
      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed == Set(0L, 1L, 2L, 3L, 10L))
    } finally q.stop()
  }

  /** What a crash during a batch's first write leaves behind: an
    * uncommitted attempt under `dir/batch=0` and no committed file.
    */
  private def strandFirstAttempt(dir: String): Unit = {
    val part = java.nio.file.Paths.get(dir,
      "batch=0/_temporary/0/_temporary/attempt_0/part-00000.snappy.parquet")
    java.nio.file.Files.createDirectories(part.getParent)
    java.nio.file.Files.write(part, Array[Byte](1, 2, 3))
  }

  test("streaming ingestion dedup: a stranded first attempt reads as an empty index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("dedupstranded")
    strandFirstAttempt(s"$base/index")
    val input = MemoryStream[(Long, String)]
    val body = "the quick brown fox jumps over the lazy dog and runs far away home"
    val q = graft.streaming.DedupStream.start(
      input.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/pairs", s"$base/ckpt")
    try {
      input.addData((1L, body), (2L, body + " tonight"))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.read.parquet(s"$base/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("streaming ingestion dedup: a replayed batch screens only earlier batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("dedupreplay")
    val body = "the quick brown fox jumps over the lazy dog and runs far away home"
    val other = "completely different words about streaming parquet indexes here"
    // rows a failed earlier attempt of batch 1 committed: an index entry
    // that batch 1's doc 10 would pair with, and a pair batch 1 never finds
    Dedup.bandSigRows(Seq((50L, body)).toDF("doc_id", "text"))
      .write.parquet(s"$base/index/batch=1")
    Seq((98L, 99L, 12)).toDF("doc_a", "doc_b", "n_matching")
      .write.parquet(s"$base/pairs/batch=1")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.DedupStream.start(
      input.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/pairs", s"$base/ckpt")
    try {
      input.addData((1L, other))
      q.processAllAvailable()
      input.addData((10L, body + " tonight"), (11L, other + " again"))
      q.processAllAvailable()
    } finally q.stop()
    val replayed = spark.read.parquet(s"$base/pairs/batch=1")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(replayed == Set((1L, 11L)), s"batch 1 must pair only with batch 0: $replayed")
    val indexed = spark.read.parquet(s"$base/index/batch=1")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(indexed == Set(10L, 11L))
  }

  test("streaming embedding dedup: later batches screen against earlier ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("embdedup")
    val rnd = new java.util.Random(4242L)
    val dir0 = Array.fill(64)(rnd.nextGaussian().toFloat)
    def scaled(k: Float) = dir0.map(_ * k)
    def noisy(eps: Float) = {
      val r2 = new java.util.Random(99L)
      dir0.map(x => x + eps * r2.nextGaussian().toFloat)
    }
    val other = Array.fill(64)(rnd.nextGaussian().toFloat)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EmbedDedupStream.start(
      input.toDF().toDF("vec_id", "embedding"),
      s"$base/index", s"$base/pairs", s"$base/ckpt")
    try {
      // batch 1: a same-direction pair + one unrelated vector
      input.addData((1L, dir0), (2L, scaled(1.1f)), (3L, other))
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(s"$base/pairs")
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB1.contains((1L, 2L)), s"intra-batch pair missing: $afterB1")
      assert(!afterB1.exists(p => p._1 == 3L || p._2 == 3L),
        s"unrelated vector must not pair: $afterB1")
      // batch 2: a near-dup of vector 1 — found ONLY via the persistent index
      input.addData((10L, noisy(0.001f)))
      q.processAllAvailable()
      val afterB2 = spark.read.parquet(s"$base/pairs")
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB2.contains((1L, 10L)), s"cross-batch pair missing: $afterB2")
      // batch 3: a SMALLER id than anything indexed — orientation must
      // stay (least, greatest) regardless of arrival order
      input.addData((0L, scaled(0.5f)))
      q.processAllAvailable()
      val afterB3 = spark.read.parquet(s"$base/pairs")
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB3.contains((0L, 1L)), s"backfill pair missing: $afterB3")
      assert(afterB3.forall(p => p._1 < p._2),
        s"every pair must be least/greatest-normalized: $afterB3")
      val indexed = spark.read.parquet(s"$base/index")
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed == Set(0L, 1L, 2L, 3L, 10L))
    } finally q.stop()
  }

  test("streaming IVF ingest answers identically to the batch-built trained index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sf = "/root/testdata/sf0.001"
    val batchIdx = tmpDir("ivfbatch")
    val streamIdx = tmpDir("ivfstream")
    // reference: one-shot batch build with the trained quantizer
    graft.operators.Similarity.buildIvfIndex(spark, Sf, batchIdx,
      quantizer = graft.operators.Similarity.TrainedQuantizer(iters = 2))
    // streaming side: stage the SAME (deterministic) quantizer, then feed
    // the corpus as two microbatches
    graft.operators.Similarity.stageIvfQuantizer(spark, Sf, streamIdx, iters = 2)
    val rows = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val split = rows.map(_._1).max / 2
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IvfStream.start(
      input.toDF().toDF("vec_id", "embedding"),
      streamIdx, s"$streamIdx-ckpt")
    try {
      input.addData(rows.filter(_._1 <= split): _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 > split): _*)
      q.processAllAvailable()
    } finally q.stop()
    // two idempotent batch dirs, lists partitioned inside each
    assert(new java.io.File(streamIdx, "batch=0").exists())
    assert(new java.io.File(streamIdx, "batch=1").exists())
    val viaStream = graft.operators.Similarity
      .ivfTopKFromIndex(spark, Sf, streamIdx).collect().toSeq
    val viaBatch = graft.operators.Similarity
      .ivfTopKFromIndex(spark, Sf, batchIdx).collect().toSeq
    assert(viaStream == viaBatch)
    assert(viaStream.nonEmpty)
    // maintenance loop: compacting the streamed batch=N layout back to
    // the flat per-list layout changes nothing a query can observe
    graft.operators.Similarity.compactIvfIndex(spark, streamIdx)
    val top = new java.io.File(streamIdx).listFiles().map(_.getName)
    assert(!top.exists(_.startsWith("batch=")))
    assert(top.exists(_.startsWith("centroid_id=")))
    val viaCompacted = graft.operators.Similarity
      .ivfTopKFromIndex(spark, Sf, streamIdx).collect().toSeq
    assert(viaCompacted == viaBatch)
  }

  test("streaming PQ ingest answers identically to the batch-built index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sf = "/root/testdata/sf0.001"
    val batchIdx = tmpDir("pqbatch")
    val streamIdx = tmpDir("pqstream")
    graft.operators.Similarity.buildPqIndex(spark, Sf, batchIdx)
    // streaming side: stage the SAME (deterministic, full-corpus-trained)
    // codebooks, then feed the corpus as two microbatches
    graft.operators.Similarity.stagePqCodebooks(spark, Sf, streamIdx)
    val rows = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val split = rows.map(_._1).max / 2
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.PqStream.start(
      input.toDF().toDF("vec_id", "embedding"),
      streamIdx, s"$streamIdx-ckpt")
    try {
      input.addData(rows.filter(_._1 <= split): _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 > split): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(new java.io.File(streamIdx, "batch=0").exists())
    assert(new java.io.File(streamIdx, "batch=1").exists())
    val viaStream = graft.operators.Similarity
      .pqTopKFromIndex(spark, Sf, streamIdx).collect().toSeq
    val viaBatch = graft.operators.Similarity
      .pqTopKFromIndex(spark, Sf, batchIdx).collect().toSeq
    assert(viaStream == viaBatch)
    assert(viaStream.nonEmpty)
    // maintenance: compacting the streamed batch=N layout to a flat
    // packed-code table keeps the frozen codebooks and every answer
    graft.operators.Similarity.compactPqIndex(spark, streamIdx)
    val top = new java.io.File(streamIdx).listFiles().map(_.getName)
    assert(!top.exists(_.startsWith("batch=")))
    assert(top.contains("_codebooks"))
    val viaCompacted = graft.operators.Similarity
      .pqTopKFromIndex(spark, Sf, streamIdx).collect().toSeq
    assert(viaCompacted == viaBatch)
  }

  test("streaming packing: offset-continued batches merge to the batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("graft-pack")
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "source", "text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val maxId = rows.map(_._1).max
    val split = maxId * 4 / 5 // batches must be id-ordered, like ingestion
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.PackStream.start(
      input.toDF().toDF("doc_id", "source", "text"),
      base, s"$base/ckpt")
    try {
      input.addData(rows.filter(_._1 < split): _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 >= split): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.operators.Curation.mergePacked(
      spark.read.option("basePath", s"$base/packed").parquet(s"$base/packed")
        .select("source", "seq_id", "n_docs", "seq_tokens", "first_doc", "last_doc"))
      .collect().toSeq
    val batch = graft.operators.Curation.packSequences(spark, Sf).collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming decontamination: batch union equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("graft-decon")
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text")
    // stage the frozen eval-gram set once, stream the corpus in two halves
    graft.streaming.DecontaminateStream.stageEvalGrams(spark, docs, s"$base/eval")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.DecontaminateStream.start(
      input.toDF().toDF("doc_id", "text"),
      s"$base/eval", s"$base/out", s"$base/ckpt")
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_overlap_ngrams"),
        r.getAs[Long]("n_eval_docs"))
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_overlap_ngrams", "n_eval_docs")
      .collect().map(key).toSet
    val batch = graft.operators.Curation.decontaminate(spark, Sf)
      .collect().map(key).toSet
    // decontamination is per-document against a frozen gram set, so the
    // streamed screen must reproduce the batch answer exactly
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming IVF-PQ ingest answers identically to the batch-built index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sf = "/root/testdata/sf0.001"
    val batchIdx = tmpDir("ivfpqbatch")
    val streamIdx = tmpDir("ivfpqstream")
    graft.operators.Similarity.buildIvfPqIndex(spark, Sf, batchIdx)
    // streaming side: stage BOTH frozen (full-corpus-trained) artifacts,
    // then feed the corpus as two microbatches
    graft.operators.Similarity.stageIvfQuantizer(spark, Sf, streamIdx)
    graft.operators.Similarity.stagePqCodebooks(spark, Sf, streamIdx)
    val rows = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val split = rows.map(_._1).max / 2
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IvfPqStream.start(
      input.toDF().toDF("vec_id", "embedding"),
      streamIdx, s"$streamIdx-ckpt")
    try {
      input.addData(rows.filter(_._1 <= split): _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 > split): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(new java.io.File(streamIdx, "batch=0").exists())
    assert(new java.io.File(streamIdx, "batch=1").exists())
    val viaStream = graft.operators.Similarity
      .ivfPqTopKFromIndex(spark, Sf, streamIdx).collect().toSeq
    val viaBatch = graft.operators.Similarity
      .ivfPqTopKFromIndex(spark, Sf, batchIdx).collect().toSeq
    assert(viaStream == viaBatch)
    assert(viaStream.nonEmpty)
    // maintenance: compacting the streamed batch=N layout back to flat
    // per-list files keeps both frozen artifacts and every answer
    graft.operators.Similarity.compactIvfPqIndex(spark, streamIdx)
    val top = new java.io.File(streamIdx).listFiles().map(_.getName)
    assert(!top.exists(_.startsWith("batch=")))
    assert(top.exists(_.startsWith("centroid_id=")))
    assert(top.contains("_centroids") && top.contains("_codebooks"))
    val viaCompacted = graft.operators.Similarity
      .ivfPqTopKFromIndex(spark, Sf, streamIdx).collect().toSeq
    assert(viaCompacted == viaBatch)
  }

  test("streaming semantic dedup labels identically to the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sf = "/root/testdata/sf0.001"
    val base = tmpDir("semdedupstream")
    // stage the frozen (full-corpus-trained, deterministic) quantizer the
    // batch operator trains internally, then feed the corpus as two
    // id-ordered microbatches — the append-monotone arrival contract
    graft.operators.Similarity.stageIvfQuantizer(spark, Sf, s"$base/labels")
    val rows = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val split = rows.map(_._1).max / 2
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.SemDedupStream.start(
      input.toDF().toDF("vec_id", "embedding"),
      s"$base/labels", s"$base/ckpt")
    try {
      input.addData(rows.filter(_._1 <= split): _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 > split): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(new java.io.File(s"$base/labels", "batch=0").exists())
    assert(new java.io.File(s"$base/labels", "batch=1").exists())
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("kept"))
    val streamed = spark.read.option("basePath", s"$base/labels")
      .parquet(s"$base/labels")
      .select("vec_id", "cluster_id", "kept").collect().map(key).toSet
    val batch = graft.operators.Similarity.semanticDedup(spark, Sf)
      .collect().map(key).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the second batch must have seen cross-batch drop witnesses: at
    // least one later-half row dropped against an earlier-half keeper
    assert(streamed.exists(t => t._1 > split && !t._3),
      "fixture delta must exercise the cross-batch drop path")
  }

  test("streaming semantic dedup: a stranded first attempt reads as an empty index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("semdedupstranded")
    graft.operators.Similarity.stageIvfQuantizer(spark, Sf, s"$base/labels")
    strandFirstAttempt(s"$base/labels")
    val v = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("embedding").as[Array[Float]].head()
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.SemDedupStream.start(
      input.toDF().toDF("vec_id", "embedding"), s"$base/labels", s"$base/ckpt")
    try {
      input.addData((1L, v), (2L, v))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(s"$base/labels")
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toSet
    assert(kept == Set((1L, true), (2L, false)))
  }

  test("streaming semantic decontamination screens identically to the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sf = "/root/testdata/sf0.001"
    val base = tmpDir("deconsemstream")
    // spec threshold below the registry default so the fixture yields a
    // multi-row verdict set (random-geometry cosines cluster low)
    val thr = 250000L
    graft.operators.Similarity.stageEvalScreen(spark, Sf, s"$base/stage")
    val rows = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    // id-INTERLEAVED split: the screen is per-document against a frozen
    // eval artifact, so any arrival order must replay to the batch
    // answer (stronger than the dedup streams' id-monotone contract)
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.DeconSemStream.start(
      input.toDF().toDF("vec_id", "embedding"),
      s"$base/stage", s"$base/out", s"$base/ckpt", thresholdMicro = thr)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(new java.io.File(s"$base/out", "batch=0").exists())
    assert(new java.io.File(s"$base/out", "batch=1").exists())
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Long]("n_eval_hits"),
        r.getAs[Long]("max_cm"))
    val streamed = spark.read.option("basePath", s"$base/out")
      .parquet(s"$base/out")
      .select("vec_id", "n_eval_hits", "max_cm").collect().map(key).toSet
    val batch = graft.operators.Similarity
      .semanticDecontaminate(spark, Sf, thresholdMicro = thr)
      .collect().map(key).toSet
    assert(streamed == batch)
    assert(streamed.size > 1,
      "fixture must yield a multi-row verdict set at the spec threshold")
    // both batches must carry verdicts, or the interleaved-arrival claim
    // wasn't exercised
    assert(spark.read.parquet(s"$base/out/batch=0").count() > 0)
    assert(spark.read.parquet(s"$base/out/batch=1").count() > 0)

    // eval retirement: tombstone the whole eval slice, replay the
    // contaminated vectors as a fresh stream -> zero verdicts (later
    // batches stop matching retired eval docs; prior outputs stand)
    val evalIds = rows.map(_._1).filter(_ % 97 == 0)
    graft.operators.Similarity.tombstoneEvalScreen(spark, s"$base/stage", evalIds)
    val hitIds = batch.map(_._1)
    val replay = rows.filter(r => hitIds.contains(r._1))
    val input2 = MemoryStream[(Long, Array[Float])]
    val q2 = graft.streaming.DeconSemStream.start(
      input2.toDF().toDF("vec_id", "embedding"),
      s"$base/stage", s"$base/out2", s"$base/ckpt2", thresholdMicro = thr)
    try {
      input2.addData(replay: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(s"$base/out2/batch=0").count() == 0)
    // compaction folds the tombstones in physically and clears the
    // artifact; the screened read is unchanged (here: empty eval side)
    graft.operators.Similarity.compactEvalScreen(spark, s"$base/stage")
    assert(!new java.io.File(s"$base/stage/eval_probes/_tombstones").exists())
    assert(graft.operators.Similarity
      .stagedEvalProbes(spark, s"$base/stage").count() == 0)
  }

  test("streaming quantile cells + shared readout equal the batch rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ingest the fixture in two batches with a MID-DAY split (a cell's
    // values straddle triggers, so the complete-mode state must merge
    // partial sketches); the shared readout over the final cells must
    // equal the batch cube on every deterministic column, flags green
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val k = SparkEntry.Sketch.kllK
    val q = EventsStream.quantileCells(input.toDF(), k)
      .writeStream.format("memory").queryName("kll_cells")
      .outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      assert(b1.last.ts.toInstant.toString.take(10) ==
        b2.head.ts.toInstant.toString.take(10),
        "fixture split must land mid-day to exercise partial-cell merge")
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val cells = spark.table("kll_cells")
      val got = graft.operators.Sketches
        .quantileReadout(spark, Sf, cells, k).collect().map(_.toSeq).toSeq
      val batch = graft.operators.Sketches
        .quantileRollup(spark, Sf, k).collect().map(_.toSeq).toSeq
      assert(got === batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming attribution replay equals BOTH batch models on the fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay ALL sf0.001 events in two batches (split mid-feed so users'
    // touch chains straddle the boundary and state continuity is
    // exercised); the per-purchase credits rolled up by channel must
    // equal the first-touch AND last-touch batch operators exactly
    val all = graft.sources.Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Event]
    val q = EventsStream.attribution(input.toDS())
      .writeStream.format("memory").queryName("attr_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val out = spark.table("attr_parity")
        .as[EventsStream.AttributedPurchase].collect()
      def rollup(chan: EventsStream.AttributedPurchase => String) =
        out.groupBy(chan).view
          .mapValues(g => (g.length.toLong, g.map(_.cents).sum)).toMap
      val batchFirst = graft.operators.Analytics
        .firstTouchAttribution(spark, Sf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batchLast = graft.operators.Analytics
        .lastTouchAttribution(spark, Sf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rollup(_.first_channel) === batchFirst)
      assert(rollup(_.last_channel) === batchLast)
      // the replay must exercise state continuity and the (none) channel
      val b1Users = b1.filter(_.event_type != "purchase").map(_.user_id).toSet
      assert(b2.exists(e => e.event_type == "purchase" && b1Users(e.user_id)),
        "fixture must have a batch-2 purchase resolving batch-1 touches")
      assert(out.nonEmpty)
    } finally q.stop()
  }

  test("streaming bitext screen: per-batch matches equal the batch operator over A-so-far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("bitextstream")
    val all = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // B = odd ids (staged counter-corpus); A = even ids in two batches
    val bRows = all.filter(_._1 % 2 == 1)
    val a1 = all.filter(t => t._1 % 2 == 0 && t._1 < 250).toSeq
    val a2 = all.filter(t => t._1 % 2 == 0 && t._1 >= 250).toSeq
    def frame(rows: Seq[(Long, Array[Float])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
    graft.streaming.BitextStream.stageCorpus(
      frame(bRows.toSeq).select("vec_id", "embedding"), s"$base/index")
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.BitextStream.start(
      input.toDF().toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      s"$base/index", s"$base/matches", s"$base/ckpt")
    def matchesOf(df: org.apache.spark.sql.DataFrame) = df
      .select("a_id", "match_id", "cos_micro", "margin_micro", "accepted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    def batchOver(aRows: Seq[(Long, Array[Float])]) =
      matchesOf(graft.operators.Similarity.bitextMarginOf(
        frame(aRows), frame(bRows.toSeq), 4, 1060000L))
    try {
      input.addData(a1: _*)
      q.processAllAvailable()
      // batch 0's matches ARE the batch operator over (A₀, B)
      val got0 = matchesOf(spark.read.parquet(s"$base/matches/batch=0"))
      assert(got0 == batchOver(a1), "batch 0 must equal the batch operator")
      assert(got0.nonEmpty)
      input.addData(a2: _*)
      q.processAllAvailable()
      // batch 1 = the batch operator over ALL A-so-far, restricted to
      // batch-1 a_ids: the merged per-b top-k index must reproduce the
      // hubness denominators a full rescore would compute
      val ids1 = a2.map(_._1).toSet
      val got1 = matchesOf(spark.read.parquet(s"$base/matches/batch=1"))
      val want1 = batchOver(a1 ++ a2).filter(m => ids1.contains(m._1))
      assert(got1 == want1,
        s"batch 1: ${got1.size} got vs ${want1.size} want; " +
          s"diff=${(got1 diff want1).take(3)} / ${(want1 diff got1).take(3)}")
      assert(got1.nonEmpty)
      // the hubness index must actually bite for SOME pair: at least one
      // batch-1 margin differs from a naive batch-1-only rerun (else the
      // merge path is untested by this fixture)
      val naive1 = batchOver(a2).filter(m => ids1.contains(m._1))
      assert(naive1 != got1,
        "fixture too easy: A-so-far hubness never changed a batch-1 margin")
      // the index holds at most k rows per b per batch
      val perB = spark.read.parquet(s"$base/index/bwd")
        .groupBy("batch", "b_id").count().agg(max("count")).head.getLong(0)
      assert(perB <= 4L)
    } finally q.stop()
  }
}
