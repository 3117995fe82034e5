package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.TrafficTransform

class TransformSpec extends SparkTestBase {
  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private val runTs = Timestamp.valueOf("2026-01-01 00:00:00")

  test("T1 lowercases column names (transform.py:57)") {
    val src = df(Seq(Row("x")), StructType(Seq(StructField("TiMe", StringType))))
    assert(TrafficTransform.normalizeColumnNames(src).columns.toSeq == Seq("time"))
  }

  test("T2 parses day-first strings: 03/04/21 is April 3rd (transform.py:20 dayfirst)") {
    val src = df(Seq(Row("03/04/21 10:30", 1.0)), StructType(Seq(
      StructField("time", StringType), StructField("traffic", DoubleType))))
    val out = TrafficTransform.parseTimeColumn(src).collect().head
    assert(out.getTimestamp(0) == Timestamp.valueOf("2021-04-03 10:30:00"))
  }

  test("T2 strictness: unparseable dates raise (transform.py:24-25)") {
    val src = df(Seq(Row("not-a-date", 1.0)), StructType(Seq(
      StructField("time", StringType), StructField("traffic", DoubleType))))
    val e = intercept[TransformError](TrafficTransform(src, runTs))
    assert(e.getMessage ==
      "Failed to parse 'time' values as datetime (found nulls after parse)")
  }

  test("census counts rows and post-parse nulls in one pass") {
    val src = df(Seq(Row("23/05/2021 00:00", 1.0), Row("not-a-date", 2.0),
      Row("23/05/2021 00:10", null), Row(null, null)), StructType(Seq(
      StructField("time", StringType), StructField("traffic", DoubleType))))
    val c = TrafficTransform.census(TrafficTransform.prepare(src, runTs))
    assert(c == TrafficTransform.Census(rows = 4, nullTime = 2, nullTraffic = 2))
  }

  test("T4 created_at is run-constant, not per-row (transform.py:34)") {
    val src = df(Seq(Row(Timestamp.valueOf("2021-05-23 00:00:00"), 1.0),
      Row(Timestamp.valueOf("2021-05-23 00:05:00"), 2.0)),
      StructType(Seq(StructField("time", TimestampType),
        StructField("traffic", DoubleType))))
    val vals = TrafficTransform.addCreatedAt(src, runTs)
      .select("created_at").distinct().collect()
    assert(vals.length == 1 && vals.head.getTimestamp(0) == runTs)
  }

  test("T5 missing columns raise with names listed (transform.py:40-43)") {
    val src = df(Seq(Row(1.0)), StructType(Seq(StructField("traffic", DoubleType))))
    val e = intercept[TransformError](
      TrafficTransform.requireColumns(src, Seq("time", "traffic")))
    assert(e.getMessage.contains("time") && !e.getMessage.contains("missing: traffic"))
  }

  test("T6 nulls raise with column name (transform.py:45-47)") {
    val src = df(Seq(Row(Timestamp.valueOf("2021-05-23 00:00:00"), null),
      Row(Timestamp.valueOf("2021-05-23 00:05:00"), 2.0)), StructType(Seq(
      StructField("time", TimestampType), StructField("traffic", DoubleType))))
    val e = intercept[TransformError](TrafficTransform(src, runTs))
    assert(e.getMessage == "Column 'traffic' contains 1 null values")
    // a NaT time fails the T2 strictness check, which runs first
    val nat = df(Seq(Row(null, null)), src.schema)
    assert(intercept[TransformError](TrafficTransform(nat, runTs))
      .getMessage.contains("'time'"))
  }

  test("T7 non-numeric traffic raises (transform.py:49-50)") {
    val src = df(Seq(Row("abc")), StructType(Seq(StructField("traffic", StringType))))
    intercept[TransformError](TrafficTransform.requireNumeric(src, "traffic"))
  }

  test("full transform: projection order + row conservation (transform.py:55-63)") {
    val src = df(Seq(
      Row(Timestamp.valueOf("2021-05-23 00:00:00"), 6.13, "extra"),
      Row(Timestamp.valueOf("2021-05-23 00:05:00"), 6.29, "cols")),
      StructType(Seq(StructField("Time", TimestampType),
        StructField("TRAFFIC", DoubleType), StructField("junk", StringType))))
    val out = TrafficTransform(src, runTs)
    assert(out.columns.toSeq == Seq("time", "traffic", "created_at"))
    assert(out.count() == 2)
  }
}
