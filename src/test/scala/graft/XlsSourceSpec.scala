package graft

import java.sql.Timestamp

/** The BIFF8 decoder, read through `format("xls")`. */
class XlsSourceSpec extends SparkTestBase {
  private val sample = "/root/reference/data/traffic_spreadsheet.xls"

  test("decodes the reference sample: 287 rows, 5-min grid, known stats") {
    assume(new java.io.File(sample).exists())
    val df = spark.read.format("xls").load(sample)
    assert(df.columns.toSeq == Seq("time", "traffic"))
    assert(df.schema("time").dataType.typeName == "timestamp")
    assert(df.schema("traffic").dataType.typeName == "double")
    val rows = df.orderBy("time").collect()
    assert(rows.length == 287)
    assert(rows.head.getTimestamp(0) == Timestamp.valueOf("2021-05-23 00:00:00"))
    assert(rows.last.getTimestamp(0) == Timestamp.valueOf("2021-05-23 23:50:00"))
    // 5-minute grid
    val times = rows.map(_.getTimestamp(0).getTime)
    assert(times.sliding(2).forall { case Array(a, b) => b - a == 300000L })
    // value stats from byte-level ground truth (SURVEY §1.4)
    val traffic = rows.map(_.getDouble(1))
    assert(math.abs(traffic.min - 4.0498) < 1e-3)
    assert(math.abs(traffic.max - 9.3624) < 1e-3)
    assert(math.abs(traffic.sum / traffic.length - 6.95334) < 1e-4)
  }

  test("rejects a non-XLS file") {
    // text bytes behind an .xls name pass the extension filter and reach
    // the decoder, which rejects the container
    val f = tmpPath("notxls").resolve("notes.xls")
    java.nio.file.Files.write(f, "time,traffic\n1,2\n".getBytes)
    val e = intercept[Exception](spark.read.format("xls").load(f.toString))
    assert(e.getMessage.contains("not a ZIP container"), e.getMessage)
  }

  test("missing file raises ExtractError with the path") {
    val e = intercept[ExtractError](spark.read.format("xls").load("/tmp/nope.xls"))
    assert(e.getMessage.contains("/tmp/nope.xls"))
  }

  test("decodes RK and MULRK records from a synthetic BIFF8 file") {
    // hand-built minimal OLE2 + BIFF8: header row (SST strings) + one data
    // row with an RK int-scaled cell and a MULRK pair — the record paths
    // the reference sample (NUMBER cells only) never exercises
    import XlsTestWriter._
    // RK: value 100.5 => int 10050 with div100|isInt flags (10050<<2 | 0b11)
    val rk = rec(0x27E, leShort(1) ++ leShort(0) ++ leShort(0) ++ leInt((10050 << 2) | 3))
    // MULRK: row 1, cols 1..2, two RK ints 7 and 9
    val mulrk = rec(0xBD, leShort(1) ++ leShort(1) ++
      leShort(0) ++ leInt((7 << 2) | 2) ++ leShort(0) ++ leInt((9 << 2) | 2) ++ leShort(2))
    val wb = bof ++ sst(Seq("a", "b", "c")) ++ xf(0) ++ // ifmt 0: general
      bof ++
      labelSst(0, 0, 0) ++ labelSst(0, 1, 1) ++ labelSst(0, 2, 2) ++
      rk ++ mulrk ++ eof
    val f = java.io.File.createTempFile("synth", ".xls")
    java.nio.file.Files.write(f.toPath, ole2(wb))

    val df = spark.read.format("xls").load(f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    val row = df.collect().head
    assert(row.getDouble(0) == 100.5) // RK div100
    assert(row.getDouble(1) == 7.0 && row.getDouble(2) == 9.0) // MULRK
  }
}
