package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.XlsxSource

/** OOXML `.xlsx` surface — `format("xlsx")`, XlsxSource.read (a forward
  * to it), and the sniffing `format("excel")` — held to the same
  * contract XlsDataSourceSpec pins for BIFF8: the 287-row converted
  * reference fixture with exact stats, multi-file partitioning, column
  * pruning, and loud errors.
  */
class XlsxDataSourceSpec extends SparkTestBase {
  private val sample = "/root/reference/data/traffic_spreadsheet.xls"

  /** The reference fixture converted to .xlsx: decode the BIFF8 original,
    * re-emit via the minimal OOXML writer. Timestamps survive the
    * serial roundtrip exactly (second precision both ways).
    */
  private def convertedXlsx(dir: java.nio.file.Path, name: String): java.io.File = {
    val src = spark.read.format("xls").load(sample)
      .collect().map(r => Seq[Any](r.getTimestamp(0), r.getDouble(1))).toSeq
    val f = dir.resolve(name).toFile
    XlsxTestWriter.write(f, Seq("time", "traffic"), src)
    f
  }

  test("format(\"xlsx\") reads the converted reference fixture with exact stats") {
    assume(new java.io.File(sample).exists())
    val dir = tmpPath("xlsxref")
    val f = convertedXlsx(dir, "traffic.xlsx")
    val df = spark.read.format("xlsx").load(f.toString)
    assert(df.columns.toSeq == Seq("time", "traffic"))
    assert(df.schema("time").dataType.typeName == "timestamp")
    assert(df.schema("traffic").dataType.typeName == "double")
    assert(df.count() == 287)
    val head = df.orderBy("time").limit(1).collect().head
    assert(head.getTimestamp(0) == Timestamp.valueOf("2021-05-23 00:00:00"))
    val avg = df.agg(org.apache.spark.sql.functions.avg("traffic")).head().getDouble(0)
    assert(math.abs(avg - 6.95334) < 1e-4)
    assert(math.abs(df.agg(org.apache.spark.sql.functions.max("traffic"))
      .head().getDouble(0) - 9.3624) < 1e-3)
    // the OOXML read agrees with the BIFF8 read row-for-row
    val biff = spark.read.format("xls").load(sample)
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).sortBy(_._1.getTime)
    val ooxml = df.collect().map(r => (r.getTimestamp(0), r.getDouble(1))).sortBy(_._1.getTime)
    assert(ooxml.toSeq == biff.toSeq)
  }

  test("driver-side XlsxSource.read equals the DSv2 scan") {
    assume(new java.io.File(sample).exists())
    val dir = tmpPath("xlsxdrv")
    val f = convertedXlsx(dir, "traffic.xlsx")
    val drv = XlsxSource.read(spark, f.toString)
    val dsv2 = spark.read.format("xlsx").load(f.toString)
    assert(drv.schema == dsv2.schema)
    assert(drv.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      dsv2.collect().map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("a directory of .xlsx files becomes one partition per file") {
    assume(new java.io.File(sample).exists())
    val dir = tmpPath("xlsxmulti")
    convertedXlsx(dir, "a.xlsx")
    convertedXlsx(dir, "b.xlsx")
    val df = spark.read.format("xlsx").load(dir.toString)
    assert(df.count() == 574)
    assert(df.rdd.getNumPartitions == 2)
  }

  test("required-column pruning reaches the xlsx scan") {
    assume(new java.io.File(sample).exists())
    val dir = tmpPath("xlsxprune")
    val f = convertedXlsx(dir, "traffic.xlsx")
    val df = spark.read.format("xlsx").load(f.toString).select("traffic")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("XlsScan[xlsx, 1 files, traffic]"), s"plan was:\n$plan")
  }

  test("format(\"excel\") sniffs a mixed directory of .xls and .xlsx per file") {
    assume(new java.io.File(sample).exists())
    val dir = tmpPath("excelmixed")
    Files.copy(java.nio.file.Paths.get(sample), dir.resolve("legacy.xls"))
    convertedXlsx(dir, "modern.xlsx")
    val df = spark.read.format("excel").load(dir.toString)
    assert(df.count() == 574)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.select("time").distinct().count() == 287)
  }

  test("the 1904 date system shifts serial interpretation (workbookPr date1904)") {
    val ts = Timestamp.valueOf("2021-05-23 00:05:00")
    val dir = tmpPath("xlsx1904")
    val f04 = dir.resolve("d1904.xlsx").toFile
    val f00 = dir.resolve("d1900.xlsx").toFile
    XlsxTestWriter.write(f04, Seq("time", "v"), Seq(Seq(ts, 1.0)), date1904 = true)
    XlsxTestWriter.write(f00, Seq("time", "v"), Seq(Seq(ts, 1.0)))
    // same wall-clock timestamp encoded under either system decodes equal
    val t04 = spark.read.format("xlsx").load(f04.toString).collect().head.getTimestamp(0)
    val t00 = spark.read.format("xlsx").load(f00.toString).collect().head.getTimestamp(0)
    assert(t04 == ts && t00 == ts)
    // and the raw serials genuinely differ (the 1462-day system gap)
    assert(math.abs(XlsxTestWriter.toSerial(ts) -
      XlsxTestWriter.toSerial(ts, date1904 = true) - 1462.0) < 1e-9)
  }

  test("inlineStr, formula str, boolean, error, and ref-less cells decode per spec") {
    // hand-built sheet exercising the cell-type branches the fixture
    // writer doesn't emit; the second row omits every r= attribute
    // (streaming-writer style: cells take consecutive columns)
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>name</t></is></c><c r="B1" t="inlineStr"><is><t>flag</t></is></c><c r="C1" t="inlineStr"><is><t>score</t></is></c><c r="D1" t="inlineStr"><is><t>bad</t></is></c></row>
        |<row><c t="str"><v>alpha</v></c><c t="b"><v>1</v></c><c><v>2.5</v></c><c t="e"><v>#DIV/0!</v></c></row>
        |<row><c t="str"><v>beta</v></c><c t="b"><v>0</v></c><c><v>4.0</v></c><c><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin
    val f = tmpPath("xlsxtypes").resolve("types.xlsx").toFile
    val z = new ZipOutputStream(new java.io.FileOutputStream(f))
    def put(n: String, c: String): Unit = {
      z.putNextEntry(new ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    put("xl/workbook.xml", workbook)
    put("xl/_rels/workbook.xml.rels", rels)
    put("xl/worksheets/sheet1.xml", sheet)
    z.close()
    val rows = spark.read.format("xlsx").load(f.toString)
      .orderBy("name").collect()
    assert(rows.length == 2)
    // booleans decode numeric 1/0; the error cell is null, making `bad`
    // a numeric column with one null
    val alpha = rows.head
    assert(alpha.getString(0) == "alpha" && alpha.getDouble(1) == 1.0 &&
      alpha.getDouble(2) == 2.5 && alpha.isNullAt(3))
    val beta = rows(1)
    assert(beta.getString(0) == "beta" && beta.getDouble(1) == 0.0 &&
      beta.getDouble(2) == 4.0 && beta.getDouble(3) == 7.0)
  }

  test("a glob matching only foreign extensions raises up front") {
    val dir = tmpPath("xlsxglob").toFile
    val f = new java.io.File(dir, "notes.csv")
    Files.write(f.toPath, "a,b\n1,2\n".getBytes)
    val e = intercept[Exception] {
      spark.read.format("xlsx").load(s"${dir.getAbsolutePath}/notes.*").collect()
    }
    assert(e.getMessage.contains("unexpected extension") ||
      Option(e.getCause).exists(_.getMessage.contains("unexpected extension")))
  }

  test("an .xlsx that is not a zip fails with a container error, not a crash") {
    val dir = tmpPath("xlsxnotzip")
    val f = dir.resolve("fake.xlsx")
    Files.write(f, "this is not a zip".getBytes)
    val e = intercept[Exception] {
      spark.read.format("xlsx").load(f.toString).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("not a ZIP container")))
  }

  test("custom format with a quoted unit suffix stays numeric, real date codes still date") {
    // 0.0"m" renders 42.5 as `42.5m` — the m is display TEXT, not minutes;
    // a scanner that reads quoted literals as format codes classifies the
    // style as a date and decodes the column as timestamps. A REAL custom
    // date code (with an escaped literal thrown in) must still be a date.
    val styles =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<numFmts count="1"><numFmt numFmtId="164" formatCode="0.0&quot;m&quot;"/></numFmts>
         |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="164" applyNumberFormat="1"/></cellXfs>
         |</styleSheet>""".stripMargin
    val f = new java.io.File(tmpDir("xlsx_quoted_fmt"), "q.xlsx")
    XlsxTestWriter.write(f, Seq("qty"),
      Seq(Seq(XlsxTestWriter.Styled(42.5)), Seq(XlsxTestWriter.Styled(7.25))),
      stylesOverride = Some(styles))
    val df = spark.read.format("xlsx").load(f.toString)
    assert(df.schema("qty").dataType == org.apache.spark.sql.types.DoubleType,
      s"quoted-unit numeric format decoded as ${df.schema("qty").dataType}")
    assert(df.collect().map(_.getDouble(0)).sorted.toSeq == Seq(7.25, 42.5))
    // control: custom code with real date tokens (and a quoted AND an
    // escaped literal mixed in) is still classified as a date style
    val dateStyles =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<numFmts count="1"><numFmt numFmtId="165" formatCode="yyyy-mm-dd&quot;T&quot;hh:mm\\#"/></numFmts>
         |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="165" applyNumberFormat="1"/></cellXfs>
         |</styleSheet>""".stripMargin
    val g = new java.io.File(tmpDir("xlsx_real_date_fmt"), "d.xlsx")
    XlsxTestWriter.write(g, Seq("at"),
      Seq(Seq(XlsxTestWriter.Styled(45000.5))), stylesOverride = Some(dateStyles))
    val dg = spark.read.format("xlsx").load(g.toString)
    assert(dg.schema("at").dataType == org.apache.spark.sql.types.TimestampType,
      s"real custom date format decoded as ${dg.schema("at").dataType}")
  }

  test("malformed numFmtId surfaces as ExtractError, not a bare NumberFormatException") {
    val styles =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="notanumber"/></cellXfs>
         |</styleSheet>""".stripMargin
    val f = new java.io.File(tmpDir("xlsx_bad_fmtid"), "b.xlsx")
    XlsxTestWriter.write(f, Seq("a"), Seq(Seq(1.0)), stylesOverride = Some(styles))
    val e = intercept[Exception] {
      spark.read.format("xlsx").load(f.toString).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.isInstanceOf[graft.ExtractError]),
      s"expected an ExtractError in the cause chain, got $e")
    assert(chain(e).exists(t =>
      t.getMessage != null && t.getMessage.contains("numFmtId")))
  }
}
