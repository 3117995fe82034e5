package perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded traffic inputs and what a correct pipeline must make of them.
  *
  * A reading is a whole number of 1e-4 units (the reference sample has four
  * decimals), so the text written to a file parses back to the exact double
  * the expectations are computed from. Readings follow a diurnal curve
  * around 7.0 plus seeded noise, on a 5-minute grid.
  */
object Gen {
  val StepS = 300L
  val RowsPerDay = 288

  /** Expected content of one generated input. `hourly` maps
    * (UTC date, hour) to (row count, mean reading).
    */
  final case class Expect(rows: Long, hourly: Map[(LocalDate, Int), (Long, Double)])

  private def reading(rng: java.util.SplittableRandom, t: Instant): Long = {
    val dayFrac = (t.getEpochSecond % 86400L) / 86400.0
    val base = 70000 + 20000 * math.sin(2 * math.Pi * (dayFrac - 0.3))
    math.max(1L, math.round(base + rng.nextInt(-5000, 5001)))
  }

  private def text(units: Long): String = java.math.BigDecimal.valueOf(units, 4).toPlainString

  /** Readings for `n` grid points from `start`; the seed and start fix them. */
  def series(seed: Long, start: Instant, n: Int): Array[(Instant, String)] = {
    val rng = new java.util.SplittableRandom(seed ^ start.getEpochSecond)
    Array.tabulate(n) { i =>
      val t = start.plusSeconds(i * StepS)
      (t, text(reading(rng, t)))
    }
  }

  def expect(rows: Seq[(Instant, String)]): Expect = {
    val hourly = rows.groupBy { case (t, _) =>
      val z = t.atZone(ZoneOffset.UTC); (z.toLocalDate, z.getHour)
    }.map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2.toDouble).sum / vs.size) }
    Expect(rows.size, hourly)
  }

  /** First day of the daily series: a seeded date in 2021-2023. */
  def firstDay(seed: Long): LocalDate =
    LocalDate.of(2021, 1, 1).plusDays(java.lang.Math.floorMod(seed * 7919L, 1000L))

  /** One day's workbook in the reference's shape: mixed-case `Time` /
    * `TRAFFIC` header, date-styled time cells, 288 rows.
    */
  def dailyWorkbook(file: File, seed: Long, day: LocalDate): Expect = {
    val rows = series(seed, day.atStartOfDay(ZoneOffset.UTC).toInstant, RowsPerDay)
    Xlsx.write(file, Seq("Time", "TRAFFIC"), rows)
    expect(rows.toSeq)
  }
}

/** Minimal OOXML workbook writer: workbook, relationships, styles, shared
  * strings and one worksheet. Header cells are shared strings, time cells
  * date-styled serials (number format 22, the reference sample's
  * `m/d/yy h:mm`), readings plain numbers.
  */
object Xlsx {
  private val Epoch1900Ms = -2208988800000L

  /** 1900-system serial of an instant (valid after 1900-03-01). */
  def serial(t: Instant): Double = {
    val ms = t.toEpochMilli - Epoch1900Ms
    Math.floorDiv(ms, 86400000L) + 2 + Math.floorMod(ms, 86400000L) / 86400000.0
  }

  private def col(c: Int): String = ('A' + c).toChar.toString

  def write(file: File, header: Seq[String], rows: Seq[(Instant, String)]): Unit = {
    val sheet = new StringBuilder
    sheet ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    sheet ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
    sheet ++= "<row r=\"1\">"
    header.zipWithIndex.foreach { case (_, c) => sheet ++= s"""<c r="${col(c)}1" t="s"><v>$c</v></c>""" }
    sheet ++= "</row>"
    rows.zipWithIndex.foreach { case ((t, v), i) =>
      val r = i + 2
      sheet ++= s"""<row r="$r"><c r="A$r" s="1"><v>${serial(t)}</v></c><c r="B$r"><v>$v</v></c></row>"""
    }
    sheet ++= "</sheetData></worksheet>"

    val sst = header.map(h => s"<si><t>$h</t></si>").mkString(
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${header.size}" uniqueCount="${header.size}">""",
      "", "</sst>")
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><cellXfs count="2"><xf numFmtId="0" applyNumberFormat="0"/><xf numFmtId="22" applyNumberFormat="1"/></cellXfs></styleSheet>"""
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val workbookRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="$rel/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="$rel/styles" Target="styles.xml"/><Relationship Id="rId3" Type="$rel/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""
    val rootRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="$rel/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    val contentTypes =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="$ct.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="$ct.worksheet+xml"/><Override PartName="/xl/styles.xml" ContentType="$ct.styles+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="$ct.sharedStrings+xml"/></Types>"""

    val z = new ZipOutputStream(new FileOutputStream(file))
    try {
      def put(name: String, body: String): Unit = {
        z.putNextEntry(new ZipEntry(name)); z.write(body.getBytes(UTF_8)); z.closeEntry()
      }
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", workbookRels)
      put("xl/styles.xml", styles)
      put("xl/sharedStrings.xml", sst)
      put("xl/worksheets/sheet1.xml", sheet.toString)
    } finally z.close()
  }
}
