package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ExtractError

/** XLSX (OOXML / .xlsx) decoder — the modern half of the
  * reference's `pd.read_excel` surface (extract.py:60: pandas dispatches
  * .xls → xlrd and .xlsx → openpyxl on magic bytes; [[XlsSource]] covers
  * the former, this covers the latter — a real user hits .xlsx on day
  * one with any current Excel/Sheets export).
  *
  * No new dependencies: an .xlsx is a ZIP (java.util.zip) of XML parts
  * (javax.xml.stream StAX, both in the JDK). Parts read, per the public
  * ECMA-376 spec:
  *  - `xl/workbook.xml` — sheet list in workbook order (+ the `date1904`
  *    workbookPr flag, the old Mac serial convention);
  *  - `xl/_rels/workbook.xml.rels` — sheet r:id → worksheet part path;
  *  - `xl/styles.xml` — cellXfs style → numFmtId, plus custom numFmts
  *    (a style whose format is a date format decodes serials as
  *    timestamps: builtin ifmts 14-22/45-47 or a custom code with
  *    y/m/d/h/s — the same rule the BIFF8 decoder applies);
  *  - `xl/sharedStrings.xml` — the SST (all `<t>` runs of an `<si>`
  *    concatenated, rich runs flattened);
  *  - the FIRST sheet's `xl/worksheets/sheetN.xml` — `<c>` cells with
  *    `t` = s (shared string) / str (formula result) / inlineStr / b /
  *    e (error → null), default numeric.
  *
  * The decode is a pure function of the bytes; the `xlsx`/`excel`
  * DataSource V2 (`sources/xls/XlsDataSource.scala`) runs it inside the
  * one task that reads each file.
  */
object XlsxSource {

  /** The first worksheet of an XLSX file as a DataFrame: the same
    * `format("xlsx")` scan `EtlPipeline` reads through.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xlsx").load(path)

  /** Core decode: XLSX bytes -> (inferred schema, rows). */
  private[sources] def decode(bytes: Array[Byte], path: String): (StructType, Seq[Seq[Any]]) = {
    val parts = readZip(bytes, path)
    def part(name: String): Option[Array[Byte]] = parts.get(name)
    def required(name: String): Array[Byte] = part(name).getOrElse(
      throw ExtractError(s"XLSX at $path is missing part $name"))

    val (sheetRelIds, date1904) = parseWorkbook(required("xl/workbook.xml"))
    if (sheetRelIds.isEmpty)
      throw ExtractError(s"XLSX at $path declares no worksheets")
    val rels = parseRels(required("xl/_rels/workbook.xml.rels"))
    val sheetPart = rels.getOrElse(sheetRelIds.head, throw ExtractError(
      s"XLSX at $path: no relationship for sheet r:id ${sheetRelIds.head}"))
    // rels targets are workbook-relative ("worksheets/sheet1.xml") or
    // package-absolute ("/xl/worksheets/sheet1.xml")
    val sheetName =
      if (sheetPart.startsWith("/")) sheetPart.drop(1) else s"xl/$sheetPart"

    val dateStyles = part("xl/styles.xml").map(parseDateStyles).getOrElse(Set.empty)
    val sst = part("xl/sharedStrings.xml").map(parseSharedStrings)
      .getOrElse(IndexedSeq.empty)
    val cells = parseSheet(required(sheetName), dateStyles, sst, path)
    if (cells.isEmpty) throw ExtractError(s"No cells decoded from XLSX at $path")
    SheetGrid.tableFromCells(cells, path, date1904)
  }

  // ---------- ZIP container ----------

  private def readZip(bytes: Array[Byte], path: String): Map[String, Array[Byte]] = {
    if (bytes.length < 4 || bytes(0) != 'P' || bytes(1) != 'K')
      throw ExtractError(s"$path is not a ZIP container (.xlsx) or an OLE2 one (.xls)")
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map[String, Array[Byte]]()
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val name = e.getName
          // only the parts the decode needs — a media-heavy workbook's
          // images never materialize
          if (name == "xl/workbook.xml" || name == "xl/_rels/workbook.xml.rels" ||
              name == "xl/styles.xml" || name == "xl/sharedStrings.xml" ||
              name.startsWith("xl/worksheets/"))
            out(name) = zin.readAllBytes()
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toMap
  }

  // ---------- XML part parsers (StAX, namespace-blind on localName) ----------

  /** One factory per thread (StAX factories are not guaranteed
    * thread-safe): a fresh one per part doubled the decode of a 288-row
    * sheet, which the scan repeats once per query.
    */
  private val xmlFactory = ThreadLocal.withInitial[XMLInputFactory] { () =>
    val f = XMLInputFactory.newInstance()
    // hygiene for untrusted workbook XML: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def xmlReader(bytes: Array[Byte]): XMLStreamReader =
    xmlFactory.get.createXMLStreamReader(new ByteArrayInputStream(bytes))

  private def attr(r: XMLStreamReader, name: String): Option[String] = {
    var i = 0
    var found: Option[String] = None
    while (found.isEmpty && i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == name) found = Some(r.getAttributeValue(i))
      i += 1
    }
    found
  }

  /** (sheet r:ids in workbook order, date1904 flag). */
  private def parseWorkbook(bytes: Array[Byte]): (Seq[String], Boolean) = {
    val r = xmlReader(bytes)
    val ids = mutable.ArrayBuffer[String]()
    var date1904 = false
    try while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT) r.getLocalName match {
        case "sheet" => attr(r, "id").foreach(ids += _)
        case "workbookPr" =>
          date1904 = attr(r, "date1904").exists(v => v == "1" || v == "true")
        case _ =>
      }
    } finally r.close()
    (ids.toSeq, date1904)
  }

  /** Relationship Id → Target. */
  private def parseRels(bytes: Array[Byte]): Map[String, String] = {
    val r = xmlReader(bytes)
    val out = mutable.Map[String, String]()
    try while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship")
        for (id <- attr(r, "Id"); t <- attr(r, "Target")) out(id) = t
    } finally r.close()
    out.toMap
  }

  private val BuiltinDateFmts = Set(14, 15, 16, 17, 18, 19, 20, 21, 22, 45, 46, 47)

  /** numFmtId attributes come from untrusted workbook XML — surface a
    * malformed one as the source's typed ExtractError, not a bare
    * NumberFormatException from deep inside the style scan.
    */
  private def parseFmtId(s: String): Int =
    try s.trim.toInt
    catch {
      case e: NumberFormatException =>
        throw ExtractError(
          s"xlsx styles.xml: non-integer numFmtId '$s' — the workbook's " +
            "style table is malformed; re-export the file", e)
    }

  /** Style (cellXfs) indices whose number format is a date format — the
    * same builtin-ids + custom-code rule the BIFF8 decoder applies.
    */
  private def parseDateStyles(bytes: Array[Byte]): Set[Int] = {
    val r = xmlReader(bytes)
    val customDate = mutable.Set[Int]()
    val xfFmts = mutable.ArrayBuffer[Int]()
    var inCellXfs = false
    try while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "numFmt" =>
            for (idS <- attr(r, "numFmtId"); code <- attr(r, "formatCode")) {
              if (SheetGrid.looksLikeDateFormat(code))
                customDate += parseFmtId(idS)
            }
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            xfFmts += attr(r, "numFmtId").map(parseFmtId).getOrElse(0)
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT =>
          if (r.getLocalName == "cellXfs") inCellXfs = false
        case _ =>
      }
    } finally r.close()
    xfFmts.zipWithIndex.collect {
      case (ifmt, style) if BuiltinDateFmts.contains(ifmt) || customDate.contains(ifmt) =>
        style
    }.toSet
  }

  /** The SST: each `<si>`'s `<t>` runs concatenated (plain and rich
    * strings alike; phonetic `<rPh>` runs are skipped like every reader
    * skips them).
    */
  private def parseSharedStrings(bytes: Array[Byte]): IndexedSeq[String] = {
    val r = xmlReader(bytes)
    val out = mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder
    var inSi = false
    var inT = false
    var inPhonetic = false
    try while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "si" => inSi = true; sb.setLength(0)
          case "rPh" => inPhonetic = true
          case "t" if inSi && !inPhonetic => inT = true
          case _ =>
        }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inT =>
          sb.append(r.getText)
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "si" => inSi = false; out += sb.toString
          case "rPh" => inPhonetic = false
          case "t" => inT = false
          case _ =>
        }
        case _ =>
      }
    } finally r.close()
    out.toIndexedSeq
  }

  /** "B12" → (11, 1). */
  private[sources] def cellRef(ref: String): (Int, Int) = {
    var col = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      col = col * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    val row = ref.substring(i).toInt
    (row - 1, col - 1)
  }

  /** One worksheet's `<sheetData>` into the sparse grid. Cells without an
    * `r` ref take the next column of the current row (the spec allows
    * omitting refs; streaming writers do).
    */
  private def parseSheet(bytes: Array[Byte], dateStyles: Set[Int],
                         sst: IndexedSeq[String], path: String): Map[(Int, Int), SheetGrid.Cell] = {
    import SheetGrid._
    val r = xmlReader(bytes)
    val cells = mutable.Map[(Int, Int), Cell]()
    var row = -1
    var col = -1
    var cellType = ""
    var cellStyle = 0
    var inV = false
    var inIsT = false
    var haveCell = false
    val text = new java.lang.StringBuilder

    def endCell(): Unit = if (haveCell) {
      val s = text.toString
      val cell: Option[Cell] = cellType match {
        case "s" =>
          val idx = s.trim.toInt
          if (idx < 0 || idx >= sst.length) throw ExtractError(
            s"XLSX at $path: shared-string index $idx out of range (SST has ${sst.length})")
          Some(StrCell(sst(idx)))
        case "str" | "inlineStr" => Some(StrCell(s))
        case "b" => Some(NumCell(if (s.trim == "1") 1.0 else 0.0))
        case "e" => None // error cell → null
        case _ => // number (or date-styled number)
          if (s.trim.isEmpty) None
          else {
            val v = s.trim.toDouble
            Some(if (dateStyles.contains(cellStyle)) DateCell(v) else NumCell(v))
          }
      }
      cell.foreach(cells((row, col)) = _)
      haveCell = false
    }

    try while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "row" =>
            row = attr(r, "r").map(_.toInt - 1).getOrElse(row + 1)
            col = -1
          case "c" =>
            attr(r, "r") match {
              case Some(ref) => val (ri, ci) = cellRef(ref); row = ri; col = ci
              case None => col += 1
            }
            cellType = attr(r, "t").getOrElse("")
            cellStyle = attr(r, "s").map(_.toInt).getOrElse(0)
            text.setLength(0)
            haveCell = true
          case "v" => inV = true
          case "t" if cellType == "inlineStr" => inIsT = true
          case _ =>
        }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA
            if inV || inIsT =>
          text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "v" => inV = false
          case "t" => inIsT = false
          case "c" => endCell()
          case _ =>
        }
        case _ =>
      }
    } finally r.close()
    cells.toMap
  }
}
