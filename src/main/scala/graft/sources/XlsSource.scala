package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import org.apache.spark.sql.types._

import graft.ExtractError

/** XLS (BIFF8 / .xls) decoder.
  *
  * The reference ingests one small XLS via pandas+xlrd
  * (src/etl/extract.py:55-67, read at extract.py:60). Spark has no built-in
  * Excel source and graft carries no POI jar, so BIFF8 is decoded here
  * directly, as a pure function of the file's bytes; the `xls`/`excel`
  * DataSource V2 (`sources/xls/XlsDataSource.scala`) runs it inside the
  * one task that reads each file.
  *
  * Format notes (public Microsoft BIFF8 spec):
  *  - The .xls container is an OLE2/CFB compound file; the workbook lives in
  *    the "Workbook" (or legacy "Book") stream.
  *  - Records: BOF(0x809), SST(0xFC), LABELSST(0xFD), NUMBER(0x203),
  *    RK(0x27E), MULRK(0xBD), FORMAT(0x41E), XF(0xE0), LABEL(0x204).
  *  - Cells referencing an XF whose number format is a date format (builtin
  *    ifmts 14-22/45-47, e.g. ifmt 22 `m/d/yy h:mm` used by the sample —
  *    see SURVEY §1.4) are decoded as timestamps from the Excel 1900 serial.
  */
object XlsSource {

  /** Core decode: XLS bytes -> (inferred schema, data rows as Seq[Any]
    * aligned with the schema) of the first worksheet. First row = header
    * (lowercased downstream by the transform, T1). Numeric columns →
    * DoubleType; date-formatted columns → TimestampType; strings →
    * StringType. Empty input rejects, mirroring extract.py:76-77.
    */
  private[sources] def decode(bytes: Array[Byte], path: String): (StructType, Seq[Seq[Any]]) = {
    val cells = parseCells(bytes, path)
    if (cells.isEmpty) throw ExtractError(s"No cells decoded from XLS at $path")
    // grid → (schema, rows) is format-independent and shared with the
    // OOXML decoder ([[SheetGrid]]); BIFF8 stays on the 1900 date system
    // (the sample and every pandas-written .xls use it)
    SheetGrid.tableFromCells(cells, path)
  }

  // ---------- cell model (shared with the OOXML decoder) ----------

  private type Cell = SheetGrid.Cell
  private val NumCell = SheetGrid.NumCell
  private val DateCell = SheetGrid.DateCell
  private val StrCell = SheetGrid.StrCell

  // ---------- OLE2 (CFB) container ----------

  /** Does the blob start with the OLE2 compound-file signature? */
  private[sources] def isOle2(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 &&
      ByteBuffer.wrap(bytes, 0, 8).order(ByteOrder.LITTLE_ENDIAN).getLong == 0xE11AB1A1E011CFD0L

  /** Extract the Workbook stream bytes from the compound file. */
  private def workbookStream(bytes: Array[Byte]): Array[Byte] = {
    require(isOle2(bytes), "not an OLE2 compound file")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val sectorShift = bb.getShort(30).toInt // usually 9 → 512-byte sectors
    val secSize = 1 << sectorShift
    val miniShift = bb.getShort(32).toInt
    val miniSize = 1 << miniShift
    val numFatSectors = bb.getInt(44)
    val dirStart = bb.getInt(48)
    val miniCutoff = bb.getInt(56)
    val miniFatStart = bb.getInt(60)
    val difatStart = bb.getInt(68)
    val numDifat = bb.getInt(72)

    def sectorOffset(sid: Int): Int = 512 + sid * secSize

    // FAT sector ids: 109 in header DIFAT + chained DIFAT sectors
    val fatSids = mutable.ArrayBuffer[Int]()
    for (i <- 0 until 109) {
      val sid = bb.getInt(76 + i * 4)
      if (sid >= 0) fatSids += sid
    }
    var difatSid = difatStart
    var difatCount = 0
    while (difatSid >= 0 && difatCount < numDifat) {
      val base = sectorOffset(difatSid)
      for (i <- 0 until (secSize / 4 - 1)) {
        val sid = bb.getInt(base + i * 4)
        if (sid >= 0) fatSids += sid
      }
      difatSid = bb.getInt(base + secSize - 4)
      difatCount += 1
    }
    val fat = fatSids.flatMap { sid =>
      val base = sectorOffset(sid)
      (0 until secSize / 4).map(i => bb.getInt(base + i * 4))
    }.toArray

    def readChain(start: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var sid = start
      var guard = 0
      while (sid >= 0 && guard < fat.length + 2) {
        out.write(bytes, sectorOffset(sid), secSize)
        sid = fat(sid)
        guard += 1
      }
      out.toByteArray
    }

    // Directory entries are 128 bytes: name (64B UTF-16LE) + meta.
    val dir = readChain(dirStart)
    val dbb = ByteBuffer.wrap(dir).order(ByteOrder.LITTLE_ENDIAN)
    case class Entry(name: String, startSector: Int, size: Long)
    val entries = (0 until dir.length / 128).map { i =>
      val off = i * 128
      val nameLen = dbb.getShort(off + 64).toInt
      val name =
        if (nameLen >= 2)
          new String(dir, off, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
        else ""
      Entry(name, dbb.getInt(off + 116), dbb.getInt(off + 120).toLong & 0xFFFFFFFFL)
    }
    val root = entries.headOption.getOrElse(
      throw ExtractError("empty OLE2 directory"))
    val wb = entries.find(e => e.name == "Workbook" || e.name == "Book")
      .getOrElse(throw ExtractError(
        s"No Workbook stream; streams = ${entries.map(_.name).mkString(",")}"))

    if (wb.size >= miniCutoff) {
      readChain(wb.startSector).take(wb.size.toInt)
    } else {
      // mini-stream: chained via mini-FAT inside the root entry's stream
      val miniFat = {
        val raw = readChain(miniFatStart)
        val mb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        (0 until raw.length / 4).map(mb.getInt).toArray
      }
      val miniStream = readChain(root.startSector)
      val out = new java.io.ByteArrayOutputStream()
      var sid = wb.startSector
      var guard = 0
      while (sid >= 0 && guard < miniFat.length + 2) {
        out.write(miniStream, sid * miniSize, miniSize)
        sid = miniFat(sid)
        guard += 1
      }
      out.toByteArray.take(wb.size.toInt)
    }
  }

  // ---------- BIFF8 record scan ----------

  private def parseCells(container: Array[Byte], path: String): Map[(Int, Int), Cell] = {
    val wb = workbookStream(container)
    val bb = ByteBuffer.wrap(wb).order(ByteOrder.LITTLE_ENDIAN)

    val builtinDateFmts = Set(14, 15, 16, 17, 18, 19, 20, 21, 22, 45, 46, 47)
    val customDateFmts = mutable.Set[Int]()
    val xfFormats = mutable.ArrayBuffer[Int]() // xf index → ifmt
    val sst = mutable.ArrayBuffer[String]()
    val cells = mutable.Map[(Int, Int), Cell]()

    def isDateXf(xf: Int): Boolean = xf < xfFormats.length && {
      val ifmt = xfFormats(xf)
      builtinDateFmts.contains(ifmt) || customDateFmts.contains(ifmt)
    }

    def rkToDouble(rk: Int): Double = {
      val div100 = (rk & 1) != 0
      val isInt = (rk & 2) != 0
      val v =
        if (isInt) (rk >> 2).toDouble
        else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
      if (div100) v / 100.0 else v
    }

    // Parse the SST's mixed compressed/uncompressed strings across the SST
    // record and its CONTINUE (0x3C) records. Character data that spans a
    // record boundary resumes with a fresh grbit (encoding flag) byte per
    // the BIFF8 spec; non-character data (rich runs / ext blocks) continues
    // raw. Any structural inconsistency throws — silent string loss would
    // corrupt downstream cells (LABELSST indices would dangle).
    def parseSst(segments: Seq[Array[Byte]]): Unit = {
      var seg = 0
      var off = 8 // skip cstTotal/cstUnique in the first segment
      def segLen = segments(seg).length
      def atEnd: Boolean = seg >= segments.length ||
        (seg == segments.length - 1 && off >= segLen)
      def ensure(): Unit = { // hop to the next segment if this one is done
        while (seg < segments.length && off >= segments(seg).length) {
          seg += 1; off = 0
        }
      }
      def u8(): Int = {
        ensure()
        if (seg >= segments.length)
          throw graft.ExtractError("SST truncated in string header")
        val v = segments(seg)(off) & 0xFF; off += 1; v
      }
      def u16(): Int = u8() | (u8() << 8)
      def i32(): Int = u16() | (u16() << 16)
      val unique = {
        val b = ByteBuffer.wrap(segments.head).order(ByteOrder.LITTLE_ENDIAN)
        b.getInt(4)
      }
      var i = 0
      while (i < unique) {
        if (atEnd) throw graft.ExtractError(
          s"SST truncated: expected $unique strings, got $i")
        val len = u16()
        val flags0 = u8()
        var wide = (flags0 & 1) != 0
        val rich = (flags0 & 8) != 0
        val ext = (flags0 & 4) != 0
        val richCount = if (rich) u16() else 0
        val extSize = if (ext) i32() else 0
        val sb = new java.lang.StringBuilder(len)
        var remaining = len
        while (remaining > 0) {
          ensure()
          if (seg >= segments.length) throw graft.ExtractError(
            "SST truncated mid-string")
          if (off == 0 && sb.length() > 0) {
            // character data resuming in a CONTINUE record: new grbit byte
            wide = (u8() & 1) != 0
          }
          val avail = segments(seg).length - off
          val charBytes = if (wide) 2 else 1
          val take = math.min(remaining, avail / charBytes)
          if (take == 0 && avail > 0) throw graft.ExtractError(
            "SST record split mid-character")
          sb.append(new String(segments(seg), off, take * charBytes,
            if (wide) "UTF-16LE" else "ISO-8859-1"))
          off += take * charBytes
          remaining -= take
        }
        // skip rich-text runs and ext data (raw bytes, may span segments)
        var skip = richCount * 4 + extSize
        while (skip > 0) {
          ensure()
          if (seg >= segments.length) throw graft.ExtractError(
            "SST truncated in rich/ext data")
          val take = math.min(skip, segments(seg).length - off)
          off += take; skip -= take
        }
        sst += sb.toString
        i += 1
      }
    }

    var pos = 0
    var sheetCount = 0
    while (pos + 4 <= wb.length) {
      val recType = bb.getShort(pos) & 0xFFFF
      val recLen = bb.getShort(pos + 2) & 0xFFFF
      val body = pos + 4
      recType match {
        case 0x809 => sheetCount += 1 // BOF #1 = workbook globals, #2 = sheet 1
        case 0x0A if sheetCount >= 2 => pos = wb.length // EOF of sheet 1: stop
        case 0xFC =>
          // collect the SST body + all immediately-following CONTINUE bodies
          val segs = mutable.ArrayBuffer(wb.slice(body, body + recLen))
          var next = body + recLen
          while (next + 4 <= wb.length && (bb.getShort(next) & 0xFFFF) == 0x3C) {
            val cLen = bb.getShort(next + 2) & 0xFFFF
            segs += wb.slice(next + 4, next + 4 + cLen)
            next += 4 + cLen
          }
          parseSst(segs.toSeq)
        case 0x41E => // FORMAT: custom number format — date if it has y/m/d/h/s codes
          val ifmt = bb.getShort(body) & 0xFFFF
          val cch = bb.getShort(body + 2) & 0xFFFF
          val flags = wb(body + 4) & 0xFF
          val fmtStr =
            if ((flags & 1) == 0) new String(wb, body + 5, cch, "ISO-8859-1")
            else new String(wb, body + 5, cch * 2, "UTF-16LE")
          if (SheetGrid.looksLikeDateFormat(fmtStr))
            customDateFmts += ifmt
        case 0xE0 => // XF
          xfFormats += (bb.getShort(body + 2) & 0xFFFF)
        case 0x203 if sheetCount == 2 => // NUMBER
          val r = bb.getShort(body) & 0xFFFF
          val c = bb.getShort(body + 2) & 0xFFFF
          val xf = bb.getShort(body + 4) & 0xFFFF
          val v = bb.getDouble(body + 6)
          cells((r, c)) = if (isDateXf(xf)) DateCell(v) else NumCell(v)
        case 0x27E if sheetCount == 2 => // RK
          val r = bb.getShort(body) & 0xFFFF
          val c = bb.getShort(body + 2) & 0xFFFF
          val xf = bb.getShort(body + 4) & 0xFFFF
          val v = rkToDouble(bb.getInt(body + 6))
          cells((r, c)) = if (isDateXf(xf)) DateCell(v) else NumCell(v)
        case 0xBD if sheetCount == 2 => // MULRK
          val r = bb.getShort(body) & 0xFFFF
          val cFirst = bb.getShort(body + 2) & 0xFFFF
          val n = (recLen - 6) / 6
          for (i <- 0 until n) {
            val xf = bb.getShort(body + 4 + i * 6) & 0xFFFF
            val v = rkToDouble(bb.getInt(body + 6 + i * 6))
            cells((r, cFirst + i)) = if (isDateXf(xf)) DateCell(v) else NumCell(v)
          }
        case 0xFD if sheetCount == 2 => // LABELSST
          val r = bb.getShort(body) & 0xFFFF
          val c = bb.getShort(body + 2) & 0xFFFF
          val idx = bb.getInt(body + 6)
          if (idx < 0 || idx >= sst.length)
            throw ExtractError(
              s"LABELSST index $idx out of range (SST has ${sst.length} strings) at cell ($r,$c)")
          cells((r, c)) = StrCell(sst(idx))
        case 0x204 if sheetCount == 2 => // LABEL (inline string)
          val r = bb.getShort(body) & 0xFFFF
          val c = bb.getShort(body + 2) & 0xFFFF
          val len = bb.getShort(body + 6) & 0xFFFF
          val flags = wb(body + 8) & 0xFF
          val s =
            if ((flags & 1) == 0) new String(wb, body + 9, len, "ISO-8859-1")
            else new String(wb, body + 9, len * 2, "UTF-16LE")
          cells((r, c)) = StrCell(s)
        case _ =>
      }
      if (pos < wb.length) pos = body + recLen
    }
    cells.toMap
  }
}
