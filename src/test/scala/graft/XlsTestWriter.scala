package graft

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.sql.Timestamp

/** Minimal deterministic BIFF8 (.xls) writer for fixtures: an OLE2
  * compound file holding one "Workbook" stream with the records
  * [[graft.sources.XlsSource]] decodes. [[write]] takes the same
  * header/rows shape as [[XlsxTestWriter.write]]. Values: Timestamp →
  * NUMBER under a date-formatted XF (ifmt 22, the sample's `m/d/yy h:mm`),
  * Double/Int → NUMBER, String → LABELSST into the shared string table,
  * null → omitted cell. [[rec]] and [[ole2]] build files record by record
  * for the decoder paths [[write]] never emits (RK, MULRK, ...).
  */
object XlsTestWriter {

  def leShort(v: Int): Array[Byte] =
    ByteBuffer.allocate(2).order(ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array()

  def leInt(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  /** One BIFF record: type, body length, body. */
  def rec(t: Int, body: Array[Byte]): Array[Byte] =
    leShort(t) ++ leShort(body.length) ++ body

  /** An SST entry: 16-bit length, compressed (8-bit) characters. */
  private def sstString(s: String): Array[Byte] =
    leShort(s.length) ++ Array(0.toByte) ++ s.getBytes("ISO-8859-1")

  /** An XF record whose number format is `ifmt`. */
  def xf(ifmt: Int): Array[Byte] = rec(0xE0, leShort(0) ++ leShort(ifmt) ++ new Array[Byte](16))

  def labelSst(r: Int, c: Int, i: Int): Array[Byte] =
    rec(0xFD, leShort(r) ++ leShort(c) ++ leShort(0) ++ leInt(i))

  def number(r: Int, c: Int, xfIndex: Int, v: Double): Array[Byte] =
    rec(0x203, leShort(r) ++ leShort(c) ++ leShort(xfIndex) ++
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v).array())

  /** BOF record; the decoder counts them (globals, then the first sheet). */
  val bof: Array[Byte] = rec(0x809, new Array[Byte](16))
  val eof: Array[Byte] = rec(0x0A, Array[Byte]())

  /** The SST record. One record holds at most 8,224 body bytes (BIFF8);
    * larger tables would need CONTINUE records, which no fixture needs.
    */
  def sst(strings: Seq[String]): Array[Byte] = {
    val body = leInt(strings.size) ++ leInt(strings.size) ++ strings.flatMap(sstString)
    require(body.length <= 8224, "shared strings past one SST record")
    rec(0xFC, body)
  }

  /** Wraps a workbook stream in an OLE2 container: header, FAT sectors,
    * the stream's sectors, one directory sector. The mini-stream cutoff
    * is 0, so the stream is always read through the regular FAT chain.
    */
  def ole2(workbook: Array[Byte]): Array[Byte] = {
    val secSize = 512
    val perFat = secSize / 4
    val wbSectors = (workbook.length + secSize - 1) / secSize
    // the FAT covers its own sectors too
    val nFat = Iterator.from(1).find(n => n * perFat >= n + wbSectors + 1).get
    require(nFat <= 109, "workbook too large for the header's FAT list")
    val dirSector = nFat + wbSectors
    val fat = ByteBuffer.allocate(nFat * secSize).order(ByteOrder.LITTLE_ENDIAN)
    (0 until nFat).foreach(_ => fat.putInt(-3)) // FAT sectors
    (1 until wbSectors).foreach(i => fat.putInt(nFat + i)) // workbook chain
    fat.putInt(-2) // end of the workbook chain
    fat.putInt(-2) // directory: one sector
    while (fat.remaining() >= 4) fat.putInt(-1)

    def dirEntry(name: String, typ: Byte, start: Int, size: Int): Array[Byte] = {
      val e = ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
      val utf16 = name.getBytes("UTF-16LE")
      e.put(utf16); e.position(64); e.putShort((utf16.length + 2).toShort)
      e.put(66, typ); e.putInt(116, start); e.putInt(120, size)
      e.array()
    }
    val dir = ByteBuffer.allocate(secSize).order(ByteOrder.LITTLE_ENDIAN)
    dir.put(dirEntry("Root Entry", 5, -2, 0))
    dir.put(dirEntry("Workbook", 2, nFat, workbook.length))
    while (dir.remaining() >= 128) dir.put(dirEntry("", 0, -1, 0))

    val header = ByteBuffer.allocate(512).order(ByteOrder.LITTLE_ENDIAN)
    header.putLong(0xE11AB1A1E011CFD0L)
    header.putShort(30, 9); header.putShort(32, 6) // 512-byte sectors, 64-byte mini
    header.putInt(44, nFat)
    header.putInt(48, dirSector)
    header.putInt(56, 0) // mini cutoff
    header.putInt(60, -2); header.putInt(68, -2); header.putInt(72, 0)
    (0 until 109).foreach(i => header.putInt(76 + i * 4, if (i < nFat) i else -1))

    header.array() ++ fat.array() ++
      java.util.Arrays.copyOf(workbook, wbSectors * secSize) ++ dir.array()
  }

  def write(path: File, header: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    val strings = scala.collection.mutable.LinkedHashMap[String, Int]()
    def sstIdx(s: String): Int = strings.getOrElseUpdate(s, strings.size)
    val cells = (header +: rows).zipWithIndex.flatMap { case (values, r) =>
      values.zipWithIndex.collect {
        case (ts: Timestamp, c) => number(r, c, 1, XlsxTestWriter.toSerial(ts))
        case (d: Double, c)     => number(r, c, 0, d)
        case (i: Int, c)        => number(r, c, 0, i.toDouble)
        case (s: String, c)     => labelSst(r, c, sstIdx(s))
        case (other, _) if other != null =>
          throw new IllegalArgumentException(s"unsupported $other")
      }
    }
    // the SST must precede the cells that index it
    val workbook = bof ++ sst(strings.keys.toSeq) ++ xf(0) ++ xf(22) ++
      bof ++ cells.flatten ++ eof
    java.nio.file.Files.write(path.toPath, ole2(workbook))
  }
}
