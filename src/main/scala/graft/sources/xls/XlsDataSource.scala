package graft.sources.xls

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{SheetGrid, XlsSource, XlsxSource}

/** The one workbook decode, the reference's `pd.read_excel` posture
  * (extract.py:60): a file with the OLE2 magic (D0CF11E0) is BIFF8
  * `.xls`; anything else goes to the OOXML `.xlsx` decoder, which rejects
  * a non-ZIP. A mixed directory of legacy and modern exports reads in one
  * pass whichever short name loaded it.
  */
private[xls] object Workbook {
  def decode(bytes: Array[Byte], path: String): (StructType, Seq[Seq[Any]]) =
    if (XlsSource.isOle2(bytes)) XlsSource.decode(bytes, path)
    else XlsxSource.decode(bytes, path)
}

/** DataSource V2 for Excel files, the only way a workbook becomes a
  * DataFrame: `format("xls")`, `format("xlsx")` and `format("excel")`
  * differ only in the file extensions they accept (`.xls`, `.xlsx`, both)
  * and the label plans and errors show. Every file goes through the same
  * [[Workbook.decode]].
  *
  * `load(fileDirOrGlob)` plans ONE input partition per file, each executor
  * task decodes its file independently, and required-column pruning
  * (SupportsPushDownRequiredColumns) means a query that selects two
  * columns never materializes the rest. Excel workbooks are not
  * splittable (whole-container OLE2/ZIP), so file granularity is the
  * natural parallel unit: one task for the reference's single daily
  * workbook, ten thousand for a bucket of daily exports.
  *
  * Schema: inferred from the FIRST file (or supplied explicitly via
  * .schema(...) — supportsExternalMetadata). All files must share the
  * header contract, the same assumption the reference's required-column
  * check makes per file.
  */
abstract class ExcelDataSourceBase(label: String, extensions: Seq[String])
    extends TableProvider with DataSourceRegister {

  override def shortName(): String = label

  override def supportsExternalMetadata(): Boolean = true

  /** The SESSION's Hadoop configuration (spark.hadoop.* credentials,
    * filesystem impls for gs://, s3a://, ...) — a bare `new
    * Configuration()` would silently drop them and break every
    * non-local-FS read.
    */
  private def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  /** Expands paths/globs to the workbook file list. The extension filter
    * is applied UNIFORMLY — to directory listings and to glob/direct matches
    * alike — so a stray .csv swept up by a glob fails here with a clear
    * message instead of deep inside a decoder. Directory expansion
    * is one level deep (non-recursive), like a non-globbed Spark file
    * source without recursiveFileLookup; use a nested glob for deeper
    * layouts.
    */
  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val conf = hadoopConf()
    // Spark encodes load(p1, p2, ...) as a JSON ARRAY in the "paths"
    // option (DataSourceV2Utils) — it is NOT comma-separated
    val multi = Option(options.get("paths")).toSeq.flatMap { json =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(json, classOf[Array[String]]).toSeq
    }
    val raw = Option(options.get("path")).toSeq ++ multi
    def isWorkbook(name: String): Boolean = {
      val lower = name.toLowerCase
      extensions.exists(lower.endsWith)
    }
    // directory listings filter by extension SILENTLY (a mixed directory
    // is normal); files matched by name or glob must all match — dropping
    // one silently would lose explicitly-requested data, so any offender
    // is a loud, named error
    val (dirListed, fileMatched) = raw.foldLeft(
      (Seq.empty[String], Seq.empty[String])) { case ((dl, fm), p) =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val globbed = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      val (dirs, files) = globbed.partition(_.isDirectory)
      val listed = dirs.flatMap(d => fs.listStatus(d.getPath).toSeq
        .filter(f => f.isFile && isWorkbook(f.getPath.getName)).map(_.getPath.toString))
      (dl ++ listed, fm ++ files.map(_.getPath.toString))
    }
    val badFiles = fileMatched.filterNot(f => isWorkbook(new Path(f).getName))
    if (badFiles.nonEmpty)
      throw graft.ExtractError(
        s"$label source: matched file(s) with an unexpected extension: " +
          s"${badFiles.take(5).mkString(", ")}${if (badFiles.length > 5) ", ..." else ""}")
    val expanded = dirListed ++ fileMatched
    if (expanded.isEmpty)
      throw graft.ExtractError(s"$label source matched no files for ${raw.mkString(",")}")
    expanded.sorted
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val first = paths(options).head
    Workbook.decode(SheetGrid.readAllBytes(hadoopConf(), first), first)._1
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new XlsTable(schema, paths(opts), label)
  }
}

/** `spark.read.format("xls")` — `.xls` files. */
class XlsDataSource extends ExcelDataSourceBase("xls", Seq(".xls"))

/** `spark.read.format("xlsx")` — `.xlsx` files. */
class XlsxDataSource extends ExcelDataSourceBase("xlsx", Seq(".xlsx"))

/** `spark.read.format("excel")` — both extensions. */
class ExcelDataSource extends ExcelDataSourceBase("excel", Seq(".xls", ".xlsx"))

/** Java-serializable Hadoop Configuration carrier (Spark's own
  * SerializableConfiguration is private[spark]).
  */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

class XlsTable(tableSchema: StructType, files: Seq[String],
               label: String) extends Table with SupportsRead {
  // keep the table name bounded: at 10k-files scale a full path list would
  // put megabytes into plan strings, the UI, and error messages
  override def name(): String =
    if (files.length <= 3) s"$label(${files.mkString(",")})"
    else s"$label(${files.length} files: ${files.head}, ...)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  /** The session's Hadoop configuration as of the table's first scan,
    * broadcast once and shared by every scan of this load: serialized
    * into each task instead (~110 KB), it cost more than the decode.
    */
  private lazy val conf: Broadcast[SerializableHadoopConf] = {
    val session = org.apache.spark.sql.SparkSession.active
    session.sparkContext.broadcast(new SerializableHadoopConf(session.sessionState.newHadoopConf()))
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XlsScanBuilder(tableSchema, files, label, conf)
}

/** Column pruning: Catalyst hands us the required columns; each task then
  * converts only those. (Predicate pushdown is deliberately absent: a
  * non-splittable XLS must be fully decoded either way, so a filter would
  * prune rows only after decode — no I/O saved, complexity for nothing.)
  */
class XlsScanBuilder(fullSchema: StructType, files: Seq[String],
                     label: String, conf: Broadcast[SerializableHadoopConf])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve full-schema field order; empty projection (count(*)) is legal
    required = requiredSchema
  }

  override def build(): Scan = new XlsScan(fullSchema, required, files, label, conf)
}

class XlsScan(fullSchema: StructType, required: StructType, files: Seq[String],
              label: String, conf: Broadcast[SerializableHadoopConf])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"XlsScan[$label, ${files.length} files, ${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => XlsInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new XlsReaderFactory(fullSchema, required, label, conf)
}

case class XlsInputPartition(path: String) extends InputPartition

class XlsReaderFactory(fullSchema: StructType, required: StructType,
                       label: String, conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[XlsInputPartition].path
    new XlsPartitionReader(path, fullSchema, required, label, conf)
  }
}

/** One task = one file: decode, project to the pruned schema, convert to
  * InternalRow (timestamps as micros, strings as UTF8String).
  */
class XlsPartitionReader(path: String, fullSchema: StructType, required: StructType,
                         label: String, conf: Broadcast[SerializableHadoopConf])
    extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[Seq[Any]] = {
    val (fileSchema, data) = Workbook.decode(
      SheetGrid.readAllBytes(conf.value.value, path), path)
    // map required fields to the FILE's column positions by name — files
    // may order columns differently as long as names match
    val idx = required.fields.map { f =>
      val i = fileSchema.fieldIndex(f.name) // throws with a clear message if absent
      val ft = fileSchema.fields(i).dataType
      require(ft == f.dataType,
        s"$label column '${f.name}' in $path is $ft, expected ${f.dataType}")
      i
    }
    data.iterator.map(row => idx.toSeq.map(row))
  }

  private var current: Seq[Any] = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = {
    val values = current.zip(required.fields).map {
      case (null, _) => null
      case (v: java.sql.Timestamp, f) if f.dataType == TimestampType =>
        v.getTime * 1000L + (v.getNanos / 1000) % 1000
      case (v: String, _)  => UTF8String.fromString(v)
      case (v, _)          => v
    }
    new GenericInternalRow(values.toArray)
  }

  override def close(): Unit = ()
}
