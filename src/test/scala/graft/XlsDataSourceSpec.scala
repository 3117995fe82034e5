package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

/** DataSource V2 `xls` format: one task per file, each decoding its
  * workbook with the BIFF8 decoder.
  */
class XlsDataSourceSpec extends SparkTestBase {
  private val sample = "/root/reference/data/traffic_spreadsheet.xls"

  test("format(\"xls\") reads the reference file with inferred schema") {
    assume(new java.io.File(sample).exists())
    val df = spark.read.format("xls").load(sample)
    assert(df.columns.toSeq == Seq("time", "traffic"))
    assert(df.schema("time").dataType.typeName == "timestamp")
    assert(df.schema("traffic").dataType.typeName == "double")
    assert(df.count() == 287)
    val head = df.orderBy("time").limit(1).collect().head
    assert(head.getTimestamp(0) == Timestamp.valueOf("2021-05-23 00:00:00"))
    val avg = df.agg(org.apache.spark.sql.functions.avg("traffic")).head().getDouble(0)
    assert(math.abs(avg - 6.95334) < 1e-4)
  }

  test("a directory of files becomes one partition per file") {
    assume(new java.io.File(sample).exists())
    val dir = tmpPath("xlsmulti")
    Files.copy(Paths.get(sample), dir.resolve("a.xls"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(sample), dir.resolve("b.xls"), StandardCopyOption.REPLACE_EXISTING)
    val df = spark.read.format("xls").load(dir.toString)
    assert(df.count() == 574)
    assert(df.rdd.getNumPartitions == 2)
  }

  test("multi-path load() reads every named file (paths arrive as a JSON array)") {
    assume(new java.io.File(sample).exists())
    val dir = tmpPath("xlspaths")
    Files.copy(Paths.get(sample), dir.resolve("a.xls"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(sample), dir.resolve("b.xls"), StandardCopyOption.REPLACE_EXISTING)
    val df = spark.read.format("xls")
      .load(s"$dir/a.xls", s"$dir/b.xls")
    assert(df.count() == 574)
  }

  test("required-column pruning reaches the scan") {
    assume(new java.io.File(sample).exists())
    val df = spark.read.format("xls").load(sample).select("traffic")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("XlsScan[xls, 1 files, traffic]"), s"plan was:\n$plan")
    assert(math.abs(df.agg(org.apache.spark.sql.functions.max("traffic"))
      .head().getDouble(0) - 9.3624) < 1e-3)
  }

  test("explicit user schema skips inference") {
    assume(new java.io.File(sample).exists())
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("time", TimestampType),
      StructField("traffic", DoubleType)))
    val df = spark.read.format("xls").schema(schema).load(sample)
    assert(df.count() == 287)
  }

  test("format(\"excel\") reads generated .xls and .xlsx files of one directory, a task each") {
    val dir = tmpPath("excelgen")
    val t0 = Timestamp.valueOf("2021-05-23 00:00:00").getTime
    def day(d: Int) = (0 until 288).map(i =>
      Seq[Any](new Timestamp(t0 + (d * 288 + i) * 300000L), 4.0 + i % 55 * 0.1))
    XlsTestWriter.write(dir.resolve("a.xls").toFile, Seq("time", "traffic"), day(0))
    XlsxTestWriter.write(dir.resolve("b.xlsx").toFile, Seq("time", "traffic"), day(1))
    XlsTestWriter.write(dir.resolve("c.xls").toFile, Seq("time", "traffic"), day(2))
    val df = spark.read.format("excel").load(dir.toString)
    assert(df.rdd.getNumPartitions == 3)
    val rows = df.orderBy("time").collect()
    assert(rows.length == 3 * 288)
    assert(rows.map(_.getTimestamp(0).getTime).toSeq == (0 until 3 * 288).map(t0 + _ * 300000L))
    assert(rows.map(_.getDouble(1)).toSeq == (0 until 3).flatMap(_ => (0 until 288).map(4.0 + _ % 55 * 0.1)))
  }

  test("no matching files raises a clear error") {
    val e = intercept[Exception] {
      spark.read.format("xls").load("/tmp/definitely-missing-*.xls").collect()
    }
    assert(e.getMessage.contains("matched no files") ||
      Option(e.getCause).exists(_.getMessage.contains("matched no files")))
  }

  test("a glob that matches only non-.xls files raises up front, not in decode") {
    val dir = tmpPath("xlsglob").toFile
    val f = new java.io.File(dir, "notes.csv")
    java.nio.file.Files.write(f.toPath, "a,b\n1,2\n".getBytes)
    val e = intercept[Exception] {
      spark.read.format("xls").load(s"${dir.getAbsolutePath}/notes.*").collect()
    }
    assert(e.getMessage.contains("unexpected extension") ||
      Option(e.getCause).exists(_.getMessage.contains("unexpected extension")))
  }
}
