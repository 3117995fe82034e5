package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local session per suite, UTC, small
  * shuffle fan-out, nanos-tolerant parquet reads, and what every engine
  * session carries (`GraftSession.install`): the engine's own `file:`
  * filesystem and graft's SQL functions, so every spec writes through the
  * one and calls the other without installing anything.
  */
object SparkTestBase {
  def builder(): SparkSession.Builder = GraftSession.install(SparkSession.builder())
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.builder().getOrCreate()

  val Sf = "/root/testdata/sf0.001"

  /** Temp dirs created through these helpers are deleted in afterAll —
    * specs must not leak a directory per run (r7 advice).
    */
  private val tmpDirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()

  def tmpPath(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.synchronized { tmpDirs += p }
    p
  }

  def tmpDir(prefix: String): String = tmpPath(prefix).toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    try {
      import scala.jdk.CollectionConverters._
      tmpDirs.foreach { root =>
        if (java.nio.file.Files.exists(root)) {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
          finally walk.close()
        }
      }
    } finally super.afterAll()
  }
}
