package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sql.SqlFrontDoor

/** The public contract docs (README.md, COVERAGE.md) state registry and
  * SQL-front-door counts; this spec derives the real numbers from the
  * code so the docs can never silently drift again (the r5/r6 advice
  * flagged exactly that — three different twin counts across two files).
  * No SparkSession needed: the counts are plain collection sizes.
  */
class DocCountsSpec extends AnyFunSuite {

  private def read(name: String): String = {
    val src = scala.io.Source.fromFile(name, "UTF-8")
    try src.mkString finally src.close()
  }

  /** `src/main` Scala files, paired with their text. */
  private def mainSources(): Seq[(String, String)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try walk.iterator().asScala
      .map(_.toString).filter(_.endsWith(".scala")).toSeq.sorted
      .map(p => p -> read(p))
    finally walk.close()
  }

  test("front-door partition is consistent and total") {
    val hand = SqlFrontDoor.handTwins.keySet
    val derived = SqlFrontDoor.derived
    assert((hand intersect derived).isEmpty)
    assert((hand union derived) === SparkEntry.queries.keySet)
  }

  test("no duplicate registry keys in the source map literals") {
    // A Map literal with a repeated key silently keeps the last entry —
    // a new query accidentally reusing an existing name would override
    // the old operator without any compile- or runtime signal. Each name
    // must appear exactly twice in SparkEntry (queries + oracleSql) and
    // at most once in SqlFrontDoor (one hand twin).
    val key = """"(q_[a-z0-9_]+)" ->""".r
    val entry = key.findAllMatchIn(read("src/main/scala/graft/SparkEntry.scala"))
      .map(_.group(1)).toSeq
    val dupEntry = entry.groupBy(identity).filter(_._2.size != 2).keys
    assert(dupEntry.isEmpty, s"names not appearing exactly twice in SparkEntry: $dupEntry")
    val door = key.findAllMatchIn(read("src/main/scala/graft/sql/SqlFrontDoor.scala"))
      .map(_.group(1)).toSeq
    val dupDoor = door.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupDoor.isEmpty, s"names appearing more than once in SqlFrontDoor: $dupDoor")
  }

  test("only GraftSession builds a SparkSession in src/main") {
    // every entry point takes the engine conf from GraftSession.builder;
    // a hand-rolled builder drifts from it (missing shuffle tuning, AQE)
    val hits = mainSources().collect {
      case (p, text) if text.contains("SparkSession.builder(") => p
    }
    assert(hits === Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("only functions/ touches the function registry in src/main") {
    // graft's functions are installed once, when GraftSession builds the
    // session (GraftExtensions); an operator that registers them again
    // is a second installer that can drift from the one list
    val hits = mainSources().collect {
      case (p, text) if Seq("GraftFunctions.register(", "createOrReplaceTempFunction",
          "functionRegistry").exists(text.contains) => p
    }
    assert(hits.filterNot(_.startsWith("src/main/scala/graft/functions/")).isEmpty,
      s"function registry touched outside functions/: ${hits.mkString(", ")}")
  }

  test("only Tables opens parquet in src/main") {
    // every read goes through Tables.parquet, which reads the schema from
    // one footer on the driver; a bare spark.read.parquet runs a Spark
    // job per open just to infer it. Any reader chain counts:
    // `.read.option(...)...parquet(` as much as `.read.parquet(`
    val chain = """\.read(\s*\.\w+\((?:[^()]|\([^()]*\))*\))*\s*\.parquet\(""".r
    val hits = mainSources().collect {
      case (p, text) if chain.findFirstIn(text).nonEmpty ||
          text.contains("read.format(\"parquet\")") => p
    }
    assert(hits.filterNot(_ == "src/main/scala/graft/sources/Tables.scala").isEmpty,
      s"parquet opened outside Tables.parquet: ${hits.mkString(", ")}")
  }

  test("only the Excel DataSource V2 decodes workbooks in src/main") {
    // format("xls"/"xlsx"/"excel") is the one read path; a second caller
    // of a decoder would be a second way a workbook becomes a DataFrame
    val hits = mainSources().collect {
      case (p, text) if text.contains("XlsSource.decode(") ||
          text.contains("XlsxSource.decode(") => p
    }
    assert(hits.filterNot(_.startsWith("src/main/scala/graft/sources/xls/")).isEmpty,
      s"workbook decoded outside sources/xls/: ${hits.mkString(", ")}")
  }

  test("only Microbatch knows the streams' batch-directory layout") {
    // the per-batch index policy (batch=<id> paths, the replay filter,
    // what counts as a written batch) lives in one module; a stream that
    // spells it again drifts from it. TrafficStream.startUpsert keeps its
    // own, deliberately different, empty-table rule for a whole table.
    val hits = mainSources().collect {
      case (p, text) if p.startsWith("src/main/scala/graft/streaming/") &&
          Seq("batch=$", "col(\"batch\")", "getFileSystem(").exists(text.contains) => p
    }
    assert(hits === Seq("src/main/scala/graft/streaming/Microbatch.scala",
      "src/main/scala/graft/streaming/TrafficStream.scala"))
  }

  test("streams assign centroids through Similarity.assignNearest") {
    // assignNearest is the codegen'd twin of the crossJoin + hash-aggregate
    // spelling; the batch operators use it, so the streams must too
    val hits = mainSources().collect {
      case (p, text) if p.startsWith("src/main/scala/graft/streaming/") &&
          text.contains("nearestCentroid(") => p
    }
    assert(hits.isEmpty, s"nearestCentroid called from streaming/: ${hits.mkString(", ")}")
  }

  test("IVF list selection is spelled once, in Similarity") {
    // every IVF build, append, probe and stream picks lists through
    // Similarity.selectLists; a second probe window or first-N projection
    // is a second list-selection rule that can drift from it, and
    // nearestCentroid is the reference the specs compare against
    val sim = "src/main/scala/graft/operators/Similarity.scala"
    def hits(spelling: String) = mainSources().map { case (p, text) =>
      p -> (text.split(java.util.regex.Pattern.quote(spelling), -1).length - 1)
    }.filter(_._2 > 0)
    for (spelling <- Seq("orderBy(col(\"cm\").desc, col(\"centroid_id\"))",
                         "col(\"embedding\").as(\"cv\")", "nearestCentroid("))
      assert(hits(spelling) === Seq(sim -> 1), s"$spelling must appear once, in $sim")
    assert(read(sim).contains("def nearestCentroid("))
  }

  test("README.md states the derived counts") {
    val readme = read("README.md")
    assert(readme.contains(s"${SparkEntry.queries.size} named queries"),
      s"README must say '${SparkEntry.queries.size} named queries'")
    assert(readme.contains(s"${SqlFrontDoor.derived.size} derived"),
      s"README must say '${SqlFrontDoor.derived.size} derived'")
    assert(readme.contains(s"${SqlFrontDoor.handTwins.size} hand-written"),
      s"README must say '${SqlFrontDoor.handTwins.size} hand-written'")
  }

  test("COVERAGE.md states the derived counts") {
    val coverage = read("COVERAGE.md")
    assert(coverage.contains(s"${SqlFrontDoor.derived.size} derived"),
      s"COVERAGE must say '${SqlFrontDoor.derived.size} derived'")
    assert(coverage.contains(s"${SqlFrontDoor.handTwins.size} hand-written"),
      s"COVERAGE must say '${SqlFrontDoor.handTwins.size} hand-written'")
  }
}
