package graft

import graft.sources.Tables
import graft.sql.SqlFrontDoor

/** The SQL front door's contract, generated over the ENTIRE registry: every
  * SparkEntry query has a spark.sql-runnable statement whose result equals
  * the DataFrame operator's (schema names+types and multiset of rows). One
  * generated test per query so a single regression names its query instead
  * of failing a monolith.
  */
class SqlFrontDoorSpec extends SparkTestBase {

  test("front door covers the whole registry (derived xor hand-written)") {
    val names = SparkEntry.queries.keySet
    val hand = SqlFrontDoor.handTwins.keySet
    val uncovered = names.filterNot(n => SqlFrontDoor.sql(n).isDefined)
    assert(uncovered.isEmpty, s"uncovered: ${uncovered.toSeq.sorted.mkString(", ")}")
    // hand twins must not name queries that left the registry
    assert((hand -- names).isEmpty)
    assert((SqlFrontDoor.derived & hand).isEmpty)
    assert((SqlFrontDoor.derived ++ hand) == names)
  }

  test("DuckToSpark refuses every hand twin's oracle") {
    // a hand twin of a derivable oracle would hide oracle drift
    for (name <- SqlFrontDoor.handTwins.keys.toSeq.sorted)
      intercept[graft.sql.DuckToSpark.Refused](
        graft.sql.DuckToSpark.toSpark(SparkEntry.oracleSql(name)))
  }

  test("run registers every table a statement reads") {
    // temp views outlive a run, so a table run failed to register would be
    // read from an earlier view: start each statement with none
    val missed = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      try { SqlFrontDoor.run(spark, Sf, name); None }
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          Some(s"$name: ${e.getMessage.takeWhile(_ != '\n')}")
      }
    }
    assert(missed.isEmpty, missed.mkString("\n"))
  }

  /** Row multiset as sorted canonical strings — array/binary cells render
    * element-wise, so equality is structural. One execution per side
    * (exceptAll would re-execute both plans per direction).
    */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: Array[_] => a.mkString("[", ",", "]")
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("")).toSeq.sorted

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"sql twin equals operator: $name") {
      Tables.registerAll(spark, Sf)
      val viaSql = spark.sql(SqlFrontDoor.sql(name).get)
      val viaDf = SparkEntry.queries(name)(spark, Sf)
      assert(viaSql.schema.map(f => (f.name, f.dataType)) ==
        viaDf.schema.map(f => (f.name, f.dataType)),
        s"schema differs:\n sql: ${viaSql.schema.treeString}\n df: ${viaDf.schema.treeString}")
      val (s1, s2) = (canon(viaSql), canon(viaDf))
      assert(s1.size == s2.size, s"row counts differ: sql=${s1.size} df=${s2.size}")
      assert(s1 == s2, {
        val firstDiff = s1.zip(s2).indexWhere { case (a, b) => a != b }
        s"result multisets differ (first diff at sorted row $firstDiff):" +
          s"\n sql: ${s1.lift(firstDiff)}\n df:  ${s2.lift(firstDiff)}"
      })
    }
  }
}
