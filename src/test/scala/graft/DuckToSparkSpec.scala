package graft

import graft.sql.DuckToSpark

/** The DuckDB -> Spark rewrite, one rule at a time: each case runs
  * `toSpark(duckSql)` in the test session and must return what DuckDB
  * 1.0.0 returns for `duckSql` (expected values taken from DuckDB; rows
  * joined by "; ", cells by ", ", NULL spelled out).
  */
class DuckToSparkSpec extends SparkTestBase {

  private val cases: Seq[(String, String, String)] = Seq(
    ("range is empty when the bound is not past the start",
      "SELECT range(3, 3), range(5, 1), range(0, 7, 3)", "[], [], [0, 3, 6]"),
    ("// truncates toward zero",
      "SELECT -7 // 2, 7 // 2", "-3, 3"),
    ("arr[i] is 1-based and NULL at 0 or out of range",
      "SELECT [10, 20, 30][0], [10, 20, 30][4], [10, 20, 30][2], [10, 20, 30][-1]",
      "NULL, NULL, 20, 30"),
    ("sibling unnests zip, padding with NULL",
      "SELECT unnest([1, 2, 3]) AS a, unnest([10, 20]) AS b ORDER BY a",
      "1, 10; 2, 20; 3, NULL"),
    ("dayofweek counts Sunday as 0",
      "SELECT dayofweek(DATE '2024-01-07'), dayofweek(DATE '2024-01-13')", "0, 6"),
    ("string literals and comments pass through",
      "SELECT 'http://a//b' -- a // b\n", "http://a//b"),
    ("string literals take no backslash escapes",
      "SELECT length('a\\b'), 'it''s'", "3, it's"),
    ("ascending ORDER BY puts NULLs last",
      "SELECT x FROM (SELECT unnest([2, NULL, 1]) AS x) ORDER BY x", "1; 2; NULL"),
    ("list_reduce folds from the first element",
      "SELECT list_reduce([1, 2, 3], (a, b) -> a * 10 + b)", "123"),
    ("list(x ORDER BY y) keeps NULL elements",
      "SELECT list(x ORDER BY y) FROM (SELECT unnest(['b', NULL, 'a']) AS x, unnest([2, 1, 3]) AS y)",
      "[NULL, b, a]"),
    ("list slices are inclusive and empty when reversed",
      "SELECT list_slice([1, 2, 3, 4], 2, 3), [1, 2, 3, 4][2:3], list_slice([1, 2, 3], 3, 1)",
      "[2, 3], [2, 3], []"),
    ("regexp_replace group references",
      "SELECT regexp_replace('abc', '(b)', '<\\1$>', 'g')", "a<b$>c"),
    ("strftime directives",
      "SELECT strftime(TIMESTAMP '2024-03-05 07:08:09', '%Y-%m-%d %H:%M:%S')",
      "2024-03-05 07:08:09"),
    ("date_diff counts day boundaries",
      "SELECT date_diff('day', TIMESTAMP '2024-01-01 23:00:00', TIMESTAMP '2024-01-03 01:00:00')",
      "2"),
    ("hex cast, xor and shift",
      "SELECT ('0x' || 'ff')::BIGINT, xor(6, 3), (CAST(1 AS BIGINT) << 40)",
      "255, 5, 1099511627776"),
    ("list_aggregate sums and joins the non-NULL elements",
      "SELECT list_aggregate([1, NULL, 2], 'sum'), list_aggregate([]::BIGINT[], 'sum'), " +
        "list_aggregate(['a', 'b'], 'string_agg', '-')",
      "3, NULL, a-b"),
    ("string_split keeps empty parts; regexp_extract_all takes group 0",
      "SELECT string_split('a,b,,c', ','), regexp_extract_all('a1b22', '[0-9]+')",
      "[a, b, , c], [1, 22]"),
    ("range as a table function",
      "SELECT * FROM range(0, 3) t(i) ORDER BY i", "0; 1; 2"))

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ", ", "]")
    case x => x.toString
  }

  for ((what, duck, expected) <- cases) test(s"toSpark: $what") {
    val rows = spark.sql(DuckToSpark.toSpark(duck)).collect()
    assert(rows.map(_.toSeq.map(cell).mkString(", ")).mkString("; ") == expected)
  }

  test("the comment and the // inside a string survive verbatim") {
    val out = DuckToSpark.toSpark("SELECT 'http://a//b' -- a // b\n")
    assert(out == "SELECT 'http://a//b' -- a // b\n")
  }

  for ((what, duck) <- Seq(
      "ASOF JOIN" -> "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t",
      "recursive CTE with UNION" ->
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 3) SELECT n FROM r",
      "3-argument regexp_replace" -> "SELECT regexp_replace('aa', 'a', 'b')"))
    test(s"toSpark refuses $what") {
      intercept[DuckToSpark.Refused](DuckToSpark.toSpark(duck))
    }
}
