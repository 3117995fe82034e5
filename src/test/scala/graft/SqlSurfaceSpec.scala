package graft

import graft.sources.Tables

/** The engine is equally drivable through plain SQL: register the star
  * schema as views and run the oracle-style SQL directly with spark.sql —
  * results must match the DataFrame-API operators row for row. (This is
  * the "a user of the reference could keep writing warehouse SQL" story:
  * same logical plans, same Catalyst, two front doors.)
  */
class SqlSurfaceSpec extends SparkTestBase {

  private def assertSameResult(sql: String, df: org.apache.spark.sql.DataFrame): Unit = {
    Tables.registerAll(spark, Sf)
    val viaSql = spark.sql(sql)
    assert(viaSql.schema.fieldNames.sameElements(df.schema.fieldNames))
    assert(viaSql.exceptAll(df).isEmpty && df.exceptAll(viaSql).isEmpty)
  }

  test("group-by + having via spark.sql matches the operator") {
    assertSameResult(
      """SELECT o_custkey, count(*) AS n_orders,
         round(sum(o_totalprice), 4) AS total_spent
         FROM orders GROUP BY o_custkey HAVING count(*) > 12
         ORDER BY o_custkey""",
      operators.Analytics.frequentBuyers(spark, Sf))
  }

  test("window ranking via spark.sql matches the operator") {
    assertSameResult(
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         percent_rank() OVER w AS pct_rank,
         cume_dist() OVER w AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",
      operators.Analytics.orderPriceRanks(spark, Sf))
  }

  test("rolling DAU/WAU via spark.sql matches the operator") {
    assertSameResult(
      """WITH ud AS (SELECT DISTINCT user_id,
           CAST(unix_micros(ts) div 1000000 div 86400 AS BIGINT) AS uday
           FROM events),
         mx AS (SELECT max(uday) AS mx FROM ud),
         ex AS (SELECT user_id, uday,
                explode(sequence(uday, uday + 6)) AS wend FROM ud),
         f AS (SELECT user_id, uday, wend FROM ex CROSS JOIN mx
               WHERE wend <= mx)
         SELECT wend AS day,
           count(DISTINCT CASE WHEN uday = wend THEN user_id END) AS dau,
           count(DISTINCT user_id) AS wau
         FROM f GROUP BY wend ORDER BY day""",
      operators.Analytics.rollingActiveUsers(spark, Sf))
  }

  test("registered graft functions are callable from SQL") {
    Tables.registerAll(spark, Sf)
    val r = spark.sql(
      """SELECT vec_id, dot_f(embedding, embedding) AS sq_norm
         FROM embeddings ORDER BY vec_id LIMIT 5""").collect()
    assert(r.length == 5)
    // unit-norm fixture: ||v||^2 ~ 1
    assert(r.forall(row => math.abs(row.getDouble(1) - 1.0) < 1e-3))
  }
}
