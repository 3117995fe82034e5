package graft.sql

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** The SQL front door: a `spark.sql`-runnable statement for EVERY query in
  * `SparkEntry.queries`, so a SQL-speaking consumer (the reference's users
  * talk to their warehouse in SQL) can run the whole registry without
  * touching the DataFrame API.
  *
  * Each statement is the query's DuckDB oracle text rewritten by
  * [[DuckToSpark]], so the two surfaces cannot drift. The oracles the
  * rewrite refuses keep a hand-written twin:
  *  - q_asof_join_events_orders: `ASOF JOIN`;
  *  - q_dense_daily_counts: `generate_series` with an INTERVAL step;
  *  - q_dup_clusters, q_dup_clusters_incremental, q_dup_cluster_sizes,
  *    q_dedup_keep_best: a recursive CTE grown with set `UNION`.
  * Statements use only built-in Spark SQL (no graft-registered
  * functions), so the front door works on a stock SparkSession.
  * SqlFrontDoorSpec checks statement-vs-DataFrame equality for every
  * registry entry and that the rewrite refuses every hand twin's oracle.
  */
object SqlFrontDoor {

  /** Spark's recursive CTEs take only UNION ALL, and the dup-cluster
    * oracles grow `reach` with a set UNION: the twin bounds the walk at 8
    * hops (dup clusters are near-cliques of diameter 2-3; the spec proves
    * equality with the operator's connected components on the fixture).
    */
  private def boundedReach(name: String): String = {
    val setUnion =
      """reach(a, b) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, r.b FROM edges e JOIN reach r ON r.a = e.dst)"""
    val oracle = SparkEntry.oracleSql(name)
    require(oracle.contains(setUnion), s"$name: the reach CTE changed")
    DuckToSpark.toSpark(oracle.replace(setUnion,
      """reach(a, b, d) AS (
           SELECT src, src, 0 FROM edges
           UNION ALL
           SELECT e.src, r.b, r.d + 1 FROM edges e JOIN reach r ON r.a = e.dst
           WHERE r.d < 8)"""))
  }

  /** Hand-written twins, one per oracle that [[DuckToSpark]] refuses. */
  lazy val handTwins: Map[String, String] = Map(
    // ASOF JOIN: the latest order at-or-before each event (dedup makes
    // (custkey, orderdate) unique, so the DESC pick is deterministic)
    "q_asof_join_events_orders" ->
      """WITH dedup AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY o_custkey, o_orderdate),
         o2 AS (
           SELECT dedup.o_custkey, dedup.o_orderdate, dedup.o_orderkey,
                  orders.o_totalprice
           FROM dedup JOIN orders ON orders.o_orderkey = dedup.o_orderkey),
         j AS (SELECT e.event_id, e.user_id, o2.o_orderkey, o2.o_totalprice,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o2.o_orderdate DESC) AS rn
               FROM events e JOIN o2
                 ON e.user_id = o2.o_custkey AND e.ts >= o2.o_orderdate)
         SELECT event_id, user_id, o_orderkey, o_totalprice
         FROM j WHERE rn = 1 ORDER BY event_id""",

    // generate_series over dates with an INTERVAL step; the span's
    // min <= max, so `sequence` never counts down here
    "q_dense_daily_counts" ->
      """WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
         days AS (SELECT explode(sequence(d0, d1, interval 1 day)) AS day FROM span),
         types AS (SELECT DISTINCT event_type AS etype FROM events),
         actual AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
                    FROM events GROUP BY 1, 2)
         SELECT date_format(CAST(days.day AS DATE), 'yyyy-MM-dd') AS day,
                types.etype AS event_type,
                CAST(coalesce(actual.n, 0) AS BIGINT) AS n_events
         FROM days CROSS JOIN types
         LEFT JOIN actual ON CAST(days.day AS DATE) = actual.day
                         AND types.etype = actual.event_type
         ORDER BY day, event_type"""
  ) ++ Seq("q_dup_clusters", "q_dup_clusters_incremental", "q_dup_cluster_sizes",
    "q_dedup_keep_best").map(n => n -> boundedReach(n))

  /** Registry queries whose statement is their rewritten oracle. */
  def derived: Set[String] = SparkEntry.queries.keySet -- handTwins.keySet

  private val rewritten = TrieMap.empty[String, String]

  /** The Spark SQL text for a registry query. */
  def sql(name: String): Option[String] =
    handTwins.get(name).orElse(SparkEntry.oracleSql.get(name).map(o =>
      rewritten.getOrElseUpdate(name, DuckToSpark.toSpark(o))))

  /** The fixture tables a statement names: every word of its text that is
    * a table name. A name that only appears in a literal or a comment
    * registers one view too many, which is harmless; a table the
    * statement reads always appears as a word.
    */
  private def tablesNamed(statement: String): Seq[String] = {
    val words = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(statement).map(_.toLowerCase).toSet
    Tables.All.filter(words)
  }

  /** Run a registry query through the SQL surface (registers the sf-dir
    * tables it names as temp views; statements need no graft-registered
    * functions).
    */
  def run(s: SparkSession, dir: String, name: String): DataFrame = {
    val statement = sql(name).getOrElse(sys.error(s"no SQL surface for $name"))
    Tables.register(s, dir, tablesNamed(statement))
    s.sql(statement)
  }
}
