package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Z-order (Morton-curve) data layout: the multi-dimensional clustering
  * trick behind Delta/Iceberg `OPTIMIZE ZORDER BY` — interleave the bits
  * of several normalized key columns into one sort key so that sorting by
  * it co-locates rows that are close in EVERY dimension at once. Files
  * written in that order get tight per-file min/max ranges on all the
  * z-ordered columns simultaneously, which is what makes multi-column
  * predicate data-skipping work at 100 TB (a single-column sort gives
  * tight ranges on one column and full-span ranges on the rest).
  *
  * The reference has no layout story (it overwrite-loads one small CSV —
  * `/root/reference/src/etl/load.py`); this is a builder-brief scale
  * extension.
  */
object Layout {

  /** Bits kept per dimension when normalizing a key into [0, 2^bits). */
  val BitsPerDim = 16

  /** `(expr DIV 2^i) % 2`, the i-th bit — pure integer arithmetic that
    * every engine evaluates identically (no shift builtins needed).
    */
  private def bit(e: String, i: Int): String = s"(($e DIV ${1L << i}) % 2)"

  /** Morton interleave of two `BitsPerDim`-bit non-negative ints: x gets
    * the even bit positions, y the odd ones.
    */
  private def mortonExpr(x: String, y: String): String =
    (0 until BitsPerDim).map { i =>
      s"${bit(x, i)} * ${1L << (2 * i)} + ${bit(y, i)} * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-order layout audit over lineitem keyed on (l_partkey, l_suppkey):
    * normalize each key to 16 bits against its global min/max, interleave
    * into a 32-bit z-value, and report per z-cell (the top 4 z bits — a
    * 4x4 grid over the two dimensions) the row count and the min/max
    * span of BOTH keys, as half-up 4-decimal fractions of the global
    * span. Tight spans on both columns in every cell is precisely the
    * property the file-level skipping index exploits; the same z column
    * is what a layout writer would `repartitionByRange` + sort by.
    *
    * 100 TB shape: the min/max scalars are a broadcast cross join; the
    * z-value is a pure per-row expression (one whole-stage-codegen'd
    * projection, no shuffle); the cell report is one hash aggregate.
    * Deliberately NO global row_number — assigning fixed-size files
    * would need a global rank (single-task window); the scale path is
    * `repartitionByRange(col("z"))` whose sampled range boundaries give
    * near-equal files without any global ordering bottleneck.
    */
  def zorderCells(s: SparkSession, dir: String): DataFrame = {
    withZorderKey(Tables.lineitem(s, dir))
      .withColumn("z_cell", expr(s"z DIV ${1L << (2 * BitsPerDim - 4)}"))
      .groupBy(col("z_cell"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"),
        first(col("mnp")).as("mnp"), first(col("mxp")).as("mxp"),
        first(col("mns")).as("mns"), first(col("mxs")).as("mxs"))
      // half-up 4-decimal per-cell span as a fraction of the global span
      .withColumn("part_span_1e4", expr(
        "(20000 * (max_part - min_part) + greatest(mxp - mnp, 1)) DIV (2 * greatest(mxp - mnp, 1))"))
      .withColumn("supp_span_1e4", expr(
        "(20000 * (max_supp - min_supp) + greatest(mxs - mns, 1)) DIV (2 * greatest(mxs - mns, 1))"))
      .select(col("z_cell"), col("n_rows"),
        col("min_part"), col("max_part"), col("min_supp"), col("max_supp"),
        col("part_span_1e4"), col("supp_span_1e4"))
      .orderBy(col("z_cell"))
  }

  /** lineitem + global bounds (mnp/mxp/mns/mxs) + normalized keys + the
    * Morton `z` column — the shared core of the audit query and the
    * layout writer.
    */
  def withZorderKey(li: DataFrame): DataFrame = {
    val bounds = li.agg(
      min(col("l_partkey")).as("mnp"), max(col("l_partkey")).as("mxp"),
      min(col("l_suppkey")).as("mns"), max(col("l_suppkey")).as("mxs"))
    val maxNorm = (1L << BitsPerDim) - 1 // 65535
    li.crossJoin(broadcast(bounds))
      .withColumn("xn", expr(
        s"((CAST(l_partkey AS BIGINT) - mnp) * $maxNorm) DIV greatest(mxp - mnp, 1)"))
      .withColumn("yn", expr(
        s"((CAST(l_suppkey AS BIGINT) - mns) * $maxNorm) DIV greatest(mxs - mns, 1)"))
      .withColumn("z", expr(mortonExpr("xn", "yn")))
  }

  /** Predicate boxes for [[zonePruneAudit]] as 1e4 fractions of each
    * key's global span — fraction-space so the SAME boxes are meaningful
    * at every scale factor: (id, part lo, part hi, supp lo, supp hi).
    * Box 1 is a z-aligned corner (skipping should shine), box 2 an
    * off-diagonal block, box 3 a full-part-range narrow supp band (the
    * partial-clustering case where z-order only half-helps).
    */
  private val PruneBoxes: Seq[(Long, Long, Long, Long, Long)] = Seq(
    (1L, 0L, 2500L, 0L, 2500L),
    (2L, 2500L, 5000L, 5000L, 7500L),
    (3L, 0L, 10000L, 4000L, 6000L))

  /** Zone-map prune audit: for each predicate box, how many of the 16
    * z-cells (and how many rows) a min/max skipping index must READ,
    * against the exact match count — the read-amplification number that
    * says what the z-order layout actually buys per query shape. A cell
    * is read iff its [min,max] spans overlap the box on BOTH keys (the
    * parquet row-group pruning rule verbatim); rows_read / rows_match is
    * the amplification a warehouse pays after skipping.
    *
    * 100 TB shape: the cell frame is 16 rows; boxes are 3 constants; the
    * only fact-table work is ONE scan with |boxes| conditional counts
    * (global bounds broadcast) — the same single-aggregate discipline as
    * the bounds pass itself.
    */
  def zonePruneAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val bounds = li.agg(
      min(col("l_partkey")).as("mnp"), max(col("l_partkey")).as("mxp"),
      min(col("l_suppkey")).as("mns"), max(col("l_suppkey")).as("mxs"))
    val boxes = PruneBoxes.map { case (id, p0, p1, s0, s1) =>
      s.range(1).select(lit(id).as("box_id"), lit(p0).as("p0"),
        lit(p1).as("p1"), lit(s0).as("s0"), lit(s1).as("s1"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(bounds))
      .select(col("box_id"),
        expr("mnp + ((mxp - mnp) * p0) DIV 10000").as("plo"),
        expr("mnp + ((mxp - mnp) * p1) DIV 10000").as("phi"),
        expr("mns + ((mxs - mns) * s0) DIV 10000").as("slo"),
        expr("mns + ((mxs - mns) * s1) DIV 10000").as("shi"))
    val read = zorderCells(s, dir).crossJoin(broadcast(boxes))
      .withColumn("hit",
        !(col("max_part") < col("plo") || col("min_part") > col("phi") ||
          col("max_supp") < col("slo") || col("min_supp") > col("shi")))
      .groupBy(col("box_id"), col("plo"), col("phi"), col("slo"), col("shi"))
      .agg(count(lit(1)).as("cells_total"),
        sum(when(col("hit"), lit(1L)).otherwise(lit(0L))).as("cells_read"),
        sum(when(col("hit"), col("n_rows")).otherwise(lit(0L))).as("rows_read"))
    val matched = li.join(broadcast(boxes),
        col("l_partkey") >= col("plo") && col("l_partkey") <= col("phi") &&
          col("l_suppkey") >= col("slo") && col("l_suppkey") <= col("shi"))
      .groupBy(col("box_id")).agg(count(lit(1)).as("rows_match"))
    read.join(matched, Seq("box_id"), "left")
      .select(col("box_id"), col("cells_total"), col("cells_read"),
        col("rows_read"),
        coalesce(col("rows_match"), lit(0L)).as("rows_match"),
        expr("""CAST((20000 * rows_read + greatest(coalesce(rows_match, 0), 1))
                DIV (2 * greatest(coalesce(rows_match, 0), 1)) AS BIGINT)""")
          .as("read_amp_1e4"))
      .orderBy(col("box_id"))
  }

  /** [[zonePruneAudit]] as DuckDB SQL (the cells CTE restates the
    * zorderCells text).
    */
  private[graft] def zonePruneSql: String = {
    def bit(e: String, i: Int) = s"(($e // ${1L << i}) % 2)"
    val morton = (0 until BitsPerDim).map { i =>
      s"${bit("xn", i)} * ${1L << (2 * i)} + ${bit("yn", i)} * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    val boxArms = PruneBoxes.map { case (id, p0, p1, s0, s1) =>
      s"SELECT CAST($id AS BIGINT) AS box_id, $p0 AS p0, $p1 AS p1, " +
        s"$s0 AS s0, $s1 AS s1"
    }.mkString("\n         UNION ALL ")
    s"""WITH b AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
                   min(l_suppkey) AS mns, max(l_suppkey) AS mxs FROM lineitem),
       n AS (SELECT l_partkey, l_suppkey,
             ((CAST(l_partkey AS BIGINT) - mnp) * 65535) // greatest(mxp - mnp, 1) AS xn,
             ((CAST(l_suppkey AS BIGINT) - mns) * 65535) // greatest(mxs - mns, 1) AS yn
             FROM lineitem CROSS JOIN b),
       zed AS (SELECT *, ($morton) AS z FROM n),
       cells AS (SELECT z // ${1L << (2 * BitsPerDim - 4)} AS z_cell,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 min(l_partkey) AS min_part, max(l_partkey) AS max_part,
                 min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
                 FROM zed GROUP BY 1),
       raw_boxes AS ($boxArms),
       boxes AS (SELECT box_id,
                 mnp + ((mxp - mnp) * p0) // 10000 AS plo,
                 mnp + ((mxp - mnp) * p1) // 10000 AS phi,
                 mns + ((mxs - mns) * s0) // 10000 AS slo,
                 mns + ((mxs - mns) * s1) // 10000 AS shi
                 FROM raw_boxes CROSS JOIN b),
       rd AS (SELECT box_id,
              CAST(count(*) AS BIGINT) AS cells_total,
              CAST(sum(CASE WHEN NOT (max_part < plo OR min_part > phi
                OR max_supp < slo OR min_supp > shi) THEN 1 ELSE 0 END) AS BIGINT)
                AS cells_read,
              CAST(sum(CASE WHEN NOT (max_part < plo OR min_part > phi
                OR max_supp < slo OR min_supp > shi) THEN n_rows ELSE 0 END) AS BIGINT)
                AS rows_read
              FROM cells CROSS JOIN boxes GROUP BY box_id),
       mt AS (SELECT box_id, CAST(count(*) AS BIGINT) AS rows_match
              FROM lineitem JOIN boxes
                ON l_partkey >= plo AND l_partkey <= phi
               AND l_suppkey >= slo AND l_suppkey <= shi
              GROUP BY box_id)
       SELECT rd.box_id, cells_total, cells_read, rows_read,
              CAST(coalesce(rows_match, 0) AS BIGINT) AS rows_match,
              CAST((20000 * rows_read + greatest(coalesce(rows_match, 0), 1))
                // (2 * greatest(coalesce(rows_match, 0), 1)) AS BIGINT)
                AS read_amp_1e4
       FROM rd LEFT JOIN mt ON rd.box_id = mt.box_id
       ORDER BY rd.box_id"""
  }

  /** The layout WRITER the audit's scaladoc promises: rewrite lineitem
    * as parquet clustered by the z key — `repartitionByRange(z)` gives
    * near-equal files from sampled range boundaries (the distributed
    * path; NO global rank anywhere), and the in-partition sort makes
    * each file a contiguous z-range, so its parquet min/max stats are
    * tight on BOTH l_partkey and l_suppkey at once. That is exactly the
    * file-skipping property `OPTIMIZE ZORDER BY` buys; LayoutSpec
    * measures it on the files this writes. Returns the output dir.
    */
  def zorderWrite(s: SparkSession, dir: String, outDir: String,
                  numFiles: Int = 16): String = {
    withZorderKey(Tables.lineitem(s, dir))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"), col("z"))
      .repartitionByRange(numFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(outDir)
    outDir
  }
}
