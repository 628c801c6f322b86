package graft.queries

import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.det.dsum

/** q120: ORC round-trip — the columnar-format INTEROP leg of the io
  * surface (parquet is the native tier; ORC is the other columnar
  * format a warehouse migration actually encounters). The query
  * writes orders as ORC with Spark's built-in datasource, then answers a
  * status-grain rollup FROM THE ORC COPY — while the DuckDB oracle
  * answers from the original parquet — so the hash compare proves the
  * format round-trip preserved every row, the timestamp semantics,
  * and the double payloads bit-for-bit.
  *
  * The consumer filter (`o_orderstatus != 'X'`, matching none — a
  * no-op gate) rides into the ORC scan as a pushed predicate, and the
  * projection prunes to the four referenced columns — OrcSpec pins
  * both on the scan node (format coverage is only real if the
  * pushdown machinery works through it). Sums route through DECIMAL
  * (§6 determinism rule) exactly like the parquet-side queries.
  */
object Orc {

  val q120 = Q.of(
    "q120_orc_roundtrip",
    """SELECT o_orderstatus,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price,
      |  MIN(o_orderdate) AS first_date,
      |  MAX(o_orderdate) AS last_date
      |FROM orders
      |WHERE o_orderstatus != 'X'
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { t =>
    val dir = s"/tmp/graft_q120_${t.dir.hashCode & 0x7fffffff}"
    t.orders.write.mode("overwrite").orc(dir)
    t.spark.read.orc(dir)
      .filter(col("o_orderstatus") =!= "X")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"),
        min(col("o_orderdate")).as("first_date"),
        max(col("o_orderdate")).as("last_date"))
      .orderBy(col("o_orderstatus"))
  }

  def all: Seq[Q] = Seq(q120)
}
