package perfbench

import scala.collection.mutable

/** `dashboard`: analyst queries repeated in a seeded order over the
  * generated TPC-H-like tables, each result collected to the driver. Every
  * query carries DuckDB oracle SQL in the engine's registry; the first
  * timed result of each query is saved for the oracle comparison, and every
  * later result must match the first.
  */
class Dashboard(r: Runner) extends Workload {
  import r.spark

  val queries: Seq[String] = Dashboard.queries
  private val registry = graft.SparkEntry.queries
  private val digests = mutable.HashMap[String, String]()
  private val seed = r.inputLong("seed")

  private def run(q: String) = {
    val df = registry(q)(spark, r.dataDir)
    (df.collect(), df.schema)
  }

  /** The tables are the generated parquet files; set-up opens each one
    * (schema and footers).
    */
  def setup(rep: Int): Unit = Dashboard.tables.foreach { t =>
    spark.read.parquet(s"${r.dataDir}/$t.parquet").schema
  }

  def warmUp(): Unit = queries.foreach { q => run(q); r.dropStorage() }

  def cycle(c: Int): Boolean = {
    val order = new scala.util.Random(seed * 7919L + c).shuffle(queries)
    order.foreach { q =>
      val ((rows, schema), op) = r.op("query", q) {
        r.span("operators", s"relational.$q")(run(q))
      }
      val digest = Checks.digest(rows)
      digests.get(q) match {
        case None =>
          digests(q) = digest
          // the first result goes to the DuckDB oracle comparison (untimed)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(r.path(s"results/$q"))
        case Some(first) if first != digest => op.fail("result differs from the first run")
        case _ => ()
      }
      r.dropStorage()
    }
    true
  }

  override def finish(): Unit = {
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Main.writeJson(r.path("oracle_sql.json"), oracle)
  }
}

object Dashboard {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")

  /** Aggregate, join, top-k, window, rollup/cube, distinct, time bucket,
    * funnel and retention: registry entries with oracle SQL.
    */
  val queries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_revenue_by_nation", "q08_topk_orders",
    "q09_latest_order_per_customer", "q10_running_supplier_revenue",
    "q14_rollup_counts", "q15_cube_counts", "q16_distinct_customers",
    "q17_monthly_orders", "q21_above_cust_avg", "q22_topk_per_group_agg",
    "q24_sql_shipping_priority", "q27_trailing_30d_revenue",
    "q85_funnel_steps", "q86_retention_cohorts")
}
