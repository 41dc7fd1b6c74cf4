package perfbench

import graft.jobs.{CurationJob, IngestionJob}
import graft.sources.{AdaptivePlanner, HttpOffresApi, StubOffre, StubOffresServer}
import org.apache.spark.sql.functions.col

/** `pipeline`: the reference's own flow. Each op harvests the seeded offer
  * corpus from a fresh stub API (OAuth, adaptive planning, paging, one 429
  * backoff, dead-lettering, reconciliation) and then curates the landed
  * offers (quality gate, exact dedup, MinHash-LSH near-dup clusters).
  */
class Pipeline(r: Runner) extends Workload {
  import r.spark

  private val secrets = Map("k1" -> "s-k1", "k2" -> "s-k2")
  private val maxPerFilter = r.input("max_per_filter")
  private val pageSize = r.input("page_size")
  private var offers: Seq[StubOffre] = Nil
  private var firstReport: Option[CurationJob.Report] = None
  private var run = 0

  private def options(server: StubOffresServer): Map[String, String] = Map(
    "endpoint" -> server.base,
    "authUrl" -> server.authUrl,
    "secrets" -> secrets.map { case (k, v) => s"$k:$v" }.mkString(","),
    "maxPerFilter" -> maxPerFilter.toString,
    "pageSize" -> pageSize.toString)

  private def load(): Unit =
    offers = spark.read.parquet(s"${r.dataDir}/offers.parquet").collect().toSeq.map { row =>
      StubOffre(Option(row.getAs[String]("id")), row.getAs[String]("intitule"),
        row.getAs[String]("description"), row.getAs[String]("romeCode"),
        row.getAs[String]("region"), row.getAs[String]("departement"))
    }

  def setup(rep: Int): Unit = load()

  /** Two runs: after one, curate times still fall as the JIT catches up. */
  def warmUp(): Unit = { harvestAndCurate(); harvestAndCurate() }

  /** One op pair: ingest into a fresh landing directory, then curate it. */
  private def harvestAndCurate(): Unit = {
    val landing = s"landing_$run"
    val out = r.path(landing)
    run += 1
    val (res, ingest) = r.op("ingest") {
      // the stub stands in for the remote API: its start-up is the
      // harness's, not the sources layer's
      val server = r.span("bench", "StubOffresServer")(new StubOffresServer(offers, secrets))
      try r.span("jobs", "IngestionJob.runWithOptions") {
        IngestionJob.runWithOptions(spark, options(server), out)
      } finally server.stop()
    }
    ingest.items = res.collected
    Checks.ingest(res, r.input("offers_valid"), r.input("offers_null_id"))
      .foreach(ingest.fail)

    val docs = spark.read.parquet(s"$out/offres")
      .select(col("id").cast("long").as("id"), col("description"))
    val (report, curate) = r.op("curate", items = res.collected) {
      val (curated, report) = r.span("jobs", "CurationJob.run") {
        CurationJob.run(docs, "id", "description")
      }
      r.span("spark", "curated.noop") {
        curated.write.format("noop").mode("overwrite").save()
      }
      report
    }
    Checks.curation(report, res.collected, firstReport).foreach(curate.fail)
    if (firstReport.isEmpty && r.timing) {
      firstReport = Some(report)
      r.details("curation_report") = Map("input" -> report.input,
        "after_quality" -> report.afterQuality, "after_exact" -> report.afterExact,
        "after_near_dup" -> report.afterNearDup)
      r.details("kept_ratio") = report.afterNearDup.toDouble / report.input
    }
    r.dropStorage()
    r.rm(landing)
  }

  def cycle(c: Int): Boolean = { harvestAndCurate(); true }

  /** Traced run only: the sources layer on its own. The planner against
    * the stub with counted probes, then a `noop`-sink read of the source.
    */
  override def layerProbes(): Unit = {
    val probes = (0 until 3).map { _ =>
      val server = new StubOffresServer(offers, secrets)
      try {
        val token = HttpOffresApi.authenticate(server.authUrl, "k1", "s-k1")._1
        val api = new HttpOffresApi(server.base, () => Some(token))
        var count = 0
        val t0 = Clock.now
        val plan = r.span("sources", "AdaptivePlanner.plan") {
          AdaptivePlanner.plan(f => { count += 1; api.count(f) },
            offers.map(_.region).distinct.sorted,
            offers.map(o => o.departement -> o.region).toMap,
            offers.map(_.romeCode).distinct.sorted,
            maxPerFilter, pageSize)
        }
        val planMs = Clock.now - t0
        val t1 = Clock.now
        r.span("sources", "OffresSource.scan") {
          spark.read.format("graft.sources.OffresSource").options(options(server)).load()
            .write.format("noop").mode("overwrite").save()
        }
        Map("plan_ms" -> planMs, "plan_probes" -> count, "pages" -> plan.partitions.size,
          "overflows" -> plan.overflows.size, "scan_ms" -> (Clock.now - t1))
      } finally server.stop()
    }
    r.details("sources_probes") = probes
  }
}
