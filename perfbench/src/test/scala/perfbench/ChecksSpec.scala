package perfbench

import graft.jobs.{CurationJob, IngestionJob}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Each correctness check passes a right output and fails a corrupted one. */
class ChecksSpec extends AnyFunSuite {

  private val good = IngestionJob.Result(totalExpected = 100, collected = 97, erreurs = 3,
    reconciled = false)

  test("ingest: the generator's counts pass") {
    assert(Checks.ingest(good, valid = 97, nullIds = 3).isEmpty)
    assert(Checks.ingest(good.copy(totalExpected = 97, erreurs = 0, reconciled = true),
      valid = 97, nullIds = 0).isEmpty)
  }

  test("ingest: one dropped row fails") {
    assert(Checks.ingest(good.copy(collected = 96), valid = 97, nullIds = 3).nonEmpty)
  }

  test("ingest: a landed null-id offer fails even when the totals add up") {
    assert(Checks.ingest(good.copy(collected = 98, erreurs = 2), valid = 97, nullIds = 3).nonEmpty)
  }

  test("ingest: a wrong reconciled flag fails") {
    assert(Checks.ingest(good.copy(reconciled = true), valid = 97, nullIds = 3).nonEmpty)
  }

  private val report = CurationJob.Report(input = 97, afterQuality = 95, afterExact = 85,
    afterNearDup = 78)

  test("curation: monotone stages equal to the first report pass") {
    assert(Checks.curation(report, landed = 97, first = None).isEmpty)
    assert(Checks.curation(report, landed = 97, first = Some(report)).isEmpty)
  }

  test("curation: a stage that adds docs fails") {
    assert(Checks.curation(report.copy(afterNearDup = 86), 97, None).nonEmpty)
  }

  test("curation: a report that drifts from the first fails") {
    assert(Checks.curation(report.copy(afterNearDup = 77), 97, Some(report)).nonEmpty)
  }

  test("curation: an input other than the landed count fails") {
    assert(Checks.curation(report, landed = 98, first = None).nonEmpty)
  }

  test("digest: order does not matter, one dropped row does") {
    val rows = Array(Row(1L, "a", 2.5), Row(2L, "b", null), Row(3L, "c", 0.0))
    assert(Checks.digest(rows) == Checks.digest(rows.reverse))
    assert(Checks.digest(rows) != Checks.digest(rows.take(2)))
    assert(Checks.digest(rows) != Checks.digest(rows.updated(0, Row(1L, "a", 2.6))))
  }

  test("probe: a resurrected retired id fails") {
    assert(Checks.probe(Seq(5L, 7L), Set(3L)).isEmpty)
    assert(Checks.probe(Seq(5L, 3L), Set(3L)).nonEmpty)
  }

  // base docs 1-3 (batch -1), batch 0 = {10, 11}, batch 1 = {20}
  private val batchOf = Map(1L -> -1, 2L -> -1, 3L -> -1, 10L -> 0, 11L -> 0, 20L -> 1)
  // one-shot pairs: base-base (never drained), base-batch0, in-batch0,
  // base-batch1 with 2 retired after cycle 0, batch0-batch1
  private val oneShot = Set((1L, 2L), (1L, 10L), (10L, 11L), (2L, 20L), (3L, 20L), (11L, 20L))
  private val retired = Map(2L -> 0)

  test("drain: the expected pairs, each once, pass") {
    val expected = Checks.expectedDrain(oneShot, batchOf, retired)
    assert(expected == Map(0 -> Set((1L, 10L), (10L, 11L)), 1 -> Set((3L, 20L), (11L, 20L))))
    assert(Checks.drain(expected.values.flatten.toSeq, oneShot, batchOf, retired).isEmpty)
  }

  test("drain: a dropped pair, a twice-drained pair or a retired doc's pair fails") {
    val ok = Seq((1L, 10L), (10L, 11L), (3L, 20L), (11L, 20L))
    assert(Checks.drain(ok.tail, oneShot, batchOf, retired).map(_._1) == Seq(0))
    assert(Checks.drain(ok :+ ((3L, 20L)), oneShot, batchOf, retired).map(_._1) == Seq(1))
    assert(Checks.drain(ok :+ ((2L, 20L)), oneShot, batchOf, retired).map(_._1) == Seq(1))
  }
}
