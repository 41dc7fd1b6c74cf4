package perfbench

import graft.jobs.{CurationJob, IngestionJob}
import org.apache.spark.sql.Row

/** The correctness checks, as pure functions over an op's output: each
  * returns the reason the output is wrong, or None. They run untimed; a
  * failing op counts as failed.
  */
object Checks {

  /** Ingest: everything served is either landed or dead-lettered, the
    * run-metrics row's reconciled flag is right, and the counts are the
    * generator's.
    */
  def ingest(res: IngestionJob.Result, valid: Long, nullIds: Long): Option[String] =
    if (res.collected + res.erreurs != res.totalExpected)
      Some(s"collected ${res.collected} + erreurs ${res.erreurs} != expected ${res.totalExpected}")
    // the run-metrics row reconciles only when nothing was dead-lettered
    else if (res.reconciled != (res.erreurs == 0))
      Some(s"reconciled=${res.reconciled} with ${res.erreurs} dead-lettered")
    else if (res.collected != valid) Some(s"landed ${res.collected}, generated $valid valid")
    else if (res.erreurs != nullIds) Some(s"dead-lettered ${res.erreurs}, generated $nullIds null-id")
    else None

  /** Curate: every stage only drops docs, the input is what was landed,
    * and the report repeats exactly for the same corpus.
    */
  def curation(rep: CurationJob.Report, landed: Long,
               first: Option[CurationJob.Report]): Option[String] =
    if (rep.input != landed) Some(s"curation input ${rep.input} != landed $landed")
    else if (!(rep.input >= rep.afterQuality && rep.afterQuality >= rep.afterExact &&
               rep.afterExact >= rep.afterNearDup && rep.afterNearDup > 0))
      Some(s"stage counts not monotone: $rep")
    else if (first.exists(_ != rep)) Some(s"report $rep differs from the first ${first.get}")
    else None

  /** Order-insensitive digest of a collected result. */
  def digest(rows: Array[Row]): String = {
    val canon = rows.map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Probe: no returned id may be retired at the time of the probe. */
  def probe(returned: Seq[Long], retired: collection.Set[Long]): Option[String] =
    returned.find(retired.contains).map(id => s"probe returned retired id $id")

  /** The pairs each append batch should drain: one-shot pairs among the
    * docs seen so far, keyed by the batch of their newer member (base docs
    * are batch -1), kept only if the older member was still live when the
    * newer one arrived. A retirement at cycle c follows that cycle's
    * append, so it hides the doc from batches after c.
    */
  def expectedDrain(oneShot: Set[(Long, Long)], batchOf: Map[Long, Int],
                    retiredAt: Map[Long, Int]): Map[Int, Set[(Long, Long)]] =
    oneShot.toSeq.flatMap { case p @ (a, b) =>
      val (ta, tb) = (batchOf(a), batchOf(b))
      val t = math.max(ta, tb)
      val older = if (ta < tb) Some(a) else if (tb < ta) Some(b) else None
      val visible = older.forall(o => retiredAt.get(o).forall(_ >= t))
      if (t >= 0 && visible) Some(t -> p) else None
    }.groupMap(_._1)(_._2).map { case (t, ps) => t -> ps.toSet }

  /** Exactly-once drain: no pair twice, and per batch the drained pairs
    * equal the expected ones. Returns (batch, reason) for each bad batch.
    */
  def drain(drained: Seq[(Long, Long)], oneShot: Set[(Long, Long)],
            batchOf: Map[Long, Int], retiredAt: Map[Long, Int]): Seq[(Int, String)] = {
    val expected = expectedDrain(oneShot, batchOf, retiredAt)
    val got = drained.groupBy { case (a, b) => math.max(batchOf(a), batchOf(b)) }
    (expected.keySet ++ got.keySet).toSeq.sorted.flatMap { t =>
      val g = got.getOrElse(t, Nil)
      val e = expected.getOrElse(t, Set.empty)
      if (g.size != g.toSet.size) Some(t -> s"batch $t drained ${g.size - g.toSet.size} pairs twice")
      else if (g.toSet != e) Some(t -> s"batch $t drained ${(g.toSet -- e).size} unexpected, missed ${(e -- g.toSet).size}")
      else None
    }
  }
}
