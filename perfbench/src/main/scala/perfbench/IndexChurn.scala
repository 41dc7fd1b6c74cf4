package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, Similarity}
import graft.util.GenManifest
import org.apache.spark.sql.DataFrame

/** `index_churn`: writes beside reads on the persisted indexes. Set-up
  * builds an LSH index over the seeded base docs and an IVF index over the
  * base vectors. A step appends one seeded batch to both, runs small
  * probes and retires a few base ids; a cycle is `compactEvery` steps and
  * one compaction of both indexes, so every cycle does the same work.
  */
class IndexChurn(r: Runner) extends Workload {
  import r.spark
  import spark.implicits._

  val compactEvery = 2
  private val steps = r.input("max_cycles")

  // seeded inputs, held on the driver: (id, text, cycle), cycle -1 = base
  private var docs: Array[(Long, String, Int)] = Array.empty
  private var vecs: Array[(Long, Array[Float], Int)] = Array.empty
  private var probeDocs: Map[Int, Seq[(Long, String)]] = Map.empty
  private var probeVecs: Map[Int, Seq[(Long, Array[Float])]] = Map.empty
  private var tombs: Map[Int, Seq[Long]] = Map.empty

  private var root = ""
  private def lshIdx = s"$root/lsh"
  private def ivfIdx = s"$root/ivf"
  private def pairsOut = s"$root/pairs"
  private val retiredAt = mutable.HashMap[Long, Int]()
  private val appendOps = mutable.HashMap[Int, OpRec]()
  private var appended = 0
  private val util = mutable.ArrayBuffer[Map[String, Any]]()

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
  private def vecsDf(rows: Seq[(Long, Array[Float])]): DataFrame = rows.toDF("vec_id", "embedding")
  private def idsDf(ids: Seq[Long]): DataFrame = ids.toDF("id")

  private def load(): Unit = {
    def read(t: String) = spark.read.parquet(s"${r.dataDir}/$t.parquet").collect()
    docs = read("churn_docs").map(x => (x.getLong(0), x.getString(1), x.getInt(2)))
    vecs = read("churn_vecs").map(x =>
      (x.getLong(0), x.getSeq[Float](1).toArray, x.getInt(2)))
    probeDocs = read("churn_probe_docs").toSeq
      .map(x => (x.getInt(2), (x.getLong(0), x.getString(1)))).groupMap(_._1)(_._2)
    probeVecs = read("churn_probe_vecs").toSeq
      .map(x => (x.getInt(2), (x.getLong(0), x.getSeq[Float](1).toArray))).groupMap(_._1)(_._2)
    tombs = read("churn_tombs").toSeq.map(x => (x.getInt(1), x.getLong(0))).groupMap(_._1)(_._2)
  }

  private def batchDocs(c: Int) = docs.toSeq.filter(_._3 == c).map(d => (d._1, d._2))
  private def batchVecs(c: Int) = vecs.toSeq.filter(_._3 == c).map(v => (v._1, v._2))

  /** Fresh indexes over the base split. The last set-up's indexes are the
    * ones the warm-up (pool batch 0 and a compaction) and the timed cycles
    * churn.
    */
  def setup(rep: Int): Unit = {
    if (root.nonEmpty) graft.util.Scratch.rmTree(Paths.get(root))
    root = r.path(s"churn_$rep")
    load()
    retiredAt.clear()
    appendOps.clear()
    util.clear()
    appended = 0
    Dedup.buildLshIndex(docsDf(batchDocs(-1)), "doc_id", "text", lshIdx)
    Similarity.buildIvfIndexFixedPoint(vecsDf(batchVecs(-1)), "vec_id", "embedding", ivfIdx)
  }

  def warmUp(): Unit = { step(0); compact() }

  def cycle(c: Int): Boolean = {
    val first = 1 + c * compactEvery
    if (first + compactEvery > steps) false
    else {
      (first until first + compactEvery).foreach(step)
      compact()
      true
    }
  }

  private def compact(): Unit = {
    val before = if (r.tracer.tracing) listing() else Map.empty[Path, Long]
    r.op("compact") {
      r.span("operators", "lsh_compact")(Dedup.compactLshIndex(spark, lshIdx))
      r.span("operators", "ivf_compact")(Similarity.compactIvfIndexFixedPoint(spark, ivfIdx))
    }
    r.dropStorage()
    if (r.tracer.tracing && r.timing) utilSnapshot(appended - 1, before, Nil)
  }

  private def step(k: Int): Unit = {
    val before = if (r.tracer.tracing) listing() else Map.empty[Path, Long]
    val bd = batchDocs(k)
    val (_, append) = r.op("append", items = bd.size) {
      r.span("operators", "lsh_append") {
        Dedup.appendLshDetect(docsDf(bd), "doc_id", "text", lshIdx, pairsOut)
      }
      r.span("operators", "ivf_append") {
        Similarity.appendIvfIndexFixedPoint(vecsDf(batchVecs(k)), "vec_id", "embedding", ivfIdx)
      }
    }
    if (r.timing) appendOps(k) = append
    appended = k + 1
    r.dropStorage()

    probeDocs(k).zip(probeVecs(k)).foreach { case (pd, pv) =>
      val ((pairs, nn), probe) = r.op("probe", items = 1) {
        val pairs = r.span("operators", "lsh_probe") {
          Dedup.detectDeltaPairs(docsDf(Seq(pd)), "doc_id", "text", lshIdx).collect()
        }
        val nn = r.span("operators", "ivf_query") {
          Similarity.queryIvfIndexFixedPoint(spark, ivfIdx, vecsDf(Seq(pv)),
            "vec_id", "embedding", k = 10).collect()
        }
        (pairs, nn)
      }
      val returned = pairs.toSeq.flatMap(p => Seq(p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b")))
        .filter(_ != pd._1) ++ nn.toSeq.map(_.getAs[Long]("neighbor_id"))
      Checks.probe(returned, retiredAt.keySet).foreach(probe.fail)
      r.dropStorage()
    }

    val ids = tombs(k)
    r.op("tombstone", items = ids.size) {
      r.span("operators", "tombstone") {
        Dedup.tombstoneLshDocs(idsDf(ids), lshIdx)
        Similarity.tombstoneIvfVecs(idsDf(ids), ivfIdx)
      }
    }
    ids.foreach(retiredAt(_) = k)
    r.dropStorage()
    if (r.tracer.tracing && r.timing) utilSnapshot(k, before, bd)
  }

  /** Every file under the index roots with its size. */
  private def listing(): Map[Path, Long] = Seq(lshIdx, ivfIdx).flatMap { d =>
    val s = Files.walk(Paths.get(d))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toList
    finally s.close()
  }.toMap

  /** The util layer, read from disk after each traced step and compaction:
    * files and bytes of each index's live generation (as its manifest names
    * it), the bytes written against the bytes appended, and generation dirs.
    */
  private def utilSnapshot(k: Int, before: Map[Path, Long], bd: Seq[(Long, String)]): Unit = {
    val after = listing()
    val live = Seq(lshIdx, ivfIdx).flatMap { d =>
      val m = r.span("util", "GenManifest.required")(GenManifest.required(spark, d))
      m.tables.values.map(t => Paths.get(s"$d/$t"))
    }
    val liveFiles = after.filter { case (p, _) =>
      live.exists(p.startsWith) && p.getFileName.toString.startsWith("part-")
    }
    val written = after.filter { case (p, _) => !before.contains(p) }.values.sum
    val appendedBytes = bd.map(_._2.getBytes("UTF-8").length.toLong).sum +
      (if (bd.isEmpty) 0L else batchVecs(k).map(_._2.length * 4L).sum)
    val liveRows = docs.count(d => d._3 < appended) - retiredAt.size
    val genDirs = Files.list(Paths.get(lshIdx))
    val nGen = try genDirs.iterator().asScala.count(p =>
      Files.isDirectory(p) && p.getFileName.toString.matches(".*_g\\d+")) finally genDirs.close()
    util += Map("cycle" -> k, "live_files" -> liveFiles.size,
      "live_bytes" -> liveFiles.values.sum, "live_rows" -> liveRows,
      "written_bytes" -> written, "appended_bytes" -> appendedBytes, "gen_dirs" -> nGen)
  }

  /** The exactly-once property: the pairs drained from every append equal
    * a one-shot LSH pass over the same docs, less the pairs whose older
    * member was retired before the newer one arrived.
    */
  override def finish(): Unit = {
    val used = docs.toSeq.filter(_._3 < appended)
    val cycleOf = used.map(d => d._1 -> d._3).toMap
    val drained = spark.read.parquet(pairsOut).select("doc_a", "doc_b").collect()
      .toSeq.map(x => (x.getLong(0), x.getLong(1)))
    val oneShot = Dedup.minHashLshPairsPortable(docsDf(used.map(d => (d._1, d._2))),
        "doc_id", "text").select("doc_a", "doc_b").collect()
      .toSeq.map(x => (x.getLong(0), x.getLong(1))).toSet
    val failures = Checks.drain(drained, oneShot, cycleOf, retiredAt.toMap)
    failures.foreach { case (batch, why) =>
      // the warm-up batch has no timed op; its failure lands on the first
      appendOps.get(batch).orElse(appendOps.get(1)).foreach(_.fail(why))
    }
    r.details("drained_pairs") = drained.size
    r.details("expected_pairs") = Checks.expectedDrain(oneShot, cycleOf, retiredAt.toMap)
      .values.map(_.size).sum
    r.details("retired_ids") = retiredAt.size
    r.details("util") = util.toSeq
  }
}
