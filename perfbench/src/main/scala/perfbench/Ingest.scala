package perfbench

import java.io.{File, FileInputStream}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.codec.Framing
import graft.ingest.{Checkpoint, FileSelection, IngestJob, Snapshots, TxnCommit}
import graft.llmops.SignatureStore
import graft.proto.Messages
import graft.sources.FileCatalog

/** The two batch-ingest pipelines, one batch of each per iteration:
  *  - `ingest_batch` (primary): huckli's own job, an incremental
  *    `IngestJob.run(…, "mobile-rewards", FileSelection(continue = true, …))`
  *    over freshly generated gz files of reward-share frames, into 9
  *    day-partitioned tables;
  *  - `dedup_batch`: a batch of seeded documents (~10% planted
  *    near-duplicates of earlier ones) appended to a corpus table through
  *    `format("graft-snapshots")`, signed with `SignatureStore.appendBatch`
  *    and searched with `SignatureStore.incrementalNearDupPairs`.
  * Each batch's row counts are checked against the generator; every
  * reported near-dup pair's exact shingle Jaccard is recomputed here, and
  * the search must find at least 90% of the planted pairs. */
final class IngestWorkload(ctx: Ctx) extends Workload(ctx) {
  private val F = ctx.scale.ingestFiles
  private val N = ctx.scale.ingestFrames
  private val D = ctx.scale.dedupDocs
  private val Threshold = 0.6
  /** Every seed so far finds every planted pair; a search that reports
    * fewer than this share of them is wrong, not fast. */
  private val MinRecall = 0.9
  private var input: String = _
  private var wh: String = _
  private var docsWh: String = _
  private var nextBatch = 0
  private var nextDocBatch = 0
  private var expected: Gen.Counts = Map.empty
  private val texts = mutable.HashMap.empty[Long, String]
  private var plantedSeen = 0L
  private var plantedFound = 0L

  private def rewardBatch(b: Int): (Seq[File], Gen.Counts) =
    Gen.writeRewardBatch(seed, new File(input), b, F, N)

  private def docBatch(b: Int): (DataFrame, Seq[(Long, Long)], Long) = {
    val (docs, planted) = Gen.docBatch(seed, b, D, 0.1, texts)
    docs.foreach(d => texts(d.doc_id) = d.text)
    val s0 = spark
    import s0.implicits._
    (docs.toDS().toDF(), planted, docs.map(_.text.length.toLong).sum)
  }

  /** Appends the documents to the corpus, then their signatures; returns
    * the time of the signature append alone (ms). */
  private def appendDocs(rec: OpRec, docs: DataFrame): Double = {
    Layer(rec, "snapshots.append")(docs.coalesce(1).write.format("graft-snapshots")
      .option("warehouse", docsWh).option("table", "documents").mode("append").save())
    Main.timed(Layer(rec, "llmops.sig_append")(
      SignatureStore.appendBatch(spark, docsWh, docs, "doc_id", "text")))._2
  }

  def setup(): Unit = {
    val d = fresh("ingest")
    input = new File(d, "input").toString
    wh = new File(d, "wh").toString
    docsWh = new File(d, "docs-wh").toString
    texts.clear()
    val rec = new OpRec(-1, "warmup", false)
    // Warm-up, rewards: the first batch (no checkpoint yet, so not `continue`).
    val (_, c0) = rewardBatch(0)
    val res = phase("warmup.ingest_batch")(IngestJob.run(spark, input, wh, "mobile-rewards",
      FileSelection(beforeMs = Some(Gen.rewardBatchEndMs(0, F)))))
    require(res.files.size == F && Gen.RewardTables.forall(t =>
      res.rowCounts.getOrElse(t, 0L) == c0(t)), s"warm-up ingest mismatch: ${res.rowCounts}")
    expected = c0
    nextBatch = 1
    // Warm-up, documents: a seed corpus batch, then one full dedup op.
    phase("seed.documents")(appendDocs(rec, docBatch(0)._1))
    nextDocBatch = 1
    phase("warmup.dedup_batch")(dedupStep().run(rec)().foreach(e =>
      throw new IllegalStateException(s"warm-up: $e")))
    plantedSeen = 0; plantedFound = 0
  }

  def next(i: Int): Seq[Step] = Seq(ingestStep(), dedupStep())

  private def ingestStep(): Step = {
    val b = nextBatch
    nextBatch += 1
    val (files, counts) = rewardBatch(b)
    val gzBytes = files.map(_.length).sum
    val endMs = Gen.rewardBatchEndMs(b, F)
    val prevEnd = Gen.rewardBatchEndMs(b - 1, F)
    Step("ingest_batch", primary = true, items = F.toLong * N, run = { rec =>
      rec.userBytes = gzBytes
      val res = Layer(rec, "ingest.run")(IngestJob.run(spark, input, wh, "mobile-rewards",
        FileSelection(continue = true, beforeMs = Some(endMs))))
      () => {
        expected = Gen.addCounts(expected, counts)
        val bad = Gen.RewardTables.filter(t => res.rowCounts.getOrElse(t, -1L) != counts(t))
        if (res.files.size != F) Some(s"batch $b ingested ${res.files.size} of $F files")
        else if (bad.nonEmpty) Some(s"batch $b row counts differ on ${bad.mkString(",")}")
        else None
      }
    }, probe = { rec =>
      val prefix = Gen.RewardsPrefix
      // codec/proto: single-threaded decode of this batch's files.
      val (frames, decodeMs) = Main.timed(files.map { f =>
        val in = new FileInputStream(f)
        try Framing.gzipFrames(in).map(Messages.MobileRewardShare.decode).size
        finally in.close()
      }.sum)
      rec.add("codec.decode_frames_per_s", frames / (decodeMs / 1e3))
      val (listed, listMs) = Main.timed(FileCatalog.list(spark, input, prefix,
        Some(prevEnd), Some(endMs)))
      rec.add("sources.list_ms", listMs)
      rec.add("sources.checkpoint_ms", Main.timed {
        Checkpoint.latestMs(spark, wh, prefix)
        Checkpoint.unprocessed(spark, wh, prefix, listed)
      }._2)
      rec.add("txn.recover_ms", Main.timed(TxnCommit.recover(ctx.fs(wh), wh))._2)
      rec.add("snapshots.log_entries", Snapshots.entries(ctx.fs(wh), wh).size)
    })
  }

  private def dedupStep(): Step = {
    val b = nextDocBatch
    nextDocBatch += 1
    val (docs, planted, textBytes) = docBatch(b)
    Step("dedup_batch", primary = false, items = D, run = { rec =>
      rec.userBytes = textBytes
      rec.add("llmops.sig_append_ms", appendDocs(rec, docs))
      val t1 = Clock.nowMs
      val pairs = Layer(rec, "llmops.pairs")(SignatureStore.incrementalNearDupPairs(
        spark, docsWh, "documents", docs, "doc_id", "text", threshold = Threshold).collect())
      rec.add("llmops.pairs_ms", Clock.nowMs - t1)
      rec.add("llmops.pairs", pairs.length)
      () => {
        val found = pairs.map(p => (p.getLong(0), p.getLong(1))).toSet
        val low = pairs.count(p =>
          Gen.shingleJaccard(texts(p.getLong(0)), texts(p.getLong(1))) < Threshold - 1e-9)
        val want = planted.map { case (a, c) => (math.min(a, c), math.max(a, c)) }
          .filter { case (a, c) => Gen.shingleJaccard(texts(a), texts(c)) >= Threshold }
        val hit = want.count(found.contains)
        plantedSeen += want.size; plantedFound += hit
        rec.add("llmops.planted_recall", if (want.isEmpty) 1.0 else hit.toDouble / want.size)
        if (low > 0) Some(s"doc batch $b: $low reported pairs below Jaccard $Threshold")
        else if (hit < want.size * MinRecall)
          Some(s"doc batch $b: found $hit of ${want.size} planted pairs, under recall $MinRecall")
        else None
      }
    })
  }

  def finish(): Seq[String] = {
    val last = nextBatch - 1
    // Replaying an ingested range must ingest nothing.
    val replay = IngestJob.run(spark, input, wh, "mobile-rewards", FileSelection(
      afterMs = Some(Gen.rewardBatchEndMs(last - 1, F)),
      beforeMs = Some(Gen.rewardBatchEndMs(last, F))))
    val replayErr =
      if (replay.files.nonEmpty) Seq(s"replay of batch $last ingested ${replay.files.size} files")
      else Nil
    val countErr = Gen.RewardTables.flatMap { t =>
      val got = spark.read.parquet(s"$wh/$t").count()
      if (got != expected(t)) Some(s"$t holds $got rows, generator made ${expected(t)}") else None
    }
    replayErr ++ countErr
  }

  /** Reward warehouse only (the documents live in their own warehouse). */
  def bytesPerRow: Double = dirBytes(wh).toDouble / math.max(1L, expected.values.sum)

  def sizing: String = "every batch, table and signature index fits the page cache; " +
    "append-only, no DML"

  def named(ops: Seq[OpRec]): Seq[Named] = {
    def rate(kind: String) = {
      val b = ops.filter(_.kind == kind)
      b.map(_.items).sum / (b.map(_.wallMs).sum / 1e3)
    }
    val docs = ops.filter(_.kind == "dedup_batch").map(_.wallMs)
    Seq(Named("ingest_frames_per_s", rate("ingest_batch"), "frames/s")) ++
      Workload.latencyNamed("ingest_batch", "s", Workload.wall(ops, Set("ingest_batch"))) ++
      Seq(Named("dedup_docs_per_s", rate("dedup_batch"), "docs/s"),
        Named("dedup_batch_p50_s", Workload.p50(docs) / 1e3, "s"),
        Named("dedup_planted_recall",
          if (plantedSeen == 0) 1.0 else plantedFound.toDouble / plantedSeen, "ratio"),
        Named("dedup_bytes_per_doc", dirBytes(docsWh).toDouble / math.max(1, texts.size), "B/doc"))
  }
}
