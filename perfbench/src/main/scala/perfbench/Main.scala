package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, drive it as a closed loop with
  * one client for `--seconds`, check every output, and print one result
  * line (`PERFBENCH_RESULT {json}`). With `--trace 1` every op is traced
  * and a per-op ledger is written to `--ledger`. `--workload warm` runs
  * the benchmarked workloads once at tiny scale and exits (used to record
  * the class archive at build time).
  *
  * {{{
  * perfbench.Main --workload ingest|mutate|lookup --seed N --seconds S
  *                --trace 0|1 --work DIR [--ledger FILE]
  * }}}
  */
object Main {

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** End-to-end metrics: every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_mean_ms" -> "ms", "items_per_s" -> "1/s", "peak_rss_mb" -> "MB", "warehouse_bytes_per_row" -> "B/row")

  /** Per-layer metrics of the traced run, each the mean over the traced
    * ops that produced it (storage, Spark, Catalyst, JVM and residual
    * figures are produced by every traced op). */
  val PerLayer: Seq[(String, String)] = Seq(
    "codec.decode_frames_per_s" -> "1/s",
    "sources.list_ms" -> "ms", "sources.checkpoint_ms" -> "ms",
    "txn.recover_ms" -> "ms",
    "snapshots.read_construct_ms" -> "ms", "snapshots.log_entries" -> "count",
    "snapshots.live_files" -> "count", "snapshots.files_scanned_ratio" -> "ratio",
    "merge.files_scanned" -> "count", "merge.files_rewritten" -> "count",
    "merge.files_dv_attached" -> "count",
    "merge.files_rewritten_per_row" -> "ratio",
    "compaction.ms" -> "ms", "compaction.files_after" -> "count",
    "sql.parse_ms" -> "ms", "catalyst.plan_ms" -> "ms", "catalyst.executions" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_failures" -> "count", "spark.job_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.input_bytes" -> "B", "spark.output_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "driver.other_ms" -> "ms",
    "fs.read_ops" -> "count", "fs.large_read_ops" -> "count", "fs.write_ops" -> "count",
    "fs.bytes_read" -> "B", "fs.bytes_written" -> "B", "fs.write_amp" -> "ratio",
    "llmops.sig_append_ms" -> "ms", "llmops.pairs_ms" -> "ms",
    "llmops.planted_recall" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
    "trace.overhead_frac" -> "ratio")

  private val everyOp = Seq("spark.", "fs.", "catalyst.", "jvm.", "driver.")

  /** Counters that are counts of events or bytes, not times: two traced
    * runs with one seed must repeat them exactly op by op. */
  def isCount(k: String): Boolean =
    !(k.endsWith("_ms") || k.endsWith(".ms") || k.endsWith("_per_s") ||
      k.startsWith("self.") || k.startsWith("jvm."))

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def session(work: File, cores: Int, trace: Boolean): SparkSession = {
    val b0 = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
    val b = if (trace) b0.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName) else b0
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = parse(args)
    val workload = opt("workload")
    val seed = opt.getOrElse("seed", "0").toLong
    val seconds = opt.getOrElse("seconds", "0").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    work.mkdirs()
    if (workload == "warm") {
      // Load what runs load (for the class-data-sharing archive): a tiny
      // run of each benchmarked workload, one of them traced.
      Seq("mutate" -> false, "ingest" -> true).foreach { case (w, t) =>
        run(w, 0L, 0.0, t, new File(work, w), Scale.tiny, cores)
      }
      System.exit(0)
    }
    val out = run(workload, seed, seconds, trace, work, Scale.small, cores)
    opt.get("ledger").foreach { path =>
      val w = new PrintWriter(path)
      try w.println(out.ledger) finally w.close()
    }
    println("PERFBENCH_RESULT " + out.json)
    System.exit(0)
  }

  case class Outcome(json: String, ledger: String, failures: Seq[String])

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File,
          scale: Scale, cores: Int): Outcome = {
    val t0 = Clock.nowMs
    val spark = session(work, cores, trace)
    val sessionMs = Clock.nowMs - t0
    try drive(spark, workload, seed, seconds, trace, work, scale, cores, sessionMs)
    finally spark.stop()
  }

  private def drive(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                    trace: Boolean, work: File, scale: Scale, cores: Int,
                    sessionMs: Double): Outcome = {
    val wl = Workload(workload, Ctx(spark, seed, work, scale))
    val setupS = (sessionMs + timed(wl.setup())._2) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val failures = mutable.ArrayBuffer.empty[String]
    val loopStart = Clock.nowMs
    val deadline = loopStart + seconds * 1000
    // Closed loop: start an iteration only if one as long as the last fits
    // before the deadline, and always run at least one.
    var i = 0
    var lastIterMs = 0.0
    while (i == 0 || Clock.nowMs + lastIterMs <= deadline) {
      val iterStart = Clock.nowMs
      wl.next(i).foreach { s =>
        val rec = new OpRec(ops.size, s.kind, s.primary)
        rec.items = s.items
        ops += rec
        val cpu0 = Clock.cpuMs
        rec.start = Clock.nowMs
        val check =
          try tracer.fold(s.run(rec))(_.around(rec)(s.run(rec)))
          catch { case e: Exception => () => Some(s"${s.kind} threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        rec.end = Clock.nowMs
        rec.cpuMs = Clock.cpuMs - cpu0
        if (trace) s.probe(rec)
        (try check() catch { case e: Exception => Some(s"${s.kind} check threw $e") })
          .foreach(f => failures += s"op ${rec.index} (${s.kind}): $f")
      }
      lastIterMs = Clock.nowMs - iterStart
      i += 1
    }
    val loopS = (Clock.nowMs - loopStart) / 1e3
    val (finalFailures, finishMs) = timed(
      try wl.finish() catch { case e: Exception => Seq(s"final check threw $e") })
    failures ++= finalFailures
    tracer.foreach { t => t.stop(); t.attribute(ops.toSeq) }

    val primary = ops.filter(_.primary).map(_.wallMs).toSeq
    val (tailMs, tailPct, tailN) = Workload.tail(primary)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_mean_ms" -> primary.sum / primary.size,
      "items_per_s" -> ops.map(_.items).sum / (ops.map(_.wallMs).sum / 1e3),
      "peak_rss_mb" -> peakRssMb,
      "warehouse_bytes_per_row" -> wl.bytesPerRow)
    val metrics =
      if (!trace) EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      else PerLayer.map { case (k, u) => (k, layerValue(k, ops.toSeq), u) }
    val named = wl.named(ops.toSeq) ++ Seq(
      Named("failed_frac", failures.size.toDouble / ops.size, "ratio"))
    val J = Json
    val json = J.obj(
      "workload" -> J.str(workload), "seed" -> seed.toString, "seconds" -> J.num(seconds),
      "trace" -> trace.toString,
      "cores" -> cores.toString, "master" -> J.str(s"local[$cores]"),
      "spark_version" -> J.str(spark.version),
      "java_version" -> J.str(System.getProperty("java.version")),
      "heap_max_mb" -> J.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "fs_impl" -> J.str(org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration).getClass.getName),
      "session_s" -> J.num(sessionMs / 1e3),
      "setup_phases_s" -> J.obj(wl.phases.toSeq.map { case (k, ms) => k -> J.num(ms / 1e3) }: _*),
      "loop_s" -> J.num(loopS), "finish_s" -> J.num(finishMs / 1e3), "iterations" -> i.toString,
      "attempted" -> ops.size.toString, "failed" -> failures.size.toString,
      "failures" -> J.arr(failures.take(20).map(J.str).toSeq),
      "op_mean_ms" -> J.num(e2e("op_mean_ms")), "op_p50_ms" -> J.num(Workload.p50(primary)),
      "op_tail_ms" -> J.num(tailMs), "op_tail_percentile" -> J.num(tailPct),
      "op_tail_samples" -> tailN.toString,
      "sizing" -> J.str(wl.sizing),
      "op_kinds" -> J.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
        k -> J.obj("n" -> os.size.toString, "wall_p50_ms" -> J.num(Workload.p50(os.map(_.wallMs).toSeq)),
          "cpu_p50_ms" -> J.num(Workload.p50(os.map(_.cpuMs).toSeq)))
      }: _*),
      "metrics" -> J.obj(metrics.map { case (k, v, u) =>
        k -> J.obj("value" -> J.num(v), "unit" -> J.str(u)) }: _*),
      "named" -> J.obj(named.map(n =>
        n.name -> J.obj("value" -> J.num(n.value), "unit" -> J.str(n.unit))): _*))
    Outcome(json, if (trace) ledger(workload, seed, ops.toSeq) else "{}", failures.toSeq)
  }

  def layerValue(k: String, ops: Seq[OpRec]): Double = {
    k match {
      case "trace.overhead_frac" => 0.0 // against an untraced run: filled in by run.py
      case "fs.write_amp" =>
        val user = ops.map(_.userBytes).sum
        if (user == 0) 0.0 else ops.map(_.counters.getOrElse("fs.bytes_written", 0.0)).sum / user
      case _ =>
        val from = if (everyOp.exists(k.startsWith(_))) ops else ops.filter(_.counters.contains(k))
        if (from.isEmpty) 0.0 else from.map(_.counters.getOrElse(k, 0.0)).sum / from.size
    }
  }

  /** Per op type: count, mean wall time, the self-time split (Spark jobs,
    * Catalyst planning, each layer's driver self time, unattributed) that
    * sums to the wall time, and every counter's mean; then each op's
    * counters for the exact-count comparison. */
  private def ledger(workload: String, seed: Long, ops: Seq[OpRec]): String = {
    val J = Json
    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, os) =>
      val n = os.size.toDouble
      def mean(k: String) = os.map(_.counters.getOrElse(k, 0.0)).sum / n
      val keys = os.flatMap(_.counters.keys).distinct.sorted
      val selfKeys = Seq("spark.job_ms", "catalyst.plan_ms") ++ keys.filter(_.startsWith("self."))
      kind -> J.obj(
        "ops" -> os.size.toString,
        "wall_ms" -> J.num(os.map(_.wallMs).sum / n),
        "driver.other_ms" -> J.num(mean("driver.other_ms")),
        "self_ms" -> J.obj(selfKeys.map(k => k -> J.num(mean(k))): _*),
        "self_sum_ms" -> J.num(selfKeys.map(mean).sum),
        "counters" -> J.obj(keys.filterNot(_.startsWith("self.")).map(k => k -> J.num(mean(k))): _*))
    }
    J.obj("workload" -> J.str(workload), "seed" -> seed.toString,
      "op_types" -> J.obj(byKind: _*),
      "ops" -> J.arr(ops.map(o => J.obj("index" -> o.index.toString, "kind" -> J.str(o.kind),
        "wall_ms" -> J.num(o.wallMs),
        "counts" -> J.obj(o.counters.toSeq.filter(kv => isCount(kv._1)).sortBy(_._1)
          .map { case (k, v) => k -> J.num(v) }: _*)))))
  }
}

/** Minimal JSON rendering (values are pre-rendered strings). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
