package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same clock
  * Spark stamps its listener events with. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process, in ms. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6
}

/** A closed interval in epoch ms. */
case class Iv(start: Double, end: Double) { def ms: Double = math.max(0.0, end - start) }

object Iv {
  /** Merge overlapping intervals. */
  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(_.ms > 0).sortBy(_.start).foldLeft(List.empty[Iv]) {
      case (h :: t, iv) if iv.start <= h.end => Iv(h.start, math.max(h.end, iv.end)) :: t
      case (acc, iv) => iv :: acc
    }.reverse

  def total(ivs: Seq[Iv]): Double = union(ivs).map(_.ms).sum

  /** Parts of `ivs` that lie inside `within`. */
  def clip(ivs: Seq[Iv], within: Iv): Seq[Iv] =
    ivs.map(i => Iv(math.max(i.start, within.start), math.min(i.end, within.end))).filter(_.ms > 0)

  /** Parts of `a` not covered by `b` (both unions). */
  def minus(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = {
    val cut = union(b)
    union(a).flatMap { iv =>
      cut.foldLeft(Seq(iv)) { (pieces, c) =>
        pieces.flatMap { p =>
          if (c.end <= p.start || c.start >= p.end) Seq(p)
          else Seq(Iv(p.start, c.start), Iv(c.end, p.end)).filter(_.ms > 0)
        }
      }
    }
  }
}

/** One op of the closed loop. `counters` hold per-layer values the op
  * produced (merge results, probe timings, …); the traced run adds Spark,
  * Catalyst, storage and GC figures. `spans` are the benchmark's calls into
  * library layers, children of the op. */
final class OpRec(val index: Int, val kind: String, val primary: Boolean) {
  var start: Double = 0.0
  var end: Double = 0.0
  var items: Long = 0L
  var userBytes: Long = 0L
  /** Process CPU time (all threads) spent during the op. */
  var cpuMs: Double = 0.0
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val spans: mutable.ArrayBuffer[(String, Iv)] = mutable.ArrayBuffer.empty
  def wallMs: Double = end - start
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Spark/Catalyst/Hadoop/JVM instrumentation registered by the benchmark.
  * Jobs are tied to ops by a local property; planning phases by time, since
  * the loop has one client and ops never overlap. */
final class Tracer(spark: SparkSession) {
  val OpProp = "perfbench.op"

  private case class Job(op: Int, start: Double, var end: Double)
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val perOp = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  private val plans = mutable.ArrayBuffer.empty[Iv]
  private val executions = mutable.ArrayBuffer.empty[Double]

  private def bump(op: Int, k: String, v: Double): Unit = {
    val m = perOp.getOrElseUpdate(op, mutable.HashMap.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(OpProp))).foreach { s =>
        val op = s.toInt
        jobs(e.jobId) = Job(op, e.time.toDouble, e.time.toDouble)
        e.stageIds.foreach(stageOp(_) = op)
        bump(op, "spark.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(bump(_, "spark.stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        bump(op, "spark.tasks", 1)
        if (!e.taskInfo.successful) bump(op, "spark.task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          bump(op, "spark.task_cpu_ms", m.executorCpuTime / 1e6)
          bump(op, "spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
          bump(op, "spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
          bump(op, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          bump(op, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          bump(op, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    // Events arrive on the listener bus after the fact; the phases carry
    // their own times, which place the execution inside its op.
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      phases.foreach(p => plans += Iv(p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      executions += phases.map(_.endTimeMs.toDouble).maxOption.getOrElse(Clock.nowMs)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Hadoop's byte counters for `file`, plus [[CountingLocalFs]]'s call
    * counts (the local filesystem leaves Hadoop's op counters at zero). */
  private def fsStats: Map[String, Long] = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    val bytes =
      if (st == null) Map.empty[String, Long]
      else st.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap
    bytes ++ Map("readOps" -> CountingLocalFs.reads.get, "largeReadOps" -> CountingLocalFs.lists.get,
      "writeOps" -> CountingLocalFs.writes.get)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gc: (Long, Long) =
    (gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum,
      gcBeans.map(_.getCollectionCount).filter(_ >= 0).sum)

  private val fsKeys = Seq("readOps" -> "fs.read_ops", "largeReadOps" -> "fs.large_read_ops",
    "writeOps" -> "fs.write_ops", "bytesRead" -> "fs.bytes_read",
    "bytesWritten" -> "fs.bytes_written")

  /** Run `body` as op `rec`: tags its jobs, and brackets it with storage
    * and GC counter snapshots. */
  def around[A](rec: OpRec)(body: => A): A = {
    val sc = spark.sparkContext
    val fs0 = fsStats; val gc0 = gc
    sc.setLocalProperty(OpProp, rec.index.toString)
    try body
    finally {
      sc.setLocalProperty(OpProp, null)
      val fs1 = fsStats; val gc1 = gc
      fsKeys.foreach { case (k, name) =>
        rec.add(name, (fs1.getOrElse(k, 0L) - fs0.getOrElse(k, 0L)).toDouble) }
      rec.add("jvm.gc_ms", (gc1._1 - gc0._1).toDouble)
      rec.add("jvm.gc_count", (gc1._2 - gc0._2).toDouble)
    }
  }

  /** Fold the listener records into each op: Spark counters, the
    * job-time union, Catalyst planning time outside jobs, each layer span's
    * self time, and the driver residual. Call after [[stop]]. */
  def attribute(ops: Seq[OpRec]): Unit = synchronized {
    val jobsByOp = jobs.values.groupBy(_.op)
    ops.foreach { rec =>
      val opIv = Iv(rec.start, rec.end)
      perOp.get(rec.index).foreach(_.foreach { case (k, v) => rec.add(k, v) })
      val jobIvs = Iv.union(Iv.clip(jobsByOp.getOrElse(rec.index, Nil)
        .map(j => Iv(j.start, j.end)).toSeq, opIv))
      val planIvs = Iv.union(Iv.minus(Iv.clip(plans.toSeq, opIv), jobIvs))
      val jobMs = Iv.total(jobIvs)
      val planMs = Iv.total(planIvs)
      rec.add("spark.job_ms", jobMs)
      rec.add("catalyst.plan_ms", planMs)
      rec.add("catalyst.executions", executions.count(t => t >= rec.start && t <= rec.end + 1).toDouble)
      // Layer self time: the span minus Spark jobs and planning inside it.
      val busy = jobIvs ++ planIvs
      var inLayers = 0.0
      rec.spans.groupBy(_._1).foreach { case (layer, ss) =>
        val self = Iv.total(Iv.minus(ss.map(_._2).toSeq, busy))
        inLayers += self
        rec.add(s"self.$layer", self)
      }
      val other = math.max(0.0, rec.wallMs - jobMs - planMs)
      rec.add("driver.other_ms", other)
      rec.add("self.unattributed", math.max(0.0, other - inLayers))
    }
  }
}

/** Times the benchmark's calls into library layers as child spans of the
  * current op (recorded in every run; only traced runs read them). */
object Layer {
  def apply[A](rec: OpRec, layer: String)(body: => A): A = {
    val t0 = Clock.nowMs
    try body finally rec.spans += ((layer, Iv(t0, Clock.nowMs)))
  }
}

/** The local filesystem with call counters: metadata and data reads
  * (`open`, `getFileStatus`, `listStatus`; listings also count as large
  * reads, as HDFS counts them) and writes (`create`, `mkdirs`, `rename`,
  * `delete`, `append`). Installed as `fs.file.impl` in traced runs only. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); lists.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingLocalFs {
  val reads = new AtomicLong
  val lists = new AtomicLong
  val writes = new AtomicLong
}
