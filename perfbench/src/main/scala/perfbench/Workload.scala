package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sizes of one run. `small` is the benchmark; `tiny` is the smoke test. */
case class Scale(ingestFiles: Int, ingestFrames: Int,
                 lookupAppends: Int, lookupRowsPerAppend: Int,
                 mutateFiles: Int, mutateRowsPerFile: Int,
                 dedupDocs: Int)

object Scale {
  val small = Scale(ingestFiles = 4, ingestFrames = 2500,
    lookupAppends = 40, lookupRowsPerAppend = 5000,
    mutateFiles = 24, mutateRowsPerFile = 2500,
    dedupDocs = 1000)
  val tiny = Scale(ingestFiles = 2, ingestFrames = 50,
    lookupAppends = 34, lookupRowsPerAppend = 40,
    mutateFiles = 4, mutateRowsPerFile = 100,
    dedupDocs = 60)
}

/** What a run shares with its workload. */
case class Ctx(spark: SparkSession, seed: Long, work: File, scale: Scale) {
  def fs(path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}

/** One op of the loop: `run` is the timed part and returns the (untimed)
  * output check; `probe` times extra calls into layers after the op, in
  * traced runs only, outside the op's wall time. */
case class Step(kind: String, primary: Boolean, items: Long,
                run: OpRec => (() => Option[String]),
                probe: OpRec => Unit = _ => ())

/** A workload-specific metric, printed beside the end-to-end ones. */
case class Named(name: String, value: Double, unit: String)

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.seed

  /** The full set-up, in a fresh directory: inputs, tables and one warm-up
    * iteration, whose state the loop continues from. */
  def setup(): Unit
  /** The ops of loop iteration `i` (untimed preparation happens here). */
  def next(i: Int): Seq[Step]
  /** End-of-run oracles: a list of failures. */
  def finish(): Seq[String]
  /** Warehouse bytes, history included, per live row. */
  def bytesPerRow: Double
  /** Which cache each workload fits, said in the output. */
  def sizing: String
  def named(ops: Seq[OpRec]): Seq[Named]

  /** Set-up time by phase (ms). */
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  protected def phase[A](name: String)(body: => A): A = {
    val (a, ms) = Main.timed(body)
    phases(name) = ms
    a
  }

  protected def dirBytes(dir: String): Long = {
    val fs = ctx.fs(dir)
    val p = new Path(dir)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }
  protected def fresh(name: String): File = {
    val d = new File(ctx.work, name)
    if (d.exists()) Main.deleteTree(d)
    d.mkdirs()
    d
  }
  protected def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted
}

object Workload {
  /** The SQL catalog name; both SQL front ends follow `spark.graft.warehouse`. */
  val Catalog = "graft"

  /** Stage one batch with `write(stagingPath)` and publish it as one
    * commit of `table`. */
  def publish(ctx: Ctx, wh: String, table: String)(write: String => Unit): Unit = {
    val fs = ctx.fs(wh)
    val cid = java.util.UUID.randomUUID().toString
    write(s"${graft.ingest.TxnCommit.stagingDir(wh, cid)}/$table")
    val moves = graft.ingest.TxnCommit.movesFor(fs, wh, cid, table)
    graft.ingest.TxnCommit.commit(fs, wh, cid, moves)
    graft.ingest.TxnCommit.publish(fs, wh, cid, moves)
  }

  def useWarehouse(spark: SparkSession, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$Catalog", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.graft.warehouse", wh)
  }

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new IngestWorkload(ctx)
    case "lookup" => new LookupWorkload(ctx)
    case "mutate" => new MutateWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def p50(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest percentile that still has ten samples beyond it: the
    * (n-10)-th smallest of n. With ten or fewer samples, the maximum.
    * Returns (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (if (s.isEmpty) 0.0 else s.last, 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  def wall(ops: Seq[OpRec], kinds: Set[String]): Seq[Double] =
    ops.filter(o => kinds(o.kind)).map(_.wallMs)

  def latencyNamed(prefix: String, unit: String, xs: Seq[Double]): Seq[Named] = {
    val f = if (unit == "s") 1e-3 else 1.0
    val (t, p, n) = tail(xs)
    Seq(Named(s"${prefix}_p50_$unit", p50(xs) * f, unit),
      Named(s"${prefix}_tail_$unit", t * f, unit),
      Named(s"${prefix}_tail_percentile", p, "pct"),
      Named(s"${prefix}_samples", n.toDouble, "count"))
  }
}
