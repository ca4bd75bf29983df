package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest._

/** A static, day-partitioned fact table with a clustered key and a bloom on
  * a high-cardinality column, served a seeded mix of point lookups, range
  * and full-scan aggregates and a dimension join. Every answer is checked
  * against the same query over a plain parquet copy. */
final class LookupWorkload(ctx: Ctx) extends Workload(ctx) {
  import LookupWorkload._
  private val A = ctx.scale.lookupAppends
  private val R = ctx.scale.lookupRowsPerAppend
  private val total = A.toLong * R
  private val days = 4
  private var wh: String = _
  private var plain: String = _
  private val cat = Workload.Catalog
  private val answers = mutable.HashMap.empty[Int, Seq[String]]
  private lazy val pool: IndexedSeq[Query] = {
    val r = Gen.rng(seed, "lookup-pool")
    def id = r.nextLong(total)
    def day = Gen.dayOf(r.nextInt(days))
    IndexedSeq.fill(24)(PointId(id)) ++
      IndexedSeq.fill(16)(PointUser(if (r.nextInt(8) == 0) r.nextLong(1L << 62) else Gen.userOf(seed, id))) ++
      IndexedSeq.fill(10)(RangeAgg(day, 5 + r.nextInt(40))) ++
      IndexedSeq.fill(6)(ScanAgg(r.nextInt(3))) ++
      IndexedSeq.fill(8)(DimJoin(day))
  }
  private lazy val mix = Gen.rng(seed, "lookup-mix")

  def setup(): Unit = {
    val d = fresh("lookup")
    wh = new File(d, "wh").toString
    plain = new File(d, "plain").toString
    Workload.useWarehouse(spark, wh)
    val s0 = spark
    import s0.implicits._
    val fs = ctx.fs(wh)
    Snapshots.setProperties(fs, wh, "facts",
      Map("bloom.columns" -> "user_id", "bloom.ndv" -> R.toString))
    (0 until A).foreach { a =>
      Workload.publish(ctx, wh, "facts")(Gen.facts(seed, a.toLong * R, (a + 1).toLong * R,
        total / days).toDS().toDF().coalesce(1).write
        .options(Snapshots.bloomWriteOptionsFor(fs, wh, "facts", None))
        .partitionBy("dt").parquet(_))
    }
    Gen.dims.toDS().toDF().coalesce(1).write.format("graft-snapshots")
      .option("warehouse", wh).option("table", "dim").mode("append").save()
    // The oracle's copy: plain parquet, no log, no pruning.
    Gen.facts(seed, 0L, total, total / days).toDS().toDF()
      .write.partitionBy("dt").parquet(s"$plain/facts")
    Gen.dims.toDS().toDF().write.parquet(s"$plain/dim")
    answers.clear()
    // Warm-up: one query of every kind.
    Seq(0, 24, 40, 50, 56).foreach { q =>
      val got = rows(graftQuery(pool(q), new OpRec(-1, "warmup", false)))
      require(got == expected(q),
        s"warm-up answer differs for ${pool(q)}: ${got.take(3)} vs ${expected(q).take(3)}")
    }
  }

  private def expected(q: Int): Seq[String] =
    answers.getOrElseUpdate(q, rows(plainQuery(pool(q))))

  private def sqlFor(q: Query, facts: String, dim: String): String = q match {
    case RangeAgg(day, c) =>
      s"SELECT cat, count(*), sum(amount) FROM $facts WHERE dt = '$day' AND cat < $c GROUP BY cat"
    case DimJoin(day) =>
      s"SELECT d.label, count(*), sum(f.amount) FROM $facts f JOIN $dim d ON f.cat = d.cat " +
        s"WHERE f.dt = '$day' GROUP BY d.label"
    case _ => ""
  }

  private def graftQuery(q: Query, rec: OpRec): DataFrame = q match {
    case PointId(id) => Layer(rec, "snapshots.read")(
      Snapshots.readWhere(spark, wh, "facts", col("id") === id))
    case PointUser(u) => Layer(rec, "snapshots.read")(
      Snapshots.readWhere(spark, wh, "facts", col("user_id") === u))
    case ScanAgg(k) => Layer(rec, "snapshots.read")(Snapshots.read(spark, wh, "facts"))
      .groupBy(col("cat") % (k + 2)).agg(count(lit(1)), sum("amount"))
    case _ => Layer(rec, "sql")(spark.sql(sqlFor(q, s"$cat.facts", s"$cat.dim")))
  }

  private def plainQuery(q: Query): DataFrame = {
    val facts = spark.read.parquet(s"$plain/facts")
    q match {
      case PointId(id) => facts.filter(col("id") === id)
      case PointUser(u) => facts.filter(col("user_id") === u)
      case ScanAgg(k) => facts.groupBy(col("cat") % (k + 2)).agg(count(lit(1)), sum("amount"))
      case _ =>
        facts.createOrReplaceTempView("plain_facts")
        spark.read.parquet(s"$plain/dim").createOrReplaceTempView("plain_dim")
        spark.sql(sqlFor(q, "plain_facts", "plain_dim"))
    }
  }

  def next(i: Int): Seq[Step] = {
    val qi = mix.nextInt(pool.size)
    val q = pool(qi)
    Seq(Step(q.kind, primary = q.point, items = 1, run = { rec =>
      val df = graftQuery(q, rec)
      // Point lookups select the stored column order; align the oracle.
      val got = Layer(rec, "execute")(rows(df))
      () => if (got == expected(qi)) None else Some(s"$q answered ${got.size} rows, oracle ${expected(qi).size}")
    }, probe = { rec =>
      val fs = ctx.fs(wh)
      rec.add("snapshots.log_entries", Snapshots.entries(fs, wh).size)
      val all = Snapshots.fileMeta(fs, wh, "facts").map(_.size).getOrElse(0)
      rec.add("snapshots.live_files", all)
      val pred = q match {
        case PointId(id) => FileStats.eq("id", id)
        case PointUser(u) => FileStats.eq("user_id", u)
        case RangeAgg(day, _) => FileStats.eq("dt", day)
        case DimJoin(day) => FileStats.eq("dt", day)
        case _ => null
      }
      rec.add("snapshots.files_scanned_ratio",
        Snapshots.prunedFileMeta(fs, wh, "facts", None, pred).size.toDouble / math.max(1, all))
      rec.add("snapshots.read_construct_ms", Main.timed(Snapshots.read(spark, wh, "facts"))._2)
      val stmt = sqlFor(q, s"$cat.facts", s"$cat.dim")
      if (stmt.nonEmpty)
        rec.add("sql.parse_ms", Main.timed(spark.sessionState.sqlParser.parsePlan(stmt))._2)
    }))
  }

  def finish(): Seq[String] = Nil

  def bytesPerRow: Double = dirBytes(wh).toDouble / total

  def sizing: String = "fits every program cache (fold, 256 MB sidecar-bloom, footer-schema); " +
    "nothing commits during the loop, so the fold cache hits on every read"

  def named(ops: Seq[OpRec]): Seq[Named] =
    Workload.latencyNamed("point", "ms", Workload.wall(ops, Set("point_id", "point_user"))) ++
      Workload.latencyNamed("scan", "ms", Workload.wall(ops, Set("range_agg", "scan_agg", "dim_join")))
}

object LookupWorkload {
  sealed trait Query { def kind: String; def point: Boolean = false }
  case class PointId(id: Long) extends Query { val kind = "point_id"; override def point = true }
  case class PointUser(user: Long) extends Query { val kind = "point_user"; override def point = true }
  case class RangeAgg(day: String, catBelow: Int) extends Query { val kind = "range_agg" }
  case class ScanAgg(mod: Int) extends Query { val kind = "scan_agg" }
  case class DimJoin(day: String) extends Query { val kind = "dim_join" }
}
