package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ingest._

/** Writes beside reads. Each iteration is one cycle: every DML kind once
  * (API upsert, deletion-vector delete and copy-on-write update; SQL DELETE
  * through the catalog, UPDATE and INSERT through the warehouse surface,
  * MERGE INTO), each followed by a read-your-write lookup of the keys it
  * touched, then a day-scoped compaction. A benchmark-side model of every
  * row checks each read and the final table. */
final class MutateWorkload(ctx: Ctx) extends Workload(ctx) {
  import Gen.Fact
  private val files = ctx.scale.mutateFiles
  private val perFile = ctx.scale.mutateRowsPerFile
  private val initial = files.toLong * perFile
  private val days = 4
  private val rowsPerDay = initial / days
  private var wh: String = _
  private val cat = Workload.Catalog
  private var columns: Seq[String] = Nil
  private val model = mutable.HashMap.empty[Long, Fact]
  private var nextId = 0L
  private var cycles = 0
  private var compactions = 0
  /** Bytes per row after the first measured cycle, so the figure does not
    * depend on how many cycles a run fits. */
  private var bytesAt: Option[Double] = None
  private lazy val r = Gen.rng(seed, "mutate-ops")
  private val Kinds = Seq("api_upsert", "api_delete_dv", "api_update_cow",
    "sql_delete", "sql_update", "sql_merge", "sql_insert")

  private def dayOf(id: Long): String = Gen.dayOf(((id / rowsPerDay) % days).toInt)
  private def newFact(id: Long, rr: java.util.SplittableRandom): Fact =
    Fact(id, dayOf(id), Gen.userOf(seed, id), rr.nextInt(50), rr.nextLong(1000000L), s"m${rr.nextInt(100000)}")

  def setup(): Unit = {
    val d = fresh("mutate")
    wh = new File(d, "wh").toString
    Workload.useWarehouse(spark, wh)
    val s0 = spark
    import s0.implicits._
    val fs = ctx.fs(wh)
    Snapshots.setProperties(fs, wh, "facts",
      Map("bloom.columns" -> "user_id", "bloom.ndv" -> perFile.toString))
    model.clear()
    // The table's files land in one commit: `files` key ranges, clustered.
    phase("seed") {
      val rows = Gen.facts(seed, 0L, initial, rowsPerDay)
      rows.foreach(x => model(x.id) = x)
      Workload.publish(ctx, wh, "facts")(rows.toDS().toDF().repartitionByRange(files, col("id"))
        .write.options(Snapshots.bloomWriteOptionsFor(fs, wh, "facts", None))
        .partitionBy("dt").parquet(_))
    }
    columns = Snapshots.read(spark, wh, "facts").columns.toSeq
    nextId = initial
    // Warm-up: one full cycle, kept (its commits are history the loop sees).
    phase("warmup")(next(0).foreach { s =>
      val (check, ms) = Main.timed(s.run(new OpRec(-1, "warmup", false)))
      phases(s"warmup.${s.kind}") = ms
      check().foreach(e => throw new IllegalStateException(s"warm-up: $e"))
    })
    cycles = 0
    bytesAt = None
  }

  /** `n` consecutive keys inside the seeded file that DML kind `kind`
    * targets (a fixed file per kind, spread over the days): the seed picks
    * the keys, not how many files or which days an op rewrites, so runs
    * with different seeds do the same amount of work. */
  private def window(kind: String, n: Int): (Long, Long) = {
    val file = (Kinds.indexOf(kind) * 5 + 1) % files
    val lo = file.toLong * perFile + r.nextLong(perFile - n + 1L)
    (lo, lo + n - 1)
  }

  /** 70 recent keys (from the last seeded file) updated and 30 new keys
    * inserted: late-arriving corrections beside fresh rows, so the key
    * range a merge must search is the same size whatever the seed. */
  private def upsertRows(): Seq[Fact] = {
    val lo = initial - perFile + r.nextLong(perFile - 70 + 1L)
    val rr = Gen.rng(seed, "mutate-rows", nextId)
    val olds = (lo until lo + 70).map(id => newFact(id, rr))
    val news = (0 until 30).map(k => newFact(nextId + k, rr))
    nextId += 30
    olds ++ news
  }

  private def df(rows: Seq[Fact]): DataFrame = {
    val s0 = spark
    import s0.implicits._
    rows.toDS().toDF().select(columns.map(col): _*)
  }

  private def readBack(rec: OpRec, cond: Column): Seq[Fact] = {
    val d = Layer(rec, "snapshots.read")(Snapshots.readWhere(spark, wh, "facts", cond))
    rec.add("snapshots.read_construct_ms", rec.spans.last._2.ms) // the log fold + planning
    Layer(rec, "execute")(d.select("id", "dt", "user_id", "cat", "amount", "note").collect()).toSeq
      .map(x => Fact(x.getLong(0), x.getString(1), x.getLong(2), x.getInt(3), x.getLong(4), x.getString(5)))
  }

  /** The read-your-write op: read `cond` back and compare it with the
    * model's rows for `keys` (a sorted id set), the keys the DML touched. */
  private def rywStep(keys: Seq[Long], cond: Column): Step =
    Step("ryw_read", primary = false, items = 0, run = { rec =>
      val got = readBack(rec, cond).sortBy(_.id)
      () => {
        val want = keys.flatMap(model.get).sortBy(_.id)
        if (got == want) None
        else Some(s"read-your-write over ${keys.size} keys: ${got.size} rows, model ${want.size}")
      }
    }, probe = { rec =>
      val fs = ctx.fs(wh)
      rec.add("snapshots.log_entries", Snapshots.entries(fs, wh).size)
      val all = Snapshots.fileMeta(fs, wh, "facts").map(_.size).getOrElse(0)
      rec.add("snapshots.live_files", all)
      rec.add("snapshots.files_scanned_ratio", Snapshots.prunedFileMeta(fs, wh, "facts", None,
        FileStats.between("id", keys.min, keys.max)).size.toDouble / math.max(1, all))
    })

  private def mergeCounters(rec: OpRec, m: Merge.Result): Unit = {
    rec.add("merge.files_scanned", m.filesScanned)
    rec.add("merge.files_rewritten", m.filesRewritten)
    rec.add("merge.files_dv_attached", m.filesDvAttached)
    rec.add("merge.rows_matched", m.rowsMatched.toDouble)
    rec.add("merge.files_rewritten_per_row", m.filesRewritten.toDouble / math.max(1L, m.rowsMatched))
  }

  private val RowBytes = 48L // id, user_id, amount: 24 B; cat 4 B; dt and note ~20 B

  /** One cycle, built lazily so each op is prepared after the previous
    * one's check has moved the model. */
  def next(i: Int): Seq[Step] = {
    if (cycles == 1 && bytesAt.isEmpty)
      bytesAt = Some(dirBytes(wh).toDouble / math.max(1, model.size))
    cycles += 1
    val day = Gen.dayOf(compactions % days)
    compactions += 1
    Kinds.to(LazyList).flatMap(dmlAndRead) :+ Step("compaction", primary = false, items = 0,
      run = { rec =>
        val res = Layer(rec, "compaction")(Compaction.compact(spark, wh, "facts",
          partitionFilter = p => p.get("dt").contains(day)))
        rec.add("compaction.ms", rec.spans.last._2.ms)
        res.foreach { c =>
          rec.add("compaction.files_before", c.filesBefore)
          rec.add("compaction.files_after", c.filesAfter)
        }
        () => None
      })
  }

  /** A DML op of `kind` and its read-your-write lookup. */
  private def dmlAndRead(kind: String): Seq[Step] = {
    def parse(stmt: String): OpRec => Unit = rec =>
      rec.add("sql.parse_ms", Main.timed(spark.sessionState.sqlParser.parsePlan(stmt))._2)
    val (dml, keys, cond, applyModel) = kind match {
      case "api_upsert" | "sql_merge" =>
        val rows = upsertRows()
        val src = df(rows)
        val keys = rows.map(_.id)
        val upd: () => Unit = () => rows.foreach(x => model(x.id) = x)
        val step =
          if (kind == "api_upsert") Step(kind, true, 1, run = { rec =>
            rec.userBytes = rows.size * RowBytes
            val m = Layer(rec, "merge")(Merge.upsert(spark, wh, "facts", src, Seq("id")))
            mergeCounters(rec, m)
            () => None
          })
          else {
            src.createOrReplaceTempView("mt_src")
            val stmt = s"MERGE INTO $cat.facts t USING mt_src s ON t.id = s.id " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            Step(kind, true, 1, run = { rec =>
              rec.userBytes = rows.size * RowBytes
              Layer(rec, "sql")(spark.sql(stmt))
              () => None
            }, probe = parse(stmt))
          }
        (step, keys, col("id").isin(keys: _*), upd)
      case "sql_insert" =>
        val rr = Gen.rng(seed, "mutate-rows", nextId)
        val rows = (0 until 50).map(k => newFact(nextId + k, rr))
        nextId += 50
        df(rows).createOrReplaceTempView("mt_ins")
        val cols = columns.mkString(", ")
        val stmt = s"INSERT INTO facts ($cols) SELECT $cols FROM mt_ins"
        val step = Step(kind, true, 1, run = { rec =>
          rec.userBytes = rows.size * RowBytes
          Layer(rec, "sql")(spark.sql(stmt))
          () => None
        }, probe = parse(stmt))
        (step, rows.map(_.id), col("id").between(rows.head.id, rows.last.id),
          () => rows.foreach(x => model(x.id) = x))
      case _ =>
        val (lo, hi) = window(kind, 50)
        val keys = lo to hi
        val where = col("id").between(lo, hi)
        val (upd, bump): (() => Unit, Long) = kind match {
          case "api_delete_dv" | "sql_delete" => (() => keys.foreach(model.remove), 0L)
          case "api_update_cow" => (() => keys.foreach(k => model.get(k)
            .foreach(x => model(k) = x.copy(amount = x.amount + 1))), 1L)
          case _ => (() => keys.foreach(k => model.get(k)
            .foreach(x => model(k) = x.copy(amount = x.amount + 7))), 7L)
        }
        val touched = keys.count(model.contains).toLong
        val step = kind match {
          case "api_delete_dv" => Step(kind, true, 1, run = { rec =>
            val m = Layer(rec, "merge")(Merge.deleteWhereDv(spark, wh, "facts", where))
            mergeCounters(rec, m)
            () => None
          })
          case "api_update_cow" => Step(kind, true, 1, run = { rec =>
            rec.userBytes = touched * RowBytes
            val m = Layer(rec, "merge")(Merge.updateWhere(spark, wh, "facts", where,
              Map("amount" -> (col("amount") + bump))))
            mergeCounters(rec, m)
            () => None
          })
          case "sql_delete" =>
            val stmt = s"DELETE FROM $cat.facts WHERE id >= $lo AND id <= $hi"
            Step(kind, true, 1, run = { rec =>
              Layer(rec, "sql")(spark.sql(stmt))
              () => None
            }, probe = parse(stmt))
          case _ =>
            val stmt = s"UPDATE facts SET amount = amount + $bump WHERE id BETWEEN $lo AND $hi"
            Step(kind, true, 1, run = { rec =>
              rec.userBytes = touched * RowBytes
              Layer(rec, "sql")(spark.sql(stmt))
              () => None
            }, probe = parse(stmt))
        }
        (step, keys, where, upd)
    }
    // The model moves when the DML's check runs (after the timed part).
    val dmlStep = dml.copy(run = rec => {
      val check = dml.run(rec)
      () => { applyModel(); check() }
    })
    Seq(dmlStep, rywStep(keys.sorted, cond))
  }

  def finish(): Seq[String] = {
    val got = Snapshots.read(spark, wh, "facts")
      .select("id", "dt", "user_id", "cat", "amount", "note").collect()
      .map(x => Fact(x.getLong(0), x.getString(1), x.getLong(2), x.getInt(3), x.getLong(4), x.getString(5)))
    val want = model.values.toSeq
    if (got.length == want.size && got.sortBy(_.id).sameElements(want.sortBy(_.id))) Nil
    else Seq(s"final table: ${got.length} rows, model ${want.size} (or contents differ)")
  }

  def bytesPerRow: Double = bytesAt.getOrElse(dirBytes(wh).toDouble / math.max(1, model.size))

  def sizing: String = "every commit invalidates the 64-entry log-fold cache, so each read " +
    "pays the fold; the log crosses checkpoints during the run"

  def named(ops: Seq[OpRec]): Seq[Named] = {
    val dml = ops.filter(_.primary).map(_.wallMs)
    Workload.latencyNamed("dml", "ms", dml) ++
      Seq(Named("ryw_read_p50_ms", Workload.p50(Workload.wall(ops, Set("ryw_read"))), "ms"),
        Named("warehouse_bytes_per_row", bytesPerRow, "B/row"))
  }
}
