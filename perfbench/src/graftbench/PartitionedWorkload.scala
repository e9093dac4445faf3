package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{CdcTable, Dedup, LocalTableIO, TableIO}

/** `cdc_partitioned` — why it exists: the month-partitioned copy-on-write
  * path of the history load and the MERGE batches that follow it
  * (partition pruning, the moved-key guard, month rewrites, manifests,
  * NDV/bloom sidecars and `TableIO` commit metadata). No envelope is
  * decoded and no view is maintained, so this workload isolates the
  * partitioned `CdcTable` layer.
  *
  * Inputs: a seeded TPC-H-shaped lineitem history (about 40k rows over
  * ~15 ship-date months) exported as parquet, then a seeded sequence of
  * merge batches of five kinds: 1% churn spread over all months, a
  * one-month backfill of new keys, moved-key updates that change
  * `l_shipdate`'s month, delete-only batches, and ten-row trickle batches
  * that expose the fixed cost of a commit. The closed loop runs whole
  * [[Cycle]]s.
  *
  * Setup (timed as `setup_s`): session start, the median of two
  * history loads into fresh tables, and one warm-up merge of each kind
  * into the second table, which then takes the timed merges.
  */
object PartitionedWorkload {
  val Orders = 10000
  /** Order dates span one year: about 15 ship-date months. */
  val Days = 365
  val Parts = 20000
  val Suppliers = 1000
  /** One cycle of the closed loop: one batch of each kind. */
  val Cycle: IndexedSeq[String] = Vector("churn", "backfill", "moved", "delete", "trickle")
  val Keys = Seq("l_orderkey", "l_linenumber")
  val Rounds = 2
  /** Warm-up merges, one cycle: the first merge of a kind pays its code
    * paths' JIT compilation.
    */
  val WarmBatches: Int = Cycle.size
  val Batches: Int = WarmBatches + 3 * Cycle.size
  private val Ts0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  val batchSchema: StructType = Tpch.lineitemSchema
    .add("__op", StringType).add("__ts", TimestampType)

  final case class Batch(kind: String, rows: IndexedSeq[(Line, String, Long)]) {
    def size: Int = rows.size
  }

  /** Live-key pool with O(1) random pick and removal. */
  private final class Pool(init: IndexedSeq[Line]) {
    val rows = mutable.HashMap.from(init.map(l => l.key -> l))
    private val keys = mutable.ArrayBuffer.from(init.map(_.key))
    private val at = mutable.HashMap.from(keys.zipWithIndex)
    def size: Int = keys.size
    def pickDistinct(rng: Rng, n: Int): IndexedSeq[Line] = {
      val seen = mutable.LinkedHashSet.empty[(Long, Int)]
      while (seen.size < math.min(n, keys.size)) seen += keys(rng.int(keys.size))
      seen.toIndexedSeq.map(rows)
    }
    def put(l: Line): Unit = {
      if (!rows.contains(l.key)) { at(l.key) = keys.size; keys += l.key }
      rows(l.key) = l
    }
    def remove(k: (Long, Int)): Unit = at.remove(k).foreach { i =>
      val last = keys.last
      keys(i) = last; at(last) = i
      keys.remove(keys.size - 1)
      if (last == k) at.remove(k)
      rows.remove(k)
    }
  }

  /** The batch sequence, folded on the driver as it is generated so every
    * update, move and delete targets a key that is live at that point.
    */
  def plan(rng: Rng, base: IndexedSeq[Line]): IndexedSeq[Batch] = {
    val pool = new Pool(base)
    var nextOrder = Orders.toLong
    var ts = Ts0
    def stamp(): Long = { ts += 1; ts }
    def reprice(l: Line): Line = {
      val q = rng.between(1, 50)
      l.copy(quantity = q, priceCents = q.toLong * rng.between(90000, 210000),
        discountPct = rng.between(0, 10))
    }
    (0 until Batches).map { b =>
      val kind = Cycle(b % Cycle.size)
      val rows: IndexedSeq[(Line, String, Long)] = kind match {
        case "churn" =>
          pool.pickDistinct(rng, pool.size / 100).flatMap { l =>
            // one key in ten also carries a stale image written later in
            // the batch: latest-wins must keep the newer event
            val stale = if (rng.int(10) == 0) Some((reprice(l), "u", stamp())) else None
            val fresh = (reprice(l), "u", stamp())
            stale.toSeq.map(s => (s._1, s._2, fresh._3 - 1000000L)) :+ fresh
          }.reverse
        case "backfill" =>
          val day = Tpch.OrderDay0 + rng.int(Days)
          val month = java.time.LocalDate.ofEpochDay(day).withDayOfMonth(1).toEpochDay
          (0 until pool.size / 160).map { _ =>
            nextOrder += 1
            val l = Tpch.line(rng, nextOrder, 1, month, Parts, Suppliers)
            (l.copy(shipdateMs = (month + rng.int(28)) * Tpch.DayMs), "c", stamp())
          }
        case "moved" =>
          pool.pickDistinct(rng, pool.size / 1000).map(l =>
            (l.copy(shipdateMs = l.shipdateMs + rng.between(40, 200) * Tpch.DayMs), "u", stamp()))
        case "delete" =>
          pool.pickDistinct(rng, pool.size / 500).map(l => (l, "d", stamp()))
        case "trickle" =>
          pool.pickDistinct(rng, 10).map(l => (reprice(l), "u", stamp()))
      }
      rows.sortBy(_._3).foreach { case (l, op, _) =>
        if (op == "d") pool.remove(l.key) else pool.put(l)
      }
      Batch(kind, rng.shuffle(rows))
    }
  }

  /** Counting [[TableIO]]: every commit-metadata call, and its time. */
  final class CountingIO(inner: TableIO) extends TableIO {
    val ops = new AtomicLong
    val nanos = new AtomicLong
    private def timed[A](body: => A): A = {
      val t0 = System.nanoTime()
      try body finally { ops.incrementAndGet(); nanos.addAndGet(System.nanoTime() - t0) }
    }
    def exists(p: String): Boolean = timed(inner.exists(p))
    def readString(p: String): String = timed(inner.readString(p))
    def readLines(p: String): Seq[String] = timed(inner.readLines(p))
    def writeString(p: String, c: String): Unit = timed(inner.writeString(p, c))
    def writeAtomic(p: String, c: String): Unit = timed(inner.writeAtomic(p, c))
    def mkdirs(p: String): Unit = timed(inner.mkdirs(p))
    def createDirExclusive(p: String): Boolean = timed(inner.createDirExclusive(p))
    def list(p: String): Seq[TableIO.Entry] = timed(inner.list(p))
    def lastModified(p: String): Long = timed(inner.lastModified(p))
    def linkOrCopy(s: String, d: String): Unit = timed(inner.linkOrCopy(s, d))
    def copy(s: String, d: String): Unit = timed(inner.copy(s, d))
    def deleteRecursively(p: String): Unit = timed(inner.deleteRecursively(p))
  }

  def dataFiles(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(root))
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val rng = new Rng(r.seed)
    val base = Tpch.lines(rng, Orders, Parts, Suppliers, Days)
    val batches = plan(rng, base)
    // the history export the snapshot loads from (the JDBC history
    // scan's offline stand-in), written before anything is timed
    val snapshotDir = r.dir("input/lineitem_history")
    val snapTs = new java.sql.Timestamp(Ts0)
    r.phase("generate")(Tpch.frame(spark, Tpch.lineitemSchema.add("__ts", TimestampType),
      base.map(_.row :+ snapTs)).write.mode("overwrite").parquet(snapshotDir))
    val frames: IndexedSeq[DataFrame] = batches.map(b => Tpch.frame(spark, batchSchema,
      b.rows.map { case (l, op, ts) => l.row ++ Seq(op, new java.sql.Timestamp(ts)) }))

    val io = new CountingIO(LocalTableIO)
    def table(path: String) = new CdcTable(spark, path, Keys,
      partitionSource = Some("l_shipdate"), bloomColumns = Seq("l_partkey"), io = io,
      ndvColumns = Seq("l_partkey", "l_suppkey"))
    val loads = mutable.ArrayBuffer.empty[Double]
    val loadS = r.phase("setup")(r.setupRounds(Rounds) { round =>
      val t = table(r.dir(s"tables/lineitem_$round"))
      val t0 = System.nanoTime()
      r.span("cdctable.snapshot_load")(
        t.init(new graft.sources.ParquetSnapshotSource(snapshotDir).read(spark)))
      loads += (System.nanoTime() - t0) / 1e9
    })
    val path = r.dir(s"tables/lineitem_${Rounds - 1}")
    val t = table(path)
    val w0 = System.nanoTime()
    (0 until WarmBatches).foreach(i => t.merge(frames(i), "__ts"))
    val setupS = r.sessionStartS + loadS + (System.nanoTime() - w0) / 1e9

    // traced: the batch's latest-wins dedup, run alone first, and the
    // merge with the manifests, TableIO calls and data files around it
    def tracedMerge(tr: Tracer, i: Int): Unit = {
      tr.spanWith("dedup")(Dedup.latestWins(frames(i), Keys, "__ts").count())(n =>
        Map("rows_in" -> batches(i).size.toDouble, "rows_out" -> n.toDouble))
      val before = t.manifest(t.currentVersion.get).toSet
      val (io0, ion0) = (io.ops.get, io.nanos.get)
      val files0 = dataFiles(path).map(_.getPath).toSet
      tr.spanWith("cdctable.merge")(t.merge(frames(i), "__ts")) { _ =>
        val after = t.manifest(t.currentVersion.get)
        Map("parts_touched" -> after.count(e => !before.contains(e)).toDouble,
          "parts_total" -> after.size.toDouble,
          "tableio_ops" -> (io.ops.get - io0).toDouble,
          "tableio_s" -> (io.nanos.get - ion0) / 1e9,
          "files_written" -> dataFiles(path).count(f => !files0.contains(f.getPath)).toDouble,
          "changes" -> batches(i).size.toDouble)
      }
    }
    val results = r.closedLoop(WarmBatches until Batches, Cycle.size,
      (i: Int) => s"merge#$i(${batches(i).kind})") { i =>
      r.tracer.fold(t.merge(frames(i), "__ts"))(tracedMerge(_, i))
    }
    val heap = r.retainedHeapMb()
    val applied = WarmBatches + results.size
    val ok = results.flatMap(_._2)
    val changed = results.collect { case (i, Some(_)) => batches(i).size }.sum

    // output check: the table equals the fold of its snapshot and every
    // applied batch — latest event per key by event time, deletes dropped,
    // recomputed with a plain groupBy/max_by
    val cols = Tpch.lineitemSchema.fieldNames.toSeq
    val events = (frames.take(applied) :+ spark.read.parquet(snapshotDir)
      .withColumn("__op", lit("c"))).map(_.select((cols ++ Seq("__op", "__ts")).map(col): _*))
      .reduce(_.unionAll(_))
    val expected = events.groupBy(Keys.map(col): _*)
      .agg(max_by(struct((cols.filterNot(Keys.contains) :+ "__op").map(col): _*), col("__ts")).as("s"))
      .filter(col("s.__op") =!= "d")
      .select(Keys.map(col) ++ cols.filterNot(Keys.contains).map(c => col(s"s.$c").as(c)): _*)
    val check = r.phase("check")(Digest.sameRows(
      s"table equals the fold of its snapshot and $applied batches", expected, t.read))

    val e2e = Map(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_s" -> Metric(Stats.median(ok), "s"),
      "work_per_s" -> Metric(changed / ok.sum, "1/s"),
      "retained_heap_mb" -> Metric(heap, "MB"))
    val layers = r.tracer.fold(Map.empty[String, Metric]) { tr =>
      val merges = tr.named("cdctable.merge")
      val n = math.max(1, merges.size).toDouble
      def per(f: Span => Double, spans: Seq[Span] = merges) = spans.map(f).sum / n
      val dedups = tr.named("dedup")
      val liveDirs = t.manifest(t.currentVersion.get).map(e => s"$path/${e._2}/")
      val live = dataFiles(path).filter(f => liveDirs.exists(f.getPath.startsWith))
      Map(
        "dedup.s" -> Metric(per(_.wallS, dedups), "s"),
        "dedup.rows_in" -> Metric(per(_.attrs("rows_in"), dedups), "count"),
        "dedup.rows_out" -> Metric(per(_.attrs("rows_out"), dedups), "count"),
        "cdctable.snapshot_load_s" -> Metric(Stats.median(tr.named("cdctable.snapshot_load").map(_.wallS)), "s"),
        "cdctable.merge_s" -> Metric(per(_.wallS), "s"),
        "cdctable.jobs" -> Metric(per(_.work.jobs.toDouble), "count"),
        "cdctable.driver_s" -> Metric(per(_.driverS), "s"),
        "cdctable.rows_written" -> Metric(per(_.work.outRecords.toDouble), "count"),
        "cdctable.bytes_written" -> Metric(per(_.work.outBytes.toDouble), "bytes"),
        "cdctable.files_written" -> Metric(per(_.attrs("files_written")), "count"),
        "cdctable.parts_touched" -> Metric(per(_.attrs("parts_touched")), "count"),
        "cdctable.parts_total" -> Metric(per(_.attrs("parts_total")), "count"),
        "tableio.ops" -> Metric(per(_.attrs("tableio_ops")), "count"),
        "tableio.s" -> Metric(per(_.attrs("tableio_s")), "s"),
        "write.bytes_per_change" -> Metric(
          merges.map(_.work.outBytes.toDouble).sum / math.max(1.0, merges.map(_.attrs("changes")).sum), "bytes"),
        "spark.jobs" -> Metric(per(_.work.jobs.toDouble), "count"),
        "spark.task_s" -> Metric(per(_.work.taskMs / 1000.0), "s"),
        "spark.shuffle_bytes" -> Metric(per(_.work.shuffleBytes.toDouble), "bytes"),
        "table.live_files" -> Metric(live.size.toDouble, "count"),
        "table.live_bytes" -> Metric(live.map(_.length).sum.toDouble, "bytes"))
    }
    val coverage = r.tracer.map(tr => "span_coverage" ->
      tr.named("cdctable.merge").map(_.wallS).sum / ok.sum)
    val byKind = results.collect { case (i, Some(s)) => batches(i).kind -> s }.groupBy(_._1)
      .map { case (k, v) => s"merge_p50_s.$k" -> Stats.median(v.map(_._2)) }
    Outcome(Seq(check), results.size, results.count(_._2.isEmpty), e2e, layers,
      Map("snapshot_load_s" -> Stats.median(loads.toSeq), "merge_p50_s" -> Stats.median(ok),
        "changed_rows_per_s" -> changed / ok.sum, "merges" -> results.size,
        "merge_s" -> results.map { case (i, t) => s"${batches(i).kind}:${t.getOrElse(Double.NaN)}" },
        "snapshot_rows" -> base.size, "retained_heap_mb" -> heap,
        "failed_op_share" -> results.count(_._2.isEmpty).toDouble / results.size) ++ byKind ++ coverage)
  }
}
