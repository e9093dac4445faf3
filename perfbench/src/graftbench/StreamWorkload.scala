package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.CdcPipeline
import graft.envelope.EnvelopeCodec
import graft.ops.{CdcTable, Dedup, DerivedView, JoinView, MaterializedView}
import graft.sources.EnvelopeSource

/** `cdc_stream` — why it exists: the paper's flagship path. Seeded
  * Debezium-envelope windows for `orders` (keyed), `customer` (keyed)
  * and a keyless `clicks` append table land in a file envelope source;
  * each window is ingested by one timed `CdcPipeline.runOnce()` with an
  * aggregate view, an orders-customer join view and a derived view
  * registered. Envelope decode, latest-wins dedup, the unpartitioned
  * `CdcTable` merge, view refresh and streaming overhead do the work;
  * partitioned merges and the query board do none.
  *
  * Windows carry updates, deletes and new keys, same-key events out of
  * event-time order, and (from the second timed window on) one column
  * added to `orders` mid-run. Event times rise from window to window.
  *
  * Setup (timed as `setup_s`): session start, the median of two
  * rounds that each bootstrap a fresh pipeline root from the first
  * window, and one warm-up window into the second root, which then takes
  * the timed windows.
  *
  * A traced run also replays every timed window into a shadow root
  * through the same public calls `CdcPipeline.processBatch` makes
  * (envelope sniff and decode, dedup, merge, view refresh), one span per
  * layer, since the pipeline itself runs them as one call.
  */
object StreamWorkload {
  val Rounds = 2
  val SetupWindows = 2
  val TimedWindows = 6
  /** Windows per round of the closed loop: a run measures whole rounds. */
  val WindowsPerRound = 1
  val EvolveAt: Int = SetupWindows + 1
  private val T0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
  private val WindowMs = 3600000L

  /** A Kafka-Connect field; `logical` names a Debezium logical type. */
  final case class Field(name: String, wire: String, logical: Option[String] = None)
  /** Money travels as a JSON double; kept in cents so recomputes stay exact. */
  final case class Cents(v: Long) { def toDouble: Double = v / 100.0 }

  final case class TableSpec(name: String, key: Option[String], fields: Seq[Field])
  private val Ts = Some("io.debezium.time.Timestamp")
  val Orders = TableSpec("orders", Some("o_orderkey"), Seq(Field("o_orderkey", "int64"),
    Field("o_custkey", "int64"), Field("o_status", "string"), Field("o_amount", "double"),
    Field("o_placed", "int64", Ts)))
  val Channel = Field("o_channel", "string")
  val Customer = TableSpec("customer", Some("c_custkey"), Seq(Field("c_custkey", "int64"),
    Field("c_name", "string"), Field("c_segment", "string"), Field("c_balance", "double")))
  val Clicks = TableSpec("clicks", None, Seq(Field("click_id", "int64"),
    Field("user_id", "int64"), Field("url", "string"), Field("clicked_at", "int64", Ts)))

  /** One change event: values aligned with `fields`. */
  final case class Ev(window: Int, table: TableSpec, fields: Seq[Field], op: String, ts: Long,
                      values: Seq[Any]) {
    def value(name: String): Any = values(fields.indexWhere(_.name == name))
  }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case c: Cents => java.math.BigDecimal.valueOf(c.v, 2).toPlainString
    case s: String => Json.quote(s)
    case x => x.toString
  }

  /** The FIXTURES.md §2 wire shape: key JSON, value {schema, payload}
    * with `__deleted` (rewrite mode), positional headers
    * table/op/source.ts_ms/source.db, and a tenant-carrying topic.
    */
  def envelope(e: Ev): Row = {
    val schema = (e.fields.map { f =>
      s"""{"field":"${f.name}","type":"${f.wire}","optional":${!e.table.key.contains(f.name)}""" +
        f.logical.fold("")(l => s""","name":"$l"""") + "}"
    } :+ """{"field":"__deleted","type":"string","optional":true}""").mkString(",")
    val payload = (e.fields.zip(e.values).map { case (f, v) => s""""${f.name}":${jsonValue(v)}""" } :+
      s""""__deleted":"${e.op == "d"}"""").mkString(",")
    val key = e.table.key.fold("{}")(k => s"""{"$k":${jsonValue(e.value(k))}}""")
    def header(k: String, v: String) = Row(k, v.getBytes("UTF-8"))
    Row(key, s"""{"schema":{"type":"struct","fields":[$schema]},"payload":{$payload}}""",
      Seq(header("table", e.table.name), header("op", e.op), header("source.ts_ms", e.ts.toString),
        header("source.db", "oms1")),
      s"source_glaucus1.oms1.${e.table.name}")
  }

  /** All windows' events. Window 0 bootstraps the tables; later windows
    * churn them. Keyed events per window: updates of live keys, deletes,
    * new keys, and for one updated key in six an older image placed
    * after the newer one.
    */
  def generate(rng: Rng, windows: Int): IndexedSeq[IndexedSeq[Ev]] = {
    val statuses = Vector("NEW", "PAID", "SHIPPED", "CANCELLED")
    val segments = Vector("RETAIL", "SMB", "ENTERPRISE", "PUBLIC")
    val orders = mutable.LinkedHashMap.empty[Long, Seq[Any]]
    val customers = mutable.LinkedHashMap.empty[Long, Seq[Any]]
    var nextOrder = 0L
    var nextCust = 0L
    var nextClick = 0L
    (0 until windows).map { w =>
      var seq = 0L
      def ts(): Long = { seq += 1; T0 + w * WindowMs + seq * 7 }
      val oFields = if (w >= EvolveAt) Orders.fields :+ Channel else Orders.fields
      def order(k: Long, cust: Long): Seq[Any] =
        Seq(k, cust, rng.pick(statuses), Cents(rng.between(100, 200000)),
          T0 - rng.long(90L * 86400000L)) ++ (if (w >= EvolveAt) Seq(rng.pick(Vector("web", "app", "store"))) else Nil)
      def cust(k: Long): Seq[Any] =
        Seq(k, s"cust-$k-${rng.int(1000)}", rng.pick(segments), Cents(rng.between(-50000, 5000000)))
      def keyed(spec: TableSpec, fields: Seq[Field], state: mutable.LinkedHashMap[Long, Seq[Any]],
                nUpd: Int, nDel: Int, nNew: Int, fresh: () => Long, make: Long => Seq[Any]): Seq[Ev] = {
        val live = state.keys.toIndexedSeq
        val picked = rng.shuffle(live).take(math.min(live.size, nUpd + nDel))
        val (upd, del) = picked.splitAt(math.min(nUpd, picked.size))
        val out = mutable.ArrayBuffer.empty[Ev]
        upd.foreach { k =>
          val older = if (rng.int(6) == 0) Some(Ev(w, spec, fields, "u", ts(), make(k))) else None
          val newer = Ev(w, spec, fields, "u", ts(), make(k))
          out += newer
          out ++= older // the older image follows the newer one in the file
        }
        del.foreach(k => out += Ev(w, spec, fields, "d", ts(), state(k).padTo(fields.size, null)))
        (0 until nNew).foreach { _ =>
          val k = fresh()
          out += Ev(w, spec, fields, "c", ts(), make(k))
        }
        out.sortBy(_.ts).foreach { e =>
          val k = e.values.head.asInstanceOf[Long]
          if (e.op == "d") state.remove(k) else state(k) = e.values
        }
        out.toSeq
      }
      val custLive = () => customers.keys.toIndexedSeq
      val (nOU, nOD, nON, nCU, nCD, nCN, nClick) =
        if (w == 0) (0, 0, 2000, 0, 0, 400, 200) else (300, 50, 150, 60, 5, 20, 150)
      val cEv = keyed(Customer, Customer.fields, customers, nCU, nCD, nCN,
        () => { nextCust += 1; nextCust }, cust)
      val custs = custLive()
      val oEv = keyed(Orders, oFields, orders, nOU, nOD, nON,
        () => { nextOrder += 1; nextOrder }, k => order(k, rng.pick(custs)))
      val clicks = (0 until nClick).map { _ =>
        nextClick += 1
        val t = ts()
        Ev(w, Clicks, Clicks.fields, "c", t, Seq(nextClick, rng.long(5000L), s"/p/${rng.int(300)}", t))
      }
      rng.shuffle((cEv ++ oEv ++ clicks).toIndexedSeq)
    }
  }

  /** Write every window as one parquet file `<dir>/w=<n>/part-*.parquet`. */
  def stage(spark: org.apache.spark.sql.SparkSession, windows: IndexedSeq[IndexedSeq[Ev]],
            dir: String): IndexedSeq[File] = {
    import scala.jdk.CollectionConverters._
    val schema = EnvelopeSource.schema.add("w", IntegerType)
    val rows = windows.flatMap(_.map(e => Row.fromSeq(envelope(e).toSeq :+ e.window)))
    spark.createDataFrame(rows.asJava, schema).repartition(col("w"))
      .write.partitionBy("w").parquet(dir)
    windows.indices.map { w =>
      new File(s"$dir/w=$w").listFiles().filter(_.getName.endsWith(".parquet")).toSeq match {
        case Seq(f) => f
        case fs => sys.error(s"window $w staged as ${fs.size} files")
      }
    }
  }

  private val joinOn = Seq("o_custkey" -> "c_custkey")
  private val joinPayload = Seq("c_name", "c_segment")
  /** The derived view: large orders, amount in cents. Row-local. */
  val bigOrders: DataFrame => DataFrame = df =>
    df.filter(col("o_amount") >= 500.0)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_amount") * 100).cast("long").as("amount_cents"))

  /** A pipeline root: envelope dir, checkpoint, tables and view paths. */
  final class Root(val dir: String) {
    val env = s"$dir/env"
    val tables = s"$dir/tables"
    val mv = s"$dir/views/orders_by_status"
    val join = s"$dir/views/orders_customers"
    val derived = s"$dir/views/big_orders"
    new File(env).mkdirs()
    def pipeline(spark: org.apache.spark.sql.SparkSession) = new CdcPipeline(spark,
      new graft.sources.FileEnvelopeSource(env), s"$dir/checkpoint", tables,
      views = Seq(CdcPipeline.ViewSpec("orders", mv, Seq("o_status"), Seq("o_amount"))),
      joinViews = Seq(CdcPipeline.JoinViewSpec("orders", Seq("o_orderkey"), "customer", join,
        joinOn, dimPayload = Some(joinPayload))),
      derivedViews = Seq(CdcPipeline.DerivedViewSpec("orders", Seq("o_orderkey"), derived,
        Seq("o_orderkey"), bigOrders)))
    def landed(w: Int): File = new File(env, f"w$w%04d.parquet")
    /** Window `w` arrives: its staged file appears in the source directory. */
    def arrive(w: Int, f: File, copy: Boolean): Unit =
      if (copy) Files.copy(f.toPath, landed(w).toPath)
      else Files.move(f.toPath, landed(w).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per-layer replay of one window into a shadow root: the calls
    * `CdcPipeline.processBatch` makes, each in its own span.
    */
  final class Shadow(r: Run, root: Root) {
    private val spark = r.spark
    private var joinAt: Option[(Long, Long)] = None
    private var derivedAt: Option[Long] = None
    private def table(t: String, keys: Seq[String]) = new CdcTable(spark, s"${root.tables}/$t", keys)

    def replay(file: File): Unit = {
      val batch = spark.read.schema(EnvelopeSource.schema).parquet(file.getPath)
      val (withMeta, sniffed) = r.span("envelope.sniff") {
        val wm = EnvelopeCodec.withMeta(batch).na.drop(Seq("__op", "value", "__table", "__db")).cache()
        val names = wm.select("__table").distinct().collect().map(_.getString(0)).sorted.toSeq
        (wm, names.map(t => t -> EnvelopeCodec.latestRecord(wm.filter(col("__table") === t)).get))
      }
      sniffed.foreach { case (t, latest) =>
        val decoded = r.span("envelope.decode")(EnvelopeCodec.withTenantColumns(
          EnvelopeCodec.decodeDynamic(withMeta.filter(col("__table") === t), latest)).localCheckpoint())
        graft.envelope.DebeziumSchema.primaryKeyFromKeyJson(latest._1) match {
          case Some(pk) =>
            val payload = decoded.drop("__deleted", "__db", "__topic")
            val tie = payload.columns.toSeq.filterNot(c => c == pk || c == "__ts_ms")
            val in = payload.count()
            r.spanWith("dedup")(Dedup.latestWins(payload, Seq(pk), "__ts_ms", tie).count())(n =>
              Map("rows_in" -> in.toDouble, "rows_out" -> n.toDouble))
            write(t)(table(t, Seq(pk)).merge(payload, "__ts_ms", tie))
            if (t == "orders") r.span("views.mv")(new MaterializedView(spark, table(t, Seq(pk)),
              root.mv, Seq("o_status"), Seq("o_amount")).refresh())
          case None =>
            write(t)(table(t, Nil).append(decoded.drop("__deleted", "__db", "__topic", "__op")))
        }
      }
      withMeta.unpersist()
      r.span("views.join")(refreshJoin())
      r.span("views.derived")(refreshDerived())
    }

    private def write(t: String)(body: => Unit): Unit = {
      val path = s"${root.tables}/$t"
      val before = PartitionedWorkload.dataFiles(path).map(_.getPath).toSet
      r.spanWith("cdctable.merge")(body)(_ => Map("files_written" ->
        PartitionedWorkload.dataFiles(path).count(f => !before.contains(f.getPath)).toDouble))
    }

    private def refreshJoin(): Unit = {
      val fact = table("orders", Seq("o_orderkey"))
      val dim = table("customer", Seq("c_custkey"))
      val view = new CdcTable(spark, root.join, Seq("o_orderkey"))
      val now = (fact.currentVersion.get, dim.currentVersion.get)
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      joinAt match {
        case None =>
          view.init(JoinView.compute(fact.readVersion(now._1),
            dim.readVersion(now._2).select(("c_custkey" +: joinPayload).map(col): _*), joinOn)
            .withColumn(JoinView.TsCol, lit(ts)))
        case Some(at) if at == now => ()
        case Some((f0, d0)) =>
          JoinView.refreshStar(view, fact, f0, now._1,
            Seq(JoinView.StarDim(dim, d0, now._2, joinOn, Some(joinPayload))), ts)
      }
      joinAt = Some(now)
    }

    private def refreshDerived(): Unit = {
      val source = table("orders", Seq("o_orderkey"))
      val view = new CdcTable(spark, root.derived, Seq("o_orderkey"))
      val sv = source.currentVersion.get
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      derivedAt match {
        case None => view.init(DerivedView.compute(source.readVersion(sv), bigOrders)
          .withColumn(DerivedView.TsCol, lit(ts)))
        case Some(v0) if v0 == sv => ()
        case Some(v0) => DerivedView.refresh(view, source, v0, sv, bigOrders, ts)
      }
      derivedAt = Some(sv)
    }
  }

  /** Latest event per key by event time, deletes dropped: the expected
    * table, recomputed with a plain groupBy/max_by.
    */
  def expected(r: Run, evs: Seq[Ev], spec: TableSpec, fields: Seq[Field]): DataFrame = {
    val spark = r.spark
    def sparkType(f: Field): DataType = f match {
      case Field(_, "int64", Some(_)) => TimestampType
      case Field(_, "int64", None) => LongType
      case Field(_, "double", _) => DoubleType
      case _ => StringType
    }
    val schema = StructType(fields.map(f => StructField(f.name, sparkType(f))))
      .add("__op", StringType).add("__ts", LongType)
    val rows = evs.map { e =>
      fields.map { f =>
        val i = e.fields.indexWhere(_.name == f.name)
        if (i < 0) null
        else (e.values(i), sparkType(f)) match {
          case (null, _) => null
          case (c: Cents, _) => c.toDouble
          case (ms: Long, TimestampType) => new java.sql.Timestamp(ms)
          case (v, _) => v
        }
      } ++ Seq(e.op, e.ts)
    }
    val df = Tpch.frame(spark, schema, rows)
    spec.key match {
      case None => df.drop("__op", "__ts")
      case Some(k) =>
        val others = fields.map(_.name).filterNot(_ == k)
        df.groupBy(col(k)).agg(max_by(struct((others :+ "__op").map(col): _*), col("__ts")).as("s"))
          .filter(col("s.__op") =!= "d")
          .select(col(k) +: others.map(c => col(s"s.$c").as(c)): _*)
    }
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val rng = new Rng(r.seed)
    val windows = generate(rng, SetupWindows + TimedWindows)
    val files = r.phase("generate")(stage(spark, windows, r.dir("input/windows")))

    val roots = (0 until Rounds).map(i => new Root(r.dir(s"root$i")))
    val bootS = r.phase("setup")(r.setupRounds(Rounds) { round =>
      roots(round).arrive(0, files(0), copy = true)
      roots(round).pipeline(spark).runOnce()
    })
    val root = roots.last
    val pipeline = root.pipeline(spark)
    val w0 = System.nanoTime()
    (1 until SetupWindows).foreach { w => root.arrive(w, files(w), copy = true); pipeline.runOnce() }
    val setupS = r.sessionStartS + bootS + (System.nanoTime() - w0) / 1e9
    val shadow = r.tracer.map { _ =>
      val s = new Shadow(r, new Root(r.dir("shadow")))
      (0 until SetupWindows).foreach(w => s.replay(files(w)))
      s
    }
    var fallbacks = 0
    val results = r.closedLoop(SetupWindows until SetupWindows + TimedWindows, WindowsPerRound,
      (w: Int) => s"window#$w",
      prepare = (w: Int) => root.arrive(w, files(w), copy = false),
      inspect = (w: Int) => shadow.foreach { s =>
        s.replay(root.landed(w))
        Seq(root.join -> "o_orderkey", root.derived -> "o_orderkey").foreach { case (p, k) =>
          if (new CdcTable(spark, p, Seq(k)).history.head().getAs[String]("operation") == "CREATE")
            fallbacks += 1
        }
      }) { w =>
      r.tracer match {
        case None => pipeline.runOnce()
        case Some(tr) =>
          val ab0 = tr.stream.snap()
          tr.spanWith("stream.run_once")(pipeline.runOnce()) { _ =>
            Map("add_batch_s" -> (tr.stream.snap() - ab0) / 1000.0)
          }
      }
    }
    val heap = r.retainedHeapMb()
    val ok = results.flatMap(_._2)
    val events = results.collect { case (w, Some(_)) => windows(w).size }.sum
    val ingested = windows.take(SetupWindows + results.size).flatten

    // output checks: every table and view against an independent
    // recompute from the generated events
    val checkT0 = System.nanoTime()
    def evs(t: TableSpec) = ingested.filter(_.table == t)
    val ordersFields = if (results.size + SetupWindows > EvolveAt) Orders.fields :+ Channel else Orders.fields
    val wantOrders = expected(r, evs(Orders), Orders, ordersFields).cache()
    val wantCust = expected(r, evs(Customer), Customer, Customer.fields).cache()
    def tbl(t: String, k: Seq[String]) = new CdcTable(spark, s"${root.tables}/$t", k).read
    val wantJoin = wantOrders.join(wantCust.select(col("c_custkey") +: joinPayload.map(col): _*),
      col("o_custkey") === col("c_custkey")).drop("c_custkey")
    val wantMv = wantOrders.groupBy("o_status").agg(count(lit(1)).as("n"), sum("o_amount").as("s"))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    val gotMv = new MaterializedView(spark, new CdcTable(spark, s"${root.tables}/orders",
      Seq("o_orderkey")), root.mv, Seq("o_status"), Seq("o_amount")).read
      .collect().map(x => x.getAs[String]("o_status") ->
        (x.getAs[Long](graft.ops.IncrementalView.CountCol), x.getAs[Double]("o_amount"))).toMap
    val mvOk = wantMv.keySet == gotMv.keySet && wantMv.forall { case (k, (n, s)) =>
      gotMv(k)._1 == n && math.abs(gotMv(k)._2 - s) <= 1e-6 * math.max(1.0, math.abs(s))
    }
    val checks = Seq(
      Digest.sameRows("orders table", wantOrders, tbl("orders", Seq("o_orderkey"))),
      Digest.sameRows("customer table", wantCust, tbl("customer", Seq("c_custkey"))),
      Digest.sameRows("clicks table", expected(r, evs(Clicks), Clicks, Clicks.fields), tbl("clicks", Nil)),
      Digest.sameRows("join view", wantJoin, new CdcTable(spark, root.join, Seq("o_orderkey")).read),
      Digest.sameRows("derived view", bigOrders(wantOrders), new CdcTable(spark, root.derived, Seq("o_orderkey")).read),
      ("aggregate view", mvOk, s"${wantMv.size} groups expected, ${gotMv.size} found"))

    r.phases("check") = (System.nanoTime() - checkT0) / 1e9
    val e2e = Map(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_s" -> Metric(Stats.median(ok), "s"),
      "work_per_s" -> Metric(events / ok.sum, "1/s"),
      "retained_heap_mb" -> Metric(heap, "MB"))
    val layers = r.tracer.fold(Map.empty[String, Metric]) { tr =>
      val n = math.max(1, results.size).toDouble
      def timed = tr.all.filter(_.op >= 0)
      def per(name: String, f: Span => Double) = timed.filter(_.name == name).map(f).sum / n
      def perPrefix(prefix: String, f: Span => Double) = timed.filter(_.name.startsWith(prefix)).map(f).sum / n
      Map(
        "stream.add_batch_s" -> Metric(per("stream.run_once", _.attrs("add_batch_s")), "s"),
        "stream.overhead_s" -> Metric(per("stream.run_once", s => s.wallS - s.attrs("add_batch_s")), "s"),
        "envelope.sniff_s" -> Metric(per("envelope.sniff", _.wallS), "s"),
        "envelope.decode_s" -> Metric(per("envelope.decode", _.wallS), "s"),
        "dedup.s" -> Metric(per("dedup", _.wallS), "s"),
        "dedup.rows_in" -> Metric(per("dedup", _.attrs("rows_in")), "count"),
        "dedup.rows_out" -> Metric(per("dedup", _.attrs("rows_out")), "count"),
        "cdctable.merge_s" -> Metric(per("cdctable.merge", _.wallS), "s"),
        "cdctable.jobs" -> Metric(per("cdctable.merge", _.work.jobs.toDouble), "count"),
        "cdctable.driver_s" -> Metric(per("cdctable.merge", _.driverS), "s"),
        "cdctable.rows_written" -> Metric(per("cdctable.merge", _.work.outRecords.toDouble), "count"),
        "cdctable.bytes_written" -> Metric(per("cdctable.merge", _.work.outBytes.toDouble), "bytes"),
        "cdctable.files_written" -> Metric(per("cdctable.merge", _.attrs("files_written")), "count"),
        "views.mv.refresh_s" -> Metric(per("views.mv", _.wallS), "s"),
        "views.join.refresh_s" -> Metric(per("views.join", _.wallS), "s"),
        "views.derived.refresh_s" -> Metric(per("views.derived", _.wallS), "s"),
        "views.jobs" -> Metric(perPrefix("views.", _.work.jobs.toDouble), "count"),
        "views.bootstrap_fallbacks" -> Metric(fallbacks.toDouble, "count"),
        "write.bytes_per_change" -> Metric(timed.filter(_.name == "stream.run_once")
          .map(_.work.outBytes.toDouble).sum / math.max(1, events), "bytes"),
        "spark.jobs" -> Metric(per("stream.run_once", _.work.jobs.toDouble), "count"),
        "spark.task_s" -> Metric(per("stream.run_once", _.work.taskMs / 1000.0), "s"),
        "spark.shuffle_bytes" -> Metric(per("stream.run_once", _.work.shuffleBytes.toDouble), "bytes"))
    }
    val layerS = r.tracer.map { tr =>
      val names = Set("envelope.sniff", "envelope.decode", "dedup", "cdctable.merge", "views.mv",
        "views.join", "views.derived")
      tr.all.filter(s => s.op >= 0 && names(s.name)).map(_.wallS).sum / math.max(1, results.size)
    }
    Outcome(checks, results.size, results.count(_._2.isEmpty), e2e, layers,
      Map("window_p50_s" -> Stats.median(ok), "events_per_s" -> events / ok.sum,
        "windows" -> results.size, "window_s" -> results.map(_._2.getOrElse(Double.NaN)),
        "events_per_window" -> events.toDouble / math.max(1, ok.size),
        "retained_heap_mb" -> heap,
        "failed_op_share" -> results.count(_._2.isEmpty).toDouble / results.size) ++
        layerS.map(s => "replayed_layer_s_per_window" -> s) ++
        layerS.map(s => "span_coverage" -> s / Stats.mean(ok)))
  }
}
