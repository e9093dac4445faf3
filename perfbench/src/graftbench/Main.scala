package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One measured metric. */
final case class Metric(value: Double, unit: String)

/** What a workload reports: the output checks, the closed-loop operation
  * count, end-to-end metrics (untraced meaning) and per-layer metrics
  * (from spans; empty on an untraced run), plus workload-specific
  * details printed beside the result.
  */
final case class Outcome(checks: Seq[(String, Boolean, String)], attempted: Int, failed: Int,
                         e2e: Map[String, Metric], layers: Map[String, Metric],
                         details: Map[String, Any])

/** The context one workload runs in. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Option[Tracer], val work: File, val sessionStartS: Double,
                val golden: String) {
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Wall time of each phase of the run, for the details line. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  var inputsExhausted = false

  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  def dir(name: String): String = new File(work, name).getPath

  /** A span when tracing, the bare call otherwise. */
  def span[A](name: String)(body: => A): A = tracer.fold(body)(_.span(name)(body))

  def spanWith[A](name: String)(body: => A)(attrs: A => Map[String, Double]): A =
    tracer.fold(body)(_.spanWith(name)(body)(attrs))

  /** Run one closed-loop operation; a failure is recorded with its
    * exception class and message and the loop goes on.
    */
  def attempt(label: String)(body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case NonFatal(e) =>
        failures += Map("op" -> label, "class" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(2000))
        System.err.println(s"[perfbench] $label failed: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        None
    }
  }

  /** Closed loop with one client: op `i + 1` is issued only after op `i`
    * returned. Ops are grouped in `cycle`-sized rounds, and another round
    * starts only if it would end nearer the `seconds` deadline than
    * stopping now does (by the mean round so far), so every run covers
    * whole rounds of the op mix and a round time near the deadline
    * cannot flip the round count from run to run. `prepare` and
    * `inspect` run untimed before and after each op.
    * Stops early, flagged in the details, if the generated ops run out.
    * Returns (op, latency or None when it failed).
    */
  def closedLoop[A](ops: IndexedSeq[A], cycle: Int, label: A => String,
                    prepare: A => Unit = (_: A) => (), inspect: A => Unit = (_: A) => ())(
      body: A => Unit): Seq[(A, Option[Double])] = {
    // setup garbage is collected before the clock starts, not mid-op
    System.gc()
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    val out = mutable.ArrayBuffer.empty[(A, Option[Double])]
    def another(i: Int): Boolean = {
      val now = System.nanoTime()
      i == 0 || now + (now - start) / (i / cycle) / 2 < deadline
    }
    var i = 0
    while (i < ops.size && (i % cycle != 0 || another(i))) {
      tracer.foreach(_.op = i)
      prepare(ops(i))
      out += ops(i) -> attempt(label(ops(i)))(body(ops(i)))
      inspect(ops(i))
      i += 1
    }
    tracer.foreach(_.op = -1)
    inputsExhausted = i >= ops.size
    phases("timed") = (System.nanoTime() - deadline) / 1e9 + seconds
    out.toSeq
  }

  /** Setup repeated `rounds` times on fresh state; the median round. */
  def setupRounds(rounds: Int)(round: Int => Unit): Double =
    Stats.median((0 until rounds).map { r =>
      val t0 = System.nanoTime()
      round(r)
      (System.nanoTime() - t0) / 1e9
    })

  /** Used heap after a synchronous full collection: the least of three
    * readings, so memory Spark frees asynchronously between collections
    * (cleaned shuffles, broadcasts) is not counted as retained.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }
}

/** The metric names every run reports, whatever the workload: a layer
  * a workload does not exercise reads 0.
  */
object Names {
  val endToEnd: Seq[String] = Seq("setup_s", "op_p50_s", "work_per_s", "retained_heap_mb")

  private val ingest = Seq(
    "stream.overhead_s" -> "s", "stream.add_batch_s" -> "s",
    "envelope.sniff_s" -> "s", "envelope.decode_s" -> "s",
    "dedup.s" -> "s", "dedup.rows_in" -> "count", "dedup.rows_out" -> "count",
    "cdctable.snapshot_load_s" -> "s", "cdctable.merge_s" -> "s", "cdctable.jobs" -> "count",
    "cdctable.driver_s" -> "s", "cdctable.rows_written" -> "count",
    "cdctable.bytes_written" -> "bytes", "cdctable.files_written" -> "count",
    "cdctable.parts_touched" -> "count", "cdctable.parts_total" -> "count",
    "tableio.ops" -> "count", "tableio.s" -> "s",
    "table.live_files" -> "count", "table.live_bytes" -> "bytes",
    "views.mv.refresh_s" -> "s", "views.join.refresh_s" -> "s",
    "views.derived.refresh_s" -> "s", "views.jobs" -> "count",
    "views.bootstrap_fallbacks" -> "count", "write.bytes_per_change" -> "bytes",
    "spark.jobs" -> "count", "spark.task_s" -> "s", "spark.shuffle_bytes" -> "bytes")
  private val query = for {
    c <- Seq("tpch", "cdc_read", "iterative", "text")
    (m, u) <- Seq("build_s" -> "s", "build_jobs" -> "count", "plan_s" -> "s", "exec_s" -> "s",
      "exec_jobs" -> "count", "task_s" -> "s", "shuffle_bytes" -> "bytes")
  } yield s"query.$c.$m" -> u
  val perLayer: Seq[(String, String)] = ingest ++ query

  def complete(layers: Map[String, Metric]): Map[String, Metric] = {
    val unknown = layers.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    perLayer.map { case (n, u) => n -> layers.getOrElse(n, Metric(0.0, u)) }.toMap
  }
}

object Digest {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** Order-independent digest of a result: row count and two sums of
    * 32-bit row hashes over every column rendered as text (doubles at 9
    * significant digits, so summation order cannot flip a digest). The
    * aggregate consumes every column of every row: nothing is pruned.
    */
  def apply(df: DataFrame): DataFrame = {
    val cells = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType =>
          when(c.isNull, lit("\u0000")).when(c === 0, lit("0"))
            .otherwise(format_string("%.9g", c.cast(DoubleType)))
        case _ => coalesce(c.cast(StringType), lit("\u0000"))
      }
    }
    val low = lit(4294967295L)
    df.agg(count(lit(1)).as("n"), sum(xxhash64(cells: _*).bitwiseAND(low)).as("h1"),
      sum(hash(cells: _*).cast(LongType).bitwiseAND(low)).as("h2"))
  }

  def render(row: org.apache.spark.sql.Row): String =
    s"${row.getLong(0)}:${row.getLong(1)}:${row.getLong(2)}"

  def of(df: DataFrame): String = render(apply(df).collect().head)

  /** Equal as multisets of rows over `want`'s columns; a digest compare,
    * with row-level differences counted only on a mismatch.
    */
  def sameRows(name: String, want: DataFrame, got: DataFrame): (String, Boolean, String) = {
    val g = got.select(want.columns.toSeq.map(col): _*)
    val (dw, dg) = (Digest.of(want), Digest.of(g))
    if (dw == dg) (name, true, s"${dw.takeWhile(_ != ':')} rows, digest $dw")
    else (name, false, s"digest $dg, expected $dw: ${want.exceptAll(g).count()} expected rows " +
      s"missing, ${g.exceptAll(want).count()} unexpected")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile that still has at least 10 samples
    * beyond it, with its nearest-rank value; None under 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      val p = (50 to 99).filter(p => s.size - math.ceil(s.size * p / 100.0).toInt >= 10).max
      Some(p -> s(math.ceil(s.size * p / 100.0).toInt - 1))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Metric => apply(Map("value" -> m.value, "unit" -> m.unit))
    case o: Option[_] => o.fold("null")(apply)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Entry point: `graftbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --cores C --work DIR --golden FILE --result FILE
  * [--trace-file FILE]`.
  * Writes one JSON result object to `--result`; `perfbench/run.py`
  * turns it into the benchmark's output line.
  */
object Main {
  val workloads: Map[String, Run => Outcome] = Map(
    "cdc_stream" -> StreamWorkload.run,
    "cdc_partitioned" -> PartitionedWorkload.run,
    "query_mix" -> QueryMixWorkload.run)

  def session(cores: Int, work: File): SparkSession = {
    // the conf graft.Bench and graft.Verify run with: shuffle partitions =
    // cores, UTC, INT64 micros timestamps, the graft planner extensions
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val body = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val cores = need("cores").toInt
    val traced = need("trace") == "1"
    val work = new File(need("work"))
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val run = new Run(spark, need("seed").toLong, need("seconds").toInt, tracer, work, sessionS,
      need("golden"))

    val result: Map[String, Any] = try {
      val o = body(run)
      require(o.e2e.keySet == Names.endToEnd.toSet, s"end-to-end metrics ${o.e2e.keySet}")
      Map(
        "correct" -> (o.checks.forall(_._2) && o.attempted > 0 && o.failed == 0),
        "attempted" -> o.attempted,
        "failed" -> o.failed,
        "metrics" -> (if (traced) Names.complete(o.layers) else o.e2e),
        "end_to_end" -> o.e2e,
        "details" -> (o.details ++ Map("phase_s" -> run.phases.toMap,
          "session_start_s" -> sessionS, "inputs_exhausted" -> run.inputsExhausted)),
        "checks" -> o.checks.map { case (n, ok, msg) => Map("check" -> n, "ok" -> ok, "detail" -> msg) })
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        Map("correct" -> false, "attempted" -> 0, "failed" -> 0, "metrics" -> Map.empty,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    val provenance = Map(
      "workload" -> workload, "seed" -> run.seed, "seconds" -> run.seconds, "trace" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "inputs" -> "generated in-process from the seed (perfbench/src/graftbench/Gen.scala)")
    val full = result ++ Map("provenance" -> provenance, "failures" -> run.failures.toSeq)
    java.nio.file.Files.writeString(new File(need("result")).toPath, Json(full))
    for (f <- opts.get("trace-file"); t <- tracer)
      java.nio.file.Files.writeString(new File(f).toPath,
        Json(Map("provenance" -> provenance, "layers" -> result.getOrElse("metrics", Map.empty),
          "details" -> result.getOrElse("details", Map.empty), "spans" -> t.toJson)))
    spark.stop()
  }
}
