package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable


/** `query_mix` — why it exists: the read side. One analyst runs passes
  * over a fixed list of board queries, called through
  * `graft.SparkEntry.queries`, each materialized in full; the next query
  * is issued when the previous one returned. Query build, planning and
  * execution do all the work and nothing commits, while the `cdc_read`
  * class reads `CdcTable`s built in setup — the layer the two ingest
  * workloads write — so a layout change that helps writes but costs
  * reads shows here. Passes repeat within one session, so reuse of
  * per-session intermediates (cached views, memoized fixtures) shows too.
  *
  * Inputs: TPC-H-shaped tables plus events, documents and embeddings, at
  * about one hundredth of scale factor 1, generated from a fixed data
  * seed so every result can be checked against a golden hash; `--seed`
  * orders the queries of each pass.
  *
  * Setup (timed as `setup_s`): session start, the median of two rounds
  * that each build the `cdc_read` class's main `CdcTable` fixture on a
  * fresh view of the tables, and one warm-up pass over every query.
  */
object QueryMixWorkload {
  val Classes: Seq[(String, Seq[String])] = Seq(
    "tpch" -> Seq("q1_pricing_summary", "q5_local_supplier", "q18_large_volume_customer",
      "q21_waiting_supplier"),
    "cdc_read" -> Seq("k_stats_pruned_scan", "k_metadata_agg", "k_dv_delete", "k_bloom_pruned_scan"),
    "iterative" -> Seq("x_dedup_semantic", "x_bfs_levels", "x_triangle_count", "x_pagerank"),
    "text" -> Seq("x_doc_similarity", "s1_envelope_decode"))
  val classOf: Map[String, String] = Classes.flatMap { case (c, qs) => qs.map(_ -> c) }.toMap
  val DataSeed = 20240101L
  val Rounds = 2
  /** Builds the stats- and bloom-indexed orders `CdcTable` that three of
    * the four `cdc_read` queries read.
    */
  val FixtureQuery = "k_stats_pruned_scan"
  val Passes = 5

  /** `name TAB digest` lines; `#` starts a comment. */
  def golden(file: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, d) = l.split("\t", 2)
      name -> d.trim
    }.toMap
    finally src.close()
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val data = r.dir("input/tables")
    val inputRows = r.phase("generate")(Tpch.writeTables(spark, new Rng(DataSeed), data))
    // each setup round reads the tables through its own path, so the
    // program's per-path memoized fixtures are built afresh each round
    val views = (0 until Rounds).map { i =>
      val v = new File(r.dir(s"input/view$i")).toPath
      Files.createDirectories(v.getParent)
      Files.createSymbolicLink(v, new File(data).getAbsoluteFile.toPath)
      v.toString
    }
    val queries = graft.SparkEntry.queries
    val names = Classes.flatMap(_._2)
    val (fixtureS, warmS) = r.phase("setup") {
      val f = r.setupRounds(Rounds)(round => queries(FixtureQuery)(spark, views(round)).collect())
      val w0 = System.nanoTime()
      names.foreach(q => Digest(queries(q)(spark, views.last)).collect())
      (f, (System.nanoTime() - w0) / 1e9)
    }
    val dir = views.last
    val setupS = r.sessionStartS + fixtureS + warmS

    val rng = new Rng(r.seed)
    val ops = (0 until Passes).flatMap(_ => rng.shuffle(names.toIndexedSeq))
    val digests = mutable.Map.empty[String, mutable.Set[String]]
    val results = r.closedLoop(ops, names.size, (q: String) => q) { q =>
      val c = classOf(q)
      val df = r.span(s"query.$c.build")(queries(q)(spark, dir))
      val d = Digest(df)
      r.span(s"query.$c.plan")(d.queryExecution.executedPlan)
      val row = r.span(s"query.$c.exec")(d.collect().head)
      digests.getOrElseUpdate(q, mutable.Set.empty) += Digest.render(row)
    }
    val heap = r.retainedHeapMb()
    val ok = results.flatMap(_._2)

    val checkT0 = System.nanoTime()
    val want = golden(r.golden)
    val checks = digests.toSeq.sortBy(_._1).map { case (q, got) =>
      val exp = want.get(q)
      (s"$q result digest", exp.exists(e => got == Set(e)),
        s"got ${got.mkString(",")}; golden ${exp.getOrElse("missing")}")
    }
    val passes = results.grouped(names.size).filter(_.size == names.size)
      .map(_.map(_._2.getOrElse(Double.NaN)).sum).toSeq
    val tail = Stats.tail(ok)
    r.phases("check") = (System.nanoTime() - checkT0) / 1e9
    val e2e = Map(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_s" -> Metric(Stats.median(ok), "s"),
      "work_per_s" -> Metric(ok.size / ok.sum, "1/s"),
      "retained_heap_mb" -> Metric(heap, "MB"))
    val layers = r.tracer.fold(Map.empty[String, Metric]) { tr =>
      Classes.flatMap { case (c, qs) =>
        val n = math.max(1, results.count(x => qs.contains(x._1))).toDouble
        def sp(part: String) = tr.named(s"query.$c.$part")
        def per(part: String, f: Span => Double) = sp(part).map(f).sum / n
        val all = Seq("build", "plan", "exec").flatMap(sp)
        Seq(
          s"query.$c.build_s" -> Metric(per("build", _.wallS), "s"),
          s"query.$c.build_jobs" -> Metric(per("build", _.work.jobs.toDouble), "count"),
          s"query.$c.plan_s" -> Metric(per("plan", _.wallS), "s"),
          s"query.$c.exec_s" -> Metric(per("exec", _.wallS), "s"),
          s"query.$c.exec_jobs" -> Metric(per("exec", _.work.jobs.toDouble), "count"),
          s"query.$c.task_s" -> Metric(all.map(_.work.taskMs / 1000.0).sum / n, "s"),
          s"query.$c.shuffle_bytes" -> Metric(all.map(_.work.shuffleBytes.toDouble).sum / n, "bytes"))
      }.toMap
    }
    val perQuery = results.collect { case (q, Some(s)) => q -> s }.groupBy(_._1)
      .map { case (q, v) => s"query_p50_s.$q" -> Stats.median(v.map(_._2)) }
    Outcome(checks, results.size, results.count(_._2.isEmpty), e2e, layers,
      Map("query_p50_s" -> Stats.median(ok), "queries" -> results.size, "input_rows" -> inputRows,
        "query_tail_s" -> tail.map(_._2), "query_tail_pct" -> tail.map(_._1),
        "query_tail_samples" -> ok.size, "mix_pass_s" -> (if (passes.isEmpty) None else Some(Stats.median(passes))),
        "passes" -> passes.size, "retained_heap_mb" -> heap,
        "digests" -> digests.map { case (q, s) => q -> s.toSeq.sorted.mkString(",") }.toMap,
        "failed_op_share" -> results.count(_._2.isEmpty).toDouble / results.size) ++ perQuery ++
        r.tracer.map(tr => "span_coverage" -> tr.all.filter(_.name.startsWith("query.")).map(_.wallS).sum / ok.sum))
  }
}
