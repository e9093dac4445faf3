package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. They live in the benchmark, not the program,
  * so a change to the program cannot change what it is fed: the same
  * seed always yields the same rows and envelope bytes.
  */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def long(n: Long): Long = r.nextLong(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))
  def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}

/** One TPC-H-shaped lineitem row; money in cents so folds stay exact. */
final case class Line(orderkey: Long, linenumber: Int, partkey: Long, suppkey: Long,
                      quantity: Int, priceCents: Long, discountPct: Int, taxPct: Int,
                      returnflag: String, linestatus: String, shipdateMs: Long) {
  def key: (Long, Int) = (orderkey, linenumber)
  def row: Seq[Any] = Seq(orderkey, linenumber, partkey, suppkey, quantity.toDouble,
    priceCents / 100.0, discountPct / 100.0, taxPct / 100.0, returnflag, linestatus,
    new java.sql.Timestamp(shipdateMs))
}

object Tpch {
  val DayMs: Long = 86400000L
  /** 1995-01-01 .. 2001-08-01, the date span of the repository's test tables. */
  val OrderDay0: Long = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  val OrderDays: Int = 2404

  val lineitemSchema: StructType = StructType.fromDDL(
    "l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP")

  /** Ship date of a line whose order was placed on `orderDay`. */
  def shipMs(rng: Rng, orderDay: Long): Long = (orderDay + rng.between(1, 95)) * DayMs

  def line(rng: Rng, orderkey: Long, ln: Int, orderDay: Long, parts: Int, supps: Int): Line = {
    val qty = rng.between(1, 50)
    Line(orderkey, ln, rng.long(parts), rng.long(supps), qty,
      qty.toLong * rng.between(90000, 210000), rng.between(0, 10),
      rng.between(0, 8), rng.pick(Vector("R", "A", "N")), rng.pick(Vector("O", "F")),
      shipMs(rng, orderDay))
  }

  /** `nOrders` orders of 1-7 lines each, placed over the first `days`
    * days of the date span; keys (orderkey, linenumber) unique.
    */
  def lines(rng: Rng, nOrders: Int, parts: Int, supps: Int, days: Int): IndexedSeq[Line] =
    (0 until nOrders).flatMap { o =>
      val day = OrderDay0 + rng.int(days)
      (1 to rng.between(1, 7)).map(ln => line(rng, o.toLong, ln, day, parts, supps))
    }

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Seq[Any]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
  }

  private val words = Vector("a", "the", "data", "table", "row", "column", "key", "value",
    "scan", "join", "merge", "batch", "stream", "window", "sort", "hash", "agg", "group",
    "filter", "query", "order", "line", "part", "customer", "spark", "vector", "fast",
    "slow", "big", "small")

  /** Write the query workload's tables (the schemas of the repository's
    * test tables, FIXTURES.md §3) as `<dir>/<name>.parquet`, at about
    * one hundredth of TPC-H scale factor 1. Timestamps are written
    * without a zone, as the test tables carry them.
    */
  def writeTables(spark: SparkSession, rng: Rng, dir: String): Map[String, Long] = {
    val nCust = 1500; val nSupp = 100; val nPart = 2000; val nOrders = 15000
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val segments = Vector("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
    val tables = Seq[(String, String, Seq[Seq[Any]])](
      ("region", "r_regionkey INT, r_name STRING",
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Seq(i, n) }),
      ("nation", "n_nationkey INT, n_name STRING, n_regionkey INT",
        (0 until 25).map(i => Seq(i, s"NATION_$i", i % 5))),
      ("customer", "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
        (0 until nCust).map(i => Seq(i.toLong, f"Customer#$i%09d", rng.int(25),
          rng.between(-99999, 999999) / 100.0, rng.pick(segments)))),
      ("supplier", "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
        (0 until nSupp).map(i => Seq(i.toLong, f"Supplier#$i%09d", rng.int(25),
          rng.between(-99999, 999999) / 100.0))),
      ("part", "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
        (0 until nPart).map(i => Seq(i.toLong,
          rng.pick(Vector("small", "red", "blue", "hot", "old", "large", "new", "cold")) + " " +
            rng.pick(Vector("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")),
          s"Brand#${rng.between(1, 25)}",
          rng.pick(Vector("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")),
          rng.between(1, 50), 900.0 + (i % 1000) / 10.0))))
    val orderDays = Array.fill(nOrders)(OrderDay0 + rng.int(OrderDays))
    val orders = (0 until nOrders).map(o => Seq(o.toLong, rng.long(nCust), rng.pick(Vector("P", "O", "F")),
      rng.between(100000, 50000000) / 100.0, ts(orderDays(o) * DayMs),
      rng.pick(Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
    val lineRows = (0 until nOrders).flatMap { o =>
      (1 to rng.between(1, 7)).map(ln => line(rng, o.toLong, ln, orderDays(o), nPart, nSupp).row)
    }
    val event0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    var t = event0
    val events = (0 until 10000).map { i =>
      t += rng.long(518400000L) + 1
      Seq(i.toLong, ts(t / 1000), rng.long(150L),
        rng.pick(Vector("signup", "error", "click", "view", "purchase")),
        math.round(-math.log(1 - rng.double()) * 5000) / 100.0 + 0.01, s"""{"k": ${rng.int(100)}}""")
    }
    val docs = (0 until 500).map { i =>
      val text = (1 to rng.between(8, 90)).map(_ => rng.pick(words)).mkString(" ")
      Seq(i.toLong, text, rng.pick(Vector("en", "en", "en", "zh", "es", "de", "fr")),
        s"src${i % 20}", text.length.toLong)
    }
    val centroids = Array.fill(10)(Array.fill(64)(rng.gaussian()))
    val embs = (0 until 500).map { i =>
      val label = rng.int(10)
      val v = centroids(label).map(c => c * 0.5 + rng.gaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Seq(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
    }
    val all = tables ++ Seq(
      ("orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP, o_orderpriority STRING", orders),
      ("lineitem", lineitemSchema.toDDL, lineRows),
      ("events", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING", events),
      ("documents", "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT", docs),
      ("embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT", embs))
    all.map { case (name, ddl, rows) =>
      val df = frame(spark, StructType.fromDDL(ddl), rows)
      val naive = df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == TimestampType) d.withColumn(f.name, d(f.name).cast(TimestampNTZType)) else d
      }
      naive.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> rows.size.toLong
    }.toMap
  }
}
