package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Gen.mix64

/** Seeded generator for the ten tables `SparkEntry.queries` read (a TPC-H
  * style star schema plus `events`, `documents` and `embeddings`). Column
  * names, types and value domains follow the tables the query oracles were
  * written against; every value is a pure function of (seed, table, row),
  * so any parallelism writes the same files. Each table is written as one
  * parquet file, the shape the queries' scan-parallelism floor expects.
  */
object SweepData {

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
      p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
      l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
      value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val colors = Array("blue", "red", "green", "small", "large", "shiny", "dark", "pale")
  private val nouns = Array("anvil", "widget", "ring", "gear", "bolt", "spring", "valve", "lever")
  private val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val vocab = Array("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order", "data",
    "column", "join", "small", "big", "customer", "query", "filter", "group", "stream", "vector")

  private val DayMs = 86400000L
  private val ordersEpoch = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val eventsEpoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Uniform [0,1) draw number `k` of row `i` of table `t`. */
  private def u(seed: Long, t: Int, i: Long, k: Int): Double =
    (mix64(mix64(seed ^ (t.toLong << 56)) ^ mix64(i * 128 + k)) >>> 11).toDouble / (1L << 53)
  private def pick[A](xs: Array[A], x: Double): A = xs((x * xs.length).toInt.min(xs.length - 1))
  private def cents(x: Double): Double = math.round(x * 100) / 100.0
  private def between(lo: Long, hi: Long, x: Double): Long = lo + (x * (hi - lo + 1)).toLong.min(hi - lo)

  private def docText(seed: Long, i: Long): String = {
    val n = 8 + between(0, 90, u(seed, 8, i, 0)).toInt
    (0 until n).map(k => pick(vocab, u(seed, 8, i * 128 + k, 1))).mkString(" ")
  }

  /** Writes all ten tables under `dir` as `<name>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    import spark.implicits._
    def n(base: Double, floor: Long = 1L): Long = math.max(floor, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000, 500); val nEmb = n(20000, 500)
    val nUsers = math.max(100L, nEv / 60)

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> regions.indices.map(i => Region(i, regions(i))).toDF(),
      "nation" -> (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDF(),
      "customer" -> spark.range(nCust).map { i =>
        Customer(i, f"Customer#$i%09d", between(0, 24, u(seed, 1, i, 0)).toInt,
          cents(-999.99 + u(seed, 1, i, 1) * 10999.98), pick(segments, u(seed, 1, i, 2)))
      }.toDF(),
      "supplier" -> spark.range(nSupp).map { i =>
        Supplier(i, f"Supplier#$i%09d", between(0, 24, u(seed, 2, i, 0)).toInt,
          cents(-999.99 + u(seed, 2, i, 1) * 10999.98))
      }.toDF(),
      "part" -> spark.range(nPart).map { i =>
        Part(i, s"${pick(colors, u(seed, 3, i, 0))} ${pick(nouns, u(seed, 3, i, 1))}",
          s"Brand#${between(1, 25, u(seed, 3, i, 2))}", pick(types, u(seed, 3, i, 3)),
          between(1, 50, u(seed, 3, i, 4)).toInt, 900.0 + (i % 1000) / 10.0)
      }.toDF(),
      "orders" -> spark.range(nOrd).map { i =>
        Order(i, between(0, nCust - 1, u(seed, 4, i, 0)), pick(Array("F", "O", "P"), u(seed, 4, i, 1)),
          cents(1000 + u(seed, 4, i, 2) * 499000),
          new Timestamp(ordersEpoch + between(0, 2404, u(seed, 4, i, 3)) * DayMs),
          pick(priorities, u(seed, 4, i, 4)))
      }.toDF(),
      "lineitem" -> spark.range(nLine).map { i =>
        val q = between(1, 50, u(seed, 5, i, 4)).toDouble
        LineItem(between(0, nOrd - 1, u(seed, 5, i, 0)), between(0, nPart - 1, u(seed, 5, i, 1)),
          between(0, nSupp - 1, u(seed, 5, i, 2)), between(1, 7, u(seed, 5, i, 3)).toInt, q,
          cents(q * (900 + u(seed, 5, i, 5) * 1200)), between(0, 10, u(seed, 5, i, 6)) / 100.0,
          between(0, 8, u(seed, 5, i, 7)) / 100.0, pick(Array("A", "N", "R"), u(seed, 5, i, 8)),
          pick(Array("F", "O"), u(seed, 5, i, 9)),
          new Timestamp(ordersEpoch + between(1, 2500, u(seed, 5, i, 10)) * DayMs))
      }.toDF(),
      "events" -> spark.range(nEv).map { i =>
        val ms = (u(seed, 6, i, 0) * 30 * DayMs).toLong
        val ts = new Timestamp(eventsEpoch + ms)
        ts.setNanos(((ms % 1000) * 1000000 + between(0, 999, u(seed, 6, i, 1)) * 1000).toInt)
        Event(i, ts, between(0, nUsers - 1, u(seed, 6, i, 2)), pick(eventTypes, u(seed, 6, i, 3)),
          cents(-math.log(1 - u(seed, 6, i, 4)) * 40), s"""{"k": ${between(0, 99, u(seed, 6, i, 5))}}""")
      }.toDF(),
      "documents" -> spark.range(nDoc).map { i =>
        // every 97th document repeats an earlier one and every 31st is a
        // one-word edit of one, so the dedup and similarity queries find pairs
        val src = if (i > 0 && i % 97 == 0) between(0, i - 1, u(seed, 7, i, 0)) else i.longValue
        val base = docText(seed, src)
        val text =
          if (i > 0 && i % 31 == 0) {
            val ws = docText(seed, between(0, i - 1, u(seed, 7, i, 1))).split(' ')
            ws(between(0, ws.length - 1, u(seed, 7, i, 2)).toInt) = pick(vocab, u(seed, 7, i, 3))
            ws.mkString(" ")
          } else base
        Document(i, text, pick(langs, u(seed, 7, i, 4)), s"src${i % 20}", text.length.toLong)
      }.toDF(),
      "embeddings" -> spark.range(nEmb).map { i =>
        val label = between(0, 9, u(seed, 9, i, 0)).toInt
        val v = Array.tabulate(64) { d =>
          val center = u(seed, 10, label, d) * 2 - 1
          val noise = u(seed, 9, i, 1 + d) * 2 - 1
          (center + 0.6 * noise).toFloat
        }
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        Embedding(i, v.map(_ / norm), label)
      }.toDF())

    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
