package graft.perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The query corpus generated from a seed: the TPC-H-shaped star schema
  * plus the `events`, `documents` and `embeddings` tables that
  * `graft.Tables` loads, with the column names, physical types and
  * value vocabularies of the corpus the queries were written against.
  * Row counts scale with `sf` the way that corpus's do (lineitem ≈ 6M ×
  * sf); documents and embeddings stay at 500 rows.
  */
object CorpusGen {

  def generate(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    val rnd = new SplittableRandom(seed)
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    def money(lo: Double, hi: Double): Double = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t)

    val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000)
    val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        money(-999.99, 9999.99), pick(segments))))

    val nSupp = n(10000)
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999.99, 9999.99))))

    val nPart = n(200000)
    val adjectives = IndexedSeq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val retail = (0 until nPart).map(i => math.round((900.0 + (i % 20000) * 0.1) * 100) / 100.0)
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(types), 1 + rnd.nextInt(50), retail(i))))

    val nOrders = n(1500000)
    val start = LocalDateTime.of(1995, 1, 1, 0, 0)
    val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = (0 until nOrders).map(_ => start.plusDays(rnd.nextInt(2404)))
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong, pick(IndexedSeq("F", "O", "P")),
        money(1000, 500000), orderDates(i), pick(priorities))))

    val lines = (0 until n(6000000)).map { _ =>
      val o = rnd.nextInt(nOrders)
      val p = rnd.nextInt(nPart)
      val qty = 1 + rnd.nextInt(50)
      Row(o.toLong, p.toLong, rnd.nextInt(nSupp).toLong, 1 + rnd.nextInt(7), qty.toDouble,
        math.round(qty * retail(p) * (0.5 + rnd.nextDouble()) * 100) / 100.0,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(IndexedSeq("A", "N", "R")),
        pick(IndexedSeq("F", "O")), start.plusDays(1 + rnd.nextInt(2500)))
    }
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      lines)

    val nEvents = n(1000000)
    val users = n(15000)
    val eventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
    val spanMicros = 30L * 24 * 3600 * 1000000
    var ts = 0L
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until nEvents).map { i =>
        ts += 1 + (-math.log(1 - rnd.nextDouble()) * spanMicros / nEvents).toLong
        Row(i.toLong, LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(ts * 1000), rnd.nextInt(users).toLong,
          pick(eventTypes), math.max(0.01, math.round(-math.log(1 - rnd.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${rnd.nextInt(100)}}""")
      })

    val words = IndexedSeq("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
      "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
      "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")
    val langs = IndexedSeq("en", "en", "en", "fr", "es", "zh", "de")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      texts += (if (i > 20 && rnd.nextInt(20) == 0) {
        val base = texts(rnd.nextInt(i)).split(" ")
        (base.drop(1 + rnd.nextInt(3)) ++ Seq.fill(1 + rnd.nextInt(2))("dup")).mkString(" ")
      } else Seq.fill(10 + rnd.nextInt(90))(pick(words)).mkString(" "))
    }
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
      f("source", StringType), f("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), pick(langs), s"src${i % 20}", texts(i).length.toLong)))

    write("embeddings", StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)),
      f("label", IntegerType))),
      (0 until 500).map { i =>
        val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
      })
  }
}
