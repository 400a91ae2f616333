package graftbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic generator of the query pack's input tables: the TPC-H-ish
  * star schema plus `events`, `documents` and `embeddings`, with the column
  * names, types and value domains the pack's queries read. Row counts follow
  * `sf` as in the pack's sf0.01 tier (lineitem = 6,000,000 × sf).
  *
  * The data seed is fixed, so every benchmark run (any workload seed) reads
  * byte-identical tables and the stored per-query references stay valid.
  */
object DataGen {
  val Version = "v2"

  private val Segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val PartTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Adjectives = Array("blue", "hot", "small", "old", "red", "new", "cold", "big")
  private val Nouns = Array("bolt", "gear", "widget", "rod", "ring", "plate", "anvil", "nut")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "signup", "error", "view", "purchase")
  private val Langs = Array("en", "en", "en", "es", "zh", "de", "fr")
  private val Words = ("the fast key order sort table scan merge part window small hash join " +
    "batch stream spark dup group query row data slow filter customer line value agg " +
    "column a big vector").split(" ")

  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: java.util.Random, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    val r = new java.util.Random(42L)
    val nCust = math.max(10, (150000 * sf).toInt)
    val nSupp = math.max(5, (10000 * sf).toInt)
    val nPart = math.max(20, (200000 * sf).toInt)
    val nOrders = math.max(50, (1500000 * sf).toInt)
    val nLines = math.max(200, (6000000 * sf).toInt)
    val nEvents = math.max(100, (1000000 * sf).toInt)
    val nUsers = math.max(10, (15000 * sf).toInt)
    val nDocs = math.max(500, (50000 * sf).toInt)
    val nVecs = math.max(500, (20000 * sf).toInt)

    // one parquet FILE per table, as the pack's tier data is laid out (the
    // streaming queries stage the file itself into a source directory)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = s"$dir/_$name"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
      Files.deleteRec(tmp)
    }

    def f(n: String, t: DataType) = StructField(n, t)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.length)))))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    val retail = (0 until nPart).map(i => 900.0 + (i % 1000) / 10.0)
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${Adjectives(r.nextInt(Adjectives.length))} ${Nouns(r.nextInt(Nouns.length))}",
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), retail(i))))
    val orderEpoch = LocalDateTime.of(1995, 1, 1, 0, 0)
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000),
        day(r, orderEpoch, 2404), Priorities(r.nextInt(Priorities.length)))))
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until nLines).map { _ =>
        val part = r.nextInt(nPart)
        val qty = (1 + r.nextInt(50)).toDouble
        Row(r.nextInt(nOrders).toLong, part.toLong, r.nextInt(nSupp).toLong,
          1 + r.nextInt(7), qty, math.round(qty * retail(part) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
          Seq("O", "F")(r.nextInt(2)), day(r, orderEpoch.plusDays(1), 2499))
      })
    val evEpoch = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val evTimes = Array.fill(nEvents)((r.nextDouble() * spanMicros).toLong).sorted
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong, evEpoch.plusNanos(evTimes(i) * 1000),
        r.nextInt(nUsers).toLong, EventTypes(r.nextInt(EventTypes.length)),
        money(r, 0.01, 490.02), s"""{"k": ${r.nextInt(100)}}""")))
    // every tenth document is a near-duplicate of an earlier one (a few
    // words swapped), so the dedup and similarity queries have work to find
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i % 10 == 9) {
          val src = texts(r.nextInt(i)).split(" ")
          (0 until math.max(1, src.length / 20)).foreach(_ =>
            src(r.nextInt(src.length)) = Words(r.nextInt(Words.length)))
          src.mkString(" ")
        } else Seq.fill(8 + r.nextInt(80))(Words(r.nextInt(Words.length))).mkString(" ")
    }
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until nDocs).map(i => Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)),
        s"src${i % 20}", texts(i).length.toLong)))
    val dim = 64
    val centroids = Array.fill(10, dim)(r.nextGaussian())
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(dim)(d => centroids(label)(d) + 1.5 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
