package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's fixed data set: the ten tables `Catalog.forDir` loads,
  * with the column layout of the program's sf-style test data and a fixed
  * generator seed, so every checkout measures and checks the same rows.
  * The workload seed never reaches this data; it only picks requests.
  * Sizes are chosen so one run fits a short time budget: `events` matches
  * sf0.1 (100k rows), the text and TPC-H-style tables are smaller. */
object Data {
  /** Bump when the generator changes: cached copies and expected
    * digests are tied to it. */
  val Version = 2
  val Seed = 42L

  val Events = 100000
  val Documents = 2000
  val Embeddings = 1000
  val Dim = 64
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val LinesPerOrder = 4

  val Vocab: Array[String] = ("spark window merge table column vector " +
    "stream value data small join filter big group hash customer sort " +
    "order slow line part fast row the agg key query a scan batch")
    .split(" ")
  val EventTypes: Array[String] =
    Array("click", "error", "purchase", "signup", "view")
  /** 2024-01-01T00:00:00Z in epoch seconds; events span 30 days. */
  val Epoch0 = 1704067200L
  val SpanSeconds: Long = 30L * 86400

  /** Write the tables under `dir` unless a complete copy is there. */
  def ensure(spark: SparkSession, dir: Path): Unit = {
    val done = dir.resolve("_COMPLETE")
    if (Files.exists(done)) return
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try tables().foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(s"$name.parquet").toString)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    Files.write(done, Array.emptyByteArray)
  }

  private def round2(x: Double): Double = math.round(x * 100) / 100.0
  private def micros(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000))

  private def tables(): Seq[(String, StructType, Array[Row])] = {
    val r = new SplittableRandom(Seed)
    def pick[A](xs: Array[A]): A = xs(r.nextInt(xs.length))
    def schema(fs: (String, DataType)*): StructType =
      StructType(fs.map { case (n, t) => StructField(n, t) })

    val region = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = Array.tabulate(25)(i => Row(i, s"NATION_$i", i % 5))
    val segments =
      Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = Array.tabulate(Customers)(i => Row(i.toLong,
      f"Customer#$i%09d", r.nextInt(25), round2(r.nextDouble() * 10000),
      pick(segments)))
    val supplier = Array.tabulate(Suppliers)(i => Row(i.toLong,
      f"Supplier#$i%09d", r.nextInt(25), round2(r.nextDouble() * 10000)))
    val adjectives = Array("large", "hot", "small", "cold", "bright")
    val nouns = Array("ring", "bolt", "gear", "pipe", "valve")
    val types = Array("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL")
    val part = Array.tabulate(Parts)(i => Row(i.toLong,
      s"${pick(adjectives)} ${pick(nouns)}", s"Brand#${r.nextInt(25)}",
      pick(types), 1 + r.nextInt(50), round2(900 + (i % 1000) * 0.1)))
    val day0 = 820454400L // 1996-01-01
    val statuses = Array("O", "F", "P")
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    val orders = Array.tabulate(Orders)(i => Row(i.toLong,
      r.nextInt(Customers).toLong, pick(statuses),
      round2(1000 + r.nextDouble() * 400000),
      micros((day0 + r.nextInt(2400) * 86400L) * 1000000L),
      pick(priorities)))
    val lineitem = Array.tabulate(Orders * LinesPerOrder) { i =>
      val qty = (1 + r.nextInt(50)).toDouble
      Row((i / LinesPerOrder).toLong, r.nextInt(Parts).toLong,
        r.nextInt(Suppliers).toLong, i % LinesPerOrder + 1, qty,
        round2(qty * (900 + r.nextInt(1100))),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(Array("A", "N", "R")), pick(Array("O", "F")),
        micros((day0 + r.nextInt(2500) * 86400L) * 1000000L))
    }
    // events: ordered by time, ids ascending with it (as in the sf data)
    val offsets = Array.fill(Events)(
      (r.nextDouble() * SpanSeconds * 1e6).toLong).sorted
    val events = Array.tabulate(Events)(i => Row(i.toLong,
      micros(Epoch0 * 1000000L + offsets(i)),
      r.nextInt(1500).toLong, pick(EventTypes),
      round2(-50 * math.log(1 - r.nextDouble())),
      s"""{"k": ${r.nextInt(100)}}"""))
    val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
    val documents = Array.tabulate(Documents) { i =>
      val n = 10 + r.nextInt(91)
      val text = Array.fill(n)(
        if (r.nextInt(400) == 0) "dup" else pick(Vocab)).mkString(" ")
      Row(i.toLong, text, pick(langs), s"src${i % 20}", text.length.toLong)
    }
    // unit vectors, loosely clustered by label: pairwise cosine stays far
    // below the 0.9 near-duplicate threshold the dedup jobs use
    def gauss(): Double = math.sqrt(-2 * math.log(1 - r.nextDouble())) *
      math.cos(2 * math.Pi * r.nextDouble())
    val centers = Array.fill(10, Dim)(gauss())
    val embeddings = Array.tabulate(Embeddings) { i =>
      val label = r.nextInt(10)
      val v = centers(label).map(_ * 0.5 + gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    Seq(
      ("region", schema("r_regionkey" -> IntegerType,
        "r_name" -> StringType), region),
      ("nation", schema("n_nationkey" -> IntegerType,
        "n_name" -> StringType, "n_regionkey" -> IntegerType), nation),
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("part", schema("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
        orders),
      ("lineitem", schema("l_orderkey" -> LongType,
        "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
        "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
        lineitem),
      ("events", schema("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType), events),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType), documents),
      ("embeddings", schema("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
        embeddings))
  }
}
