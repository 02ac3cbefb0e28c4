package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded tables for the analytics board, in the schemas the board
 * entries read (TPC-H-shaped star plus `documents` and `embeddings`),
 * one parquet directory per table under `dir/<table>.parquet`.
 *
 * `scale` follows TPC-H row counts (customer 150k·scale, orders 10×
 * customers, ~4 lines per order). Documents are bags of words over a
 * small vocabulary with planted near-duplicates (one word changed,
 * Jaccard of word 3-shingles ≥ ~0.8), so the Jaccard, MinHash and clustering entries find pairs.
 * Embeddings are 64-d unit vectors around ten label centres, so nearest
 * neighbours share a label and the IVF cells follow the clusters.
 */
object BoardData {

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Nations = Seq("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1,
    "CANADA" -> 1, "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3,
    "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4,
    "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0,
    "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Vocab = ("key agg row scan slow fast table value part hash " +
    "merge batch spark a the line sort window order data column join small " +
    "customer query big stream group filter vector").split(" ").toIndexedSeq
  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val Dim = 64

  private def cents(r: SplittableRandom, lo: Int, hi: Int): Double =
    (lo * 100 + r.nextInt((hi - lo) * 100)) / 100.0

  def generate(spark: SparkSession, seed: Long, dir: String, scale: Double,
               docs: Int, vectors: Int): Unit = {
    val r = new SplittableRandom(seed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def field(n: String, t: DataType) = StructField(n, t, nullable = true)

    write("region", StructType(Seq(field("r_regionkey", IntegerType),
      field("r_name", StringType))),
      Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(field("n_nationkey", IntegerType),
      field("n_name", StringType), field("n_regionkey", IntegerType))),
      Nations.zipWithIndex.map { case ((n, reg), i) => Row(i, n, reg) })

    val customers = math.max(100, (150000 * scale).toInt)
    val suppliers = math.max(20, (10000 * scale).toInt)
    val parts = math.max(200, (200000 * scale).toInt)
    write("customer", StructType(Seq(field("c_custkey", LongType),
      field("c_name", StringType), field("c_nationkey", IntegerType),
      field("c_acctbal", DoubleType), field("c_mktsegment", StringType))),
      (1 to customers).map(k => Row(k.toLong, f"Customer#$k%09d",
        r.nextInt(Nations.size), cents(r, -999, 9999),
        Segments(r.nextInt(Segments.size)))))

    val day0 = java.time.LocalDate.parse("1992-01-01").toEpochDay
    def ts(day: Long) = Timestamp.valueOf(java.time.LocalDate.ofEpochDay(day).atStartOfDay())
    val orders = customers * 10
    val orderRows = Array.newBuilder[Row]
    val lineRows = Array.newBuilder[Row]
    for (o <- 1 to orders) {
      val od = day0 + r.nextInt(2400)
      var total = 0.0
      for (ln <- 1 to 1 + r.nextInt(7)) {
        val qty = (1 + r.nextInt(50)).toDouble
        val price = math.round(qty * cents(r, 900, 2000) * 100) / 100.0
        val disc = r.nextInt(11) / 100.0
        val ship = od + 1 + r.nextInt(120)
        total += price
        lineRows += Row(o.toLong, (1 + r.nextInt(parts)).toLong,
          (1 + r.nextInt(suppliers)).toLong, ln, qty, price, disc,
          r.nextInt(9) / 100.0, Seq("R", "A", "N")(r.nextInt(3)),
          if (ship < day0 + 1260) "F" else "O", ts(ship))
      }
      orderRows += Row(o.toLong, (1 + r.nextInt(customers)).toLong,
        Seq("O", "F", "P")(r.nextInt(3)), math.round(total * 100) / 100.0,
        ts(od), Priorities(r.nextInt(Priorities.size)))
    }
    write("orders", StructType(Seq(field("o_orderkey", LongType),
      field("o_custkey", LongType), field("o_orderstatus", StringType),
      field("o_totalprice", DoubleType), field("o_orderdate", TimestampType),
      field("o_orderpriority", StringType))), orderRows.result().toSeq)
    write("lineitem", StructType(Seq(field("l_orderkey", LongType),
      field("l_partkey", LongType), field("l_suppkey", LongType),
      field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
      field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
      field("l_tax", DoubleType), field("l_returnflag", StringType),
      field("l_linestatus", StringType), field("l_shipdate", TimestampType))),
      lineRows.result().toSeq)

    val texts = new Array[String](docs)
    for (d <- 0 until docs) {
      texts(d) =
        if (d > 10 && r.nextDouble() < 0.12) {
          // near-duplicate of an earlier document: one word changed
          val w = texts(r.nextInt(d)).split(" ")
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.size))
          w.mkString(" ")
        } else (0 until 30 + r.nextInt(50)).map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" ")
    }
    write("documents", StructType(Seq(field("doc_id", LongType),
      field("text", StringType), field("lang", StringType),
      field("source", StringType), field("n_chars", LongType))),
      texts.indices.map(d => Row(d.toLong, texts(d), Langs(r.nextInt(Langs.size)),
        s"src${r.nextInt(20)}", texts(d).length.toLong)))

    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def gauss(): Array[Double] = Array.fill(Dim)(r.nextDouble() * 2 - 1 + r.nextDouble() * 2 - 1)
    val centres = Array.fill(10)(unit(gauss()))
    write("embeddings", StructType(Seq(field("vec_id", LongType),
      field("embedding", ArrayType(FloatType, containsNull = true)),
      field("label", IntegerType))),
      (0 until vectors).map { v =>
        val label = r.nextInt(centres.length)
        val noise = unit(gauss())
        val e = unit(centres(label).zip(noise).map { case (c, n) => 0.55 * c + 0.84 * n })
        Row(v.toLong, e.map(_.toFloat).toSeq, label)
      })
  }
}
