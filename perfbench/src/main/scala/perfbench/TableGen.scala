package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic TPC-H-like star schema plus `events`, `documents` and
  * `embeddings`: the ten tables `SparkEntry.queries` read, with the
  * column names, types and value domains the queries filter on. Row `i`
  * of a table depends only on (table, i), so a table is the same on
  * every machine and the recorded result fingerprints stay valid.
  */
object TableGen {
  /** The data never depends on the run's seed: fingerprints are fixed. */
  val DataSeed = 42L

  final case class Sizes(customer: Int, supplier: Int, part: Int,
      orders: Int, lineitem: Int, events: Int, users: Int, documents: Int,
      embeddings: Int)

  /** Row counts at TPC-H-style scale factor `sf` (0.01 = 60 000
    * lineitems), with `documents` sized on its own.
    */
  def sizes(sf: Double, documents: Int): Sizes = Sizes(
    customer = (150000 * sf).toInt, supplier = math.max(10, (10000 * sf).toInt),
    part = (200000 * sf).toInt, orders = (1500000 * sf).toInt,
    lineitem = (6000000 * sf).toInt, events = (1000000 * sf).toInt,
    users = math.max(10, (15000 * sf).toInt), documents = documents,
    embeddings = math.max(100, (50000 * sf).toInt))

  private def rng(table: Int, i: Long): SplittableRandom =
    new SplittableRandom(DataSeed * 1000003L + table * 0x9E3779B97F4A7C15L + i)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def field(name: String, t: DataType) = StructField(name, t, nullable = true)

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "old", "small", "new", "hot", "large", "cold", "red")
  private val Nouns = Array("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
  private val Types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("signup", "click", "error", "view", "purchase")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  val Vocabulary: Array[String] = ("spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow " +
    "line part fast row the agg key query a scan batch").split(" ")

  private val Day = 86400000L
  private val Epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val Epoch2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Words of document `i` before any near-duplicate suffix. */
  private def docWords(i: Long): String = {
    val r = rng(9, i)
    val n = 10 + r.nextInt(90)
    (0 until n).map(_ => Vocabulary(r.nextInt(Vocabulary.length))).mkString(" ")
  }

  /** One in twenty documents repeats another one's text plus " dup". */
  private def docText(i: Long, n: Int): String = {
    val r = rng(10, i)
    if (r.nextInt(20) == 0) docWords((i + 1 + r.nextInt(n - 1)) % n) + " dup"
    else docWords(i)
  }

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Write `tables` (default all) as one parquet file each under `dir`. */
  def write(spark: SparkSession, dir: String, s: Sizes, tables: Seq[String] = Tables): Unit = {
    val sc = spark.sparkContext
    def save(name: String, n: Long, schema: StructType)(row: Long => Row): Unit =
      if (tables.contains(name))
        spark.createDataFrame(sc.range(0, n, 1, 4).map(row), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", 5, StructType(Seq(field("r_regionkey", IntegerType),
      field("r_name", StringType)))) { i =>
      Row(i.toInt, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i.toInt))
    }
    save("nation", 25, StructType(Seq(field("n_nationkey", IntegerType),
      field("n_name", StringType), field("n_regionkey", IntegerType)))) { i =>
      Row(i.toInt, s"NATION_$i", (i % 5).toInt)
    }
    save("customer", s.customer, StructType(Seq(field("c_custkey", LongType),
      field("c_name", StringType), field("c_nationkey", IntegerType),
      field("c_acctbal", DoubleType), field("c_mktsegment", StringType)))) { i =>
      val r = rng(1, i)
      Row(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        Segments(r.nextInt(Segments.length)))
    }
    save("supplier", s.supplier, StructType(Seq(field("s_suppkey", LongType),
      field("s_name", StringType), field("s_nationkey", IntegerType),
      field("s_acctbal", DoubleType)))) { i =>
      val r = rng(2, i)
      Row(i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }
    save("part", s.part, StructType(Seq(field("p_partkey", LongType),
      field("p_name", StringType), field("p_brand", StringType),
      field("p_type", StringType), field("p_size", IntegerType),
      field("p_retailprice", DoubleType)))) { i =>
      val r = rng(3, i)
      Row(i, s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.length)),
        1 + r.nextInt(50), (9000 + i % 1000) / 10.0)
    }
    save("orders", s.orders, StructType(Seq(field("o_orderkey", LongType),
      field("o_custkey", LongType), field("o_orderstatus", StringType),
      field("o_totalprice", DoubleType), field("o_orderdate", TimestampType),
      field("o_orderpriority", StringType)))) { i =>
      val r = rng(4, i)
      Row(i, r.nextLong(s.customer.toLong), Seq("O", "F", "P")(r.nextInt(3)),
        money(r, 1000, 500000), new Timestamp(Epoch1995 + r.nextInt(2404) * Day),
        Priorities(r.nextInt(5)))
    }
    save("lineitem", s.lineitem, StructType(Seq(field("l_orderkey", LongType),
      field("l_partkey", LongType), field("l_suppkey", LongType),
      field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
      field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
      field("l_tax", DoubleType), field("l_returnflag", StringType),
      field("l_linestatus", StringType), field("l_shipdate", TimestampType)))) { i =>
      val r = rng(5, i)
      val qty = 1 + r.nextInt(50)
      Row(r.nextLong(s.orders.toLong), r.nextLong(s.part.toLong),
        r.nextLong(s.supplier.toLong), 1 + r.nextInt(7), qty.toDouble,
        money(r, 900, 2100) * qty, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        new Timestamp(Epoch1995 + (1 + r.nextInt(2498)) * Day))
    }
    val span = 30L * Day
    save("events", s.events, StructType(Seq(field("event_id", LongType),
      field("ts", TimestampType), field("user_id", LongType),
      field("event_type", StringType), field("value", DoubleType),
      field("props", StringType)))) { i =>
      val r = rng(6, i)
      // ids follow time: slot i of n, jittered inside its slot
      val t = Epoch2024 + (i * span + (r.nextDouble() * span).toLong) / s.events
      Row(i, new Timestamp(t), r.nextLong(s.users.toLong),
        EventTypes(r.nextInt(5)), math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    save("documents", s.documents, StructType(Seq(field("doc_id", LongType),
      field("text", StringType), field("lang", StringType),
      field("source", StringType), field("n_chars", LongType)))) { i =>
      val r = rng(11, i)
      val text = docText(i, s.documents)
      Row(i, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
    save("embeddings", s.embeddings, StructType(Seq(field("vec_id", LongType),
      field("embedding", ArrayType(FloatType, containsNull = true)),
      field("label", IntegerType)))) { i =>
      val r = rng(7, i)
      val label = r.nextInt(10)
      // a per-label centre plus noise, normalised to unit length
      val c = rng(8, label)
      val v = Array.fill(64)(c.nextDouble() - 0.5).map(_ + 0.3 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }
}
