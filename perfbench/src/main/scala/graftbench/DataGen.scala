package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic inputs in the layout `graft.Tables` loads:
  * one parquet directory per table, `<dir>/<name>.parquet`. The shape
  * and the row counts follow the sf0.1 testdata rung: a TPC-H-like star
  * schema (600,000 line items), an event stream, a short-text corpus
  * drawn from the same 30-word vocabulary and a clustered embedding
  * table. */
object DataGen {
  /** The corpus vocabulary: every document and every query text is
    * drawn from these words. */
  val Vocab: Vector[String] = Vector("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the")

  /** Rows per table, as at the sf0.1 testdata rung. */
  val Rows: Map[String, Int] = Map("region" -> 5, "nation" -> 25, "customer" -> 15000,
    "supplier" -> 1000, "part" -> 20000, "orders" -> 150000, "lineitem" -> 600000,
    "events" -> 100000, "documents" -> 5000, "embeddings" -> 2000)
  /** Files per generated table: fixed, so the generated input does not
    * depend on the core count. */
  val Files = 4

  private def round2(x: Double): Double = math.round(x * 100) / 100.0
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.length))
  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  /** One text of `n` words drawn uniformly from [[Vocab]]. */
  def words(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(pick(r, Vocab)).mkString(" ")

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** `n` documents with ids from `firstId`: 10-100 words each, 20
    * sources, five languages, and planted exact and near duplicates
    * (a copy of an earlier text, or one with a word appended) for the
    * dedup operators to find. */
  def documents(seed: Long, n: Int, firstId: Long = 0L): Vector[Doc] = {
    val r = new SplittableRandom(seed)
    val langs = Vector("en", "en", "en", "en", "en", "en", "fr", "fr", "es", "es", "de",
      "de", "zh", "zh")
    val out = Vector.newBuilder[Doc]
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      val text =
        if (texts.nonEmpty && u < 0.04) texts(r.nextInt(texts.length))
        else if (texts.nonEmpty && u < 0.08) texts(r.nextInt(texts.length)) + " dup"
        else words(r, 10 + r.nextInt(91))
      texts += text
      out += Doc(firstId + i, text, pick(r, langs), s"src${i % 20}")
    }
    out.result()
  }

  def documentsFrame(spark: SparkSession, docs: Seq[Doc]) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)), 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

  /** One table: its schema, its row count and row `i` as a function of
    * `i` alone, so that partitions generate their rows independently. */
  final case class Table(schema: StructType, rows: Int, row: Int => Row)

  /** Every table `graft.Tables.all` names, generated from `seed`. Row
    * `i` of a table draws from its own generator, seeded by the table
    * and `i`. */
  def tables(seed: Long): Map[String, Table] = {
    def rng(table: Int, i: Int) = new SplittableRandom(seed ^ (table.toLong << 40) ^ (i * 0x9E3779B97F4A7C15L))
    def f(n: String, t: DataType) = StructField(n, t)
    val ntz = TimestampNTZType
    val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val adjectives = Vector("small", "large", "red", "blue", "hot", "cold", "old", "new")
    val nouns = Vector("widget", "ring", "gear", "anvil", "rod", "bolt", "plate", "gizmo")
    val types = Vector("ECONOMY", "PROMO", "MEDIUM", "SMALL", "LARGE", "STANDARD")
    val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val eventTypes = Vector("click", "purchase", "error", "signup", "view")
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val nCustomers = Rows("customer")
    val nSuppliers = Rows("supplier")
    val nParts = Rows("part")
    val nOrders = Rows("orders")
    // events spread over 30 days in increasing time order
    val eventStepMicros = 30L * 86400 * 1000000L / Rows("events")
    val docs = documents(rng(8, -1).nextLong(), Rows("documents"))
    val centers = { val r = rng(9, -1); Array.fill(10, 64)(r.nextDouble() * 2 - 1) }
    def t(name: String, fields: StructField*)(row: Int => Row) = name -> Table(StructType(fields), Rows(name), row)
    Map(
      t("region", f("r_regionkey", IntegerType), f("r_name", StringType))(i => Row(i, regions(i))),
      t("nation", f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))(i => Row(i, s"NATION_$i", i % 5)),
      t("customer", f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType)) { i =>
        val r = rng(2, i)
        Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), round2(-999.99 + r.nextDouble() * 10999.98),
          pick(r, segments))
      },
      t("supplier", f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)) { i =>
        val r = rng(3, i)
        Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), round2(-999.99 + r.nextDouble() * 10999.98))
      },
      t("part", f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType)) { i =>
        val r = rng(4, i)
        Row(i.toLong, s"${pick(r, adjectives)} ${pick(r, nouns)}", s"Brand#${1 + r.nextInt(25)}",
          pick(r, types), 1 + r.nextInt(50), round2(900.0 + i * 0.1))
      },
      t("orders", f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", ntz), f("o_orderpriority", StringType)) { i =>
        val r = rng(5, i)
        Row(i.toLong, r.nextInt(nCustomers).toLong, pick(r, Vector("F", "O", "P")),
          round2(1000.0 + r.nextDouble() * 499000.0), day(r, d0, 2404), pick(r, priorities))
      },
      t("lineitem", f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", ntz)) { i =>
        val r = rng(6, i)
        Row(r.nextInt(nOrders).toLong, r.nextInt(nParts).toLong,
          r.nextInt(nSuppliers).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          round2(900.0 + r.nextDouble() * 104100.0), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")), pick(r, Vector("F", "O")),
          day(r, d0.plusDays(1), 2498))
      },
      t("events", f("event_id", LongType), f("ts", ntz), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType)) { i =>
        val r = rng(7, i)
        Row(i.toLong, e0.plusNanos((i * eventStepMicros + r.nextLong(eventStepMicros)) * 1000L),
          r.nextInt(1500).toLong, pick(r, eventTypes), round2(0.01 + r.nextDouble() * 330.0),
          s"""{"k": ${r.nextInt(100)}}""")
      },
      t("documents", f("doc_id", LongType), f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType)) { i =>
        val d = docs(i)
        Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)
      },
      t("embeddings", f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType)) { i =>
        val r = rng(9, i)
        val label = r.nextInt(10)
        val v = centers(label).map(c => c + (r.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }

  /** Write every table as `<dir>/<name>.parquet`, [[Files]] files each,
    * generated in parallel. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit =
    tables(seed).foreach { case (name, t) =>
      val rows = spark.sparkContext.parallelize(0 until t.rows, math.min(Files, t.rows)).map(t.row)
      spark.createDataFrame(rows, t.schema).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
