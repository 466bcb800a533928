package graftbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table is a pure function of
  * (seed, size): the same seed writes the same rows. The star tables
  * follow the schema graft's loaders read (`graft.Tables`): a
  * TPC-H-shaped fact `lineitem` under `orders`, with customer, nation,
  * region, supplier and part lookups. Order dates span 1995-01-01 to
  * 2001-08-01, inside the star cube's declared segments. */
object Data {

  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val Flags = Seq("A", "N", "R")
  val Brands: Seq[String] = (1 to 25).map(i => s"Brand#$i")
  val Nations: Seq[String] = (0 until 25).map(i => s"NATION_$i")
  private val FirstDay = LocalDate.parse("1995-01-01")
  private val DaySpan = 2404 // 1995-01-01 .. 2001-08-01
  /** months an order can fall in, "yyyy-MM" */
  val Months: Seq[String] = (0 until 80).map(i =>
    FirstDay.plusMonths(i.toLong).toString.take(7))

  private def ts(d: LocalDate): Timestamp =
    Timestamp.from(d.atStartOfDay(ZoneOffset.UTC).toInstant)
  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def rnd(seed: Long, salt: Int) =
    new java.util.Random(seed * 1000003L + salt)

  /** one single-file parquet table per (name, schema, rows), written
    * concurrently */
  private def writeAll(spark: SparkSession, dir: String,
                       tables: Seq[(String, StructType, Seq[Row])]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tables.size, Runtime.getRuntime.availableProcessors()))
    try tables.map { case (name, schema, rows) =>
      pool.submit[Unit](() => spark.createDataFrame(rows.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** The star tables, `orders` orders (about 4 line items each). */
  def writeStar(spark: SparkSession, dir: String, seed: Long,
                orders: Int): Unit = {
    val out = Seq.newBuilder[(String, StructType, Seq[Row])]
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      out += ((name, schema, rows))
    val customers = math.max(100, orders / 10)
    val parts = math.max(100, orders * 2 / 15)
    val suppliers = math.max(20, orders / 150)
    write("region", StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      Nations.zipWithIndex.map { case (n, i) => Row(i, n, i % 5) })
    val rc = rnd(seed, 1)
    write("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), money(rc, -999, 9999), Segments(rc.nextInt(5)))))
    val rs = rnd(seed, 2)
    write("supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(25), money(rs, -999, 9999))))
    val rp = rnd(seed, 3)
    val colors = Seq("red", "blue", "green", "small", "large", "steel")
    val nouns = Seq("ring", "widget", "bolt", "gear", "panel", "valve")
    val types = Seq("ECONOMY", "SMALL", "LARGE", "MEDIUM", "STANDARD", "PROMO")
    write("part", StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong,
        s"${colors(rp.nextInt(6))} ${nouns(rp.nextInt(6))}",
        Brands(rp.nextInt(25)), types(rp.nextInt(6)), 1 + rp.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val ro = rnd(seed, 4)
    val orderRows = Array.newBuilder[Row]
    val lineRows = Array.newBuilder[Row]
    (0 until orders).foreach { o =>
      val day = FirstDay.plusDays(ro.nextInt(DaySpan).toLong)
      val lines = 1 + ro.nextInt(7)
      var total = 0.0
      (1 to lines).foreach { ln =>
        val qty = (1 + ro.nextInt(50)).toDouble
        val price = math.round(qty * (900 + ro.nextInt(1200)) * 100) / 100.0
        total += price
        lineRows += Row(o.toLong, ro.nextInt(parts).toLong,
          ro.nextInt(suppliers).toLong, ln, qty, price,
          ro.nextInt(11) / 100.0, ro.nextInt(9) / 100.0,
          Flags(ro.nextInt(3)), if (ro.nextBoolean()) "F" else "O",
          ts(day.plusDays(1L + ro.nextInt(90))))
      }
      orderRows += Row(o.toLong, ro.nextInt(customers).toLong,
        Statuses(ro.nextInt(3)), math.round(total * 100) / 100.0, ts(day),
        Priorities(ro.nextInt(5)))
    }
    write("orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))), orderRows.result().toSeq)
    write("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))), lineRows.result().toSeq)
    // graft registers its events view beside the star view, so the
    // table must exist; no workload queries it
    val re = rnd(seed, 5)
    val kinds = Seq("view", "click", "purchase", "signup", "error")
    val jan = ts(LocalDate.parse("2024-01-01")).getTime
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until 1000).map(i => Row(i.toLong,
        new Timestamp(jan + (i * 2592000000L) / 1000), re.nextInt(100).toLong,
        kinds(re.nextInt(5)), money(re, 1, 200), s"""{"k": ${re.nextInt(100)}}""")))
    writeAll(spark, dir, out.result())
  }

  /** the documents corpus vocabulary: short data-engineering words, the
    * register of graft's own test corpora */
  val Vocabulary: Seq[String] = Seq("a", "the", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "key", "join", "group", "filter", "column",
    "stream", "big", "small", "data", "index", "page", "cache", "query",
    "plan", "shard", "cube", "segment", "read", "write", "node", "task")

  /** `batches` independent near-duplicate corpora of `docs` documents
    * each, in one `documents` and one `embeddings` table with a `batch`
    * column. Within a batch about 60% of the documents are originals,
    * the rest replicas of an earlier original — a tenth verbatim, the
    * others with 1 to 4 seeded token edits (substitute, insert or
    * delete). Every document has a 64-dimensional embedding; a
    * replica's is its original's plus small seeded noise. */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long,
                  batches: Int, docs: Int): Unit = {
    val parts = (0 until batches).map(b => corpus(seed, b, docs))
    val langs = Seq("en", "de", "fr", "es", "zh")
    writeAll(spark, dir, Seq(("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType), StructField("batch", IntegerType))),
      parts.zipWithIndex.flatMap { case ((texts, _), b) =>
        texts.indices.map { i =>
          val t = texts(i).mkString(" ")
          Row(b.toLong * docs + i, t, langs(i % 5), s"src${i % 20}",
            t.length.toLong, b)
        }
      }), ("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType), StructField("batch", IntegerType))),
      parts.zipWithIndex.flatMap { case ((_, vecs), b) =>
        vecs.indices.map(i =>
          Row(b.toLong * docs + i, vecs(i).toSeq, i % 10, b))
      })))
  }

  private def corpus(seed: Long, batch: Int, docs: Int)
      : (Array[Array[String]], Array[Array[Float]]) = {
    val r = rnd(seed, 10 + batch)
    val texts = new Array[Array[String]](docs)
    val vecs = new Array[Array[Float]](docs)
    (0 until docs).foreach { i =>
      if (i < 8 || r.nextDouble() < 0.6) {
        texts(i) = Array.fill(30 + r.nextInt(60))(
          Vocabulary(r.nextInt(Vocabulary.size)))
        vecs(i) = Array.fill(64)((r.nextGaussian() * 0.2).toFloat)
      } else {
        val src = r.nextInt(i)
        val t = texts(src).toBuffer
        if (r.nextDouble() >= 0.1) (1 to 1 + r.nextInt(4)).foreach { _ =>
          val at = r.nextInt(t.size)
          r.nextInt(3) match {
            case 0 => t(at) = Vocabulary(r.nextInt(Vocabulary.size))
            case 1 => t.insert(at, Vocabulary(r.nextInt(Vocabulary.size)))
            case _ => if (t.size > 10) { t.remove(at); () }
          }
        }
        texts(i) = t.toArray
        vecs(i) = vecs(src).map(v => (v + r.nextGaussian() * 0.01).toFloat)
      }
    }
    (texts, vecs)
  }

  /** total bytes of regular files under `path` (0 when absent) */
  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  /** every directory under `path`, with its last-modified time */
  def dirStamps(path: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(d => d.toString ->
          java.nio.file.Files.getLastModifiedTime(d).toMillis).toMap
      finally s.close()
    }
  }
}
