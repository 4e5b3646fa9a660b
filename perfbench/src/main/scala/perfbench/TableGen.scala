package perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The ten registry tables (TPC-H-ish star, events, documents,
  * embeddings) at scale factor 0.001, generated from a fixed seed with
  * the column types and value domains the engine's loaders expect.
  * The data seed is fixed so the stored result fingerprints stay valid;
  * a workload seed only orders the ops.
  */
object TableGen {
  val DataSeed = 42L

  private val Words = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: java.util.Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** Writes `<dir>/<table>.parquet` for every table; returns row counts. */
  def write(spark: SparkSession, dir: String): Map[String, Int] = {
    val r = new java.util.Random(DataSeed)
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    def f(n: String, t: DataType) = StructField(n, t, nullable = true)
    val tables = Seq(
      "region" -> (StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (n, i) => Row(i, n) }),
      "nation" -> (StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
        (0 until 25).map(i => Row(i, s"NATION_$i", r.nextInt(5)))),
      "customer" -> (StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99),
          pick(r, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))))),
      "supplier" -> (StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99)))),
      "part" -> (StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        (0 until 200).map(i => Row(i.toLong,
          pick(r, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")) + " " +
            pick(r, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")),
          s"Brand#${1 + r.nextInt(25)}",
          pick(r, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
          1 + r.nextInt(50), 900.0 + i / 10.0))),
      "orders" -> (StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until 1500).map(i => Row(i.toLong, r.nextInt(150).toLong, pick(r, Seq("F", "O", "P")),
          money(r, 1000, 500000), day0.plusDays(r.nextInt(2404)),
          pick(r, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))),
      "lineitem" -> (StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
        (0 until 6000).map { _ =>
          val q = 1 + r.nextInt(50)
          Row(r.nextInt(1500).toLong, r.nextInt(200).toLong, r.nextInt(10).toLong,
            1 + r.nextInt(7), q.toDouble, money(r, 900.0 * q, 2100.0 * q),
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
            pick(r, Seq("F", "O")), day0.plusDays(1 + r.nextInt(2500)))
        }),
      "events" -> (StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), {
        var t = LocalDateTime.of(2024, 1, 1, 0, 0)
        (0 until 1000).map { i =>
          t = t.plusNanos((r.nextDouble() * 5.2e12).toLong / 1000 * 1000)
          Row(i.toLong, t, r.nextInt(15).toLong,
            pick(r, Seq("click", "error", "purchase", "signup", "view")),
            math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
            s"""{"k": ${r.nextInt(100)}}""")
        }
      }),
      "documents" -> (StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), {
        val texts = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until 500).map { i =>
          // one document in twenty is a lightly edited copy of an earlier one
          val text =
            if (i > 0 && r.nextInt(20) == 0) {
              val w = texts(r.nextInt(texts.size)).split(" ").filter(_ != "dup")
              (0 until 2).foreach(_ => w(r.nextInt(w.length)) = pick(r, Words))
              w.mkString(" ") + " dup"
            } else Seq.fill(10 + r.nextInt(90))(pick(r, Words)).mkString(" ")
          texts += text
          val lang = if (r.nextInt(5) < 2) "en" else pick(r, Seq("de", "es", "fr", "zh"))
          Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
        }
      }),
      "embeddings" -> (StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
        (0 until 500).map(i => Row(i.toLong,
          Seq.fill(64)((r.nextGaussian() * 0.125).toFloat), r.nextInt(10))))
    )
    // one plain file per table, as the engine's streaming readers expect
    // (they glob `<table>.parquet` files inside the directory); the ten
    // small writes run concurrently
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = tables.map { case (name, (schema, rows)) => Future {
      val staging = s"$dir/_staging_$name"
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
      graft.core.Fs.rmTree(staging)
      name -> rows.size
    } }
    Await.result(Future.sequence(writes), scala.concurrent.duration.Duration.Inf).toMap
  }
}
