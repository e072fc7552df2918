package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import java.util.{Base64, SplittableRandom}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Everything here runs on one thread and is a pure
  * function of its arguments, so one seed always yields the same bytes.
  *
  * Two families of input:
  *  - the corpus tables (`customer`, `orders`, … `documents`, `embeddings`)
  *    in the schema `graft.Tables` reads, sized by a scale factor the way
  *    the TPC-H-style corpus is (sf 0.01 = 1 500 customers, 60 000
  *    lineitems);
  *  - the STEDI feed: `redis-server` customer envelopes (FIXTURES.md §1–2)
  *    and `stedi-events` risk events (§3). Every risk event carries a
  *    unique score, so each joined output row names the event behind it.
  */
object Gen {

  // ---------------------------------------------------------------- corpus

  val Vocab: IndexedSeq[String] = ("row the query stream fast spark line small " +
    "customer group value hash batch sort data big filter dup key agg scan " +
    "slow table part a merge window order column join vector").split(' ').toIndexedSeq

  private val Regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = IndexedSeq("red", "blue", "green", "small", "hot", "old", "big", "dark")
  private val Nouns = IndexedSeq("widget", "bolt", "ring", "plate", "rod", "anvil", "gear", "pipe")
  private val PTypes = IndexedSeq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val Langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDate, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days)).atStartOfDay()

  /** Row counts per table at scale factor `sf`. */
  def sizes(sf: Double): Map[String, Int] = {
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    Map("region" -> 5, "nation" -> 25, "customer" -> n(150000),
      "supplier" -> n(10000), "part" -> n(200000), "orders" -> n(1500000),
      "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> math.max(100, n(50000)), "embeddings" -> math.max(100, n(20000)))
  }

  /** The corpus tables as (name, schema, rows), rows generated lazily. */
  def tables(sf: Double, seed: Long): Seq[(String, StructType, Iterator[Row])] = {
    val sz = sizes(sf)
    def rnd(table: String) = new SplittableRandom(seed * 31 + table.hashCode)
    val nCust = sz("customer"); val nSupp = sz("supplier"); val nPart = sz("part")
    val nOrd = sz("orders")
    val d0 = LocalDate.of(1995, 1, 1)
    Seq(
      ("region", StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))),
        Regions.indices.iterator.map(i => Row(i, Regions(i)))),
      ("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
        (0 until 25).iterator.map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))), {
        val r = rnd("customer")
        (0 until nCust).iterator.map(i => Row(i.toLong, f"Customer#$i%09d",
          r.nextInt(25), money(r, -999.99, 9999.99), Segments(r.nextInt(5))))
      }),
      ("supplier", StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))), {
        val r = rnd("supplier")
        (0 until nSupp).iterator.map(i => Row(i.toLong, f"Supplier#$i%09d",
          r.nextInt(25), money(r, -999.99, 9999.99)))
      }),
      ("part", StructType(Seq(StructField("p_partkey", LongType),
        StructField("p_name", StringType), StructField("p_brand", StringType),
        StructField("p_type", StringType), StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))), {
        val r = rnd("part")
        (0 until nPart).iterator.map(i => Row(i.toLong,
          s"${Colors(r.nextInt(Colors.size))} ${Nouns(r.nextInt(Nouns.size))}",
          s"Brand#${1 + r.nextInt(25)}", PTypes(r.nextInt(PTypes.size)),
          1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
      }),
      ("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampNTZType),
        StructField("o_orderpriority", StringType))), {
        val r = rnd("orders")
        (0 until nOrd).iterator.map(i => Row(i.toLong, r.nextInt(nCust).toLong,
          "FOP".charAt(r.nextInt(3)).toString, money(r, 1000, 500000),
          day(r, d0, 2404), Priorities(r.nextInt(5))))
      }),
      ("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampNTZType))), {
        val r = rnd("lineitem")
        (0 until sz("lineitem")).iterator.map { _ =>
          val qty = (1 + r.nextInt(50)).toDouble
          Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
            1 + r.nextInt(7), qty, math.round(qty * money(r, 900, 2100) * 100) / 100.0,
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
            "FO".charAt(r.nextInt(2)).toString, day(r, d0.plusDays(1), 2498))
        }
      }),
      ("events", StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampNTZType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))), {
        val r = rnd("events")
        val n = sz("events"); val users = math.max(1, nCust / 10)
        val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
        val spanUs = 30L * 86400L * 1000000L
        (0 until n).iterator.map { i =>
          val us = (spanUs.toDouble * (i + r.nextDouble()) / n).toLong
          Row(i.toLong, t0.plusNanos(us * 1000), r.nextInt(users).toLong,
            EventTypes(r.nextInt(5)), math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0 + 0.01,
            s"""{"k": ${r.nextInt(100)}}""")
        }
      }),
      ("documents", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))), {
        val r = rnd("documents")
        val texts = documentTexts(sz("documents"), r)
        texts.indices.iterator.map { i =>
          Row(i.toLong, texts(i), Langs(r.nextInt(Langs.size)), s"src${i % 20}",
            texts(i).length.toLong)
        }
      }),
      ("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))), {
        val r = rnd("embeddings")
        val centers = IndexedSeq.fill(10)(IndexedSeq.fill(64)(r.nextDouble() * 2 - 1))
        (0 until sz("embeddings")).iterator.map { i =>
          val label = r.nextInt(10)
          val v = centers(label).map(c => c * 0.3 + gaussian(r))
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat), label)
        }
      }))
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Docs of 10–100 vocabulary words; about 2% are exact copies and 4% near
    * copies (a few words replaced) of an earlier doc, so the dedup operators
    * have work to find. */
  def documentTexts(n: Int, r: SplittableRandom): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    for (i <- 0 until n) {
      val p = r.nextInt(100)
      out += (if (i > 10 && p < 2) out(r.nextInt(i))
        else if (i > 10 && p < 6) {
          val ws = out(r.nextInt(i)).split(' ')
          for (_ <- 0 until 1 + r.nextInt(3)) ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.size))
          ws.mkString(" ")
        } else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" "))
    }
    out.toIndexedSeq
  }

  /** Write every corpus table as one parquet file, `dir/<table>.parquet`,
    * the layout of the TPC-H-style corpus that DuckDB reads too. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit =
    for ((name, schema, rows) <- tables(sf, seed)) {
      val tmp = Paths.get(dir, s".$name")
      spark.createDataFrame(java.util.Arrays.asList(rows.toVector: _*), schema)
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"$name.parquet"))
      Files.walk(tmp).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }

  // ------------------------------------------------------------ STEDI feed

  private val First = IndexedSeq("Sam", "Jason", "Santosh", "Ada", "Lin", "Maria",
    "Omar", "Priya", "Chen", "Ivan", "Zoe", "Tariq", "Nora", "Ken", "Ines", "Raj")
  private val Last = IndexedSeq("Test", "Mitra", "Fibonnaci", "Lovelace", "Abara",
    "Ahmed", "Khatri", "Jones", "Wu", "Lopez", "Smith", "Gonzales", "Phillips")
  private def b64(s: String) = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  final case class Customer(name: String, email: String, phone: String, birthDay: String)

  /** `n` customers with unique emails, one seeded draw each. */
  def customers(n: Int, seed: Long): IndexedSeq[Customer] = {
    val r = new SplittableRandom(seed * 31 + 7)
    (0 until n).map { i =>
      val f = First(r.nextInt(First.size)); val l = Last(r.nextInt(Last.size))
      val bd = LocalDate.of(1940, 1, 1).plusDays(r.nextInt(365 * 30))
      Customer(s"$f $l", s"$f.$l.$i@test.com", f"801555${r.nextInt(10000)}%04d", bd.toString)
    }
  }

  /** FIXTURES.md §1: a Kafka Connect Redis envelope with the base64 Customer
    * JSON in `zSetEntries[0].element` (and the lowercase twin). */
  def redisEnvelope(c: Customer): String = {
    val el = b64(s"""{"customerName":"${c.name}","email":"${c.email}",""" +
      s""""phone":"${c.phone}","birthDay":"${c.birthDay}"}""")
    val entries = s"""[{"element":"$el","score":0.0}]"""
    s"""{"key":"${b64("Customer")}","existType":"NONE","ch":false,"incr":false,""" +
      s""""zSetEntries":$entries,"zsetEntries":$entries}"""
  }

  /** A non-Customer Redis write that P1's null filter must drop. */
  def otherEnvelope(i: Int): String = {
    val el = b64(s"""{"reservationId":"$i","customerName":"Nobody"}""")
    s"""{"key":"${b64("SortedSet")}","existType":"NONE","ch":false,"incr":false,""" +
      s""""zSetEntries":[{"element":"$el","score":$i.0}]}"""
  }

  /** The `redis-server` lines for `cs`: one envelope per customer, with a
    * non-Customer write after every 50th. */
  def redisLines(cs: IndexedSeq[Customer]): IndexedSeq[String] =
    cs.zipWithIndex.flatMap { case (c, i) =>
      if (i % 50 == 49) Seq(redisEnvelope(c), otherEnvelope(i)) else Seq(redisEnvelope(c))
    }

  private val IsoSeconds = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** Score of the `seq`-th risk event: unique and exact as a FLOAT. */
  def score(seq: Int): Float = seq + 0.5f
  def seqOfScore(score: Double): Int = math.floor(score).toInt

  /** FIXTURES.md §3: risk events `seq` in [from, until). The seed sets the
    * interleave of customers across the feed; one event in 20 names an
    * unknown email, so it joins nothing. */
  def riskLines(cs: IndexedSeq[Customer], seed: Long, from: Int, until: Int): IndexedSeq[String] =
    (from until until).map { seq =>
      val r = new SplittableRandom(seed * 1000003L + seq)
      val email = if (r.nextInt(20) == 0) s"ghost.$seq@test.com" else cs(r.nextInt(cs.size)).email
      val ts = LocalDateTime.of(2020, 9, 1, 0, 0).plusSeconds(r.nextInt(86400 * 30))
      s"""{"customer":"$email","score":${score(seq)},"riskDate":"${IsoSeconds.format(ts)}.${seq % 1000}Z"}"""
    }

  /** Write `lines` to `dest` by way of a temp file and an atomic rename, so
    * a file source never lists a half-written file. */
  def writeAtomically(dest: Path, lines: Iterable[String]): Unit = {
    val tmp = dest.resolveSibling("." + dest.getFileName + ".tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
  }
}
