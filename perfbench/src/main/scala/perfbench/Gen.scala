package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.kg.{Dims, HtmlText}

/** Seeded input generators. Every row is drawn from its own
  * `SplittableRandom(mix(seed, stream, index))`, so a table depends only on
  * the seed and its size, never on partitioning or thread timing. Tables are
  * written once per (workload, seed) and reused by later runs. */
object Gen {

  /** The vocabulary (30 words) of the synthetic `documents` table. */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")
  private val Predicates = Array("includes", "contains", "overlies",
    "underlies", "is found in", "is found near")
  private val Epoch = 1704067200L // 2024-01-01T00:00:00Z

  def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h = (h ^ (h >>> 31)) * 0xBF58476D1CE4E5B9L + c
    h = (h ^ (h >>> 29)) * 0x94D049BB133111EBL
    h ^ (h >>> 32)
  }
  def rng(seed: Long, stream: Long, i: Long) = new SplittableRandom(mix(seed, stream, i))

  val PageSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  def pageRow(url: String, i: Long, text: String, lang: String): Row =
    Row(url, new Timestamp((Epoch + i) * 1000L), HtmlText.render(text, lang), text, lang)

  private def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Vocab(r.nextInt(Vocab.length)))

  private val locations: Array[String] = Dims.gazetteer.map(_.name).toArray

  // ---- ingest_dup ----------------------------------------------------------

  /** What the generator knows about one page: its duplicate cluster (-1 for
    * the boilerplate bucket), the dictionary strat name its mention was
    * made from, and how the mention was varied (`exact`, `case`, `fm` or
    * `typo`). */
  final case class Truth(cluster: Int, source: String, kind: String)

  /** `droppable` is what an exact dedup gate drops: every page of a
    * duplicate cluster but one. */
  final case class DupSpec(pages: Seq[Row], variants: Array[String], truth: Map[String, Truth],
                           droppable: Int, dupShare: Double, hotBucket: Int, variantShare: Double)

  private val Boilerplate = ("cookie policy privacy notice terms of service " +
    "subscribe newsletter contact us about careers press sitemap accessibility " +
    "copyright all rights reserved language region help center feedback " +
    "advertise partners developers status security").split(" ")

  /** Surface variant of a strat name, with its kind: upper case, `Fm.` for
    * the rank word, or a one-character deletion. */
  def variant(name: String, r: SplittableRandom): (String, String) = r.nextInt(3) match {
    case 0 => ("case", name.toUpperCase)
    case 1 => ("fm", name + " Fm.")
    case _ =>
      val letters = name.indices.filter(i => name(i).isLetter && i > 0)
      val cut = letters(r.nextInt(letters.size))
      ("typo", name.substring(0, cut) + name.substring(cut + 1))
  }

  /** ingest_dup: ~300-char pages. 5% carry one boilerplate template (one hot
    * LSH bucket), ~40% are near-duplicates of an earlier original (one token
    * appended, Jaccard above 0.9), the rest are originals whose strat
    * mentions are seeded surface variants of the first `dictSize` names of
    * the dictionary `Dims.snapshot` builds. */
  def dupPages(seed: Long, n: Int, dictSize: Int): DupSpec = {
    val stratNames = (Dims.pinnedStrat ++ Dims.syntheticStrat(dictSize - Dims.pinnedStrat.size))
      .map(_.strat_name).toArray
    val hot = math.max(2, n / 20)
    val nDup = (n * 0.4).toInt
    val nOrig = n - hot - nDup
    val variants = scala.collection.mutable.LinkedHashSet[String]()
    val origs = (0 until nOrig).map { i =>
      val r = rng(seed, 3, i)
      val toks = scala.collection.mutable.ArrayBuffer[String]()
      while (toks.mkString(" ").length < 250 || toks.distinct.size < 20)
        toks ++= words(r, 8)
      val strat = stratNames(r.nextInt(stratNames.length))
      val (kind, v) = if (r.nextInt(4) == 0) ("exact", strat) else variant(strat, r)
      if (v != strat) variants += v
      val at = r.nextInt(toks.size)
      toks.insert(at, s"in ${locations(r.nextInt(locations.length))} the $v " +
        Predicates(r.nextInt(Predicates.length)))
      (toks.mkString(" "), Truth(i, strat, if (v == strat) "exact" else kind))
    }
    val dups = (0 until nDup).map { i =>
      val r = rng(seed, 4, i)
      val (text, truth) = origs(r.nextInt(nOrig))
      (text + " " + Seq("dup", "copy", "mirror")(r.nextInt(3)), truth)
    }
    val hots = (0 until hot).map { i =>
      (Boilerplate.mkString(" ") + " " + Vocab(rng(seed, 5, i).nextInt(Vocab.length)),
        Truth(-1, "", ""))
    }
    // interleave deterministically so no class clusters in one file
    val pages = (origs ++ dups ++ hots).zipWithIndex
      .sortBy { case (_, j) => mix(seed, 6, j) }.map(_._1)
      .zipWithIndex.map { case ((t, truth), i) =>
        (pageRow(s"https://bench.graft/dup/$seed/$i", i, t, "en"), truth)
      }
    val withVariant = origs.count(_._2.kind != "exact")
    DupSpec(pages.map(_._1), variants.toArray,
      pages.map { case (row, t) => row.getString(0) -> t }.toMap,
      nDup + hot - 1, nDup.toDouble / n, hot, withVariant.toDouble / n)
  }

  // ---- query_pass tables (the synthetic star schema, sf0.001 cardinalities) ----

  private def day(base: String, d: Int) =
    Timestamp.valueOf(java.time.LocalDate.parse(base).plusDays(d).atStartOfDay())
  private def money(r: SplittableRandom, lo: Double, hi: Double) =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def queryTables(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    def f(n: String, t: DataType) = StructField(n, t)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val supplier = (0 until 10).map { i =>
      val r = rng(seed, 10, i)
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (0 until 150).map { i =>
      val r = rng(seed, 11, i)
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        segs(r.nextInt(5)))
    }
    val adj = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val noun = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val part = (0 until 200).map { i =>
      val r = rng(seed, 12, i)
      Row(i.toLong, s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 1000) * 0.1)
    }
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until 1500).map { i =>
      val r = rng(seed, 13, i)
      Row(i.toLong, r.nextInt(150).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        money(r, 1000, 500000), day("1995-01-01", r.nextInt(2400)), prios(r.nextInt(5)))
    }
    val lineitem = (0 until 6000).map { i =>
      val r = rng(seed, 14, i)
      val pk = r.nextInt(200)
      val qty = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(1500).toLong, pk.toLong, r.nextInt(10).toLong, 1 + r.nextInt(7), qty,
        math.round(qty * (900.0 + pk * 0.1) * 100) / 100.0, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
        day("1995-01-02", r.nextInt(2500)))
    }
    val etypes = Array("click", "error", "purchase", "signup", "view")
    var clock = Epoch * 1000000L
    val events = (0 until 1000).map { i =>
      val r = rng(seed, 15, i)
      clock += (-math.log(1 - r.nextDouble()) * 2.6e9).toLong
      Row(i.toLong, new Timestamp(clock / 1000), r.nextInt(150).toLong,
        etypes(r.nextInt(5)), money(r, 0.01, 490.0), s"""{"k": ${r.nextInt(100)}}""")
    }
    val docTexts = (0 until 500).map { i =>
      val r = rng(seed, 16, i)
      words(r, 10 + r.nextInt(91)).mkString(" ")
    }
    val documents = docTexts.indices.map { i =>
      val r = rng(seed, 17, i)
      val text = if (i > 0 && r.nextInt(20) == 0) docTexts(r.nextInt(i)) + " dup" else docTexts(i)
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
    val embeddings = (0 until 500).map { i =>
      val r = rng(seed, 18, i)
      val v = Array.fill(64)(r.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), customer),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampType), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampType))), lineitem),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), events),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = false)),
        f("label", IntegerType))), embeddings))
  }

  // ---- writing -------------------------------------------------------------

  /** Write rows as `files` parquet files in a fixed order. Writes to a
    * sibling temp dir and renames, so a killed run never leaves a partial
    * table that a later run would trust. */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: String,
            files: Int): Unit = {
    val tmp = dir + ".tmp"
    Files.rm(tmp)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.parquet(tmp)
    Files.rm(dir)
    new java.io.File(tmp).renameTo(new java.io.File(dir))
  }
}
