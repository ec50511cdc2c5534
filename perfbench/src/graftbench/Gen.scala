package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The seed is the only knob: the same seed gives
  * the same bytes, and sizes never depend on it. */
object Gen {

  def rmTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  def treeBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  def treeFiles(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles()).map(_.map(treeFiles).sum).getOrElse(0L)

  /** Write `df` as ONE parquet file at `path` (the layout of a plain
    * `<table>.parquet` input file). */
  def writeSingle(df: DataFrame, path: String): Unit = {
    val tmp = new File(path + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path))
    rmTree(tmp)
  }

  private def df(spark: SparkSession, rows: Seq[Row], fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: Random, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  // ------------------------------------------------------------ analytics

  val DocWords: Array[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(" ")

  /** The tables the 116 queries read, shaped like the repository's test
    * data (TESTDATA.md): `scale` = 1 is ~6k lineitem rows, 500 documents
    * and 500 embeddings. Returns the input's sizes and shares. */
  def sfTables(spark: SparkSession, seed: Long, dir: String, scale: Int): Map[String, Any] = {
    new File(dir).mkdirs()
    val r = new Random(seed)
    val nCust = 150 * scale
    val nOrd = 1500 * scale
    val nLine = 6000 * scale
    val nEv = 1000 * scale
    val nDoc = 500 * scale
    val nEmb = 500 * scale

    writeSingle(df(spark, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) },
      "r_regionkey" -> IntegerType, "r_name" -> StringType), s"$dir/region.parquet")
    writeSingle(df(spark, (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      "n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      s"$dir/nation.parquet")

    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    writeSingle(df(spark, (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), money(r, -999.99, 9999.99), segs(r.nextInt(5)))),
      "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), s"$dir/customer.parquet")

    val t0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    writeSingle(df(spark, (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000), day(r, t0, 2404),
        prios(r.nextInt(5)))),
      "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType), s"$dir/orders.parquet")

    writeSingle(df(spark, (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong,
        r.nextInt(200 * scale).toLong, r.nextInt(10 * scale).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(r, 900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
        day(r, t0.plusDays(1), 2498))),
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType), s"$dir/lineitem.parquet")

    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evMicros = Array.fill(nEv)(r.nextLong(30L * 86400L * 1000000L)).sorted
    val types = Array("click", "error", "purchase", "signup", "view")
    writeSingle(df(spark, evMicros.indices.map(i => Row(i.toLong,
        ev0.plusNanos(evMicros(i) * 1000L), r.nextInt(150).toLong, types(r.nextInt(5)),
        money(r, 0.01, 200), s"""{"k": ${r.nextInt(100)}}""")),
      "event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      s"$dir/events.parquet")

    // documents: 5% near-duplicates (an earlier text + " dup"), 1% exact
    // duplicates, the rest fresh word salads of 10..99 words
    val langs = Array("en", "en", "en", "en", "es", "de", "fr", "zh")
    val texts = mutable.ArrayBuffer[String]()
    var nNear = 0
    var nExact = 0
    (0 until nDoc).foreach { i =>
      val u = r.nextDouble()
      val t =
        if (i > 10 && u < 0.05) { nNear += 1; texts(r.nextInt(i)) + " dup" }
        else if (i > 10 && u < 0.06) { nExact += 1; texts(r.nextInt(i)) }
        else Seq.fill(10 + r.nextInt(90))(DocWords(r.nextInt(DocWords.length))).mkString(" ")
      texts += t
    }
    writeSingle(df(spark, texts.indices.map(i => Row(i.toLong, texts(i),
        langs(r.nextInt(langs.length)), s"src${i % 20}", texts(i).length.toLong)),
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType), s"$dir/documents.parquet")

    writeSingle(df(spark, (0 until nEmb).map { i =>
        val v = Array.fill(64)(r.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
      },
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      s"$dir/embeddings.parquet")

    Map("lineitem_rows" -> nLine, "orders_rows" -> nOrd, "customer_rows" -> nCust,
      "events_rows" -> nEv, "documents_rows" -> nDoc, "embeddings_rows" -> nEmb,
      "documents_neardup_share" -> nNear.toDouble / nDoc,
      "documents_dup_share" -> nExact.toDouble / nDoc,
      "volume_hot_cell_share" -> 0.1,
      "bytes" -> treeBytes(new File(dir)))
  }

  // -------------------------------------------------------------- spatial

  /** A pages source holding only `lineitem.parquet` (l_orderkey,
    * l_linenumber) with `rows` rows; `Pages.volumePages` derives the points
    * (every 10th pid in the hot cell). */
  def lineitemOnly(spark: SparkSession, seed: Long, dir: String, rows: Long): Map[String, Any] = {
    new File(dir).mkdirs()
    val orders = math.max(1L, rows / 4)
    writeSingle(spark.range(0, rows, 1, 4).select(
        pmod(xxhash64(col("id"), lit(seed)), lit(orders)).as("l_orderkey"),
        (pmod(xxhash64(col("id"), lit(seed + 1)), lit(7L)) + 1).cast("int").as("l_linenumber")),
      s"$dir/lineitem.parquet")
    val hot = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(((col("l_orderkey") * 8 + col("l_linenumber")) % 10 === 0).cast("long").as("h"))
      .agg(sum(col("h"))).head().getLong(0)
    Map("points" -> rows, "hot_cell_share" -> hot.toDouble / rows,
      "bytes" -> new File(s"$dir/lineitem.parquet").length())
  }

  /** kNN probe points: uniform away from the poles, a quarter of them next
    * to the hot cell. */
  def probes(seed: Long, n: Int): Seq[(Int, Double, Double)] = {
    val r = new Random(seed * 31 + 7)
    (0 until n).map { i =>
      if (i % 4 == 0) (i, 2.29 + r.nextDouble() * 0.02, 48.85 + r.nextDouble() * 0.02)
      else (i, -179.0 + r.nextDouble() * 358.0, -70.0 + r.nextDouble() * 140.0)
    }
  }

  // ---------------------------------------------------------------- crawl

  private val Stop = Array("the", "a", "and", "of", "to", "in", "is")
  private def vocab(r: Random, lang: String, n: Int): Array[String] = {
    val cons = "bcdfghklmnprstvz"
    val vow = lang match { case "de" => "aeiouä"; case "fr" => "aeioué"; case "es" => "aeioñu"; case _ => "aeiou" }
    Array.fill(n) {
      (0 until 2 + r.nextInt(3)).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }.distinct
  }

  /** One generated crawl document. */
  final case class Doc(url: String, day: Int, text: String, kind: String, lang: String)

  /** The seeded crawl: `days` dumps, the first with `day0` docs, each
    * later one with `perDay` docs. Shares per dump: 5% exact duplicates
    * (same text, new url), 5% near-duplicates (one word changed), 2%
    * eval-contaminated (an 8-word span of an eval-wall doc), 3%
    * low-quality, and on later days 10% recrawls (a known url, edited
    * text); languages en 55%, de/fr/es 15% each. `docId` is the engine's
    * url identity, `evalBucket` its eval-wall test. */
  def crawl(seed: Long, days: Int, day0: Int, perDay: Int,
            docId: Seq[String] => Map[String, Long], evalBucket: Long => Boolean): Seq[Doc] = {
    val r = new Random(seed * 131 + 3)
    val langs = Seq("en", "de", "fr", "es")
    val vocabs = langs.map(l => l -> vocab(r, l, 400)).toMap
    def words(lang: String, n: Int): Seq[String] = Seq.fill(n) {
      if (lang == "en" && r.nextDouble() < 0.25) Stop(r.nextInt(Stop.length))
      else { val v = vocabs(lang); v(r.nextInt(v.length)) }
    }
    def pickLang(): String = {
      val u = r.nextDouble()
      if (u < 0.55) "en" else if (u < 0.70) "de" else if (u < 0.85) "fr" else "es"
    }
    val out = mutable.ArrayBuffer[Doc]()
    var serial = 0
    def fresh(d: Int, lang: String, text: String, kind: String): Doc = {
      serial += 1
      val host = s"h${r.nextInt(40)}.example.${Seq("com", "org", "net")(r.nextInt(3))}"
      Doc(s"https://$host/$lang/p$serial", d, text, kind, lang)
    }
    (0 until days).foreach { d =>
      val n = if (d == 0) day0 else perDay
      val prior = out.toIndexedSeq
      val today = mutable.ArrayBuffer[Doc]()
      (0 until n).foreach { _ =>
        val pool = prior ++ today
        val u = r.nextDouble()
        val lang = pickLang()
        val doc =
          if (pool.size > 20 && u < 0.05) {
            val src = pool(r.nextInt(pool.size)); fresh(d, src.lang, src.text, "exact_dup")
          } else if (pool.size > 20 && u < 0.10) {
            val src = pool(r.nextInt(pool.size))
            val ws = src.text.split(" ")
            ws(r.nextInt(ws.length)) = vocabs(src.lang)(r.nextInt(vocabs(src.lang).length))
            fresh(d, src.lang, ws.mkString(" "), "near_dup")
          } else if (pool.size > 20 && u < 0.13) {
            fresh(d, lang, Seq.fill(30)(vocabs(lang)(r.nextInt(3))).mkString(" "), "low_quality")
          } else if (d > 0 && u < 0.23 && prior.exists(p => !today.exists(_.url == p.url))) {
            val fresh = prior.filterNot(p => today.exists(_.url == p.url))
            val src = fresh(r.nextInt(fresh.size))
            val ws = src.text.split(" ").toBuffer
            ws ++= words(src.lang, 3)
            Doc(src.url, d, ws.mkString(" "), "recrawl", src.lang)
          } else fresh(d, lang, words(lang, 30 + r.nextInt(50)).mkString(" "), "fresh")
        today += doc
      }
      out ++= today
    }
    // contamination: replace 2% of non-eval docs by docs quoting an 8-word
    // span of an eval-wall doc delivered in the same dump (the eval wall is
    // a url-hash rule; each dump's eval slice is its own wall-side docs)
    val ids = docId(out.map(_.url).distinct.toSeq)
    val evalDocs = out.filter(d => evalBucket(ids(d.url)) && d.kind == "fresh")
    if (evalDocs.nonEmpty) {
      val targets = out.indices.filter(i => out(i).kind == "fresh" && !evalBucket(ids(out(i).url)) &&
        !out.exists(o => o.url == out(i).url && o.kind == "recrawl") &&
        evalDocs.exists(_.day == out(i).day))
      val k = math.max(1, (out.size * 0.02).toInt)
      r.shuffle(targets).take(k).foreach { i =>
        val sameDay = evalDocs.filter(_.day == out(i).day)
        val ev = sameDay(r.nextInt(sameDay.size))
        val ws = ev.text.split(" ")
        val at = r.nextInt(math.max(1, ws.length - 8))
        val span = ws.slice(at, at + 8)
        val own = out(i).text.split(" ")
        out(i) = out(i).copy(text = (own.take(10) ++ span ++ own.drop(10)).mkString(" "),
          kind = "contaminated")
      }
    }
    out.toSeq
  }

  /** The payload of a response record: HTTP status line and headers, then
    * an html page whose extracted text is exactly `text`. */
  def httpPayload(text: String): Array[Byte] = {
    val body = "<html><head><style>p{color:red}</style>" +
      "<script>var x = 1 < 2;</script></head><body><p>" +
      text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;") +
      "</p></body></html>"
    val b = body.getBytes("UTF-8")
    (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n").getBytes("UTF-8") ++ b
  }

  /** Write each day's docs as `archives` `.warc.gz` files under
    * `<dir>/day<d>/`, plus hard links of all archives in `<dir>/all/`
    * (the streaming drop directory). Returns the WARC bytes per day. */
  def writeDumps(docs: Seq[Doc], dir: String, archives: Int): Map[Int, Long] = {
    val all = new File(s"$dir/all"); all.mkdirs()
    docs.groupBy(_.day).toSeq.sortBy(_._1).map { case (d, ds) =>
      val dd = new File(s"$dir/day$d"); dd.mkdirs()
      val date = f"2024-02-${d + 1}%02dT00:00:00Z"
      ds.zipWithIndex.groupBy(_._2 % archives).toSeq.sortBy(_._1).foreach { case (a, part) =>
        val f = new File(dd, f"crawl-d$d%02d-$a%03d.warc.gz")
        graft.io.WarcIO.writeLocal(part.iterator.map { case (doc, i) =>
          ("response", s"<urn:uuid:d$d-$i>", doc.url, date,
            "application/http; msgtype=response", httpPayload(doc.text))
        }, f)
        Files.createLink(Paths.get(all.getPath, f.getName), f.toPath)
      }
      d -> treeBytes(dd)
    }.toMap
  }
}
