package kgbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same rows; nothing
  * here reads a stored fixture.
  */
object Gen {

  /** One generated document in the `documents.parquet` schema. */
  final case class DocRow(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** The 31-word vocabulary of the fixture corpus (the tagger's patterns
    * and the alias dictionary are written against it).
    */
  val vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** Language shares of the fixture corpus (`sf0.1/documents.parquet`,
    * 5,000 documents): en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%.
    */
  private val langs = Array("en", "zh", "es", "fr", "de")
  private val langWeights = Array(0.412, 0.151, 0.149, 0.148, 0.140)

  /** Share of the fixture's documents that repeat an earlier text: 8
    * texts appear twice among 5,000 documents.
    */
  val dupShare = 8.0 / 5000

  /** Phrases that exercise the splitter and tagger edge cases: known
    * abbreviations that must not end a sentence, the roman-numeral
    * mis-split ("Elisabeth II." before a capital), quoted titles, multi-word
    * aliases that a sentence end breaks apart, and cleanup input (newlines,
    * whitespace runs, soft hyphens).
    */
  private val traps: Array[String] = Array(
    "Dr. Anton Schwarz visited Dresden",
    "z.B. spark and the window",
    "Nr. 5 in the table scan",
    "Elisabeth II. Dresden",
    "Elisabeth II. war in Dresden",
    "the \"Traumwerkstadt\" premiere",
    "Traumwerkstadt by Anton Schwarz",
    "a hash. Join",
    "the. Window",
    "table. Scan of data",
    "hash join and merge",
    "etc. spark",
    "line\nbreak stream",
    "soft\u00ADhyphen vector",
    "wide   gap   customer")

  private def pick(r: SplittableRandom, a: Array[String]): String =
    a(r.nextInt(a.length))

  private def weighted(r: SplittableRandom, items: Array[String],
      w: Array[Double]): String = {
    var x = r.nextDouble()
    var i = 0
    while (i < items.length - 1 && x >= w(i)) { x -= w(i); i += 1 }
    items(i)
  }

  /** A sentence of `n` words from [[vocab]], capitalized, ending in `.`,
    * `?` or `!`; one in five embeds a trap.
    */
  private def sentence(r: SplittableRandom, n: Int): String = {
    val words = Array.fill(n)(pick(r, vocab))
    if (r.nextInt(5) == 0) words(r.nextInt(n)) = pick(r, traps)
    val first = words(0)
    words(0) = first.substring(0, 1).toUpperCase + first.substring(1)
    val end = r.nextInt(10) match { case 0 => "?"; case 1 => "!"; case _ => "." }
    words.mkString(" ") + end
  }

  private def paragraph(r: SplittableRandom, sentences: Int): String =
    (0 until sentences).map(_ => sentence(r, 4 + r.nextInt(11))).mkString(" ")

  /** Sentences of 4-14 words that add up to `words` words. */
  private def sized(r: SplittableRandom, words: Int): String = {
    val out = Seq.newBuilder[String]
    var left = words
    while (left > 0) {
      val n = math.min(left, 4 + r.nextInt(11))
      out += sentence(r, n)
      left -= n
    }
    out.result().mkString(" ")
  }

  /** Base corpus of `n` documents, shaped on the fixture corpus: a length
    * of 8-100 words, uniform (fixture: p10/p50/p90 of 19/54/90 words),
    * languages at the fixture's shares, sources uniform over `sources`
    * repos (fixture: 20 repos of 250 documents), and [[dupShare]] of the
    * documents repeating an earlier text. The fixture has no punctuation;
    * the text here is cut into sentences with traps (see [[sentence]]).
    * The first `longDocs` documents have ~`longSentences` sentences each;
    * the fixture's longest is 577 characters.
    */
  def baseDocs(seed: Long, n: Int, sources: Int, longDocs: Int,
      longSentences: Int): Seq[DocRow] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i < longDocs) paragraph(r, longSentences)
        else if (i > 0 && r.nextDouble() < dupShare) texts(r.nextInt(i))
        else sized(r, 8 + r.nextInt(93))
      DocRow(i.toLong, texts(i), weighted(r, langs, langWeights),
        s"src${r.nextInt(sources)}", texts(i).length.toLong)
    }
  }

  /** Write `base` replicated `repl` times (replica k has doc ids
    * k*n .. k*n+n-1, so every path is unique) as `dir/documents.parquet`,
    * in `files` files.
    */
  def writeCorpus(spark: SparkSession, base: Seq[DocRow], repl: Int,
      dir: String, files: Int): Unit = {
    import spark.implicits._
    val n = base.length.toLong
    spark.createDataset(base).toDF()
      .crossJoin(spark.range(repl).withColumnRenamed("id", "k"))
      .withColumn("doc_id", col("k") * n + col("doc_id"))
      .drop("k")
      .repartition(files, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** A links relation (repo, path, entity_id) over `vocabSize` entities
    * with Zipf(s = 1.1) popularity: each of `docs` documents links 1-6
    * entities, so the most popular entities become hubs. A few ids carry
    * non-ASCII characters so the minimum-id rule is exercised on UTF-8
    * byte order.
    */
  def links(seed: Long, docs: Int, vocabSize: Int): Seq[(String, String, String)] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val cdf = {
      val w = (1 to vocabSize).map(k => math.pow(k.toDouble, -1.1)).toArray
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def entity(): String = {
      val x = r.nextDouble()
      var lo = 0
      var hi = cdf.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < x) lo = mid + 1 else hi = mid
      }
      entityId(lo)
    }
    (0 until docs).flatMap { d =>
      val repo = s"repo${d % 97}"
      val path = s"f$d.scala"
      Seq.fill(1 + r.nextInt(6))((repo, path, entity()))
    }
  }

  private val accents = Array("\u00E9", "\u03A9", "\uE000", "\uD83D\uDE00")

  /** Entity id for rank `k`: a zero-padded number, with one in 50 ids
    * prefixed by a non-ASCII character (a BMP letter, a private-use char
    * or an emoji, whose UTF-16 and UTF-8 orders disagree).
    */
  def entityId(k: Int): String =
    if (k % 50 == 7) f"${accents((k / 50) % accents.length)}Q$k%07d"
    else f"Q$k%07d"

  /** Write a links relation as `dir/links.parquet` in `files` files. */
  def writeLinks(spark: SparkSession, rows: Seq[(String, String, String)],
      dir: String, files: Int): Unit = {
    import spark.implicits._
    rows.toDF("repo", "path", "entity_id")
      .repartition(files, col("path"))
      .write.mode("overwrite").parquet(s"$dir/links.parquet")
  }
}
