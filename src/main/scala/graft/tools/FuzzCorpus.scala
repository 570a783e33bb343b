package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Adversarial corpus generator for the oracle boundary (VERDICT r16
 * item 4). The 212-query gate runs over MakeScale's well-behaved
 * synthetic text; every cross-engine trap found so far (truncating vs
 * floor division, ±0.0, letterless docs) was found by hand. This tool
 * swaps `documents`/`embeddings` for a corpus built FROM the trap
 * classes — empty and whitespace-only docs, letterless docs,
 * astral-plane unicode (emoji, CJK-B, combining marks, full-width),
 * 1-token docs, an 8k-char doc, exact/near/offset-shifted duplicate
 * families, CRLF/tab whitespace zoo, regex metacharacters, emails and
 * long digit runs, stopword-pure language samples, HTML-ish text with
 * quoted `>` — plus zero vectors, exact-tie vectors, scaled-collinear
 * vectors and a 1e18 magnitude vector on the embedding side. The other
 * eight tables are byte-copied from the base dir (their queries aren't
 * text-sensitive; raw copy also sidesteps events' TIMESTAMP(NANOS)).
 *
 * Determinism: everything derives from (seed, id) through a splitmix64
 * step — no RNG state, no wall clock — so the corpus is a reproducible
 * fixture, and any divergence it finds becomes a pinned regression.
 *
 * Sources cycle src0..src19 (the MixWeights domain) and langs cover
 * the base corpus's {en, es, de, zh}, so every quota/solver/langid arm
 * stays driveable. FuzzSpec runs the FULL registry over the result and
 * diffs against DuckDB via tools/check.py — the same gate the driver
 * runs, pointed at hostile input.
 */
object FuzzCorpus {

  private val CopiedTables = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")

  private def astral(cp: Int): String = new String(Character.toChars(cp))
  private val Rocket = astral(0x1F680)    // emoji, astral plane
  private val CjkB = astral(0x20000)      // CJK extension B
  private val MathS = astral(0x1D54A)     // 𝕊 mathematical double-struck

  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** The adversarial document texts, each tagged with a lang label.
    * Order is the doc_id order — STABLE, it's a fixture. */
  private[graft] def docTexts(seed: Long): Seq[(String, String)] = {
    val words = Vector("spark", "group", "query", "row", "data", "slow",
      "small", "filter", "customer", "line", "table", "scan", "merge",
      "part", "window", "key", "order", "sort", "fast", "agg")
    def sentence(k: Long, n: Int): String =
      (0 until n).map(i => words(
        ((splitmix(seed * 31 + k * 997 + i) >>> 8) % words.size).toInt))
        .mkString(" ")

    val empties = Seq.fill(6)("en" -> "")
    val whitespace = Seq(" ", "\t", "\n", "  \t  ", "\r\n", " \n \t ")
      .map("en" -> _)
    val letterless = Seq("12345", "!!! ??? ...", "9 8 7 6 5", "____",
      "1234567890123 4567", "()[]{}", "+-*/=", "100.00 200.00", "#$%^&*",
      "0", " ", "3.14159 2.71828").map("en" -> _)
    val oneToken = Seq("word", "a", "Z", "hello", Rocket, CjkB, "café",
      "naïve", "ßharp", "word").map("en" -> _)
    val unicodeZoo = Seq(
      s"$MathS$Rocket$Rocket mixed astral and ascii",
      "combining é acute and ö umlaut marks",
      "ＳＰＡＲＫ full width letters",
      s"$Rocket $Rocket $Rocket $Rocket",
      "ligature ﬁle and ﬂow",
      s"interleaved a${Rocket}b${CjkB}c words",
      "zero​width​space joined",
      "right-to-left مرحبا arabic",
      s"$CjkB$CjkB$CjkB",
      "snowman ☃ and quarter ¼ symbols",
      s"tail astral $MathS",
      "ümläüts éverywhere èêë")
      .map("en" -> _)
    val big = {
      val base = sentence(1, 40)
      Seq("en" -> (base + " ").repeat(25).trim,
        "en" -> ((base + " ").repeat(25) + "unique big tail marker").trim,
        "de" -> (sentence(2, 40) + " ").repeat(20).trim,
        "es" -> (sentence(3, 35) + " ").repeat(20).trim)
    }
    val dupBase = sentence(4, 30)
    val exactDups = Seq.fill(8)("en" -> dupBase)
    val nearDups = (0 until 6).map(i =>
      "en" -> dupBase.replaceFirst(" \\w+ ", s" swapped$i "))
    // the same 80-token span planted at shifted offsets (CDC's reason
    // to exist: fixed windows re-align, content-defined cuts don't)
    val span = sentence(5, 80)
    val shifted = (0 until 6).map(i =>
      "en" -> (sentence(6 + i, i) + (if (i == 0) "" else " ") + span))
    val whitespaceZoo = Seq("a  b   c", "line1\nline2\nline3", "tab\tsep\tcols",
      "trailing space ", " leading space", "a\r\nb\r\nc", "one\n\n\ntwo",
      "mix \t\n of all", "dot . spaced . out", "x").map("en" -> _)
    val regexSpecial = Seq("a.b*c", "x(y)z", "[brackets] here",
      "back\\slash path", "per%cent and under_score", "quote'single",
      "double\"quote", "pipe|and&amp", "caret^dollar$", "plus+question?")
      .map("en" -> _)
    val pii = Seq(
      "contact me at bob@example.com now",
      "two mails a@b.co and c.d@e-f.org in one",
      "digits 123456789012 end",
      "card 4111111111111111 and phone 5551234567",
      "email@start.io leads",
      "ends with trail@end.net",
      "no pii here at all just words",
      "id 99999999999999999999 overflowing long",
      "bob@example.com",
      "123456789012").map("en" -> _)
    val langs = Seq(
      "es" -> "el la de que y en un ser se no por con para su al lo como",
      "es" -> "los las una del es mas pero sus le ya o este si porque",
      "de" -> "der die und in den von zu das mit sich des auf ist nicht",
      "de" -> "eine als auch es an werden aus er hat dass sie nach wird",
      "zh" -> "的一是不了人我在有他",
      "zh" -> "這中大來上國個到說們",
      "en" -> ("the of and a to in is you that it he was for on are " +
        "as with his they I"),
      "en" -> "the the the the the the the the the the",
      "zh" -> ("mixed english 和中文 in one line " +
        "的一是"),
      "es" -> "spark de la query el filter que scan")
    val htmlish = Seq(
      "<b>bold</b> text & <a href='x'>link</a>",
      "5 > 3 and 2 < 4 plain comparisons",
      "<div class=\"a>b\">quoted gt inside attr</div>",
      "&amp; &lt; &gt; entities only",
      "<p>para</p><p>second</p>",
      "unclosed <b tag drifts").map("en" -> _)
    val ballast = (0 until 12).map(i =>
      Seq("en", "es", "de", "zh")(i % 4) -> sentence(100 + i, 12 + i))

    empties ++ whitespace ++ letterless ++ oneToken ++ unicodeZoo ++
      big ++ exactDups ++ nearDups ++ shifted ++ whitespaceZoo ++
      regexSpecial ++ pii ++ langs ++ htmlish ++ ballast
  }

  /** Adversarial embeddings, one per doc: ids 0-3 zero vectors, 4-7
    * exact duplicates of one unit vector, 8-11 the same direction at
    * scales 1/2/4/8 (cosine ties, dot differs), 12 a 1e18-magnitude
    * vector (float-overflow probe), the rest splitmix pseudo-random
    * in [-1, 1). */
  private[graft] def embedding(seed: Long, v: Long, dim: Int): Array[Float] = {
    if (v < 4) Array.fill(dim)(0.0f)
    else if (v < 8) Array.tabulate(dim)(i => if (i % 3 == 0) 0.6f else 0.1f)
    else if (v < 12) {
      val scale = (1L << (v - 8)).toFloat
      Array.tabulate(dim)(i => (if (i % 2 == 0) 0.25f else -0.5f) * scale)
    } else if (v == 12) Array.tabulate(dim)(i => if (i == 0) 1e18f else 0f)
    else Array.tabulate(dim) { i =>
      val h = splitmix(seed * 131 + v * 64 + i)
      ((h & 0xffffffL).toFloat / 0x800000L.toFloat) - 1.0f
    }
  }

  def generate(spark: SparkSession, baseDir: String, outDir: String,
      seed: Long = 1L, dim: Int = 64): Unit = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    CopiedTables.foreach { t =>
      val src = Paths.get(s"$baseDir/$t.parquet")
      require(Files.isRegularFile(src),
        s"FuzzCorpus expects single-file base tables, got $src")
      Files.copy(src, out.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val texts = docTexts(seed)
    val docRows = texts.zipWithIndex.map { case ((lang, text), i) =>
      Row(i.toLong, text, lang, s"src${i % 20}",
        text.codePointCount(0, text.length).toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(docRows).asJava), docSchema)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    val embRows = texts.indices.map { i =>
      Row(i.toLong, embedding(seed, i.toLong, dim).toSeq, i % 10)
    }
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(embRows).asJava), embSchema)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    println(s"[fuzz] wrote ${texts.size} adversarial docs to $outDir")
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outd = if (args.length > 1) args(1) else "/tmp/graft-fuzz"
    val seed = if (args.length > 2) args(2).toLong else 1L
    val spark = graft.Session.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, base, outd, seed)
    spark.stop()
  }
}
