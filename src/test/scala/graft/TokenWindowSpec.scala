package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.text.{Mix, TextOps}

/** The whitespace tokenizer and the token-window helpers on degenerate
  * input (short documents, empty text, leading whitespace, non-BMP
  * tokens), the operators built on them on a corpus holding a 1-token
  * and an empty document, and the add-α LMs against their hand-written
  * bigram and trigram forms.
  */
class TokenWindowSpec extends SparkSpec {
  import spark.implicits._

  /** One document's tokens, then `f` of its token array. */
  private def on[T](text: String)(f: Column => Column): Seq[T] = {
    val r = Seq(text).toDF("text").select(TextOps.tokensCol.as("w"))
      .select(f(col("w"))).head()
    r.getSeq[T](0)
  }

  private val nonBmp = "𝔘𝔫 😀 x"

  test("tokensCol: empty text is one empty token, leading whitespace a first empty token") {
    assert(on[String]("a  b\tc")(identity) === Seq("a", "b", "c"))
    assert(on[String]("")(identity) === Seq(""))
    assert(on[String]("  a b")(identity) === Seq("", "a", "b"))
    assert(on[String](nonBmp)(identity) === Seq("𝔘𝔫", "😀", "x"))
  }

  test("windowStarts: none above the token count, one at it") {
    assert(on[Int]("a b c")(TextOps.windowStarts(_, 4)) === Nil)
    assert(on[Int]("a b c")(TextOps.windowStarts(_, 3)) === Seq(0))
    assert(on[Int]("a b c")(TextOps.windowStarts(_, 1)) === Seq(0, 1, 2))
    assert(on[Int]("")(TextOps.windowStarts(_, 2)) === Nil)
  }

  test("stringGrams: n above the token count gives no grams") {
    assert(on[String]("a b c")(TextOps.stringGrams(_, 4)) === Nil)
  }

  test("stringGrams: n equal to the token count gives the single-spaced text") {
    assert(on[String]("a  b\tc")(TextOps.stringGrams(_, 3)) === Seq("a b c"))
  }

  test("stringGrams: empty text is one empty unigram and no bigram") {
    assert(on[String]("")(TextOps.stringGrams(_, 1)) === Seq(""))
    assert(on[String]("")(TextOps.stringGrams(_, 2)) === Nil)
  }

  test("stringGrams: leading whitespace puts the empty first token in the first gram") {
    assert(on[String]("  a b")(TextOps.stringGrams(_, 2)) === Seq(" a", "a b"))
  }

  test("stringGrams: non-BMP tokens stay whole") {
    assert(on[String](nonBmp)(TextOps.stringGrams(_, 2)) ===
      Seq("𝔘𝔫 😀", "😀 x"))
  }

  private def pairs(text: String, n: Int): Seq[Seq[String]] = {
    val fields = (1 to n).map(o => s"t$o")
    on[Row](text)(TextOps.structGrams(_, fields)).map(r => fields.indices.map(r.getString))
  }

  test("structGrams: n above the token count gives no grams") {
    assert(pairs("a b", 3) === Nil)
  }

  test("structGrams: n equal to the token count gives one gram") {
    assert(pairs("a b", 2) === Seq(Seq("a", "b")))
  }

  test("structGrams: empty text gives no bigram") {
    assert(pairs("", 2) === Nil)
  }

  test("structGrams: leading whitespace gives an empty first field") {
    assert(pairs(" a b", 2) === Seq(Seq("", "a"), Seq("a", "b")))
  }

  test("structGrams: non-BMP tokens stay whole, fields named in order") {
    assert(pairs(nonBmp, 2) === Seq(Seq("𝔘𝔫", "😀"),
      Seq("😀", "x")))
    val names = Seq("a b").toDF("text").select(TextOps.tokensCol.as("w"))
      .select(explode(TextOps.structGrams(col("w"), Seq("w1", "w2"))).as("g"))
      .select("g.*").columns.toSeq
    assert(names === Seq("w1", "w2"))
  }

  test("passages: the last passage holds the remainder") {
    assert(on[String]("a b c d e f g")(TextOps.passages(_, 3)) === Seq("a b c", "d e f", "g"))
  }

  test("passages: a span at the token count gives one passage, above it one partial") {
    assert(on[String]("a b c")(TextOps.passages(_, 3)) === Seq("a b c"))
    assert(on[String]("a b c")(TextOps.passages(_, 5)) === Seq("a b c"))
  }

  test("passages: empty text is one empty passage; no tokens, no passages") {
    assert(on[String]("")(TextOps.passages(_, 3)) === Seq(""))
    assert(on[String]("a")(w => TextOps.passages(filter(w, _ =!= "a"), 3)) === Nil)
  }

  test("passages: leading whitespace and non-BMP tokens") {
    assert(on[String]("  a b c")(TextOps.passages(_, 2)) === Seq(" a", "b c"))
    assert(on[String](nonBmp)(TextOps.passages(_, 2)) ===
      Seq("𝔘𝔫 😀", "x"))
  }

  // a corpus with a 1-token and an empty document in each source
  private val longDocs = Seq(
    (1L, "s1", "the cat sat on the mat"),
    (2L, "s1", "the cat sat on a hat"),
    (3L, "s2", "a dog ran to the cat"),
    (4L, "s2", "the dog sat"))
  private val shortDocs = Seq((5L, "s1", "cat"), (6L, "s2", ""))
  private def corpus(ds: Seq[(Long, String, String)]): DataFrame =
    ds.toDF("doc_id", "source", "text")
  private val full = corpus(longDocs ++ shortDocs)
  private val long = corpus(longDocs)

  /** The contiguous n-grams of the long documents `ds`, in plain Scala. */
  private def grams(n: Int, ds: Seq[(Long, String, String)] = longDocs): Seq[String] =
    ds.flatMap(d => d._3.split("\\s+").toSeq.sliding(n).filter(_.size == n))
      .map(_.mkString(" "))

  private def sorted(df: DataFrame, key: String): Seq[Row] =
    df.orderBy(key).collect().toSeq

  test("bigramCondEntropy: 1-token and empty documents add no bigram") {
    val out = sorted(TextOps.bigramCondEntropy(full), "source")
    assert(out === sorted(TextOps.bigramCondEntropy(long), "source"))
    assert(out.map(_.getAs[Long]("n_bigrams")).sum === grams(2).size)
  }

  test("goodTuring(gramN = 3): 1-token and empty documents add no trigram") {
    val out = sorted(TextOps.goodTuring(full, gramN = 3), "source")
    assert(out === sorted(TextOps.goodTuring(long, gramN = 3), "source"))
    assert(out.map(_.getAs[Long]("n_tokens")).sum === grams(3).size)
    assert(out.map(_.getAs[Long]("n_types")).sum ===
      longDocs.groupBy(_._2).values.map(ds => grams(3, ds).distinct.size).sum)
  }

  test("heapsFit(gramN = 2): the final prefix counts every bigram of the long documents") {
    val r = TextOps.heapsFit(full, nPrefixes = 2, gramN = 2).head()
    assert(r.getAs[Long]("n_tokens") === grams(2).size)
    assert(r.getAs[Long]("vocab") === grams(2).distinct.size)
  }

  test("dsirWeights: 1-token and empty documents score 0 and leave the others' weights alone") {
    def weights(df: DataFrame) = Mix.dsirWeights(df, col("source") === "s1", 1, 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("w_micro"))).toMap
    val w = weights(full)
    assert(w(5L) === ((0L, 0L)) && w(6L) === ((0L, 0L)))
    assert(w -- Seq(5L, 6L) === weights(long))
  }

  test("maxCharPairCount: 1-char and empty documents add no character pair") {
    def expected(ds: Seq[(Long, String, String)]) = ds.flatMap(_._3.split(" "))
      .flatMap(w => w.sliding(2).filter(_.length == 2))
      .groupBy(identity).values.map(_.size.toLong).max
    // "cat" is one token but two character pairs
    assert(TextOps.maxCharPairCount(full) === expected(longDocs ++ shortDocs))
    val oneChar = corpus(longDocs ++ Seq((7L, "s1", "t"), (8L, "s2", "")))
    assert(TextOps.maxCharPairCount(oneChar) === expected(longDocs))
  }

  test("noveltyStream: 1-token and empty documents have no grams and a NULL score") {
    import graft.streaming.Streaming
    implicit val sc = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streaming.Doc]
    val q = Streaming.noveltyStream(input.toDS(), long, n = 2)
      .writeStream.format("memory").queryName("token_window_novelty")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    input.addData(
      Streaming.Doc(1L, t0, "the cat sat"),
      Streaming.Doc(2L, t0, "cat"),
      Streaming.Doc(3L, t0, ""))
    q.processAllAvailable()
    val got = spark.sql(
        "SELECT doc_id, n_grams, novelty_est FROM token_window_novelty")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    q.stop()
    assert(got(1L) === ((2L, Some(0.0))))
    assert(got(2L) === ((0L, None)))
    assert(got(3L) === ((0L, None)))
  }

  // Reference add-α bigram and trigram models, each order written out
  // by hand; the order-n body must reproduce them bit for bit.
  private def bigramReference(docs: DataFrame, alpha: Double = 1.0): DataFrame = {
    val w = TextOps.tokensCol
    val bigStarts = when(size(col("w")) >= 2, sequence(lit(0), size(col("w")) - 2))
      .otherwise(array().cast("array<int>"))
    val uni = docs.select(explode(w).as("w1")).groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = docs.select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), explode(transform(bigStarts,
        i => struct(element_at(col("w"), i + 1).as("w1"),
          element_at(col("w"), i + 2).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val big2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    big.join(big2, Seq("w1", "w2")).join(uni, Seq("w1")).crossJoin(broadcast(vocab))
      .withColumn("nll",
        -log((col("c2") + lit(alpha)) / (col("c1") + lit(alpha) * col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 6).as("mean_nll"))
  }

  private def trigramReference(docs: DataFrame, alpha: Double = 1.0, lam3: Double = 0.6,
                               lam2: Double = 0.3, lam1: Double = 0.1): DataFrame = {
    val w = TextOps.tokensCol
    def starts(n: Int) = when(size(col("w")) >= n, sequence(lit(0), size(col("w")) - n))
      .otherwise(array().cast("array<int>"))
    val uni = docs.select(explode(w).as("tok")).groupBy("tok").agg(count(lit(1)).as("c1"))
    val totals = uni.agg(count(lit(1)).as("v"), sum(col("c1")).as("n"))
    val big2 = docs.select(w.as("w"))
      .select(explode(transform(starts(2),
        i => struct(element_at(col("w"), i + 1).as("w1"),
          element_at(col("w"), i + 2).as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val tri = docs.select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), explode(transform(starts(3),
        i => struct(element_at(col("w"), i + 1).as("w1"),
          element_at(col("w"), i + 2).as("w2"),
          element_at(col("w"), i + 3).as("w3")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"), col("b.w3"))
    val tri3 = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val a = lit(alpha)
    tri.join(tri3, Seq("w1", "w2", "w3"))
      .join(big2.withColumnRenamed("c2", "c12"), Seq("w1", "w2"))
      .join(big2.select(col("w1").as("w2"), col("w2").as("w3"), col("c2").as("c23")),
        Seq("w2", "w3"))
      .join(uni.select(col("tok").as("w2"), col("c1").as("c_w2")), Seq("w2"))
      .join(uni.select(col("tok").as("w3"), col("c1").as("c_w3")), Seq("w3"))
      .crossJoin(broadcast(totals))
      .withColumn("nll", -log(
        lit(lam3) * ((col("c3") + a) / (col("c12") + a * col("v")))
          + lit(lam2) * ((col("c23") + a) / (col("c_w2") + a * col("v")))
          + lit(lam1) * ((col("c_w3") + a) / (col("n") + a * col("v")))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), round(avg(col("nll")), 6).as("mean_nll"))
  }

  // CcRepetitionSpec's LM corpora in one frame, plus a 1-token and an
  // empty document
  private lazy val lmDocs = (
    (1L to 10L).map(i => (i, "p q r s")) ++ (11L to 20L).map(i => (i, "s q r p")) ++
      Seq((101L, "p q r s"), (102L, "r s q r")) ++
      (201L to 220L).map(i => (i, "the cat sat on the mat")) ++
      Seq((221L, "zyx wvu tsr qpo nml kji"), (301L, "alpha beta alpha beta gamma"),
        (302L, "zeta"), (303L, ""))).toDF("doc_id", "text")

  test("lmPerplexity equals the hand-written bigram model bit for bit") {
    val got = sorted(TextOps.lmPerplexity(lmDocs), "doc_id")
    assert(got === sorted(bigramReference(lmDocs), "doc_id"))
    assert(sorted(TextOps.lmPerplexity(lmDocs, alpha = 0.5), "doc_id") ===
      sorted(bigramReference(lmDocs, alpha = 0.5), "doc_id"))
    assert(TextOps.lmPerplexity(lmDocs).columns.toSeq === Seq("doc_id", "n_bigrams", "mean_nll"))
  }

  test("lmPerplexityTrigram equals the hand-written trigram model bit for bit") {
    val got = sorted(TextOps.lmPerplexityTrigram(lmDocs), "doc_id")
    assert(got === sorted(trigramReference(lmDocs), "doc_id"))
    assert(sorted(TextOps.lmPerplexityTrigram(lmDocs, 0.5, 0.5, 0.4, 0.1), "doc_id") ===
      sorted(trigramReference(lmDocs, 0.5, 0.5, 0.4, 0.1), "doc_id"))
    assert(TextOps.lmPerplexityTrigram(lmDocs).columns.toSeq ===
      Seq("doc_id", "n_trigrams", "mean_nll"))
  }
}
