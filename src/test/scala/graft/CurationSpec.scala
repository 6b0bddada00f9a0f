package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.{Mix, TextOps}

/** Specs for the corpus-curation operators added in round 6: passage-level
  * exact dedup, stratified exact-count sampling, vocab coverage / Zipf
  * diagnostics, and canonical-document election. The driver's DuckDB
  * oracle (q84–q89) checks full-corpus values; these pin the semantic
  * properties on small hand-built inputs.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("passageDedup: exact copy keeps nothing, original keeps everything") {
    val base = (1L, Seq.tabulate(45)(i => s"w$i").mkString(" "))
    val copy = (2L, base._2)
    val out = TextOps.passageDedup(docsDF(base, copy), span = 15)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) == ((3, 3))) // 45 tokens = 3 passages, all first sites
    assert(out(2L) == ((3, 0))) // every passage already seen in doc 1
  }

  test("passageDedup: within-doc repeats count once; partial tail window kept") {
    val p = Seq.tabulate(15)(i => s"p$i").mkString(" ")
    // doc = passage, passage again, unique 7-token tail
    val text = s"$p $p " + Seq.tabulate(7)(i => s"t$i").mkString(" ")
    val out = TextOps.passageDedup(docsDF((5L, text)), span = 15)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getDouble(3))).head
    assert(out._1 == 3 && out._2 == 2) // repeat dropped, tail kept
    assert(approx(out._3, 2.0 / 3)) // kept_frac is 6 dp-rounded
  }

  test("stratifiedTopN == naive single-window top-n over four input partitions") {
    // four input partitions, so the map-side pre-cut runs on each
    val docs = (0L until 300L).map(i => (i, s"lang${i % 3}"))
      .toDF("doc_id", "lang").repartition(4)
    val naive = docs
      .withColumn("rk", md5(concat(lit("7:"), col("doc_id").cast("string"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy("rk")))
      .filter(col("rank") <= 10)
      .select(col("lang"), col("doc_id"), col("rank"))
      .collect().map(_.toSeq).toSet
    val got = Mix.stratifiedTopN(docs, col("lang"), n = 10, seed = 7)
      .select(col("stratum").as("lang"), col("doc_id"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(got == naive && got.size == 30)
  }

  test("canonicalDocs elects max weight, tie-broken by min id, per group") {
    val uni = Seq((1L, 10L), (2L, 30L), (3L, 30L), (9L, 5L))
      .toDF("doc_id", "weight")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("ida", "idb")
    val out = Dedup.canonicalDocs(uni, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    // group {1,2,3}: weights 10/30/30 → canonical 2 (max weight, min id)
    assert(out(1L) == ((2L, false)))
    assert(out(2L) == ((2L, true)))
    assert(out(3L) == ((2L, false)))
    assert(out(9L) == ((9L, true))) // singleton is its own canonical
  }

  test("vocabCoverage: monotone vocab_size, exact on a known distribution") {
    // 8×a 4×b 2×c 2×d → total 16; cum: a=.5, b=.75, c=.875, d=1.0
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
      Seq.fill(2)("c") ++ Seq.fill(2)("d")).mkString(" ")
    val out = TextOps.vocabCoverage(docsDF((1L, text)),
        Seq(0.5, 0.75, 0.9, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(out(0.5) == 1 && out(0.75) == 2 && out(0.9) == 4 && out(1.0) == 4)
  }

  test("passageDedupStream: passages dedupe across micro-batches") {
    import graft.streaming.Streaming
    implicit val sc = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streaming.Doc]
    val q = Streaming.passageDedupStream(input.toDS(), span = 3)
      .writeStream.format("memory").queryName("passage_out")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // doc 1: two passages [a b c] [d e f]; doc 2 (later batch) repeats
    // [a b c] and adds a fresh tail [x y]
    input.addData(Streaming.Doc(1L, ts(0), "a b c d e f"))
    q.processAllAvailable()
    input.addData(Streaming.Doc(2L, ts(1), "a b c x y"))
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, pos FROM passage_out").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    q.stop()
    assert(got == Set((1L, 0), (1L, 1), (2L, 1)), s"got $got")
  }

  test("semanticProbeStream: streamed near-copy hits the corpus, far vector stays silent") {
    import graft.streaming.Streaming
    implicit val sc = spark.sqlContext
    // corpus: 3 well-separated centers in 8-d
    val corpus = Seq(
      (0L, Array.tabulate(8)(j => 0.01 * j)),
      (1L, Array.tabulate(8)(j => 10.0 + 0.01 * j)),
      (2L, Array.tabulate(8)(j => 20.0 + 0.01 * j)))
      .toDF("cell_id", "latent")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streaming.Vec]
    val q = Streaming.semanticProbeStream(input.toDS(), corpus, eps = 0.5,
      rounds = 4)
      .writeStream.format("memory").queryName("semprobe_out")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    input.addData(
      Streaming.Vec(100L, ts(0), Array.tabulate(8)(j => 0.01 * j + 0.01)),
      Streaming.Vec(101L, ts(0), Array.fill(8)(-50.0)))
    q.processAllAvailable()
    // second batch: stateless stream-static probing, same rules
    input.addData(
      Streaming.Vec(102L, ts(1), Array.tabulate(8)(j => 10.0 + 0.01 * j)))
    q.processAllAvailable()
    val got = spark.sql("SELECT vec_id, corpus_id FROM semprobe_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(got == Set((100L, 0L), (102L, 1L)), s"got $got")
  }

  test("ivfAssignStream: streamed vectors route to their stored list, map-only") {
    import graft.streaming.Streaming
    implicit val sc = spark.sqlContext
    // stored centroids: list 1 at ~0, list 2 at ~10 (2-d)
    val centers = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streaming.Vec]
    val q = Streaming.ivfAssignStream(input.toDS(), centers)
      .writeStream.format("memory").queryName("ivfassign_out")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    input.addData(
      Streaming.Vec(1L, ts(0), Array(0.3, 0.4)),    // -> list 1, dist 0.5
      Streaming.Vec(2L, ts(0), Array(9.0, 10.0)))   // -> list 2, dist 1.0
    q.processAllAvailable()
    input.addData(Streaming.Vec(3L, ts(1), Array(5.0, 5.0))) // tie -> list 1
    q.processAllAvailable()
    val got = spark.sql("SELECT vec_id, list, dist_micro FROM ivfassign_out")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    q.stop()
    assert(got == Set((1L, 1, 500000L), (2L, 2, 1000000L),
      (3L, 1, 7071068L)), s"got $got")
  }

  test("incrementalDedupStream: stream probes the static old index, exact beats near") {
    import graft.streaming.Streaming
    implicit val sc = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val oldD = Seq((2L, base),
      (6L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streaming.Doc]
    val q = Streaming.incrementalDedupStream(input.toDS(), oldD)
      .writeStream.format("memory").queryName("incdedup_out")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    input.addData(
      Streaming.Doc(11L, ts(0), base),                   // exact dup of old 2
      Streaming.Doc(13L, ts(0), base + " tail marker"),  // near candidate of 2
      Streaming.Doc(15L, ts(0), "totally different words nothing shared here"))
    q.processAllAvailable()
    // second batch: stream-static probing is stateless — same evidence rules
    input.addData(Streaming.Doc(17L, ts(1), base))
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, verdict, old_id FROM incdedup_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(got.contains((11L, "exact_dup", 2L)) && got.contains((17L, "exact_dup", 2L)))
    assert(got.contains((13L, "near_candidate", 2L)))
    // exact dups emit NO near_candidate rows; unrelated doc emits nothing
    assert(!got.exists(g => g._1 == 11L && g._2 == "near_candidate"))
    assert(!got.exists(_._1 == 15L), s"got $got")
  }

  test("mixturePlan: binding stratum caps the budget; its sample_frac is 1.0") {
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, "en", ten), (2L, "en", ten), (3L, "de", ten))
      .toDF("doc_id", "lang", "text")
    val out = Mix.mixturePlan(docs, col("lang"), Map("en" -> 0.5, "de" -> 0.5))
      .select("grp", "avail", "tokens_target", "sample_frac")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // N = min(20/0.5, 10/0.5) = 20: de is binding (all 10 tokens used),
    // en samples half its 20
    assert(out("de") == ((10L, 10L, 1.0)))
    assert(out("en") == ((20L, 10L, 0.5)))
  }

  test("JSONL round-trip preserves rows; corrupt lines survive as records") {
    import graft.sources.Readers
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val docs = Seq((1L, "alpha beta", "en"), (2L, "gamma", "de"))
      .toDF("doc_id", "text", "lang")
    Readers.writeJsonl(docs, s"$dir/out")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    val back = Readers.readJsonl(spark, s"$dir/out", schema)
    assert(back.select("doc_id", "text", "lang").collect().map(_.toSeq).toSet ==
      docs.collect().map(_.toSeq).toSet)
    // corrupt line: preserved, not fatal
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.jsonl"),
      "{\"doc_id\": 3, \"text\": \"ok\", \"lang\": \"en\"}\nnot json at all\n")
    // Spark disallows referencing ONLY _corrupt_record from a raw scan;
    // materialize first (same thing a real pipeline's first stage does)
    val mixed = Readers.readJsonl(spark, s"$dir/bad.jsonl", schema).cache()
    try {
      assert(mixed.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(mixed.filter(col("_corrupt_record").isNull).count() == 1)
    } finally mixed.unpersist()
  }

  test("ORC round-trip is value-exact and pushes filters to the scan") {
    import graft.sources.Readers
    val dir = java.nio.file.Files.createTempDirectory("orc").toString
    val docs = Seq((1L, "alpha beta", "en"), (2L, "gamma", "de"),
      (3L, "delta", "en")).toDF("doc_id", "text", "lang")
    Readers.writeOrc(docs, s"$dir/out")
    val back = Readers.readOrc(spark, s"$dir/out")
    // names + types survive; nullability widens to true on read (ORC
    // stores no not-null constraint — same as Spark's parquet source)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      docs.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().map(_.toSeq).toSet == docs.collect().map(_.toSeq).toSet)
    // filter + projection reach the ORC scan node (same contract the
    // parquet leg asserts in ScaleShapeSpec)
    val q = back.filter(col("doc_id") > 1L).select("doc_id", "lang")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(doc_id,1)"),
      s"no pushed filter in: $scan")
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), s"text not pruned: $readSchema")
  }

  test("filterCascade: first failing gate wins; boundary values pass") {
    val sw = Seq("the", "a")
    val docs = Seq(
      // 10 toks => too_short, even though word-len would also fail
      (1L, "s", "xxxxxxxxxx " * 9 + "xxxxxxxxxx"),
      // exactly 20 toks of 'the' (len 3 => wl 30 < 43) => word_len_low, NOT too_short
      (2L, "s", Seq.fill(20)("the").mkString(" ")),
      // 91 five-char tokens => too_long
      (3L, "s", Seq.fill(91)("quers").mkString(" ")),
      // 20 long tokens => word_len_high (mean 10 > 4.8)
      (4L, "s", Seq.fill(20)("xxxxxxxxxx").mkString(" ")),
      // mean word len 4.5 in [4.3,4.8] but zero stopwords => low_stopword
      (5L, "s", (Seq.fill(10)("xxxx") ++ Seq.fill(10)("xxxxx")).mkString(" ")),
      // mean 4.4 in range, 1/20 stopwords = 5% >= 4% => pass
      (6L, "s", ("the " + (Seq.fill(10)("xxxx") ++ Seq.fill(9)("xxxxx"))
        .mkString(" "))))
      .toDF("doc_id", "source", "text")
    val out = TextOps.filterCascade(docs, sw)
      .select("verdict", "n_docs").as[(String, Long)].collect().toMap
    assert(out == Map("too_short" -> 1L, "word_len_low" -> 1L, "too_long" -> 1L,
      "word_len_high" -> 1L, "low_stopword" -> 1L, "pass" -> 1L))
  }

  test("overlapMatrix: shared shingles count once; capped digests drop out") {
    val docs = Seq(
      (1L, "A", "x y z w"), // shingles: "x y z", "y z w"
      (2L, "B", "x y z q"), // shingles: "x y z", "y z q"
      (3L, "B", "x y z q"), // duplicate doc: must not double-count
      (4L, "C", "p q r"))   // disjoint: no pair rows with C
      .toDF("doc_id", "source", "text")
    val out = Dedup.overlapMatrix(docs, col("source"), 3)
      .select("slice_a", "slice_b", "shared", "n_a", "n_b", "containment")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("A", "B", 1L, 2L, 2L, 0.5)))
    // sliceCap = 1 drops the only cross-slice digest => empty matrix
    assert(Dedup.overlapMatrix(docs, col("source"), 3, sliceCap = 1).isEmpty)
  }

  test("incrementalDedup: exact beats near; dedup is vs OLD only; best match deterministic") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val oldD = Seq((2L, base), (4L, base), // two old copies: match min id 2
      (6L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val newD = Seq(
      (1L, base),                    // exact dup of old 2 (and 4): match 2
      (3L, base + " tail marker"),   // near dup of old 2/4: equal jaccard, min oid 2
      (5L, "totally different words nothing shared here at all ok fine"),
      (7L, "totally different words nothing shared here at all ok fine"))
      .toDF("doc_id", "text") // 5 & 7 duplicate EACH OTHER but not old => both kept
    val out = Dedup.incrementalDedup(oldD, newD, 8, 2, 1, 2)
      .select("doc_id", "verdict", "match_id")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "exact_dup", Some(2L)), (3L, "near_dup", Some(2L)),
      (5L, "kept", None), (7L, "kept", None)))
  }

  test("jaccardSweep: exact-0.5 pair lands in band 5; j=1 clamps to band 9") {
    // hand-built shingle sets fed through the public contract
    val sh = Seq(
      (1L, "s1"), (1L, "s2"), (1L, "s3"), (1L, "s4"),
      (2L, "s3"), (2L, "s4"), (2L, "s5"), (2L, "s6"), // j(1,2)=2/6
      (3L, "s1"), (3L, "s2"), (3L, "s3"), (3L, "s4"), // j(1,3)=1
      (4L, "s1"), (4L, "s2"), (4L, "s5"), (4L, "s6")) // j(1,4)=2/6, j(3,4)=2/6, j(2,4)=2/6
      .toDF("doc_id", "shingle")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("ida", "idb")
    val out = Dedup.jaccardSweep(sh, pairs)
      .select("band", "n_pairs").as[(Int, Long)].collect().toMap
    // 2/6 = 0.333..: 2*10 div 6 = 3 => band 3; j=1: 40 div 4 = 10 clamps to 9
    assert(out == Map(3 -> 2L, 9 -> 1L))
    // exact 0.5: inter=2, uni=4 => 20 div 4 = 5 => band 5 (not 4)
    val sh2 = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "b"), (2L, "c"), (2L, "d"))
      .toDF("doc_id", "shingle")
    val out2 = Dedup.jaccardSweep(sh2, Seq((1L, 2L)).toDF("ida", "idb"))
      .select("band").as[Int].collect().toSeq
    assert(out2 == Seq(5))
  }

  test("dedupSavings: exact stage kills copies, passage stage kills shared spans") {
    val a1 = (1 to 15).map(i => s"a$i").mkString(" ") // 15-token span A1
    val a2 = (16 to 30).map(i => s"a$i").mkString(" ")
    val b1 = (1 to 15).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, a1 + " " + a2), // original
      (2L, a1 + " " + a2), // exact copy: dies at stage 1
      (3L, a1 + " " + b1)) // shares span A1 only: loses 15 tokens at stage 2
      .toDF("doc_id", "text")
    val out = TextOps.dedupSavings(docs, 15)
      .select("stage", "n_docs", "n_tokens").as[(String, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(out.toSet == Set(("raw", 3L, 90L), ("exact_dedup", 2L, 60L),
      ("passage_dedup", 2L, 45L)))
  }

  test("tokenBudgetSample: each stratum stops within one doc of its budget") {
    val docs = (1 to 6).map(i =>
      (i.toLong, if (i <= 3) "A" else "B", "t1 t2 t3 t4 t5"))
      .toDF("doc_id", "lang", "text")
    // 5-token docs, budget 8: prefixes 0, 5, 10 => exactly 2 kept per
    // stratum regardless of the md5 order (all docs equal-sized)
    val out = Mix.tokenBudgetSample(docs, col("lang"), 8L, seed = 1)
      .select("grp", "tokens_before").as[(String, Long)].collect()
    assert(out.count(_._1 == "A") == 2 && out.count(_._1 == "B") == 2)
    assert(out.forall(_._2 < 8L) && out.map(_._2).max == 5L)
  }

  test("leakFreeSplit: near-dup pair always lands in one split") {
    val uni = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("ida", "idb")
    val out = Dedup.leakFreeSplit(uni, pairs)
      .select("doc_id", "group_id", "split")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 3L)
    assert(out(1L)._2 == out(2L)._2) // the leak-free property
  }

  test("zipfFit recovers the slope of an exact power law") {
    // counts c(r) = 1000·r^(-1) over 20 ranks: construct the corpus so
    // the rank ordering is exactly by construction count
    val words = (1 to 20).flatMap { r =>
      Seq.fill(math.max(1, 1000 / r))(f"w$r%02d")
    }
    val out = TextOps.zipfFit(docsDF((1L, words.mkString(" "))), topN = 20)
      .collect().head
    val slope = out.getDouble(1)
    assert(slope < -0.9 && slope > -1.1, s"slope=$slope")
    assert(math.abs(out.getDouble(3)) > 0.99) // |r| ~ 1: near-perfect fit
  }
}
