package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, TextAnalysis}

/** Degenerate-input hardening: the harness documents are well-formed,
  * but a real corpus has empty strings, single tokens, repeated
  * whitespace, and non-ASCII — none of these may crash an operator
  * or produce absurd values.
  */
class EdgeCaseSpec extends AnyFunSuite {
  import SparkTestSession._

  private def weirdDocs = {
    import spark.implicits._
    Seq(
      (1L, ""),                       // empty
      (2L, "solo"),                   // single token (no shingles)
      (3L, "two words"),              // below shingle width
      (4L, "a  b   c"),               // repeated whitespace
      (5L, "naïve café 模型 тест"),   // non-ASCII
      (6L, "x y z x y z x y z"))      // heavy repetition
      .toDF("doc_id", "text")
  }

  test("shingles drop sub-width docs and never crash") {
    val sh = Dedup.shingles(weirdDocs).collect()
    val ids = sh.map(_.getLong(0)).toSet
    assert(!ids.contains(1L) && !ids.contains(2L) && !ids.contains(3L))
    assert(ids.contains(6L))
  }

  test("exact groups, simhash, fingerprint handle degenerate docs") {
    assert(Dedup.exactGroups(weirdDocs).count() == 6) // all distinct
    val sh = Dedup.simhash(weirdDocs).collect()
    assert(sh.length == 6)
    sh.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) < (1L << 16)))
    assert(TextAnalysis.fingerprint(weirdDocs).count() == 6)
  }

  test("minhash and jaccard on degenerate docs return no spurious pairs") {
    assert(Dedup.minhashBuckets(weirdDocs, 4)
      .filter(col("n_docs") > 1).count() == 0)
    assert(Dedup.jaccardPairs(weirdDocs, 10, 0.2).count() == 0)
  }

  test("round-2 operators survive degenerate and empty inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // simhash near-dup: empty + degenerate corpora, no crash, no pairs
    assert(Dedup.simhashNearDup(empty, 3).collect().isEmpty)
    assert(Dedup.simhashNearDup(weirdDocs.filter(col("doc_id") === 1), 3)
      .collect().isEmpty)
    // sampling: empty in, empty out, schema intact
    val emptyD = empty.withColumn("lang", lit("en"))
    assert(graft.llm.Sampling.hashSample(emptyD,
      "cast(doc_id as string)", 20).collect().isEmpty)
    assert(graft.llm.Sampling.stratifiedSample(emptyD, "lang",
      "cast(doc_id as string)", 5).collect().isEmpty)
    // TF-IDF on a 1-doc corpus: idf = ln(1/1) = 0 for every term
    val one = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
    val tf = TextAnalysis.tfidfTopTerms(one, 2).collect()
    assert(tf.nonEmpty && tf.forall(_.getDouble(5) == 0.0))
  }

  test("ordered rank and as-of join survive empty inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double, Double)].toDF("ev", "t", "value")
    assert(graft.ts.OrderedRank.withNtile(empty, col("t"), col("ev"), 4)
      .collect().isEmpty)
    assert(graft.ts.OrderedLag.withLags(empty, col("t"), col("ev"),
      "value", Seq(1)).collect().isEmpty)
    val left = Seq((1L, 1.0, 10.0)).toDF("k", "t", "v0")
    val emptyRight = Seq.empty[(Long, Double, Double)].toDF("k", "t", "v")
    val out = graft.operators.AsofJoin
      .leftAsof(left, emptyRight, "k", "t", "v", "m").collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("m")))
  }

  test("text analysis produces finite values on degenerate docs") {
    val q = TextAnalysis.quality(weirdDocs).collect()
    assert(q.length == 6)
    q.foreach { r =>
      assert(r.getInt(1) >= 1) // split("") yields [""] → 1 token
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
    }
    val lid = TextAnalysis.langId(weirdDocs).collect()
    assert(lid.forall(r => !r.getDouble(1).isNaN)) // no lang col here
    val ng = TextAnalysis.langIdNgram(weirdDocs).collect()
    assert(ng.length == 6)
    val ts = TextAnalysis.tokenStats(weirdDocs).collect()
    assert(ts.forall(_.getLong(2) >= 0))
  }

  test("round-3 operators survive degenerate and empty inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // range join: empty interval side, zero-length interval, point ==
    // endpoint
    val pts = Seq((1L, 10.0)).toDF("pid", "t")
    val noIv = Seq.empty[(Long, Double, Double)].toDF("iid", "s", "e")
    assert(graft.operators.RangeJoin.pointInInterval(pts, noIv,
      col("t"), col("s"), col("e"), 5.0).count() == 0)
    val zeroIv = Seq((1L, 10.0, 10.0)).toDF("iid", "s", "e")
    assert(graft.operators.RangeJoin.pointInInterval(pts, zeroIv,
      col("t"), col("s"), col("e"), 5.0).count() == 1)
    // weighted sample: k larger than the corpus, zero/negative weights
    val docs = Seq((1L, "en", 5), (2L, "en", 0), (3L, "en", -2))
      .toDF("doc_id", "lang", "n_chars")
    val picked = graft.llm.Sampling.weightedSample(docs,
      "cast(doc_id as string)", "n_chars", k = 10, tieBreak = "doc_id")
      .collect()
    assert(picked.length == 1 && picked(0).getLong(0) == 1L)
    // time chunks: constant time column collapses to one chunk
    val const = Seq((1.0, 1.0), (1.0, 2.0)).toDF("t", "v")
    val chunks = graft.ts.Chunker.timeChunks(const, col("t"), 4)
      .select("chunk_id").distinct().collect()
    assert(chunks.length == 1 && chunks(0).getInt(0) == 0)
    // fitted/residuals on a series shorter than the AR order
    val tiny = Seq((0.0, 1.0), (1.0, 2.0)).toDF("time", "value")
    val m = graft.arima.ArLinearModel(0.0, 0.0, Array(0.5, 0.2, 0.1),
      1.0, 2)
    val fr = graft.pipeline.Darima.fittedResidualsDF(tiny, m).collect()
    assert(fr.length == 2 && fr.forall(_.isNullAt(2)))
  }

  test("corrupt media payloads decode to empty features, not a crash") {
    import spark.implicits._
    import graft.llm.Multimodal
    val good = Multimodal.encodePng(spark,
      Seq((1L, "x")).toDF("doc_id", "text"))
      .select("doc_id", "media", "width", "height")
      .as[(Long, Array[Byte], Int, Int)].collect()(0)
    val rows = Seq(
      good,
      (2L, Array[Byte](1, 2, 3), 1, 1),            // garbage
      (3L, good._2.take(10), 1, 1),                // truncated PNG
      (4L, Array.empty[Byte], 1, 1))               // empty payload
      .toDF("doc_id", "media", "width", "height")
    val out = Multimodal.extractFeatures(spark, rows).collect()
      .map(r => r.doc_id -> r.features.length).toMap
    assert(out(1L) == 8)
    assert(out(2L) == 0 && out(3L) == 0 && out(4L) == 0, out.toString)
  }

  test("repetition metrics flag looping text, skip sub-width docs") {
    val rep = TextAnalysis.repetition(weirdDocs, n = 3, dupCap = 0.2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(5))).toMap
    // docs 1-3 are under 3 tokens: no row
    assert(!rep.contains(1L) && !rep.contains(2L) && !rep.contains(3L))
    // "x y z x y z x y z": 7 trigrams, 3 distinct -> repetitive
    assert(rep(6L) == ((7L, 3L, true)), rep(6L).toString)
    // "a  b   c" -> tokens a,"",b,"","",c: 4 trigrams all distinct
    assert(!rep(4L)._3)
  }

  test("connected components: chains, isolates, merged stars") {
    import spark.implicits._
    val verts = (0L to 9L).toDF("doc_id")
    // chain 0-1-2-3, isolated 4, two stars merged by bridge: (5;6,7)
    // (8;9) + bridge 7-8
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L), (5L, 7L),
      (8L, 9L), (7L, 8L)).toDF("d1", "d2")
    val cc = graft.llm.Dedup.connectedComponents(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L, 9L -> 5L), cc.toString)
    // empty edge set: every vertex its own component
    val lone = graft.llm.Dedup.connectedComponents(verts,
      Seq.empty[(Long, Long)].toDF("d1", "d2")).collect()
    assert(lone.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("graph fast paths equal the distributed plans on real docs") {
    // pagerank / label propagation / triangles: the broadcast-scale
    // driver pass must be bit-identical to the distributed loop on
    // the same corpus (sf0.001 keeps the distributed arms fast)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def both(f: () => org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
      val fast = f().collect().map(_.toString).toSeq
      val dist = distOnly(f().collect().map(_.toString).toSeq)
      (fast, dist)
    }
    val (prF, prD) = both(() =>
      graft.llm.GraphRank.pagerank(docs, 10, 0.02, 3))
    assert(prF == prD, s"pagerank fast=${prF.take(3)} dist=${prD.take(3)}")
    assert(prF.nonEmpty)
    val (lpF, lpD) = both(() =>
      graft.llm.GraphRank.labelPropagate(docs, 10, 0.02, 2))
    assert(lpF == lpD, s"labelprop fast=${lpF.take(3)} dist=${lpD.take(3)}")
    val (trF, trD) = both(() =>
      graft.llm.GraphRank.triangles(docs, 10, 0.02))
    assert(trF == trD, s"triangles fast=${trF.take(3)} dist=${trD.take(3)}")
    assert(trF.nonEmpty)
  }

  test("connected components: broadcast fast path equals the loop") {
    import spark.implicits._
    // deterministic pseudo-random sparse graph: chains, merges,
    // isolates, endpoints outside the vertex set (31 and 37 coprime
    // to 100, so edges wrap across the id space)
    val verts = (0L to 79L).toDF("doc_id")
    val edges = (0 until 60).map { i =>
      ((i * 31L) % 100L, (i * 37L + 11L) % 100L)
    }.filter { case (a, b) => a != b }.toDF("d1", "d2")
    val fast = graft.llm.Dedup.connectedComponents(verts, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val loop = distOnly {
      graft.llm.Dedup.connectedComponents(verts, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    assert(fast.sameElements(loop),
      s"fast=${fast.mkString(",")} loop=${loop.mkString(",")}")
  }

  test("embedding LSH near-dup survives a degenerate collapsed corpus") {
    import spark.implicits._
    // 2000 identical vectors + 1000 all-zero vectors: every band
    // signature collapses to one of two patterns, so without the
    // bucket cap the candidate join enumerates ~2.5M pairs from 3000
    // rows. With cap-and-drop the over-full buckets are discarded and
    // only the planted distinct near-dup pair survives.
    val clones = spark.range(2000).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(2.0f), lit(3.0f), lit(4.0f)).as("embedding"))
    val zeros = spark.range(2000, 3000).select(col("id").as("vec_id"),
      array(lit(0.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))
    val planted = Seq(
      (5000L, Array(-1.0f, -2.0f, -3.0f, -4.0f)),
      (5001L, Array(-1.0f, -2.0f, -3.1f, -4.0f))).toDF("vec_id", "embedding")
    val emb = clones.unionByName(zeros).unionByName(planted)
    val pairs = graft.llm.Similarity
      .nearDupPairs(emb, bands = 4, planesPerBand = 6, dim = 4,
        threshold = 0.9, bucketCap = 64)
      .collect()
    // the clone/zero buckets (sizes 2000 and 1000) are dropped; the
    // planted pair shares at least one band bucket of size 2
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((5000L, 5001L)), pairs.mkString(","))
  }

  test("lm perplexity: empty in-language slice yields finite neutral scores") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefg", "de"), (2L, "hijklmn", "fr"))
      .toDF("doc_id", "text", "lang")
    val out = graft.llm.LanguageModel.trigramPerplexity(docs).collect()
    assert(out.length == 2)
    // no model -> P = 1 for every trigram -> avg_nll exactly 0
    assert(out.forall(r => r.getAs[Double]("avg_nll") == 0.0))
    assert(out.forall(!_.getAs[Boolean]("flagged")))
  }

  test("lm perplexity: sub-trigram documents drop out, others survive") {
    import spark.implicits._
    val docs = Seq((1L, "ab", "en"), (2L, "abcdef", "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.llm.LanguageModel.trigramPerplexity(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("dsir: no target documents still yields defined weights") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma", "src5"),
      (2L, "delta epsilon zeta", "src6")).toDF("doc_id", "text", "source")
    val out = graft.llm.Importance.dsirWeights(docs, buckets = 64,
      targetSources = Seq("src1")).collect()
    assert(out.length == 2)
    assert(out.forall(r => !r.getAs[Double]("log_weight").isNaN))
    // uniform-smoothed target vs populated raw: nothing looks target-like
    assert(out.forall(!_.getAs[Boolean]("keep")))
  }

  test("bpe: words with quotes and backslashes merge correctly") {
    import spark.implicits._
    // the winning pair involves symbols containing ' and \ — the
    // Spark-side rewrite pattern must survive literal escaping
    val docs = Seq((1L, "a'b a'b a\\c a\\c")).toDF("doc_id", "text")
    val m = graft.llm.Bpe.merges(docs, rounds = 2).collect()
    assert(m.length == 2)
    assert(m(0).getAs[Long]("cnt") == 2 && m(1).getAs[Long]("cnt") == 2)
    val merged = m.map(_.getAs[String]("merged")).toSet
    assert(merged.exists(s => s.contains("'") || s.contains("\\")),
      s"merged=$merged")
  }
}
