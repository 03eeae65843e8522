package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Components, Dedup, LangModel, SemDedup, Similarity, SpanDedup}

/** Round-6 corpus-quality operators: bigram LM scoring, duplicated-span
  * removal, incremental dedup, semantic dedup. */
class QualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- bigram LM ---------------------------------------------------

  test("bigram LM: hand-computed probabilities on a three-doc corpus") {
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b c"),
      (3L, "c")).toDF("doc_id", "text")
    // bigrams: d1: (a,b) (b,a) (a,b); d2: (a,b) (b,c). d3: none.
    // c(a,b)=3, c(b,a)=1, c(b,c)=1; ctx a=3, b=2; V = {a,b,c} = 3
    val got = LangModel.bigramScores(docs, "doc_id", "text", docs, "text", addK = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pAB = (3 + 0.5) / (3 + 0.5 * 3)
    val pBA = (1 + 0.5) / (2 + 0.5 * 3)
    val pBC = (1 + 0.5) / (2 + 0.5 * 3)
    val d1 = (math.log(pAB) * 2 + math.log(pBA)) / 3
    val d2 = (math.log(pAB) + math.log(pBC)) / 2
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - d1) < 1e-12)
    assert(got(2L)._1 == 2L && math.abs(got(2L)._2 - d2) < 1e-12)
    assert(!got.contains(3L), "single-token doc has no bigram evidence")
  }

  test("Kneser-Ney LM: hand-computed smoothing incl. OOV word and OOV context") {
    // train: "a b a c" + "b a" → cb {(a,b):1,(b,a):2,(a,c):1}, T=3,
    // cx {a:2(n1c 2), b:2(n1c 1)}, n1e {a:1,b:1,c:1}, V=3
    // Pc(seen)=1.5/5=0.3, Pc(OOV)=0.5/5=0.1
    val train = Seq((1L, "a b a c"), (2L, "b a")).toDF("doc_id", "text")
    val eval = Seq((10L, "a b z a")).toDF("doc_id", "text")
    val got = graft.pipeline.LangModel
      .knBigramScores(eval, "doc_id", "text", train, "text", discount = 0.75)
      .head()
    assert(got.getAs[Long]("n_bigrams") == 3L)
    // (a,b): (max(1-.75,0) + .75*2*0.3)/2 = 0.35
    // (b,z): OOV word, seen context: (.75*1*0.1)/2 = 0.0375
    // (z,a): OOV context → backoff Pc(a) = 0.3
    val want = (math.log(0.35) + math.log(0.0375) + math.log(0.3)) / 3
    assert(math.abs(got.getAs[Double]("avg_logp") - want) < 1e-12)
    // P(·|a) is a PROPER distribution: seen continuations + one OOV
    // outcome sum to exactly 1 (the interpolation mass balances)
    val probes = Seq((20L, "a a"), (21L, "a b"), (22L, "a c"), (23L, "a z"))
      .toDF("doc_id", "text")
    val ps = graft.pipeline.LangModel
      .knBigramScores(probes, "doc_id", "text", train, "text", discount = 0.75)
      .collect().map(r => math.exp(r.getAs[Double]("avg_logp"))).sum
    assert(math.abs(ps - 1.0) < 1e-12, s"P(.|a) must sum to 1, got $ps")
  }

  test("bigram LM: repetitive text scores higher than unseen-word text") {
    val docs = (0L until 20L).map(i => (i, "the cat sat on the mat")) :+
      (99L, "zz qq vv ww xx yy")
    val df = docs.toDF("doc_id", "text")
    val got = LangModel.bigramScores(df, "doc_id", "text", df, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(0L) > got(99L), "formulaic text must out-score noise")
    assert(got.values.forall(_ < 0.0), "log-probs are negative")
  }

  test("score buckets: ordered per group, ties share a bucket, thirds-sized") {
    val rng = new scala.util.Random(5)
    // two groups; group "b" plants a 6-way tie straddling a boundary
    val rows = (0 until 90).map(i => ("a", i.toLong, rng.nextDouble() * 10 - 5)) ++
      (0 until 30).map(i => ("b", 100L + i,
        if (i >= 12 && i < 18) 1.5 else rng.nextDouble() + (if (i < 12) -3.0 else 3.0)))
    val got = LangModel.scoreBuckets(
        rows.toDF("lang", "doc_id", "score"), "lang", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    got.groupBy(_._1).foreach { case (g, rs) =>
      val by = rs.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      assert(by.keySet == Set("head", "middle", "tail"), s"group $g buckets")
      // strict ordering between buckets — equal scores can never split
      assert(by("tail").max < by("middle").min, s"group $g tail<middle")
      assert(by("middle").max < by("head").min, s"group $g middle<head")
      // ~thirds (ties may shift counts, never past the tie block size)
      val n = rs.size
      by.values.foreach(b => assert(b.size >= n / 3 - 6 && b.size <= n / 3 + 6))
    }
    // the planted 6-way tie landed whole in exactly one bucket
    val tie = got.filter(r => r._1 == "b" && r._3 == 1.5).map(_._4).toSet
    assert(tie.size == 1)
  }

  test("DSIR: target-like docs outweigh off-domain docs; ratio signs correct") {
    // target domain speaks "cat mat"; off-domain speaks "zz qq"
    val raw = ((0L until 10L).map(i => (i, "the cat sat on the mat again")) ++
      (100L until 110L).map(i => (i, "zz qq vv zz qq vv zz qq"))).toDF("doc_id", "text")
    val target = (0L until 5L).map(i => (i, "the cat sat on the mat again"))
      .toDF("doc_id", "text")
    val got = LangModel.dsirWeights(raw, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // absolute sign is smoothing-dependent on a tiny corpus (k·B
    // dominates the totals); the DSIR contract is the RANKING
    assert(got(0L) > got(100L) + 1.0,
      s"target-like must clearly outweigh off-domain: ${got(0L)} vs ${got(100L)}")
    assert(got.filterKeys(_ < 10L).values.forall(v => v > got(100L)),
      "every target-like doc outranks every off-domain doc")
  }

  // ---- duplicated-span removal ------------------------------------

  test("span dedup: shared span removed from later doc only; clean docs untouched") {
    val span = "one two three four five six seven eight"   // 8 tokens
    val docs = Seq(
      (1L, s"alpha $span beta"),
      (2L, s"gamma delta $span"),
      (3L, "no duplicated content here at all")).toDF("doc_id", "text")
    val got = SpanDedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((10L, 0L, s"alpha $span beta")), "first occurrence kept")
    assert(got(2L) == ((10L, 8L, "gamma delta")), "later occurrence stripped")
    assert(got(3L) == ((6L, 0L, "no duplicated content here at all")))
  }

  test("span dedup: overlapping duplicated windows merge into one removed span") {
    // 9-token shared run => two overlapping 8-windows in each doc;
    // removal must strip 9 tokens from doc 2, not 16
    val run = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val docs = Seq(
      (1L, s"$run tail1"),
      (2L, s"head2 $run")).toDF("doc_id", "text")
    val got = SpanDedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((0L, s"$run tail1")))
    assert(got(2L) == ((9L, "head2")))
  }

  test("span dedup: within-doc repetition strips the second occurrence") {
    val span = "p q r s t u v w"
    val docs = Seq((1L, s"$span mid $span")).toDF("doc_id", "text")
    val got = SpanDedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
      .collect().head
    assert(got.getLong(1) == 17L && got.getLong(2) == 8L)
    assert(got.getString(3) == s"$span mid")
  }

  // ---- incremental dedup ------------------------------------------

  test("incremental dedup: corpus hit, batch-internal dup, and novel doc") {
    val corpus = Seq((1L, "old text one"), (2L, "old text two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "old text two"),    // in corpus
      (11L, "brand new text"),  // novel, first
      (12L, "brand new text"),  // novel, dup of 11
      (13L, "other new text")).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, "doc_id", "text",
        Dedup.digestIndex(corpus, "text"))
      .select("doc_id", "decision")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "dup_corpus", 11L -> "kept",
      12L -> "dup_batch", 13L -> "kept"))
  }

  test("incremental dedup: null-text rows still get decisions (mutual dups)") {
    val corpus = Seq((1L, "real text"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq((10L, null.asInstanceOf[String]), (11L, "fresh"),
      (12L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, "doc_id", "text",
        Dedup.digestIndex(corpus, "text"))
      .select("doc_id", "decision")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // corpus has a null text too → batch nulls are corpus dups
    assert(got == Map(10L -> "dup_corpus", 11L -> "kept", 12L -> "dup_corpus"),
      s"every batch row must receive a decision, got $got")
    // without a null in the corpus, batch nulls dedup among themselves
    val got2 = Dedup.incrementalExact(batch, "doc_id", "text",
        Dedup.digestIndex(corpus.filter(col("text").isNotNull), "text"))
      .select("doc_id", "decision")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == Map(10L -> "kept", 11L -> "kept", 12L -> "dup_batch"))
  }

  test("incremental dedup result is invariant to batch partitioning") {
    val corpus = (0L until 50L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    val batch = (0L until 30L).map(i => (100L + i, s"doc ${i % 10} body"))
      .toDF("doc_id", "text")
    val ix = Dedup.digestIndex(corpus, "text")
    val a = Dedup.incrementalExact(batch, "doc_id", "text", ix)
      .select("doc_id", "decision").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Dedup.incrementalExact(batch.repartition(7), "doc_id", "text", ix)
      .select("doc_id", "decision").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
    assert(a.forall(_._2 == "dup_corpus"), "every batch text exists in corpus")
  }

  // ---- HTML extraction --------------------------------------------

  test("htmlToText: scripts/styles/comments dropped, tags stripped, entities decoded") {
    import graft.pipeline.TextAnalysis
    val cases = Seq(
      ("<p>hello <b>world</b></p>", "hello world"),
      ("<script>var a = '<div>' + 1 < 2;</script>after", "after"),
      ("<style>p { color: red }</style>text", "text"),
      ("<!-- secret -->visible", "visible"),
      ("a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end",
        "a & b <tag> \"q\" 's' end"),
      // &amp;lt; is the ESCAPED text "&lt;", not a < character
      ("&amp;lt;", "&lt;"),
      ("  lots   of\n\nspace  ", "lots of space"))
    val got = cases.map(_._1).toDF("h")
      .select(TextAnalysis.htmlToText(col("h"))).collect().map(_.getString(0))
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g == e) }
  }

  test("canonicalizeUrl: variants of one fetch collapse; path case survives") {
    import graft.pipeline.TextAnalysis
    val urls = Seq(
      "https://Example.COM/Page1?utm_source=x&id=2#top",
      "https://example.com/Page1/",
      "HTTPS://EXAMPLE.COM/Page1",
      "https://example.com/Page1").toDF("u")
    val canon = urls.select(TextAnalysis.canonicalizeUrl(col("u")))
      .collect().map(_.getString(0)).toSet
    assert(canon == Set("https://example.com/Page1"),
      s"all variants must collapse to one canonical URL, got $canon")
    // path case is significant: /A and /a stay distinct
    val cased = Seq("https://x.com/A", "https://x.com/a").toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u")))
      .collect().map(_.getString(0)).toSet
    assert(cased.size == 2)
    assert(Seq("https://sub.X.com/p").toDF("u")
      .select(TextAnalysis.urlHost(col("u"))).head().getString(0) == "sub.x.com")
    // scheme-less and protocol-relative URLs canonicalize and resolve
    // a host too — a blocklist must not be bypassable by scheme games
    val bare = Seq("Example.COM/page?utm=x#top", "//Ads.Tracker.NET/x",
      "ads.tracker.net/x/").toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u")).as("c"),
        TextAnalysis.urlHost(col("u")).as("h"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(bare(0) == (("example.com/page", "example.com")))
    assert(bare(1) == (("//ads.tracker.net/x", "ads.tracker.net")))
    assert(bare(2) == (("ads.tracker.net/x", "ads.tracker.net")))
  }

  // ---- trained quality classifier ---------------------------------

  test("quality classifier: separates planted good/bad; column scoring equals MLlib") {
    import graft.pipeline.QualityClassifier
    val rng = new scala.util.Random(3)
    val goodWords = Seq("the", "a", "of", "cat", "house", "garden", "story", "and")
    val badBits = Seq("@@", "##", "$$", "77", "!!", "%%", "123", "&&")
    def mk(ws: Seq[String], n: Int) = Seq.fill(n)(ws(rng.nextInt(ws.size))).mkString(" ")
    val docs = ((0L until 40L).map(i => (i, mk(goodWords, 30), 1.0)) ++
      (100L until 140L).map(i => (i, mk(badBits, 6), 0.0)))
      .toDF("doc_id", "text", "label")
    val seed = docs.filter($"doc_id" % 2 === 0)     // train on half
    val holdout = docs.filter($"doc_id" % 2 === 1)
    val model = QualityClassifier.train(seed, "text", "label")
    val scored = holdout.withColumn("p",
      QualityClassifier.score(col("text"), model)).collect()
    val acc = scored.count(r =>
      (r.getAs[Double]("p") >= 0.5) == (r.getAs[Double]("label") == 1.0)
    ).toDouble / scored.length
    assert(acc >= 0.95, s"holdout accuracy $acc")

    // the column-expression σ(w·f+b) must equal MLlib's own transform
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val ds = seed.select(array_to_vector(
      QualityClassifier.features(col("text"))).as("features"),
      col("label"))
    val mllib = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(50).setRegParam(0.01).setStandardization(true).fit(ds)
    val both = holdout
      .withColumn("p_col", QualityClassifier.score(col("text"), model))
      .withColumn("features", array_to_vector(QualityClassifier.features(col("text"))))
    val viaMl = mllib.transform(both)
      .select(col("doc_id"), col("p_col"),
        element_at(vector_to_array(col("probability")), 2).as("p_ml"))
      .collect()
    viaMl.foreach { r =>
      assert(math.abs(r.getAs[Double]("p_col") - r.getAs[Double]("p_ml")) < 1e-9,
        s"doc ${r.getLong(0)}: column score != MLlib probability")
    }
  }

  // ---- BPE tokenizer ----------------------------------------------

  test("BPE: classic merge order on a hand corpus; encode replays training") {
    import graft.pipeline.Bpe
    // freqs: "aaab"×10, "aab"×5 → pair (a,a) freq 10*2+5 = 25 wins first
    val freqs = Seq(("aaab", 10L), ("aab", 5L))
    val merges = Bpe.trainMerges(freqs, 3)
    assert(merges.head == Bpe.Merge("a", "a"))
    // after (a,a): "aaab" = [aa, a, b], "aab" = [aa, b]
    // pairs: (aa,a)=10, (a,b)=10, (aa,b)=5 → tie 10: (a,b) vs (aa,a),
    // lexicographic asc picks (a,b)... "a" < "aa" so (a,b) vs (aa,a):
    // compare left first: "a" < "aa" → (a,b) wins
    assert(merges(1) == Bpe.Merge("a", "b"))
    // merge 3 fuses the remaining halves of the frequent word
    assert(merges(2) == Bpe.Merge("aa", "ab"))
    def ranksOf(ms: Seq[Bpe.Merge]) =
      ms.zipWithIndex.map { case (m, i) => ((m.left, m.right), i) }.toMap
    // encode must replay training exactly on a training word
    assert(Bpe.encodeWord("aaab", ranksOf(merges.take(2))).mkString("|") == "aa|ab")
    assert(Bpe.encodeWord("aaab", ranksOf(merges)).mkString("|") == "aaab")
    // round-trip: tokens concatenate back to the word
    assert(Bpe.encodeWord("ababa", ranksOf(merges)).mkString == "ababa")
  }

  test("BPE: corpus train/encode — round trip, compression, determinism") {
    import graft.pipeline.Bpe
    val docs = corpusLike(60).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", numMerges = 40)
    // the small vocab fuses completely before 40 merges — training
    // stops when no pair remains, never loops
    assert(merges.nonEmpty && merges.size <= 40)
    val enc = Bpe.encodeCorpus(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, t) =>
      val words = t.trim.split("\\s+").filter(_.nonEmpty)
      assert(enc(id).mkString == words.mkString, s"round trip failed for doc $id")
      assert(enc(id).length <= words.map(_.length).sum,
        "merged tokens can never exceed character count")
    }
    // more merges → token count never increases
    val enc10 = Bpe.encodeCorpus(docs, "doc_id", "text", merges.take(10))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).length).toMap
    texts.keys.foreach { id => assert(enc(id).length <= enc10(id)) }
    // determinism under repartitioning (memo is per-partition)
    val encShuffled = Bpe.encodeCorpus(docs.repartition(7), "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(encShuffled == enc)
    // a frequent whole word collapses to one token with enough merges
    val freqWord = texts.values.flatMap(_.split(" ")).groupBy(identity)
      .maxBy(_._2.size)._1
    val full = Bpe.train(docs, "text", numMerges = 200)
    val ranks = full.zipWithIndex.map { case (m, i) => ((m.left, m.right), i) }.toMap
    assert(Bpe.encodeWord(freqWord, ranks).length == 1,
      s"most frequent word '$freqWord' should become a single token")
  }

  private def corpusLike(n: Int): Seq[(Long, String)] = {
    val vocab = Seq("spark", "join", "filter", "scan", "merge", "sort",
      "hash", "group", "query", "table")
    val rng = new scala.util.Random(13)
    (0L until n.toLong).map { i =>
      i -> Seq.fill(25)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
  }

  // ---- semantic dedup ---------------------------------------------

  /** Clustered embeddings with planted semantic dups: 8 well-separated
    * cluster directions, vectors jittered around them; a pair within a
    * cluster has high cosine, across clusters ~0. */
  lazy val semCorpus = {
    val rng = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian()))
    val rows = (0L until 400L).map { i =>
      val c = centers((i % 8).toInt)
      val v = c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat)
      (i, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("trained artifacts round-trip through persistence bit-exactly") {
    import graft.pipeline.{Bpe, QualityClassifier}
    val docs = corpusLike(40).toDF("doc_id", "text")
    // BPE merges: merges.txt convention, rank order = file order
    val merges = Bpe.train(docs, "text", numMerges = 24)
    val mPath = java.nio.file.Files.createTempDirectory("bpe").toString + "/merges.txt"
    Bpe.saveMerges(merges, mPath)
    assert(Bpe.loadMerges(mPath) == merges)
    // an encode with loaded merges is identical to the in-memory one
    val a = Bpe.encodeCorpus(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = Bpe.encodeCorpus(docs, "doc_id", "text", Bpe.loadMerges(mPath))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a == b)

    // classifier: raw-bits JSON keeps every coefficient bit-identical
    val seed = docs.withColumn("label",
      (graft.pipeline.TextAnalysis.qualityScore(col("text")) >= 0.5).cast("double"))
    val model = QualityClassifier.train(seed, "text", "label")
    val cPath = java.nio.file.Files.createTempDirectory("qc").toString + "/model.json"
    QualityClassifier.save(model, cPath)
    val loaded = QualityClassifier.load(cPath)
    assert(loaded.coefficients.toSeq.map(java.lang.Double.doubleToLongBits) ==
      model.coefficients.toSeq.map(java.lang.Double.doubleToLongBits))
    assert(java.lang.Double.doubleToLongBits(loaded.intercept) ==
      java.lang.Double.doubleToLongBits(model.intercept))
  }

  test("incremental minhash equals the full-batch recomputation on batch pairs") {
    val corpus = corpusLike(60).toDF("doc_id", "text")
    // batch: near-copies of corpus docs (one appended token), one
    // exact-ish pair WITHIN the batch, and one unrelated doc
    val rng = new scala.util.Random(99)
    val batchRows = corpusLike(60).filter(_._1 % 6 == 0)
      .map { case (id, t) => (id + 1000L, t + " extrawordhere") } ++
      Seq((2001L, corpusLike(3).head._2 + " twin"),
        (2002L, corpusLike(3).head._2 + " twin sibling"),
        (2003L, Seq.fill(25)("zz" + rng.nextInt(1000)).mkString(" ")))
    val batch = batchRows.toDF("doc_id", "text")

    val index = Dedup.minhashIndex(corpus, "doc_id", "text")
    val inc = Dedup.incrementalMinhash(batch, "doc_id", "text", index,
        threshold = 0.3)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet

    val batchIds = batchRows.map(_._1).toSet
    val full = Dedup.minhashNearDups(corpus.unionAll(batch), "doc_id", "text",
        threshold = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => batchIds(a) || batchIds(b) }.toSet
    assert(inc.nonEmpty, "fixture must produce near-dup pairs")
    assert(inc == full, s"incremental ${inc.size} vs full ${full.size}")
    // origins: corpus hits for planted near-copies, batch hit for the twin pair
    val origins = Dedup.incrementalMinhash(batch, "doc_id", "text", index,
        threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(3)).toMap
    assert(origins.exists(_._2 == "corpus"))
    assert(origins((2001L, 2002L)) == "batch")
  }

  test("incremental simhash EQUALS the full recomputation on batch pairs") {
    val corpus = corpusLike(60).toDF("doc_id", "text")
    val rng = new scala.util.Random(99)
    val batchRows = corpusLike(60).filter(_._1 % 6 == 0)
      .map { case (id, t) => (id + 1000L, t + " extrawordhere") } ++
      Seq((2001L, corpusLike(3).head._2 + " twin"),
        (2002L, corpusLike(3).head._2 + " twin sibling"),
        (2003L, Seq.fill(25)("zz" + rng.nextInt(1000)).mkString(" ")))
    val batch = batchRows.toDF("doc_id", "text")
    val h = 6 // generous radius so the one-appended-token copies qualify

    val index = Dedup.simhashIndex(corpus, "doc_id", "text", maxHamming = h)
    val inc = Dedup.incrementalSimhash(batch, "doc_id", "text", index,
        maxHamming = h, threshold = 0.3)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getInt(2), r.getDouble(3))).toSet

    // candidate generation is pigeonhole-complete on both sides, so
    // this is an exact equality, not a recall bound (unlike minhash
    // where both sides merely hash identically)
    val batchIds = batchRows.map(_._1).toSet
    val full = Dedup.simhashNearDups(corpus.unionAll(batch), "doc_id", "text",
        maxHamming = h, threshold = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .filter { case (a, b, _, _) => batchIds(a) || batchIds(b) }.toSet
    assert(inc.nonEmpty, "fixture must produce near-dup pairs")
    assert(inc == full, s"incremental ${inc.size} vs full ${full.size}")
    val origins = Dedup.incrementalSimhash(batch, "doc_id", "text", index,
        maxHamming = h, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(4)).toMap
    assert(origins.exists(_._2 == "corpus"))
    assert(origins((2001L, 2002L)) == "batch")
  }

  test("semantic dedup: precision 1 vs exact cosine; recall bounded below") {
    val t = 0.9
    val exact = Similarity.cosineNearDups(semCorpus, "vec_id", "embedding", t)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SemDedup.semanticPairs(semCorpus, "vec_id", "embedding",
        nlist = 8, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain semantic dups")
    assert(got.subsetOf(exact), "every emitted pair is exact-verified")
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (got ${got.size} of ${exact.size})")
  }

  test("semantic dedup clusters: every vec labeled; reps are cluster minima") {
    val labeled = SemDedup.semanticDedup(semCorpus, "vec_id", "embedding",
      nlist = 8, threshold = 0.9)
    val rows = labeled.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == 400, "one row per corpus vector")
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      assert(members.map(_._1).min == c, "cluster label is min member id")
      assert(members.count(_._3) == 1 && members.find(_._3).get._1 == c,
        "exactly the min-id member is the representative")
    }
    Components.release(labeled)
  }

  test("semantic dedup against a persisted index equals the in-place build") {
    import graft.pipeline.IvfAnn
    val dir = java.nio.file.Files.createTempDirectory("semix").toString + "/ix"
    val index = IvfAnn.loadOrBuild(semCorpus, "vec_id", "embedding",
      nlist = 8, dir = dir)
    val viaIndex = SemDedup.semanticDedupWithIndex(index, "vec_id", threshold = 0.9)
    val inPlace = SemDedup.semanticDedup(semCorpus, "vec_id", "embedding",
      nlist = 8, threshold = 0.9)
    val a = viaIndex.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val b = inPlace.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // seeded-deterministic quantizer: build-then-load must label
    // identically to build-in-place (the d6 deploy contract)
    assert(a == b)
    Components.release(viaIndex)
    Components.release(inPlace)
    // and a RE-load (second consumer) sees the same index
    assert(graft.util.Stage.isCommitted(dir))
    val again = SemDedup.semanticDedupWithIndex(
      IvfAnn.loadOrBuild(semCorpus, "vec_id", "embedding", nlist = 8, dir = dir),
      "vec_id", threshold = 0.9)
    assert(again.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet == a)
    Components.release(again)
  }
}
