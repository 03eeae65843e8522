package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Correctness of the training-data pipeline operators, incl. recall of
  * the probabilistic variants against exact baselines on a corpus with
  * planted duplicates. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 60 base docs of word soup + planted exact dups + near dups. */
  lazy val corpus = {
    val vocab = Seq("spark", "join", "filter", "scan", "merge", "sort",
      "hash", "group", "query", "table", "row", "column", "the", "a", "fast")
    val rng = new scala.util.Random(7)
    val base = (0L until 60L).map { i =>
      i -> Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    val exactDups = Seq(100L -> base(3)._2, 101L -> base(3)._2, 102L -> base(7)._2)
    // near dup: copy doc 5 and change the last two words
    val near = Seq(200L -> (base(5)._2.split(" ").dropRight(2) ++ Seq("zzz", "yyy")).mkString(" "))
    (base ++ exactDups ++ near).toDF("doc_id", "text")
  }

  test("per-row shingles equal the gram-stream sets; per-row minhash equals the closed form") {
    // WordShingles (scan-stage expression) vs the gram-stream
    // formulation (explode + collect_set): same sets per doc
    val viaExpr = Dedup.withShingles(corpus, "doc_id", "text", 3, "_sh")
      .select("doc_id", "_sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val viaGrams = Dedup.gramRows(corpus, "doc_id", "text", 3)
      .groupBy("_sh_id").agg(collect_set(col("_sh_g")).as("_sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(viaExpr.keySet == viaGrams.keySet ++
      viaExpr.filter(_._2.isEmpty).keys) // gram stream drops shingle-less docs
    viaGrams.foreach { case (id, s) => assert(viaExpr(id) == s, s"doc $id") }
    // MinHashSig (scan-stage expression) vs the closed-form HOF
    // signature: bit-identical arrays
    val sigExpr = Dedup.withMinhash(corpus, "doc_id", "text", 3, 32)
      .select("doc_id", "_sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sigClosed = Dedup.withShingles(corpus, "doc_id", "text", 3, "_sh")
      .filter(size(col("_sh")) > 0)
      .select(col("doc_id"), Dedup.minhashSignature(col("_sh"), 32).as("_sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigExpr.keySet == sigClosed.keySet)
    sigClosed.foreach { case (id, s) => assert(sigExpr(id) == s, s"doc $id") }
  }

  test("exact dedup keeps min id and counts copies") {
    val got = Dedup.exactDedup(corpus, "doc_id", "text")
    assert(got.count() == 61)   // 64 rows, 3 planted exact copies removed
    val kept = got.filter(col("n_copies") > 1).select("doc_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kept == Map(3L -> 3L, 7L -> 2L))
  }

  test("minhash LSH finds every pair the exact n-gram Jaccard finds (recall=1 here)") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(corpus, "doc_id", "text", 3, 32, 8, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain near-dup pairs")
    assert(exact.contains((3L, 100L)) && exact.contains((100L, 101L)))
    // identical docs always collide in every band; near pair J≈0.95 whp
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
    // precision: verification step guarantees no below-threshold pair
    val verified = Dedup.minhashNearDups(corpus, "doc_id", "text", 3, 32, 8, 0.5)
      .collect().map(_.getAs[Double]("jaccard"))
    assert(verified.forall(_ >= 0.5))
  }

  test("simhash: identical docs at hamming 0; near dups close; verification bounds precision") {
    val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text",
      maxHamming = 8, shingleWords = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(pairs.get((3L, 100L)).contains(0), "identical docs must hash identically")
    assert(pairs.get((100L, 101L)).contains(0))
    assert(pairs.contains((5L, 200L)), "planted near-dup should survive at hamming<=8")
  }

  test("fused shingles+simhash pass equals the separate two-pass computation") {
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getSeq[String](1).toSet, r.getLong(2))
    val fused = Dedup.withShinglesAndSimhash(corpus, "doc_id", "text", 3, "_sh", "_sim")
      .select(col("doc_id"), col("_sh"), col("_sim")).collect().map(key).toMap
    val sep = Dedup.withSimhash(
        Dedup.withShingles(corpus, "doc_id", "text", 3, "_sh")
          .withColumn("_tokens", split(trim(col("text")), "\\s+")),
        "doc_id", "_tokens")
      .select(col("doc_id"), col("_sh"), col("_sim")).collect().map(key).toMap
    assert(fused.keySet == sep.keySet)
    fused.foreach { case (id, v) => assert(v == sep(id), s"doc $id diverges") }
  }

  test("ngram jaccard matches hand-computed value on the planted near-dup") {
    val j = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.1)
      .filter(col("id_a") === 5L && col("id_b") === 200L)
      .head().getAs[Double]("jaccard")
    // doc: 40 words → 38 shingles; edit last 2 words → changes last 3
    // shingles (but duplicates in word soup make the exact sets data-
    // dependent); recompute naively:
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val a = sh(corpus.filter(col("doc_id") === 5L).head().getString(1))
    val b = sh(corpus.filter(col("doc_id") === 200L).head().getString(1))
    val want = a.intersect(b).size.toDouble / a.union(b).size
    assert(math.abs(j - want) < 1e-12)
  }

  test("prefix-filtered exact Jaccard equals exhaustive inverted-index join") {
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val pref = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, tau, prefixFilter = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
      val full = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, tau, prefixFilter = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
      assert(full.nonEmpty, s"tau=$tau fixture has no pairs")
      assert(pref == full, s"tau=$tau: missed=${full -- pref} extra=${pref -- full}")
    }
  }

  test("cosine + brute-force top-k against naive computation") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.0f, 0.9f, 0.1f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val got = Similarity.bruteForceTopK(vecs, q, 2)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"))).toList
    assert(got == List((1L, 1L), (2L, 2L)))   // 0.994, 0.0; -1 excluded by rank
    val sim01 = Similarity.bruteForceTopK(vecs, q, 1).head().getAs[Double]("sim")
    val want = 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)
    assert(math.abs(sim01 - want) < 1e-6)
  }

  test("LSH-blocked cosine near-dup: recall >= 0.95 vs brute force, precision exact") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.cosineNearDups(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineNearDupsLsh(emb, "vec_id", "embedding",
        threshold = 0.4, dim = 64, numTables = 24, planesPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has no near-dup pairs")
    // verification step makes precision exact: every emitted pair is real
    assert((lsh -- exact).isEmpty, s"false positives: ${lsh -- exact}")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH near-dup recall $recall too low")
  }

  test("ANN LSH top-k recall >= 0.8 vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val exact = Similarity.bruteForceTopK(emb, q, 5)
      .select("q_vec_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, q, 5, dim = 64)
      .select("q_vec_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.8, s"ANN recall $recall too low")
  }

  test("IVF ANN top-k recall >= 0.8 vs brute force on real embeddings") {
    import graft.pipeline.IvfAnn
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val exact = Similarity.bruteForceTopK(emb, q, 5)
      .select("q_vec_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = IvfAnn.buildIndex(emb, "vec_id", "embedding", nlist = 8)
    val ivf = IvfAnn.topK(index, q, k = 5, nprobe = 5)
      .select("q_vec_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall too low")
  }

  test("IVF index persists cell-partitioned and reloads to identical top-k") {
    import graft.pipeline.IvfAnn
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_persist").toString
    assert(!graft.util.Stage.isCommitted(dir))
    val viaBuild = IvfAnn.loadOrBuild(emb, "vec_id", "embedding", 8, dir)
    assert(graft.util.Stage.isCommitted(dir))
    // the layout is partitioned by cell id → a probe reads only its cells
    val seg = new graft.util.SegmentTable(java.nio.file.Paths.get(dir), "").paths.head
    val cellDirs = new java.io.File(s"$seg/assigned").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_cell="))
    assert(cellDirs.length == 8, s"expected 8 cell partitions, got ${cellDirs.length}")
    def topk(ix: IvfAnn.Index) = IvfAnn.topK(ix, q, k = 5, nprobe = 5)
      .select("q_vec_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = topk(viaBuild)
    // second loadOrBuild must be a pure load (no retrain) with equal output
    val viaLoad = IvfAnn.loadOrBuild(emb, "vec_id", "embedding", 8, dir)
    assert(topk(viaLoad) == first)
  }

  test("IVF-PQ ANN: recall >= 0.75 vs brute force; codes reconstruct better than cells alone") {
    import graft.pipeline.PqAnn
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val exact = Similarity.bruteForceTopK(emb, q, 5)
      .select("q_vec_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (index, assigned) = PqAnn.buildIndexWithAssigned(
      emb, "vec_id", "embedding", dim = 64, nlist = 8, m = 8, ksub = 64)
    val pq = PqAnn.topK(index, emb, q, k = 5, nprobe = 5, rerankFactor = 8)
      .select("q_vec_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // deterministic 0.84 here: synthetic near-uniform embeddings are
    // PQ's worst case (no cluster structure for the codebooks to
    // exploit), and nprobe=5/8 caps attainable recall regardless
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.75, s"IVF-PQ recall $recall too low")

    // compression + reconstruction: codes are m bytes, and decoding
    // cell + codeword must beat the coarse quantizer alone (the PQ
    // refinement has to buy accuracy, not just bytes)
    val model = index.model
    val rows = assigned.join(index.codes.select("vec_id", "_code"), Seq("vec_id"))
      .select("_ne", "_cell", "_code").collect()
    assert(rows.nonEmpty)
    var errPq = 0.0; var errCell = 0.0
    rows.foreach { r =>
      val v = r.getSeq[Double](0); val cell = r.getInt(1)
      val code = r.getAs[Array[Byte]](2)
      assert(code.length == 8, "one byte per subvector")
      val cc = model.cells(cell)
      var j = 0
      while (j < model.dim) {
        val w = model.books(j / model.dsub)(code(j / model.dsub) & 0xff)
        val dPq = v(j) - cc(j) - w(j % model.dsub)
        val dCe = v(j) - cc(j)
        errPq += dPq * dPq; errCell += dCe * dCe
        j += 1
      }
    }
    assert(errPq < errCell * 0.8,
      s"PQ refinement too weak: pq=$errPq cell-only=$errCell")
    assigned.unpersist()
  }

  test("IVF-PQ index persists and reloads to identical top-k") {
    import graft.pipeline.PqAnn
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_persist").toString
    assert(!graft.util.Stage.isCommitted(dir))
    val viaBuild = PqAnn.loadOrBuild(emb, "vec_id", "embedding",
      dim = 64, nlist = 8, m = 8, ksub = 16, dir = dir)
    assert(graft.util.Stage.isCommitted(dir))
    val seg = new graft.util.SegmentTable(java.nio.file.Paths.get(dir), "").paths.head
    val cellDirs = new java.io.File(s"$seg/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_cell="))
    assert(cellDirs.length == 8, s"expected 8 cell partitions, got ${cellDirs.length}")
    def topk(ix: PqAnn.Index) = PqAnn.topK(ix, emb, q, k = 5, nprobe = 5)
      .select("q_vec_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = topk(viaBuild)
    assert(first.nonEmpty)
    // second loadOrBuild must be a pure load (no retrain) with equal output
    val viaLoad = PqAnn.loadOrBuild(emb, "vec_id", "embedding",
      dim = 64, nlist = 8, m = 8, ksub = 16, dir = dir)
    assert(topk(viaLoad) == first)
  }

  test("frozen-model PQ encode reproduces the index's own codes; appended twins surface") {
    import graft.pipeline.PqAnn
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (index, assigned) = PqAnn.buildIndexWithAssigned(
      emb, "vec_id", "embedding", dim = 64, nlist = 8, m = 8, ksub = 16)
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet
    // re-encoding the corpus against the frozen model must be a no-op
    val re = PqAnn.encodeNew(index.model, emb, "vec_id", "embedding")
    assert(codeSet(re) == codeSet(index.codes.select("vec_id", "_cell", "_code")))
    assigned.unpersist()
    // verbatim twins (ids offset) appended without retraining: each
    // query's twin must surface at rank 1 with sim ~ 1
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val grown = PqAnn.Index(index.model,
      index.codes.unionByName(PqAnn.encodeNew(index.model, batch, "vec_id", "embedding")))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val top1 = PqAnn.topK(grown,
        emb.select("vec_id", "embedding").unionByName(batch), q,
        k = 1, nprobe = 3, rerankFactor = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L until 5L).foreach { i =>
      val (hit, sim) = top1(i)
      assert(hit == i + 1000000L && sim > 0.9999,
        s"query $i: expected twin at rank 1, got $hit (sim $sim)")
    }
  }

  test("reciprocal-rank fusion matches hand computation, incl. one-sided documents") {
    import graft.pipeline.Retrieval
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 11L, 1L), (1L, 13L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", kRrf = 60)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    // doc 11 in both lists; 10/12 lexical-only; 13 dense-only
    assert(math.abs(got(11L) - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(math.abs(got(10L) - 1.0 / 61) < 1e-12)
    assert(math.abs(got(12L) - 1.0 / 63) < 1e-12)
    assert(math.abs(got(13L) - 1.0 / 62) < 1e-12)
    assert(got.size == 4)
    // the shared doc must outrank every one-sided doc here
    assert(got(11L) > got.removed(11L).values.max)
  }

  test("text analysis functions: tokens, bpe-ish, punctuation, quality, langid, fingerprint") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "der schnelle braune fuchs und der hund ist da"),
      (3L, "el perro y la casa de los gatos es un lugar"),
      (4L, "xyzzy plugh!! 42 foo-bar"),
      (5L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("ntok"),
      TextAnalysis.bpeishTokenCount(col("text")).as("nbpe"),
      TextAnalysis.punctCount(col("text")).as("npunct"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4), r.getLong(5))).toMap
    assert(got(1L)._1 == 9 && got(1L)._4 == "en")
    assert(got(2L)._4 == "de")
    assert(got(3L)._4 == "es")
    // "xyzzy plugh!! 42 foo-bar": tokens=4; bpe: xyzzy,plugh,!,!,4,2,foo,-,bar=9; punct: !!- =3
    assert(got(4L) == ((4, 9, 3, "und", got(4L)._5)))
    assert(got(5L)._1 == 0 && got(5L)._5 == 0L)
    // fingerprint matches the naive rolling hash
    def naiveFp(s: String) = s.toLowerCase.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    assert(got(1L)._5 == naiveFp("the quick brown fox jumps over the lazy dog"))
  }

  test("RollingHash expression ≡ the interpreted split/ascii/aggregate fold, unicode included") {
    // the composable HOF form the codegen expression replaced — kept
    // here as the semantic oracle (codepoint-wise split, full-codepoint
    // ascii, left-to-right fold)
    def hofFp(text: org.apache.spark.sql.Column) = {
      val chars = filter(split(lower(text), ""), c => c =!= "")
      aggregate(transform(chars, c => ascii(c).cast("long")),
        lit(0L), (acc, c) => (acc * 31L + c) % 1000000007L)
    }
    val texts = Seq("the quick brown fox", "", " ", "HÉLLO wörld", "€uro – sign",
      "emoji 😀 pair", "tab\tand\nnewline", "a" * 2000,
      "mixed ASCII και ελληνικά и русский 中文")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(col("id"), hofFp(col("text")).as("hof"),
      TextAnalysis.fingerprint(col("text")).as("native")).collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}"))
    // null text → null fingerprint, both forms
    val nr = Seq((0L, Option.empty[String])).toDF("id", "text")
      .select(hofFp(col("text")).as("hof"),
        TextAnalysis.fingerprint(col("text")).as("native")).collect()(0)
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("multimodal: binary plumbing round-trips with deterministic stub features") {
    val docs = Seq((1L, "hello world", "en", "srcA", 11L),
      (2L, "abc", "en", "srcB", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.mediaFromDocuments(spark, docs)
    val feats = Multimodal.extractFeatures(media, dim = 4).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes == 11 && feats(2L).n_bytes == 3)
    assert(feats(1L).features.length == 4)
    // checksum/features must equal the direct scala computation
    val bytes = "hello world".getBytes("UTF-8")
    assert(feats(1L).checksum == Multimodal.checksum(bytes))
    // the content fingerprint is standard lowercase-hex MD5 (the RFC
    // 1321 test-vector spelling every engine agrees on)
    assert(feats(1L).payload_md5 == "5eb63bbbe01eeed093cb22bb8f5acdc3")
    assert(feats(1L).features.sameElements(Multimodal.decodeStub(bytes, 4)))
    // frame sampling: 3 chunks from 11 bytes
    val frames = Multimodal.frameSample(bytes, 3, 2)
    assert(frames.length == 3 && frames.forall(_.length <= 2))
  }

  test("multimodal: ImageIO decodes real PNGs — dims, sums, features; fallback for garbage") {
    // PNG round-trip: synthesized pixels must come back exactly
    for (id <- Seq(0L, 7L, 123L, 100000L)) {
      val (w, h) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)
      val st = Multimodal.imageStats(Multimodal.syntheticPng(id)).get
      assert(st.width == w && st.height == h && st.channels == 3)
      for (c <- 0 until 3) {
        var want = 0L
        for (y <- 0 until h; x <- 0 until w)
          want += (x + 2L * y + id + 5L * c) % 256
        assert(st.sums(c) == want, s"id=$id channel=$c")
      }
    }
    // feature vector layout: [w, h, nch, means, stds]
    val f = Multimodal.decodeImage(Multimodal.syntheticPng(7L), 9).get
    val st7 = Multimodal.imageStats(Multimodal.syntheticPng(7L)).get
    val n = st7.width * st7.height.toDouble
    assert(f(0) == st7.width && f(1) == st7.height && f(2) == 3f)
    assert(math.abs(f(3) - st7.sums(0) / n) < 1e-4)
    // undecodable bytes → None → extractFeatures falls back to the stub
    assert(Multimodal.imageStats("not an image".getBytes).isEmpty)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", Multimodal.syntheticPng(1L), "s"),
      Multimodal.MediaRecord(2L, "image", "garbage".getBytes, "s"),
      Multimodal.MediaRecord(3L, "audio", Multimodal.syntheticPng(1L), "s"))
      .toDS()
    val out = Multimodal.extractFeatures(media, dim = 9).collect()
      .map(r => r.media_id -> r.features).toMap
    assert(out(1L).sameElements(Multimodal.decodeImage(Multimodal.syntheticPng(1L), 9).get))
    assert(out(2L).sameElements(Multimodal.decodeStub("garbage".getBytes, 9)))
    // audio rows never consult ImageIO even when bytes happen to be a PNG
    assert(out(3L).sameElements(Multimodal.decodeStub(Multimodal.syntheticPng(1L), 9)))
  }

  test("multimodal: javax.sound decodes real WAVs — format, exact sums, fallback") {
    for (id <- Seq(0L, 13L, 99999L)) {
      val (n, k) = (200 + (id % 100).toInt, (id % 251) + 3)
      val st = Multimodal.audioStats(Multimodal.syntheticWav(id)).get
      assert(st.channels == 1 && st.sampleRate == 8000 && st.nFrames == n)
      var want = 0L
      for (i <- 0 until n) want += ((i * k) % 65536) - 32768
      assert(st.sums(0) == want, s"id=$id")
    }
    // non-audio bytes → None; audio media rows route through the real decoder
    assert(Multimodal.audioStats("not a wav".getBytes).isEmpty)
    val wav = Multimodal.syntheticWav(5L)
    val out = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(1L, "audio", wav, "s")).toDS(), dim = 6)
      .collect().head.features
    assert(out.sameElements(Multimodal.decodeAudio(wav, 6).get))
    assert(out(0) == 1f && out(1) == 8000f)   // channels, rate from the real header
  }

  test("multimodal: PNG-frame video demux + per-frame decode; video rows use it") {
    val vid = Multimodal.syntheticVideo(42L, 4)
    val frames = Multimodal.splitPngFrames(vid)
    assert(frames.length == 4)
    // each demuxed frame decodes to the same dims but different content
    val stats = frames.map(Multimodal.imageStats(_).get)
    assert(stats.forall(s => s.width == stats.head.width && s.height == stats.head.height))
    assert(stats.map(_.sums(0)).distinct.length == 4)
    // decodeVideo averages per-frame features
    val f = Multimodal.decodeVideo(vid, 9).get
    val perFrame = frames.map(Multimodal.decodeImage(_, 9).get)
    assert(math.abs(f(3) - perFrame.map(_(3)).sum / 4) < 1e-3)
    val out = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(1L, "video", vid, "s")).toDS(), dim = 9)
      .collect().head.features
    assert(out.sameElements(Multimodal.decodeVideo(vid, 9).get))
  }

  test("corpus profile sketches stay within error bounds of exact stats") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val prof = TextAnalysis.corpusProfile(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val tokCounts = docs
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getInt(1)).sorted.toIndexedSeq).toMap
    val exactDistinct = docs.groupBy("source")
      .agg(countDistinct(col("text")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prof.keySet == tokCounts.keySet)
    tokCounts.foreach { case (src, sorted) =>
      val p = prof(src)
      assert(p.getLong(1) == sorted.size.toLong, s"$src n_docs must be exact")
      val nd = exactDistinct(src).toDouble
      assert(math.abs(p.getLong(2) - nd) <= math.max(0.1 * nd, 2.0),
        s"$src HLL distinct ${p.getLong(2)} vs exact $nd drifted > 10%")
      // the sketch returns an actual data value whose rank error is
      // bounded — assert it lands inside a ±1-rank window around the
      // exact percentile rank (no interpolation ambiguity)
      def rankWindow(q: Double): (Int, Int) = {
        val idx = q * (sorted.size - 1)
        (sorted(math.max(idx.floor.toInt - 1, 0)),
          sorted(math.min(idx.ceil.toInt + 1, sorted.size - 1)))
      }
      for ((q, v) <- Seq((0.5, p.getInt(4)), (0.95, p.getInt(5)))) {
        val (lo, hi) = rankWindow(q)
        assert(v >= lo && v <= hi, s"$src p$q sketch $v outside rank window [$lo,$hi]")
      }
    }
    // deterministic across runs (sketches carry no seeded randomness)
    val again = TextAnalysis.corpusProfile(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(prof.keys.forall(k => again(k) == prof(k).toSeq))
  }

  test("corpusProfileContract: exact columns match a naive recompute, all bound flags pass") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val out = TextAnalysis.corpusProfileContract(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val rows = docs.select(col("source"), col("text"))
      .collect().groupBy(_.getString(0))
    assert(out.keySet == rows.keySet)
    rows.foreach { case (src, rs) =>
      val r = out(src)
      val texts = rs.map(_.getString(1)).toIndexedSeq
      val toks = texts
        .map(t => t.trim.split("\\s+").count(_.nonEmpty).toLong).sorted
      assert(r.getAs[Long]("n_docs") == texts.size.toLong)
      assert(r.getAs[Long]("n_tokens_total") == toks.sum)
      assert(r.getAs[Long]("n_chars_total") == texts.map(_.length.toLong).sum)
      assert(r.getAs[Long]("exact_distinct_texts") == texts.distinct.size.toLong)
      // order statistic at the all-integer rank 1 + (q·(n−1)) div 100
      def orderStat(q: Int): Long = toks((q * (toks.size - 1)) / 100)
      assert(r.getAs[Long]("p50_tokens_exact") == orderStat(50), s"$src p50")
      assert(r.getAs[Long]("p95_tokens_exact") == orderStat(95), s"$src p95")
      Seq("hll_within_bound", "p50_within_bound", "p95_within_bound")
        .foreach(c => assert(r.getAs[Long](c) == 1L, s"$src $c must pass"))
    }
  }

  test("repetition stats match a naive scala computation") {
    val docs = Seq(
      (1L, "a b a b a c"),            // 6 tok, 3 distinct, top=3; 5 2grams: ab,ba,ab,ba,ac → 3 distinct, top=2
      (2L, "x"),                      // 1 tok, no 2grams
      (3L, "  y   y  y ")             // whitespace runs collapse
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got(1L) == ((6L, 3L, 3L, 5L, 3L, 2L)))
    assert(got(2L) == ((1L, 1L, 1L, 0L, 0L, 0L)))
    assert(got(3L) == ((3L, 1L, 3L, 2L, 1L, 2L)))
  }

  test("filter bank: each rule trips on its engineered violator, keep is the conjunction") {
    val good = (Seq("the", "of", "and") ++
      (1 to 47).map(i => s"w$i")).mkString(" ")      // 50 tok, all rules pass
    val docs = Seq(
      (1L, good),
      (2L, "the of " + (1 to 10).map(i => s"w$i").mkString(" ")),  // 12 tok < 30
      (3L, ("the of " + (1 to 48).map(_ => "outlandishlylongtokens").mkString(" "))), // mean word len > 5
      (4L, (1 to 50).map(i => s"word$i").mkString(" ")),           // no stopwords
      (5L, ("the of " + Seq.fill(20)("spam").mkString(" ") +
        " " + (1 to 28).map(i => s"w$i").mkString(" "))),          // top word 20/50 > 1/5
      (6L, ("the of " + Seq.fill(24)("ab cd").mkString(" ") +
        " " + (1 to 10).map(i => s"neverseen$i x$i").mkString(" "))), // top 2gram heavy
      (7L, ("the of " + Seq.fill(48)("dup").mkString(" "))),       // low distinct ratio
      (8L, ("the of " + (1 to 48).map(i => s"w$i!!!!!!!!").mkString(" ")))  // punct-heavy
    ).toDF("doc_id", "text")
    val got = TextAnalysis.filterBank(docs, "doc_id", "text")
      .collect().map { r =>
        r.getLong(0) -> Seq("r_len", "r_word_len", "r_stop", "r_top_word",
          "r_top_2gram", "r_distinct", "r_symbol", "keep")
          .map(c => r.getLong(r.fieldIndex(c))) }.toMap
    assert(got(1L) == Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L), s"good doc: ${got(1L)}")
    assert(got(2L).head == 0L, "short doc fails r_len")
    assert(got(3L)(1) == 0L, "long-word doc fails r_word_len")
    assert(got(4L)(2) == 0L, "stopword-free doc fails r_stop")
    assert(got(5L)(3) == 0L, "top-word-heavy doc fails r_top_word")
    assert(got(6L)(4) == 0L, "top-2gram-heavy doc fails r_top_2gram")
    assert(got(7L)(5) == 0L, "low-distinct doc fails r_distinct")
    assert(got(8L)(6) == 0L, "punct-heavy doc fails r_symbol")
    // keep is exactly the conjunction of the seven rules
    got.values.foreach { v =>
      assert(v.last == (if (v.init.forall(_ == 1L)) 1L else 0L))
    }
    assert(got.filter(_._1 != 1L).values.forall(_.last == 0L))
  }

  test("contamination report keeps zero-hit eval docs and flags consistently") {
    val sf = "/root/testdata/sf0.001"
    val rep = graft.queries.Pipeline.queries("e9_contamination_report")(spark, sf)
      .collect()
    val nEval = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 25 === 0).count()
    assert(rep.length == nEval, "one row per eval doc, clean docs included")
    rep.foreach { r =>
      val (nv, nf, fl) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(fl == (if (nv > 0 || nf > 0) 1L else 0L))
    }
    // the fixture has genuine duplicate groups crossing the eval cut
    // (e.g. 100 ≡ 3 ≡ 101), so some rows flag — but an eval doc's OWN
    // corpus copy must NOT count (the self-match would flag 100% of
    // any suite), so clean rows must exist too
    assert(rep.exists(_.getLong(3) == 1L), "real cross-cut dup must flag")
    assert(rep.exists(_.getLong(3) == 0L),
      "self-matches must not flag the whole suite")
  }

  test("embedding centroids equal driver-computed per-label means") {
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), 0),
      (2L, Seq(3.0f, 2.0f, 1.0f), 0),
      (3L, Seq(10.0f, 0.0f, -2.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = graft.queries.Pipeline.s7Centroids(vecs)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got((0, 0L)) == ((2L, 2.0)) && got((0, 1L)) == ((2L, 2.0)) &&
      got((0, 2L)) == ((2L, 2.0)))
    assert(got((1, 0L)) == ((1L, 10.0)) && got((1, 2L)) == ((1L, -2.0)))
    assert(got.size == 6)
  }

  test("fuzzyContamination flags corpus near-matches of eval docs only") {
    import graft.pipeline.Decontamination
    val base = corpus.filter(col("doc_id") < 1000L)
    val index = Dedup.minhashIndex(base, "doc_id", "text")
    // eval: a verbatim copy of doc 3 (classic leakage), a paraphrase of
    // doc 5 (two words changed), a twin PAIR inside the eval set
    // (eval-internal near-dup, must NOT be reported), and a clean doc
    val d3txt = corpus.filter(col("doc_id") === 3L).head().getString(1)
    val d5txt = corpus.filter(col("doc_id") === 5L).head().getString(1)
    val para = (d5txt.split(" ").dropRight(2) ++ Seq("qqq", "www")).mkString(" ")
    val evalSet = Seq(
      (9001L, d3txt), (9002L, para),
      (9010L, "tw a b c d e f g h i j k l m n o p q r s t"),
      (9011L, "tw a b c d e f g h i j k l m n o p q r s u"),
      (9020L, Seq.fill(30)("uniquewordz").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Decontamination.fuzzyContamination(index, evalSet,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verbatim copy found against every corpus member of doc 3's dup
    // group (3, 100, 101 are identical texts in the fixture)
    assert(got.contains((3L, 9001L)) && got.contains((100L, 9001L)))
    assert(got.contains((5L, 9002L)), "paraphrase leakage found")
    // eval-internal twins and the clean doc produce no corpus pairs
    assert(!got.exists { case (_, e) => e == 9010L || e == 9011L || e == 9020L })
    // and no corpus-internal pair leaks through the origin filter
    assert(got.forall { case (c, e) => c < 1000L && e >= 9000L })
  }

  test("signaturePairs equals brute force at every radius (pigeonhole completeness)") {
    val rng = new scala.util.Random(41)
    // random signatures + planted near pairs at controlled distances
    val base = (0L until 150L).map(i => i -> rng.nextLong())
    val planted = (0 until 40).map { j =>
      val (src, sig) = base(rng.nextInt(base.size))
      val flips = rng.nextInt(9) // 0..8 bit flips
      var s = sig
      (0 until flips).foreach(_ => s ^= 1L << rng.nextInt(64))
      (1000L + j, s)
    }
    val all = base ++ planted
    val df = all.toDF("id", "sig").repartition(7)
    def brute(h: Int) = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= h
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
    Seq(0, 3, 8).foreach { h =>
      val got = Dedup.signaturePairs(df, "id", "sig", h)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.get(2).asInstanceOf[Number].longValue())).toSet
      assert(got == brute(h), s"maxHamming $h")
    }
  }

  test("image aHash: flat/half-split/brightness-shift semantics; garbage → None") {
    def png(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach { y =>
        val v = f(x, y) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      })
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // flat image: every bin AT the mean → strict '>' makes all bits 0
    assert(Multimodal.aHashBits(png(16, 16)((_, _) => 128)).get == "0" * 64)
    // bright left half, dark right: bit index is bi*8+bj (x-major), so
    // the first 32 bits are the left half → all 1s, rest 0s
    val half = Multimodal.aHashBits(png(16, 16)((x, _) => if (x < 8) 250 else 10)).get
    assert(half == "1" * 32 + "0" * 32)
    // a global brightness shift without clipping preserves the hash —
    // the near-dup property that makes hamming distance meaningful
    val base = Multimodal.aHashBits(png(15, 13)((x, y) => 60 + (x * 7 + y * 11) % 120))
    val shifted = Multimodal.aHashBits(png(15, 13)((x, y) => 80 + (x * 7 + y * 11) % 120))
    assert(base == shifted)
    // undecodable payload
    assert(Multimodal.aHashBits(Array[Byte](9, 9, 9)).isEmpty)
  }

  test("audio fingerprint: silence/half-loud/garbage semantics") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    // silence: zero energy everywhere, strict '>' leaves every bit 0
    assert(Multimodal.audioFingerprint(
      wav(Array.fill[Short](256)(0))).get == "0" * 64)
    // loud first half, silent second: bins are time-ordered, so the
    // first 32 bits are the loud half
    val half = Multimodal.audioFingerprint(
      wav(Array.tabulate[Short](256)(i => if (i < 128) 20000 else 0))).get
    assert(half == "1" * 32 + "0" * 32)
    // undecodable payload and empty stream
    assert(Multimodal.audioFingerprint(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.audioFingerprint(wav(Array.empty[Short])).isEmpty)
  }

  test("PCA whitening: identity covariance, zero mean, partition-invariant, sane spectrum") {
    import graft.pipeline.Whitening
    val dim = 8
    val rng = new scala.util.Random(13)
    // strongly anisotropic + correlated: x = A z with a skewed mixing
    // matrix, exactly the shape whitening exists to fix
    val a = Array.tabulate(dim, dim)((i, j) =>
      (if (i == j) 3.0 / (i + 1) else 0.4 * rng.nextGaussian()))
    val vecs = (0L until 600L).map { id =>
      val z = Array.fill(dim)(rng.nextGaussian())
      (id, Array.tabulate(dim)(i =>
        (0 until dim).map(j => a(i)(j) * z(j)).sum + 0.7 * i).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val model = Whitening.fit(df, "vec_id", "embedding", dim)
    val w = Whitening.transform(df, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val n = w.size.toDouble
    val mean = Array.tabulate(dim)(i => w.values.map(_(i)).sum / n)
    mean.foreach(m => assert(math.abs(m) < 1e-9, s"whitened mean $m"))
    // population covariance of the whitened data ≈ identity
    (0 until dim).foreach { i =>
      (i until dim).foreach { j =>
        val c = w.values.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n
        val want = if (i == j) 1.0 else 0.0
        assert(math.abs(c - want) < 1e-6, s"cov($i,$j)=$c")
      }
    }
    // the distributed whitened-covariance diagnostic (what s6_whiten
    // surfaces to the oracle) agrees with the local recomputation
    val diag = Whitening.whitenedCovariance(df, "vec_id", "embedding", model)
      .map { case (i, j, c) => (i, j) -> c }.toMap
    assert(diag.size == dim * (dim + 1) / 2)
    (0 until dim).foreach { i =>
      (i until dim).foreach { j =>
        val c = w.values.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n
        assert(math.abs(diag((i, j)) - c) < 1e-9, s"diag($i,$j)=${diag((i, j))} local=$c")
      }
    }
    // partition layout changes float sum order, not the answer
    val m13 = Whitening.fit(df.repartition(13), "vec_id", "embedding", dim)
    model.mean.zip(m13.mean).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-9) }
    model.eigenvalues.zip(m13.eigenvalues).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-8) }
    // spectrum: descending, cumulative fraction reaches 1
    val sp = Whitening.spectrum(model)
    sp.sliding(2).foreach { case Seq((_, l1, _), (_, l2, _)) => assert(l1 >= l2) }
    assert(math.abs(sp.last._3 - 1.0) < 1e-12)
    // degenerate guard: fewer than 2 vectors refuses loudly
    intercept[IllegalArgumentException] {
      Whitening.fit(df.limit(1), "vec_id", "embedding", dim)
    }
  }

  test("snapshot diff + churn report: hand-computed classification per source") {
    import graft.pipeline.SnapshotDiff
    val v1 = Seq(
      (1L, "aa", "web"), (2L, "bb", "web"), (3L, "cc", "web"),
      (4L, "dd", "books"), (5L, "ee", "books")
    ).toDF("doc_id", "text", "source")
    val v2 = Seq(
      (1L, "aa", "web"),        // unchanged
      (2L, "bb2", "web"),       // changed
      // 3 removed
      (4L, "dd", "books"),      // unchanged
      (5L, "ee2", "books"),     // changed
      (6L, "ff", "web"),        // added
      (7L, "gg", "news")        // added, NEW source
    ).toDF("doc_id", "text", "source")
    val d = SnapshotDiff.diff(v1, v2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "changed", 6L -> "added", 7L -> "added"))
    val c = SnapshotDiff.churnReport(v1, v2, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(c("web") == ((1L, 1L, 1L, 1L, Some(0.6667))))   // (rm+ch)/3 old
    assert(c("books") == ((0L, 0L, 1L, 1L, Some(0.5))))
    assert(c("news") == ((1L, 0L, 0L, 0L, None)), "new source: null churn")
  }

  test("bloom-prefiltered decontamination ≡ exact path; filter sits before the exchange") {
    import graft.pipeline.Decontamination
    val evalSet = corpus.filter(col("doc_id") % 7 === 0)
    val rest = corpus.filter(col("doc_id") % 7 =!= 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = key(Decontamination.contaminationPairs(
      rest, evalSet, "doc_id", "text", n = 3))
    val bloom = Decontamination.contaminationPairsBloom(
      rest, evalSet, "doc_id", "text", n = 3)
    assert(key(bloom) == exact && exact.nonEmpty)
    // the sketch probe is map-side: bloom_sketch_contains (r15 — the
    // sketch rides as an expression field, not a ~1 MB Literal) appears
    // in the plan strictly before the first Exchange on the corpus
    // gram stream
    val plan = bloom.queryExecution.executedPlan.toString
    val probeAt = plan.indexOf("bloom_sketch_contains")
    assert(probeAt >= 0, "bloom probe missing from the physical plan")
    // an empty eval side degrades to an empty report, not an NPE
    assert(Decontamination.contaminationPairsBloom(
      rest, evalSet.limit(0), "doc_id", "text", n = 3).count() == 0)
  }

  test("remove_tokens drops listed positions in order; edge inputs behave") {
    import graft.functions.VectorExprs.removeTokens
    def run(words: Seq[String], pos: Seq[Int]): String =
      Seq((words, pos)).toDF("w", "p")
        .select(removeTokens(col("w"), col("p")).as("out"))
        .collect().head.getString(0)
    assert(run(Seq("a", "b", "c", "d"), Seq(1, 3)) == "a c")
    assert(run(Seq("a", "b", "c"), Seq()) == "a b c")
    assert(run(Seq("a", "b"), Seq(0, 1)) == "")               // all removed
    assert(run(Seq("a", "b"), Seq(-1, 5, 1)) == "a")          // out-of-range ignored
    assert(run(Seq("a", "b", "c"), Seq(1, 1)) == "a c")       // duplicate positions
    // long positions accepted identically
    val viaLong = Seq((Seq("a", "b", "c"), Seq(0L, 2L))).toDF("w", "p")
      .select(removeTokens(col("w"), col("p")).as("out"))
      .collect().head.getString(0)
    assert(viaLong == "b")
    // null words column → null result
    val nw = Seq((Option.empty[Seq[String]], Seq(0)))
      .toDF("w", "p")
      .select(removeTokens(col("w"), col("p")).as("out"))
      .collect().head
    assert(nw.isNullAt(0))
  }

  test("collocation PMI matches the hand formula; doc boundaries break bigrams") {
    // "a b" appears 3x, tokens: doc1 = a b a b, doc2 = a b c  (no
    // cross-doc bigram b->a between docs)
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(d, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // unigrams: a=3 b=3 c=1, tw=7; bigrams: ab=3 ba=1 bc=1, tb=5
    val tw = 7.0; val tb = 5.0
    def pmi(np: Long, c1: Long, c2: Long): Double =
      math.log((np / tb) / ((c1 / tw) * (c2 / tw)))
    assert(got.keySet == Set(("a", "b"), ("b", "a"), ("b", "c")))
    assert(got(("a", "b"))._1 == 3L)
    assert(math.abs(got(("a", "b"))._2 - pmi(3, 3, 3)) < 1e-12)
    assert(math.abs(got(("b", "a"))._2 - pmi(1, 3, 3)) < 1e-12)
    assert(math.abs(got(("b", "c"))._2 - pmi(1, 3, 1)) < 1e-12)
    // minCount filters support
    val filtered = TextAnalysis.collocations(d, "doc_id", "text", minCount = 2L)
      .collect()
    assert(filtered.length == 1 && filtered.head.getString(0) == "a")
  }

  test("cluster-aware split keeps every near-dup cluster inside one split") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleWords = 3, threshold = 0.5, prefixFilter = false)
    val labeled = graft.pipeline.Components
      .dedupClusters(corpus, "doc_id", pairs, "id_a", "id_b")
      .withColumn("split", graft.pipeline.Sharding.hashSplit(col("cluster")))
    // all members of a cluster carry the cluster's split (the invariant
    // the per-doc p3 split does NOT have: doc 3 and its planted copies
    // 100/101 would hash independently)
    val perCluster = labeled.groupBy("cluster")
      .agg(countDistinct("split").as("k")).collect()
    assert(perCluster.forall(_.getLong(1) == 1L))
    // the planted exact dups of doc 3 share doc 3's split
    val bySplit = labeled.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bySplit(100L) == bySplit(3L) && bySplit(101L) == bySplit(3L))
    // and the split of a cluster is the hash of its min-id label
    val d3cluster = labeled.filter(col("doc_id") === 3L)
      .select("cluster").collect().head.getLong(0)
    val expected = corpus.sparkSession.range(1)
      .select(graft.pipeline.Sharding.hashSplit(lit(d3cluster)).as("s"))
      .collect().head.getString(0)
    assert(bySplit(3L) == expected)
  }
}
