package graft

import graft.pipeline.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Pipeline-operator validation beyond the driver's oracle checks:
  * LSH recall against the exact baseline, and planted-duplicate recovery. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("ANN LSH recall@10 >= 0.8 against brute force") {
    val q = embeddings.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(embeddings, q, "vec_id", "embedding", k = 10)
      .select($"query_id", $"corpus_id")
    // near-random embeddings have weak neighbor structure, so short
    // signatures (wide buckets) + many tables are needed for high recall;
    // real clustered embeddings get the same recall with far fewer candidates
    val approx = Similarity.lshTopK(embeddings, q, "vec_id", "embedding",
      k = 10, dim = 64, bitsPerTable = 3, nTables = 8)
      .select($"query_id", $"corpus_id")
    val hits = exact.intersect(approx).count().toDouble
    val recall = hits / exact.count()
    assert(recall >= 0.8, s"recall@10 = $recall")
  }

  test("minhashSignature column equals the hash-family definition") {
    import graft.pipeline.Dedup
    val df = Seq((1L, Seq("a b c", "b c d", "x y z"))).toDF("id", "sh")
    val sig = df.select(Dedup.minhashSignature($"sh", 8).as("sig"))
      .as[Seq[Long]].head()
    val fam = Dedup.hashFamily(8)
    val hs = Seq("a b c", "b c d", "x y z").map { s =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % Dedup.HashP
    }
    val expect = fam.map { case (a, b) => hs.map(h => (a * h + b) % Dedup.HashP).min }
    assert(sig == expect)
  }

  test("embedding near-dup finds planted scaled duplicates and nothing else") {
    val e = embeddings.select($"vec_id", $"embedding")
    val planted = e.filter($"vec_id" < 10)
      .select(($"vec_id" + 100000).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
    val pairs = Dedup.embeddingNearDups(e.unionByName(planted), "vec_id", "embedding",
      dim = 64, nPlanes = 10, cosineThreshold = 0.9).collect()
    val expect = (0L until 10L).map(i => (i, i + 100000L)).toSet
    assert(pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet == expect)
    assert(pairs.forall(r => math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6))
  }

  test("minhash near-dup finds planted near-duplicate texts") {
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 30).map(j => s"w${(i * 7 + j * 3) % 97}").mkString(" "))
    }
    // near-dup of doc 0: same text with one token changed
    val nd = (100L, base.head._2.replaceFirst("w0", "wX"))
    val df = (base :+ nd).toDF("id", "text")
    val pairs = Dedup.minhashNearDups(df, "id", "text",
      shingleSize = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.contains((0L, 100L)), s"planted pair missed: ${pairs.toSeq}")
  }

  test("ANN IVF recall@10 >= 0.8 against brute force") {
    val q = embeddings.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(embeddings, q, "vec_id", "embedding", k = 10)
      .select($"query_id", $"corpus_id")
    // near-random embeddings cluster weakly, so probe most lists; clustered
    // real embeddings reach the same recall probing a small fraction
    val approx = Similarity.ivfTopK(embeddings, q, "vec_id", "embedding",
      k = 10, nCentroids = 16, nProbe = 12, kmeansIterations = 3)
      .select($"query_id", $"corpus_id")
    val recall = exact.intersect(approx).count().toDouble / exact.count()
    assert(recall >= 0.8, s"recall@10 = $recall")
  }

  test("annRecallAtK: hand-computed hits, rnk>k cut, short truth lists") {
    // q1: truth {1,2,3}, approx {1,4,3} → 2/3; q2: truth {1,2}, approx
    // misses both → 0; rows past rnk=k on either side must not count
    val truth = Seq((10L, 1, 1L), (10L, 2, 2L), (10L, 3, 3L), (10L, 4, 9L),
      (20L, 1, 1L), (20L, 2, 2L)).toDF("query_id", "rnk", "corpus_id")
    val approx = Seq((10L, 1, 1L), (10L, 2, 4L), (10L, 3, 3L), (10L, 4, 2L),
      (20L, 1, 9L), (20L, 2, 8L)).toDF("query_id", "rnk", "corpus_id")
    val out = Similarity.annRecallAtK(truth, approx, k = 3)
      .orderBy($"query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) == ((10L, 3L, 2L, 0.666667)))
    assert(out(1) == ((20L, 2L, 0L, 0.0)))
  }

  test("ANN IVF unrounded centroids (roundCentroids=false) keep recall@10 >= 0.8") {
    // production mode: exact FP means, no 4-dp oracle quantization — the
    // approximation quality must not depend on the rounding
    val q = embeddings.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(embeddings, q, "vec_id", "embedding", k = 10)
      .select($"query_id", $"corpus_id")
    val approx = Similarity.ivfTopK(embeddings, q, "vec_id", "embedding",
      k = 10, nCentroids = 16, nProbe = 12, kmeansIterations = 3, roundCentroids = false)
      .select($"query_id", $"corpus_id")
    val recall = exact.intersect(approx).count().toDouble / exact.count()
    assert(recall >= 0.8, s"recall@10 = $recall")
  }

  test("simhash near-dup finds a planted duplicate (hamming 0)") {
    // simhash majority bits are sensitive to single-token edits on small
    // docs (many ±1-margin bits), so the deterministic planted case is an
    // exact duplicate — it still drives banding + Hamming verification
    val base = (0 until 30).map { i =>
      (i.toLong, (0 until 40).map(j => s"tok${(i * 13 + j * 7) % 211}").mkString(" "))
    }
    val nd = (200L, base.head._2)
    val rows = Dedup.simhashNearDups((base :+ nd).toDF("id", "text"), "id", "text",
      maxHamming = 3).collect()
    val pairs = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.contains((0L, 200L)), s"planted pair missed: ${pairs.toSeq}")
    val planted = rows.find(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 200L).get
    assert(planted.getAs[Int]("hamming") == 0)
  }

  test("saltedJoin is semantically identical to the plain join") {
    import graft.pipeline.Skew
    // heavily skewed fact side: 90% of rows share key 1
    val facts = ((1 to 900).map(i => (1L, i)) ++ (1 to 100).map(i => (i.toLong % 7 + 2, i)))
      .toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("k", "name")
    val plain = facts.join(dim, "k")
    val salted = Skew.saltedJoin(facts, dim, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("multimodal resize updates metadata, scales payload, and composes") {
    import graft.pipeline.Multimodal
    val docs = Seq((0L, "x" * 400), (1L, "y" * 100)).toDF("doc_id", "text")
    val media = Multimodal.mediaFromText(docs, "doc_id", "text") // 64x64
    val resized = Multimodal.resize(media, 32, 32).collect().map(m => m.mediaId -> m).toMap
    assert(resized(0L).width == 32 && resized(0L).height == 32)
    assert(resized(0L).payload.length == 100) // quarter the area → quarter the bytes
    assert(resized(1L).payload.length == 25)
    val feats = Multimodal.extractFeatures(Multimodal.resize(media, 32, 32)).collect()
    assert(feats.length == 2 && feats.forall(_.features.length == Multimodal.FeatureDim))
  }

  test("language ID detects each built-in profile and falls back to und") {
    import graft.pipeline.TextAnalysis
    val samples = Seq(
      (1L, "the cat sat on the mat and it was happy", "en"),
      (2L, "der hund und die katze sind nicht auf dem tisch das ist gut", "de"),
      (3L, "le chat est dans la maison et les enfants sont pour une promenade", "fr"),
      (4L, "el perro y la casa es una maravilla para los amigos con el sol", "es"),
      (5L, "我爱北京天安门 天安门上太阳升", "zh"),
      (6L, "zzz qqq xxx yyy", "und"))
    val df = samples.map(s => (s._1, s._2)).toDF("id", "text")
    val got = TextAnalysis.languageId(df, "text")
      .select($"id", $"lang_pred").as[(Long, String)].collect().toMap
    samples.foreach { case (id, _, want) =>
      assert(got(id) == want, s"doc $id: got ${got(id)}, want $want")
    }
  }

  test("HLL sketch estimates within the m=256 error envelope at three scales") {
    import graft.pipeline.Sketches
    // 1.04/sqrt(256) ≈ 6.5% standard error; assert a generous 3σ ≈ 20%
    val df = (1 to 50000).map(i => (if (i <= 300) "small" else "large", s"key$i"))
      .toDF("scope", "key")
    val est = Sketches.hllEstimate(df, "key", Seq("scope")).collect()
      .map(r => r.getAs[String]("scope") -> r.getAs[Double]("approx_distinct")).toMap
    // scopes partition the keys: 300 distinct small, 49700 distinct large
    assert(math.abs(est("small") - 300) / 300.0 < 0.2, est)
    assert(math.abs(est("large") - 49700) / 49700.0 < 0.2, est)
    // duplicate-insensitivity: the sketch of the tripled input is IDENTICAL
    val tripled = df.union(df).union(df)
    val est3 = Sketches.hllEstimate(tripled, "key", Seq("scope")).collect()
      .map(r => r.getAs[String]("scope") -> r.getAs[Double]("approx_distinct")).toMap
    assert(est3 == est)

    // mergeability is LOSSLESS: sketch disjoint (and overlapping!) slices
    // separately, merge register tables, estimate — identical to the
    // single-pass estimate, for any slicing
    val slices = Seq(
      df.filter(length($"key") % 3 === 0),
      df.filter(length($"key") % 3 === 1),
      df.filter(length($"key") % 3 === 2),
      df.limit(1000)) // overlapping slice: max-merge absorbs it
      .map(s => Sketches.hllSketch(s, "key", Seq("scope")))
    val merged = Sketches.hllEstimateFromSketch(
        Sketches.hllMerge(slices, Seq("scope")), Seq("scope")).collect()
      .map(r => r.getAs[String]("scope") -> r.getAs[Double]("approx_distinct")).toMap
    assert(merged == est)
  }

  test("baseHash60Jvm is bit-identical to the baseHash60 column expression") {
    val samples = Seq("", "a", "hello world", "ünïcödé ⽂", "x" * 500) ++
      (1 to 50).map(i => s"tok$i")
    val viaColumn = samples.toDF("s")
      .select(Dedup.baseHash60($"s").as("h")).collect().map(_.getLong(0))
    val viaJvm = samples.map(graft.pipeline.Dedup.baseHash60Jvm)
    assert(viaColumn.toSeq == viaJvm)
  }

  test("count-min estimates are upper bounds and exact for isolated keys") {
    import graft.pipeline.Sketches
    // skewed stream: key "hot" 1000×, 200 singletons
    val df = (Seq.fill(1000)("hot") ++ (1 to 200).map(i => s"cold$i")).toDF("key")
    val exact = df.groupBy($"key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.cmFrequency(df, "key").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("cm_estimate")).toMap
    assert(est.keySet == exact.keySet)
    // count-min never underestimates
    assert(est.forall { case (k, e) => e >= exact(k) })
    // the heavy key dominates its buckets: estimate within +201 of truth
    assert(est("hot") >= 1000L && est("hot") <= 1201L)
    // most singletons estimate exactly 1 (d=4 rows, w=512 ≫ 201 keys)
    assert(est.count { case (k, e) => k != "hot" && e == exact(k) } > 150)
  }

  test("ngram jaccard gram-df cap drops only hot grams") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "zz yy alpha beta")).toDF("id", "text")
    val uncapped = Dedup.ngramJaccard(df, "id", "text", n = 2, threshold = 0.1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    // "alpha beta" appears in all 3 docs; cap at 2 removes it everywhere
    val capped = Dedup.ngramJaccard(df, "id", "text", n = 2, threshold = 0.1, maxGramDf = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    assert(uncapped.exists { case (a, b, _) => (a, b) == (1L, 3L) })
    // docs 1,3 shared only the hot gram → pair disappears under the cap
    assert(!capped.exists { case (a, b, _) => (a, b) == (1L, 3L) })
    // docs 1,2 still match on "beta gamma"
    assert(capped.exists { case (a, b, _) => (a, b) == (1L, 2L) })
  }

  test("repetitionSignals: hand-computed fractions, empty doc keeps a row") {
    import graft.pipeline.TextAnalysis
    val df = Seq(
      (1L, "a b\na b\nc d e"), // dup line "a b"; bigrams of "a b a b c d e"
      (2L, "x y"),             // single line, no repetition
      (3L, "")                 // blank: must keep an all-zero row
    ).toDF("id", "text")
    val out = TextAnalysis.repetitionSignals(df, "id", "text")
      .orderBy($"doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // doc 1: 3 lines, 1 repeated occurrence of "a b" (3 chars of 11 line
    // chars); top bigram "a b" ×2 covers 6 of 13 text chars, its repeat 3
    assert(out(0) == ((1L, 3L, 0.333333, 0.272727, 0.461538, 0.230769)))
    assert(out(1) == ((2L, 1L, 0.0, 0.0, 1.0, 0.0)))
    assert(out(2) == ((3L, 0L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("bigramLmScore: hand-computed add-k bigram cross-entropy") {
    import graft.pipeline.LanguageModel
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "  ")).toDF("id", "text")
    val out = LanguageModel.bigramLmScore(df, "id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // events: (<s>,a)×3, (a,b)×2, (a,c)×1 → c(<s>)=3, c(a)=3, V=|{a,b,c}|=3
    // k=0.5: P(a|<s>)=3.5/4.5, P(b|a)=2.5/4.5, P(c|a)=1.5/4.5
    val ln2 = math.log(2.0)
    def h(ps: Double*): Double = -ps.map(p => math.log(p) / ln2).sum / ps.size
    val h12 = h(3.5 / 4.5, 2.5 / 4.5)
    val h3 = h(3.5 / 4.5, 1.5 / 4.5)
    def r(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L)) // zero-token doc 4 absent
    assert(out(0) == ((1L, 2L, r(h12, 6), r(math.pow(2, h12), 4))))
    assert(out(1)._3 == out(0)._3) // identical docs score identically
    assert(out(2) == ((3L, 2L, r(h3, 6), r(math.pow(2, h3), 4))))
    // the rarer continuation (a,c) must cost more bits than (a,b)
    assert(out(2)._3 > out(0)._3)
  }

  test("ngramNovelty: first-touch attribution over distinct trigrams") {
    import graft.pipeline.TextAnalysis
    val df = Seq((1L, "a b c d"), (2L, "a b c x"), (3L, "a b"),
      (4L, "a b c d"), (5L, "a b a b a b")).toDF("id", "text")
    val out = TextAnalysis.ngramNovelty(df, "id", "text", n = 3)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) == ((1L, 2L, 2L, 1.0)))   // both grams first here
    assert(out(1) == ((2L, 2L, 1L, 0.5)))   // "a b c" already seen
    assert(out(2) == ((3L, 0L, 0L, 0.0)))   // too short for a trigram
    assert(out(3) == ((4L, 2L, 0L, 0.0)))   // exact dup adds nothing
    // within-doc repeats collapse: distinct grams only, both novel
    assert(out(4) == ((5L, 2L, 2L, 1.0)))
  }

  test("dsirSelect: target-like docs outrank off-target docs; deterministic top-n") {
    import graft.pipeline.DataSelection
    val raw = Seq((1L, "alpha alpha beta"), (2L, "gamma delta"),
      (3L, "alpha beta"), (4L, "   "), (5L, "zeta zeta")).toDF("id", "text")
    // the target must outweigh the smoothing mass (0.5 × 64 buckets), or
    // add-k dilutes its probabilities below the raw pool's across the
    // board: 40 target tokens vs 32 pseudo-tokens flips the ratios
    val target = Seq((10L, Seq.fill(20)("alpha beta").mkString(" "))).toDF("id", "text")
    val out = DataSelection.dsirSelect(raw, target, "id", "text",
        keepN = 2, numBuckets = 64)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val byId = out.map(t => t._1 -> t).toMap
    // empty doc: zero tokens, empty-product weight
    assert(byId(4L)._2 == 0L && byId(4L)._3 == 0.0)
    // target vocabulary (alpha/beta) scores above, off-target below zero
    assert(byId(1L)._3 > 0 && byId(3L)._3 > 0)
    assert(byId(2L)._3 < 0 && byId(5L)._3 < 0)
    // more target tokens → higher weight; exactly keepN selected, and the
    // selection is the weight order
    assert(byId(1L)._3 > byId(3L)._3)
    assert(out.count(_._4) == 2 && byId(1L)._4 && byId(3L)._4)
  }

  test("dsirScoreColumn: frozen map-literal model reproduces the batch weights") {
    import graft.pipeline.DataSelection
    val raw = Seq((1L, "alpha alpha beta"), (2L, "gamma delta"),
      (3L, "alpha beta"), (4L, "   "), (5L, "zeta zeta")).toDF("id", "text")
    val target = Seq((10L, Seq.fill(20)("alpha beta").mkString(" "))).toDF("id", "text")
    val llr = DataSelection.llrModel(raw, target, "text", numBuckets = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val frozen = raw.select($"id",
        DataSelection.dsirScoreColumn(llr, 64, $"text").as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = DataSelection.dsirSelect(raw, target, "id", "text",
        keepN = 2, numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(frozen == batch)
  }

  test("kneserNeyLmScore: hand-computed interpolated KN bigram") {
    import graft.pipeline.LanguageModel
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "  ")).toDF("id", "text")
    val out = LanguageModel.kneserNeyLmScore(df, "id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // events (<s>,a)×3, (a,b)×2, (a,c)×1; bigram types = 3
    // ctx: <s> c1=3 N1+=1; a c1=3 N1+=2 — cont: each of a,b,c has N1+(·w)=1
    // (mass check: P(b|a)+P(c|a)+unseen-continuation share = 1 exactly)
    val pA = (3 - 0.75) / 3 + 0.75 * 1 / 3.0 * (1.0 / 3.0)
    val pB = (2 - 0.75) / 3 + 0.75 * 2 / 3.0 * (1.0 / 3.0)
    val pC = (1 - 0.75) / 3 + 0.75 * 2 / 3.0 * (1.0 / 3.0)
    val ln2 = math.log(2.0)
    def h(ps: Double*): Double = -ps.map(p => math.log(p) / ln2).sum / ps.size
    def r(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val h12 = h(pA, pB); val h3 = h(pA, pC)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L)) // zero-token doc absent
    assert(out(0) == ((1L, 2L, r(h12, 6), r(math.pow(2, h12), 4))))
    assert(out(1)._3 == out(0)._3)
    assert(out(2) == ((3L, 2L, r(h3, 6), r(math.pow(2, h3), 4))))
    // KN discounts the singleton continuation harder than add-k does:
    // the (a,c) doc still costs more bits than the (a,b) doc
    assert(out(2)._3 > out(0)._3)
  }

  test("nbTokenClassifier: hand-computed log-odds, prior-only empty doc") {
    import graft.pipeline.Classify
    val df = Seq(
      (1L, "good good", true), (2L, "good bad", true),
      (3L, "bad bad", false), (4L, "", false)
    ).toDF("id", "text", "label")
    val out = Classify.nbTokenClassifier(df, "id", "text", "label")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    // counts: good cp=3 cn=0, bad cp=1 cn=2; np=4 nn=2 V=2; prior=ln(2/2)=0
    val wGood = math.log(4.0 / 6.0) - math.log(1.0 / 4.0)
    val wBad = math.log(2.0 / 6.0) - math.log(3.0 / 4.0)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0) == ((1L, r6(2 * wGood), true)))
    assert(out(1) == ((2L, r6(wGood + wBad), true)))
    assert(out(2) == ((3L, r6(2 * wBad), false)))
    assert(out(3) == ((4L, 0.0, false))) // zero tokens → prior only, not >0
  }

  test("perplexityFilter: per-language median cut keeps the low-ppl half") {
    import graft.pipeline.LanguageModel
    val df = Seq(
      // lang A: doc 1/2 are in-distribution, 3/4 use rare continuations
      (1L, "a b a b", "A"), (2L, "a b a b", "A"),
      (3L, "a q z w", "A"), (4L, "q w z a", "A"),
      (5L, "solo", "B") // single doc: percent_rank 0 → kept
    ).toDF("id", "text", "lang")
    val out = LanguageModel.perplexityFilter(df, "id", "text", "lang")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(4)))
    val byLang = out.groupBy(_._2)
    assert(byLang("A").count(_._4) == 2, s"A kept: ${out.mkString(",")}")
    // the kept A docs are exactly the lowest-perplexity ones
    val (keptA, dropA) = byLang("A").partition(_._4)
    assert(keptA.map(_._3).max <= dropA.map(_._3).min)
    assert(byLang("B").forall(_._4))
  }

  test("tokenEntropy: hand-computed bits, zero-token doc keeps a row") {
    import graft.pipeline.TextAnalysis
    val df = Seq(
      (1L, "a a a a"), // one repeated token → 0 bits
      (2L, "a b c d"), // all distinct → log2(4) = 2 bits, norm 1
      (3L, "a A b b"), // case-folds to {a:2, b:2} → 1 bit, norm 0.5
      (4L, "")         // zero tokens → all-zero row, not dropped
    ).toDF("id", "text")
    val out = TextAnalysis.tokenEntropy(df, "id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 4L, 1L, 0.0, 0.0),
      (2L, 4L, 4L, 2.0, 1.0),
      (3L, 4L, 2L, 1.0, 0.5),
      (4L, 0L, 0L, 0.0, 0.0)))
  }

  test("invertedIndex: postings sorted by doc, df cap prunes hot terms") {
    import graft.pipeline.Chunking
    val df = Seq((2L, "b c"), (1L, "a b a")).toDF("id", "text")
    val full = Chunking.invertedIndex(df, "id", "text")
      .orderBy($"term")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(full.toSeq == Seq(
      ("a", 1L, 2L, "1:2"), ("b", 2L, 2L, "1:1,2:1"), ("c", 1L, 1L, "2:1")))
    val capped = Chunking.invertedIndex(df, "id", "text", maxDf = 1L)
      .select($"term").as[String].collect().toSet
    assert(capped == Set("a", "c"))
  }

  test("repetitionSignals fractions stay in [0,1] over adversarial docs") {
    import graft.pipeline.TextAnalysis
    val rng = new java.util.Random(11L)
    val docs = (0L until 300L).map { i =>
      val toks = Seq.fill(1 + rng.nextInt(40))(s"w${rng.nextInt(6)}")
      val text = i % 5 match {
        case 0 => ""                             // blank
        case 1 => toks.mkString(" ")             // single line
        case 2 => toks.grouped(5).map(_.mkString(" ")).mkString("\n")
        case 3 => (toks ++ toks).mkString(" ")   // heavy repetition
        case _ => "\n\n" + toks.mkString(" ") + "\n \n" // empty/space lines
      }
      (i, text)
    }.toDF("id", "text")
    val rows = TextAnalysis.repetitionSignals(docs, "id", "text").collect()
    assert(rows.length == 300)
    rows.foreach { r =>
      (2 to 5).foreach { c =>
        val v = r.getDouble(c)
        assert(v >= 0.0 && v <= 1.0001, s"col $c out of range: $v in ${r}")
      }
    }
  }

  test("invertedIndex postings decode back to the exact term counts") {
    import graft.pipeline.Chunking
    val rng = new java.util.Random(5L)
    val docs = (0L until 100L).map { i =>
      (i, Seq.fill(1 + rng.nextInt(30))(s"t${rng.nextInt(12)}").mkString(" "))
    }.toDF("id", "text")
    val idx = Chunking.invertedIndex(docs, "id", "text").collect()
    // rebuild (term, doc, tf) from the postings strings and compare with
    // a direct count
    val decoded = idx.flatMap { r =>
      r.getString(3).split(",").map { p =>
        val Array(d, tf) = p.split(":")
        (r.getString(0), d.toLong, tf.toLong)
      }
    }.toSet
    val direct = docs.select($"id", explode(split(lower($"text"), " ")).as("t"))
      .groupBy($"t", $"id").count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(decoded == direct)
    // df/cf consistent with the postings
    idx.foreach { r =>
      val parts = r.getString(3).split(",")
      assert(parts.length.toLong == r.getLong(1), s"df mismatch for ${r.getString(0)}")
      assert(parts.map(_.split(":")(1).toLong).sum == r.getLong(2),
        s"cf mismatch for ${r.getString(0)}")
    }
  }

  test("declarative logsumexp is bitwise-equal to the typed Aggregator form") {
    import graft.functions.LogSumExp
    val rng = new java.util.Random(3L)
    val rows = (0 until 5000).map(i =>
      (i % 37, if (i % 113 == 0) Double.NegativeInfinity else rng.nextGaussian() * 50))
    val df = rows.toDF("g", "x").repartition(4, $"g")
    val both = df.groupBy($"g").agg(
      LogSumExp.logsumexp($"x").as("decl"),
      LogSumExp.logsumexpUdaf($"x").as("udaf")).collect()
    assert(both.length == 37)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"group ${r.getInt(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    // all -Inf group → -Inf (the empty-buffer branch)
    val inf = Seq((1, Double.NegativeInfinity), (1, Double.NegativeInfinity))
      .toDF("g", "x").groupBy($"g").agg(LogSumExp.logsumexp($"x").as("v")).head()
    assert(inf.getDouble(1).isNegInfinity)
    // the declarative form runs in HashAggregate (codegen), not ObjectHashAggregate
    val plan = df.groupBy($"g").agg(LogSumExp.logsumexp($"x"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"), plan)
  }

  test("bloom filter: no false negatives, low FP rate, partitioning-invariant") {
    import graft.pipeline.Sketches
    val members = (0L until 400L).map(i => Tuple1(s"key$i")).toDF("k")
    val bloom = Sketches.bloomBuild(members, "k")
    // every member must probe present (no false negatives)
    val present = Sketches.bloomMightContain(bloom, members, "k")
      .filter(!$"maybe_present").count()
    assert(present == 0L)
    // absent keys: FP rate must stay near design (~(1-e^{-kn/m})^k ≈ 4% here)
    val absent = (0L until 500L).map(i => Tuple1(s"other$i")).toDF("k")
    val fp = Sketches.bloomMightContain(bloom, absent, "k")
      .filter($"maybe_present").count()
    assert(fp <= 50L, s"false positives: $fp / 500")
    // bitmap identical under different input partitioning
    val a = bloom.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Sketches.bloomBuild(members.repartition(7), "k")
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("histogram counts always sum to the non-null rows (clamp semantics)") {
    import graft.pipeline.Profiling
    val df = Seq[java.lang.Double](-5.0, 0.0, 0.5, 1.0, 2.5, 9.99, 10.0, 42.0, null)
      .toDF("v")
    for ((nBins, lo, hi) <- Seq((4, 0.0, 10.0), (1, -10.0, 50.0), (7, 0.25, 2.75))) {
      val h = Profiling.histogram(df, "v", nBins, lo, hi).collect()
      assert(h.map(_.getLong(3)).sum == 8L, s"bins=$nBins [$lo,$hi)")
      assert(h.forall(r => r.getInt(0) >= 0 && r.getInt(0) < nBins))
    }
    // out-of-range values clamp to the edge bins
    val edges = Profiling.histogram(df, "v", 4, 0.0, 10.0)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(edges(0) == 4L) // -5, 0, 0.5, 1.0
    assert(edges(3) == 3L) // 9.99 plus clamped 10.0, 42.0
  }

  test("minhash band join shuffles ids only — shingle payload never rides it") {
    import graft.pipeline.Dedup
    val docs = (0L until 50L)
      .map(i => (i, s"tok${i % 7} tok${(i + 1) % 7} tok${(i + 2) % 7} tok${(i + 3) % 7}"))
      .toDF("id", "text")
    val out = Dedup.minhashNearDups(docs, "id", "text", jaccardThreshold = 0.9)
    // the candidate-generation join must see only (id, band, bucket) on both
    // sides; the sh column joins back later onto the deduplicated pairs
    val joins = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val bandJoins = joins.filter(j =>
      j.left.output.exists(_.name == "band") && j.right.output.exists(_.name == "band"))
    assert(bandJoins.nonEmpty, "expected the band-bucket self-join in the plan")
    bandJoins.foreach { j =>
      val cols = (j.left.output ++ j.right.output).map(_.name).toSet
      assert(!cols.contains("sh"), s"shingles leaked into the band join: $cols")
      assert(cols.subsetOf(Set("id", "band", "bucket")), s"unexpected payload: $cols")
    }
  }

  test("minhashNearDupsAgainst screens the new batch against the reference only") {
    import graft.pipeline.Dedup
    val ref = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("id", "text")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // copy of ref 1
      (11L, "totally novel content xyzzy plugh quux")).toDF("id", "text")
    val out = Dedup.minhashNearDupsAgainst(fresh, ref, "id", "text",
        jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((10L, 1L, 1.0)))
    // ref×ref dup pair must NOT appear even if the reference has one
    val refDup = ref.unionByName(Seq((3L, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "text"))
    val out2 = Dedup.minhashNearDupsAgainst(fresh, refDup, "id", "text",
        jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2 == Set((10L, 1L), (10L, 3L)))
  }

  test("numericProfile: one row per column with exact counts and stats") {
    import graft.pipeline.Profiling
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (2.0, 10.0), (3.0, null), (1.0, 20.0))
      .toDF("a", "b")
    val out = Profiling.numericProfile(df, Seq("a", "b"))
      .orderBy($"column").collect()
    val a = out(0); val b = out(1)
    assert(a.getString(0) == "a" && a.getLong(1) == 4L && a.getLong(2) == 0L &&
      a.getLong(3) == 3L && a.getDouble(4) == 1.0 && a.getDouble(5) == 3.0 &&
      a.getDouble(6) == 1.75)
    assert(b.getString(0) == "b" && b.getLong(1) == 3L && b.getLong(2) == 1L &&
      b.getLong(3) == 2L && b.getDouble(6) == round6(40.0 / 3))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("randomProject: literal planes give exact dots, seeded planes repeat") {
    import graft.pipeline.Embeddings
    val planes = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 2.0, 0.0))
    val out = Seq(Tuple1(Seq(3.0, 4.0, 5.0))).toDF("v")
      .select(Embeddings.randomProject($"v", planes).as("p"))
      .as[Seq[Double]].head()
    assert(out == Seq(3.0, 8.0))
    assert(Embeddings.gaussianPlanes(4, 8, seed = 7L) ==
      Embeddings.gaussianPlanes(4, 8, seed = 7L))
    assert(Embeddings.gaussianPlanes(4, 8, seed = 7L) !=
      Embeddings.gaussianPlanes(4, 8, seed = 8L))
  }

  test("semanticDedup: recovers planted perturbed copies within clusters") {
    val e = embeddings.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val planted = e.filter($"vec_id" < 10)
      .select(($"vec_id" + 200000).as("vec_id"),
        concat(array(element_at($"v", 1) + lit(0.01)), slice($"v", 2, 63)).as("v"))
    val pairs = Dedup.semanticDedup(e.unionByName(planted), "vec_id", "v",
      nClusters = 8, kmeansIterations = 2, cosineThreshold = 0.99)
      .collect()
    // every planted pair is recovered (original and its perturbed copy are
    // near-identical, so they share a cluster), and nothing else reaches
    // cosine 0.99 among random unit vectors
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 10L).map(i => (i, i + 200000L)))
    assert(pairs.forall(_.getDouble(3) >= 0.99))
    // keep-one policy drops exactly the 10 copies
    val kept = Dedup.applyKeepSmallest(e.unionByName(planted), "vec_id",
      Dedup.semanticDedup(e.unionByName(planted), "vec_id", "v",
        nClusters = 8, kmeansIterations = 2, cosineThreshold = 0.99)
        .select($"id_a", $"id_b"))
    assert(kept.count() == e.count())
    assert(kept.filter($"vec_id" >= 200000).count() == 0)
  }

  test("cmProbe: a never-inserted key estimates 0 against a sparse grid") {
    import graft.pipeline.Sketches
    val grid = Sketches.cmSketch(Seq("a", "b", "a").toDF("key"), "key")
    val est = Sketches.cmProbe(grid, Seq("a", "zzz-unseen").toDF("key"), "key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") >= 2L)            // count-min is an upper bound
    assert(est("zzz-unseen") == 0L)   // absent cells read as 0, key kept
  }

  test("cutSpans removes exactly the duplicated spans and keeps the rest") {
    // boundary tokens differ between the docs so only windows fully inside
    // the shared run (positions 2 and 3) are duplicated → span [2, 6]
    val docs = Seq(
      (1L, "Intro One SHARED BOILER PLATE TEXT HERE Outroa Enda"),
      (2L, "intro two shared boiler plate text here outrob endb"),
      (3L, "Totally Unique Content With No Repeats At All"))
      .toDF("doc_id", "text")
    val out = Dedup.cutSpans(docs, "doc_id", "text",
      windowSize = 4, minDocFreq = 2)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the 5 shared tokens are cut (matching is case-insensitive), and the
    // SURVIVING text keeps its original casing
    assert(out(0) == ((1L, "Intro One Outroa Enda", 5L)))
    assert(out(1) == ((2L, "intro two outrob endb", 5L)))
    // untouched doc: whitespace-normalized token join, original case, 0 cut
    assert(out(2) == ((3L, "Totally Unique Content With No Repeats At All", 0L)))
  }

  test("duplicateSpans edges: null/empty/short docs, unreachable minDocFreq") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),         // full-doc duplicate of 1
      (3L, null.asInstanceOf[String]),
      (4L, ""),                    // no tokens
      (5L, "xy"))                  // fewer than windowSize tokens
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
      windowSize = 3, minDocFreq = 2).orderBy($"doc_id").collect()
    // only the duplicated pair marks; one maximal span covering all 6 tokens
    assert(spans.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    spans.foreach(r => assert(r.getInt(1) == 0 && r.getInt(2) == 5 &&
      r.getInt(3) == 6, r.toString))
    // a doc-frequency floor beyond the corpus size marks nothing
    assert(Dedup.duplicateSpans(docs, "doc_id", "text",
      windowSize = 3, minDocFreq = 10L).count() == 0)
  }

  test("winnowFingerprints: MOSS guarantee, rightmost ties, short docs") {
    // k=3, w=2: any shared substring of >= k+w-1 = 4 tokens must share
    // at least one fingerprint
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two alpha beta gamma delta nine"), // shares 4 tokens with 1
      (3L, "totally disjoint words here"),
      (4L, "x y z w"),                             // 2 grams < w windows
      (5L, "r r r r r r"))                         // all grams identical
      .toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1)
    val shared = byDoc(1L).map(_._3).toSet intersect byDoc(2L).map(_._3).toSet
    assert(shared.nonEmpty, "4-token overlap must share a fingerprint")
    assert((byDoc(3L).map(_._3).toSet intersect byDoc(1L).map(_._3).toSet).isEmpty)
    // short doc: one window over its 2 grams -> exactly one fingerprint
    assert(byDoc(4L).length == 1)
    // identical gram hashes: every window's tie breaks RIGHTMOST, and
    // dedup collapses to one fingerprint per window position — the last
    // window (starts at gram 2) selects gram pos 3
    assert(byDoc(5L).map(_._2).max == 3 && byDoc(5L).map(_._3).distinct.length == 1)
  }

  test("sourceOverlap: shared fingerprints produce the exact pair Jaccard") {
    val docs = Seq(
      ("s1", "shared template one"), ("s1", "unique alpha"),
      ("s2", "shared template one"), ("s2", "unique beta"),
      ("s2", "unique gamma"),
      ("s3", "totally disjoint"))
      .toDF("source", "text")
    val out = Dedup.sourceOverlap(docs, "source", "text").collect()
    // only (s1, s2) share: 1 shared of (2 + 3 - 1) = 0.25
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "s1" && r.getString(1) == "s2")
    assert(r.getLong(2) == 2L && r.getLong(3) == 3L && r.getLong(4) == 1L)
    assert(r.getDouble(5) == 0.25)
  }

  test("sourceOverlap: a fingerprint in too many sources leaves the universe") {
    // four feeds all carry boilerplate B; s1/s2 also share real text R.
    // With maxSourcesPerFp = 3, B (df = 4) drops BEFORE the set sizes,
    // so shared counts and Jaccard denominators stay consistent
    val docs = Seq(
      ("s1", "boilerplate banner"), ("s1", "real shared story"), ("s1", "x1"),
      ("s2", "boilerplate banner"), ("s2", "real shared story"), ("s2", "x2"),
      ("s3", "boilerplate banner"), ("s3", "x3"),
      ("s4", "boilerplate banner"), ("s4", "x4")).toDF("source", "text")
    val capped = Dedup.sourceOverlap(docs, "source", "text",
      maxSourcesPerFp = 3).collect()
    assert(capped.length == 1)
    val r = capped.head
    assert(r.getString(0) == "s1" && r.getString(1) == "s2")
    // post-drop set sizes: s1 = {R, x1}, s2 = {R, x2} -> 1/(2+2-1)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L && r.getLong(4) == 1L)
    assert(r.getDouble(5) == 0.333333)
    // uncapped, every pair shares the banner: all 6 combos appear
    assert(Dedup.sourceOverlap(docs, "source", "text").count() == 6L)
  }

  test("brierDecomposition: empty input fails loudly, not with an NPE") {
    import graft.pipeline.Classify
    val empty = Seq.empty[(Double, Boolean)].toDF("score", "label")
    val e = intercept[IllegalArgumentException] {
      Classify.brierDecomposition(empty, "score", "label")
    }
    assert(e.getMessage.contains("empty input"))
  }

  test("languageSpans: splits a planted bilingual doc at the window seam") {
    val en = Seq.fill(4)("the and of to in is that it for was").mkString(" ")
    val fr = Seq.fill(4)("le la les et est une pour dans que pas").mkString(" ")
    val df = Seq((1L, s"$en $fr"), (2L, en)).toDF("doc_id", "text")
    val spans = graft.pipeline.TextAnalysis
      .languageSpans(df, "doc_id", "text", window = 20)
      .orderBy($"doc_id", $"span_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // doc 1: 40 en tokens then 40 fr tokens, window 20 -> two spans of
    // two windows each, the seam exactly at token 40
    assert(spans.filter(_._1 == 1L).toSeq ==
      Seq((1L, 1, "en", 0L, 39L, 2L), (1L, 2, "fr", 40L, 79L, 2L)))
    assert(spans.filter(_._1 == 2L).toSeq == Seq((2L, 1, "en", 0L, 39L, 2L)))
  }

  test("winnowNearDups: planted clone pair found, disjoint docs absent") {
    val boiler = "every large corpus carries one widely pasted license header block"
    val docs = Seq(
      (1L, s"doc one intro $boiler trailing words"),
      (2L, s"$boiler completely different remainder of text"),
      (3L, "unrelated content with no repeated passage at all present"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDups(docs, "doc_id", "text",
      k = 3, w = 2, minShared = 2L).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getLong(0) == 1L && p.getLong(1) == 2L)
    assert(p.getLong(2) >= 2L && p.getDouble(3) > 0.0 && p.getDouble(3) <= 1.0)
  }

  test("minhash index: save/load screens identically to a fresh build") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val newBatch = docs.filter($"doc_id" < 10)
      .select(($"doc_id" + 900000).as("doc_id"), $"text")
    val fresh = Dedup.buildMinhashIndex(docs, "doc_id", "text")
    val path = TempDirs.create("graft_mh_idx").toString
    Dedup.saveMinhashIndex(fresh, path)
    val loaded = Dedup.loadMinhashIndex(spark, path)
    assert(loaded.shingleSize == fresh.shingleSize &&
      loaded.numHashes == fresh.numHashes && loaded.bands == fresh.bands)
    val a = Dedup.screenAgainstIndex(fresh, newBatch, "doc_id", "text",
      jaccardThreshold = 0.5).collect().map(_.toString).sorted
    val b = Dedup.screenAgainstIndex(loaded, newBatch, "doc_id", "text",
      jaccardThreshold = 0.5, persistNewSide = false)
      .collect().map(_.toString).sorted
    assert(a.nonEmpty, "planted copies must screen as dups")
    assert(a.toSeq == b.toSeq)
  }

  test("duplicateSpans: cross-doc windows merge into maximal spans; " +
      "within-doc repeats and unique text don't mark") {
    // docs 1 and 2 share tokens 0..5 ("alpha beta gamma delta epsilon zeta")
    // → windows at pos 0,1,2 (size 4) merge into one span [0, 5].
    // doc 3 repeats a window INSIDE itself only → no cross-doc dup.
    // doc 4 is unique → no spans at all.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta one two three"),
      (2L, "alpha beta gamma delta epsilon zeta nine eight seven"),
      (3L, "rep eat this now rep eat this now distinct words here"),
      (4L, "entirely different content with no shared windows anywhere")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text",
      windowSize = 4, minDocFreq = 2)
      .orderBy($"doc_id", $"span_start")
      .collect()
    assert(spans.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    spans.foreach { r =>
      assert(r.getInt(1) == 0 && r.getInt(2) == 5 &&
        r.getInt(3) == 6 && r.getLong(4) == 3L, r.toString)
    }

    // two marked windows exactly windowSize apart still merge (contiguous
    // coverage); windowSize+1 apart split into two spans
    val far = Seq(
      (10L, "s1 s2 s3 s4 xx yy zz qq t1 t2 t3 t4"),
      (11L, "s1 s2 s3 s4 aa bb cc dd t1 t2 t3 t4"),
      (12L, "s1 s2 s3 s4 ee ff gg hh ii t1 t2 t3 t4")
    ).toDF("doc_id", "text")
    val farSpans = Dedup.duplicateSpans(far, "doc_id", "text",
      windowSize = 4, minDocFreq = 2)
      .orderBy($"doc_id", $"span_start").collect()
    // docs 10/11: marked at pos 0 and 8 (gap 8 > 4) → two spans each;
    // doc 12: marked at pos 0 and 9 → two spans
    assert(farSpans.length == 6)
    assert(farSpans.count(_.getInt(1) == 0) == 3) // one leading span per doc
  }

  test("KMV sketch: slice merge equals the union sketch; estimates exact below k") {
    import graft.pipeline.Sketches
    val keys = (1 to 500).map(i => (i, "s", s"key$i")).toDF("i", "scope", "key")
    val full = Sketches.kmvSketch(keys, "key", Seq("scope"), k = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(full.size == 64)
    // merging per-slice sketches (disjoint + an overlapping slice) is
    // lossless for set union: identical bottom-k to the one-pass sketch
    val slices = Seq(
      keys.filter($"i" % 3 === 0), keys.filter($"i" % 3 === 1),
      keys.filter($"i" % 3 === 2), keys.limit(100))
      .map(s => Sketches.kmvSketch(s, "key", Seq("scope"), k = 64))
    val merged = Sketches.kmvMerge(slices, Seq("scope"), k = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(merged == full)
    // below k the sketch IS the distinct hash set → estimator is exact
    val small = (1 to 40).map(i => ("t", s"k$i")).toDF("scope", "key")
    val est = Sketches.kmvEstimateFromSketch(
        Sketches.kmvSketch(small, "key", Seq("scope"), k = 64), Seq("scope"), k = 64)
      .collect().head.getDouble(1)
    assert(est == 40.0)
  }

  test("KMV Jaccard is exact when the pair's union fits under k") {
    import graft.pipeline.Sketches
    // A = 1..100, B = 51..150 → |∩| = 50, |∪| = 150, J = 1/3
    val keyed = ((1 to 100).map(i => ("A", s"k$i")) ++
      (51 to 150).map(i => ("B", s"k$i"))).toDF("scope", "key")
    val row = Sketches.kmvJaccard(
        Sketches.kmvSketch(keyed, "key", Seq("scope"), k = 256), "scope", k = 256)
      .collect().head
    assert(row.getString(0) == "A" && row.getString(1) == "B")
    assert(row.getDouble(2) == math.rint(50.0 / 150.0 * 10000) / 10000)
    assert(row.getDouble(3) == 50.0)
  }

  test("bloomPruneFilter: no false negatives, real pruning, join-identical") {
    import graft.pipeline.Sketches
    val dim = (1 to 100).map(i => s"m$i").toDF("k")
    val bloom = Sketches.bloomBuild(dim, "k")
    val fact = ((1 to 100).map(i => s"m$i") ++ (1 to 900).map(i => s"x$i")).toDF("k")
    val pruned = fact.filter(Sketches.bloomPruneFilter(bloom, $"k"))
    val kept = pruned.collect().map(_.getString(0)).toSet
    assert((1 to 100).forall(i => kept(s"m$i")), "a matching key was pruned")
    assert(kept.size < 300, s"no real pruning: ${kept.size} of 1000 kept")
    // the pruned join equals the unpruned join exactly
    val plain = fact.join(dim, "k").collect().map(_.getString(0)).sorted.toSeq
    val viaBloom = pruned.join(dim, "k").collect().map(_.getString(0)).sorted.toSeq
    assert(viaBloom == plain)
  }

  test("PQ ADC recovers planted clusters (recall@10 >= 0.9 on clustered vectors)") {
    // 8 well-separated centers in 64-dim, 25 members each with small noise:
    // the shape real embeddings have, where PQ codes preserve neighborhoods
    val rng = new scala.util.Random(7)
    val centers = Array.fill(8, 64)(rng.nextGaussian() * 5.0)
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(_ + rng.nextGaussian() * 0.3).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 8) // one query per cluster
    // within a cluster every member quantizes to the same codes, so ADC
    // ties and "which 10 of the 25 mates" is tie-break arbitrary — the
    // meaningful claim is that the neighbors ARE cluster-mates
    val approx = Similarity.pqTopK(df, q, "vec_id", "embedding",
      k = 10, dim = 64, numSubspaces = 4, codebookSize = 8, kmeansIterations = 3)
      .select($"query_id", $"corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sameCluster = approx.count { case (qid, cid) => qid % 8 == cid % 8 }
    val frac = sameCluster.toDouble / approx.length
    assert(frac >= 0.95, s"cluster-mate fraction = $frac")
  }

  test("PQ ADC on unclustered embeddings: top-10 stays within exact top-50") {
    // near-random vectors are the worst case for any 4-byte quantizer; the
    // meaningful floor is rank preservation, not exact top-10 recovery
    val q = embeddings.filter($"vec_id" < 20)
    val exact50 = Similarity.bruteForceTopK(embeddings, q, "vec_id", "embedding", k = 50)
      .select($"query_id", $"corpus_id")
    val approx = Similarity.pqTopK(embeddings, q, "vec_id", "embedding",
      k = 10, dim = 64, numSubspaces = 4, codebookSize = 8, kmeansIterations = 2)
      .select($"query_id", $"corpus_id")
    val contained = exact50.intersect(approx).count().toDouble / approx.count()
    assert(contained >= 0.3, s"top10-in-top50 = $contained")
  }

  test("pqEncode: codes bounded by the codebook, stable across calls") {
    val cb = Similarity.trainPq(embeddings, "vec_id", "embedding", dim = 64,
      numSubspaces = 4, codebookSize = 8, kmeansIterations = 2)
    assert(cb.books.length == 4 && cb.books.forall(_.length == 8) &&
      cb.books.forall(_.forall(_.length == 16)))
    val enc = Similarity.pqEncode(embeddings, "vec_id", "embedding", cb)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(enc.forall(_._2.forall(c => c >= 0 && c < 8)))
    val enc2 = Similarity.pqEncode(embeddings, "vec_id", "embedding", cb)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(enc.sortBy(_._1).toSeq == enc2.sortBy(_._1).toSeq)
  }

  test("ngramContainment catches a quote-inside-doc that Jaccard misses") {
    val short0 = "alpha beta gamma delta epsilon zeta"
    val long0 = "one two three four five six seven eight nine ten " +
      short0 + " eleven twelve thirteen fourteen fifteen sixteen seventeen"
    val df = Seq((1L, short0), (2L, long0), (3L, "unrelated words here entirely"))
      .toDF("id", "text")
    val cont = Dedup.ngramContainment(df, "id", "text", n = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every bigram of the short doc appears in the long doc → containment 1.0
    assert(cont.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 }, cont.toSeq)
    // the reverse direction is far below threshold, and Jaccard misses the pair
    assert(!cont.exists { case (a, b, _) => a == 2L && b == 1L }, cont.toSeq)
    val jac = Dedup.ngramJaccard(df, "id", "text", n = 2, threshold = 0.8)
      .collect()
    assert(jac.isEmpty, jac.toSeq)
  }

  test("IVF-PQ recovers planted clusters through probe + residual codes") {
    val rng = new scala.util.Random(11)
    val centers = Array.fill(8, 64)(rng.nextGaussian() * 5.0)
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(_ + rng.nextGaussian() * 0.3).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 8)
    val approx = Similarity.ivfPqTopK(df, q, "vec_id", "embedding",
      k = 10, dim = 64, nCentroids = 8, nProbe = 2, numSubspaces = 4,
      codebookSize = 8, ivfIterations = 3, pqIterations = 2)
      .select($"query_id", $"corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(approx.length == 80, s"missing neighbors: ${approx.length}")
    val frac = approx.count { case (qid, cid) => qid % 8 == cid % 8 }.toDouble / approx.length
    assert(frac >= 0.95, s"cluster-mate fraction = $frac")
  }

  test("hammingTopK: hand-computed distances and cluster recovery") {
    // hand case: 64-dim sign patterns differing in a known number of dims
    val base = Array.fill(64)(1.0)
    def flip(k: Int) = base.zipWithIndex.map { case (x, i) => if (i < k) -x else x }
    val df = Seq((0L, base.toSeq), (1L, flip(3).toSeq), (2L, flip(10).toSeq),
      (3L, flip(64).toSeq)).toDF("vec_id", "embedding")
    val got = Similarity.hammingTopK(df, df.filter($"vec_id" === 0), "vec_id",
      "embedding", k = 3, dim = 64)
      .collect().map(r => (r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq((1L, 3), (2L, 10), (3L, 64)), got)

    // clustered fixture: sign bits survive noise, neighbors are cluster-mates
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8, 64)(rng.nextGaussian() * 5.0)
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(_ + rng.nextGaussian() * 0.3).toSeq)
    }
    val cdf = rows.toDF("vec_id", "embedding")
    val approx = Similarity.hammingTopK(cdf, cdf.filter($"vec_id" < 8), "vec_id",
      "embedding", k = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val frac = approx.count { case (q, c) => q % 8 == c % 8 }.toDouble / approx.length
    assert(frac >= 0.95, s"cluster-mate fraction = $frac")
  }

  test("rankAuc: hand-computed AUC with ties, degenerate perfect ranking") {
    import graft.pipeline.Classify
    // scores: pos {3, 2}, neg {2, 1} → pairs: (3>2)=1, (3>1)=1, (2~2)=.5,
    // (2>1)=1 → AUC = 3.5/4
    val df = Seq((0.3, true), (0.2, true), (0.2, false), (0.1, false))
      .toDF("score", "label")
    val r = Classify.rankAuc(df, "score", "label").head
    assert(r.getDouble(0) == 0.875 && r.getLong(1) == 2 && r.getLong(2) == 2)
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false))
      .toDF("score", "label")
    assert(Classify.rankAuc(perfect, "score", "label").head.getDouble(0) == 1.0)
  }

  test("confusionStats and calibrationCurve: hand-computed, NULL-safe") {
    import graft.pipeline.Classify
    // tp=1 (2.0,T), fp=1 (1.0,F), fn=1 (-1.0,T), tn=2 (-2.0,F)(-3.0,F)
    val df = Seq((2.0, true), (1.0, false), (-1.0, true), (-2.0, false),
      (-3.0, false)).toDF("score", "label")
    val r = Classify.confusionStats(df, "score", "label").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 1L, 2L)))
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 0.5) // precision, recall
    assert(r.getDouble(6) == 0.5 && r.getDouble(7) == 0.6) // f1, accuracy
    // all-negative predictions: precision undefined → NULL, not NaN
    val neg = Seq((-1.0, true), (-2.0, false)).toDF("score", "label")
    assert(Classify.confusionStats(neg, "score", "label").head.isNullAt(4))
    // calibration: sigmoid(0)=0.5 lands in bin 5; p=1-ish in bin 9
    val cal = Classify.calibrationCurve(
      Seq((0.0, false), (0.0, true), (100.0, true)).toDF("score", "label"),
      "score", "label", bins = 10)
      .orderBy($"bin").collect().map(r2 => (r2.getInt(0), r2.getLong(1), r2.getDouble(3)))
    assert(cal.toSeq == Seq((5, 2L, 0.5), (9, 1L, 1.0)), cal.toSeq)
  }

  test("covariateMatch: nearest control within caliper, with replacement") {
    import graft.pipeline.Classify
    val units = Seq(
      // stratum s1: treated at 10 -> control 9 (d=1 beats 12's d=2);
      // treated at 11 also takes 9 (replacement, 2 <= fd 1? no: 12 d=1
      // wins forward... backward d=2 vs forward d=1 -> forward 12)
      (1L, "s1", 10.0, 100.0, true),
      (2L, "s1", 11.0, 110.0, true),
      (3L, "s1", 9.0, 50.0, false),
      (4L, "s1", 12.0, 60.0, false),
      // stratum s2: nothing within the 5.0 caliper -> treated drops
      (5L, "s2", 0.0, 10.0, true),
      (6L, "s2", 50.0, 20.0, false))
      .toDF("id", "seg", "score", "y", "treat")
    val m = Classify.covariateMatch(units, "id", "treat", Seq("seg"),
        "score", "y", caliper = 5.0)
      .orderBy($"treated_id").collect()
    assert(m.length == 2, m.mkString(";"))
    assert(m(0).getLong(1) == 1L && m(0).getLong(2) == 3L) // 10 -> 9
    assert(m(1).getLong(1) == 2L && m(1).getLong(2) == 4L) // 11 -> 12
    assert(m(0).getDouble(5) == 1.0 && m(1).getDouble(5) == 1.0)
    assert(m(0).getDouble(6) == 100.0 && m(0).getDouble(7) == 50.0)
  }

  test("brierDecomposition: calibrated vs miscalibrated hand cases") {
    import graft.pipeline.Classify
    // p = 0.5 everywhere (score 0), half the labels true: perfectly
    // calibrated coin — brier = unc = 0.25, rel = res = 0
    val coin = Seq((0.0, true), (0.0, false), (0.0, true), (0.0, false))
      .toDF("score", "label")
    val c = Classify.brierDecomposition(coin, "score", "label").head()
    assert(c.getDouble(1) == 0.25 && c.getDouble(2) == 0.0 &&
      c.getDouble(3) == 0.0 && c.getDouble(4) == 0.25, c.toString)
    // p = 0.5 but ALL true: pure reliability gap (0.5-1)^2 = 0.25,
    // zero resolution and zero uncertainty
    val off = Seq((0.0, true), (0.0, true)).toDF("score", "label")
    val o = Classify.brierDecomposition(off, "score", "label").head()
    assert(o.getDouble(1) == 0.25 && o.getDouble(2) == 0.25 &&
      o.getDouble(3) == 0.0 && o.getDouble(4) == 0.0, o.toString)
    // Murphy identity on binned forecasts: brier = rel - res + unc
    assert(math.abs(c.getDouble(1) - (c.getDouble(2) - c.getDouble(3) +
      c.getDouble(4))) < 1e-6)
  }

  test("lrHashClassifier separates a separable corpus perfectly") {
    import graft.pipeline.Classify
    val synth = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, "aaa aaa bbb", true) else (i.toLong, "ccc ccc ddd", false)
    }.toDF("doc_id", "text", "label")
    val out = Classify.lrHashClassifier(synth, "doc_id", "text", "label",
      numBuckets = 64, iterations = 3, learnRate = 1.0)
    val acc = out.join(synth.select($"doc_id", $"label"), "doc_id")
      .filter($"predicted" === $"label").count().toDouble / 40
    assert(acc == 1.0, s"separable corpus not separated: acc=$acc")
  }

  test("lrHashClassifier beats the majority class on a learnable probe") {
    import graft.pipeline.Classify
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("data_heavy",
        size(filter(graft.pipeline.TextAnalysis.wsTokens(lower($"text")), _ === "data")) >
        size(filter(graft.pipeline.TextAnalysis.wsTokens(lower($"text")), _ === "table")))
    val majority = math.max(docs.filter($"data_heavy").count(),
      docs.filter(!$"data_heavy").count()).toDouble / docs.count()
    val out = Classify.lrHashClassifier(docs, "doc_id", "text", "data_heavy",
      numBuckets = 256, iterations = 24, learnRate = 1.0)
    val acc = out.join(docs.select($"doc_id", $"data_heavy"), "doc_id")
      .filter($"predicted" === $"data_heavy").count().toDouble / docs.count()
    assert(acc > majority + 0.05, s"acc=$acc majority=$majority")
  }

  test("spectralEmbed: Perron-Frobenius signs, ordered lambdas, repartition-stable") {
    import graft.pipeline.WordVectors
    val docs = Seq(
      (1L, "data table join data table"),
      (2L, "join table data join"),
      (3L, "alpha beta alpha beta gamma"),
      (4L, "beta gamma alpha")
    ).toDF("doc_id", "text")
    val out = WordVectors.spectralEmbed(docs, "doc_id", "text",
      window = 2, k = 2, iterations = 10).collect()
    val c0 = out.filter(_.getInt(1) == 0)
    val c1 = out.filter(_.getInt(1) == 1)
    // top eigenvector of a nonnegative matrix from a positive start stays
    // nonnegative, and eigenvalues come out in decreasing order
    assert(c0.forall(_.getDouble(2) >= 0), c0.mkString(","))
    assert(c0.head.getDouble(3) >= c1.head.getDouble(3))
    assert(c1.head.getDouble(3) > 0)
    // within-block neighbors score closer than cross-block pairs on the
    // 2-d embedding (alpha~beta vs alpha~data)
    def vec(t: String) = out.filter(_.getString(0) == t).sortBy(_.getInt(1))
      .map(_.getDouble(2))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(d2(vec("alpha"), vec("beta")) < d2(vec("alpha"), vec("data")))
    val re = WordVectors.spectralEmbed(docs.repartition(5), "doc_id", "text",
      window = 2, k = 2, iterations = 10).collect().map(r =>
      (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    val first = out.map(r =>
      (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(re == first)
  }

  test("spectralEmbed: oversized vocab fails the guard BEFORE collecting the matrix") {
    import graft.pipeline.WordVectors
    // 10,100 distinct singleton tokens -> every co-occurring pair is rare
    // (PPMI > 0), so the vocab blows the 10k model-size cap; the require
    // must fire from the cheap distinct-count aggregate, never an OOM
    val big = (0 until 10100).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, big)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      WordVectors.spectralEmbed(docs, "doc_id", "text",
        window = 2, k = 1, iterations = 1)
    }
    assert(e.getMessage.contains("model-sized"), e.getMessage)
  }

  test("compressionRatio separates repetitive from high-entropy text deterministically") {
    import graft.pipeline.TextAnalysis
    val rng = new scala.util.Random(9)
    val noisy = Seq.fill(800)(('a' + rng.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, "spam spam " * 200),            // highly repetitive
      (2L, noisy),                          // near-incompressible
      (3L, ""),                             // empty -> null ratio
      (4L, "A short plain sentence about data pipelines.")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    val spamRatio = out(1L)._2.get
    val noiseRatio = out(2L)._2.get
    assert(spamRatio < 0.05, s"repetitive text should crush: $spamRatio")
    assert(noiseRatio > 0.5, s"random text should not compress: $noiseRatio")
    assert(out(3L)._2.isEmpty && out(3L)._1 == 0L)
    assert(out(4L)._2.exists(r => r > 0 && r <= 1.2))
    // byte counts are exact UTF-8 lengths
    assert(out(1L)._1 == 2000L && out(2L)._1 == 800L)
    // deterministic under repartitioning (fresh Deflater state per row)
    val re = TextAnalysis.compressionRatio(docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(re == out)
  }

  test("zipfFit: OLS of log tf on log rank matches the closed form") {
    // group g1: tf 8,4,2,1 at ranks 1..4 (tokens chosen so the frequency
    // order and the tiebreak agree); expected slope/r2 from the local OLS
    val text = (Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++
      Seq.fill(2)("cc") ++ Seq("dd")).mkString(" ")
    val df = Seq(("g1", text)).toDF("source", "text")
    val row = graft.pipeline.TextAnalysis.zipfFit(df, "source", "text").collect().head
    val xs = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val n = xs.size
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    val syy = ys.map(y => (y - my) * (y - my)).sum
    val slope = sxy / sxx
    val r2 = sxy * sxy / (sxx * syy)
    assert(row.getAs[Long]("vocab") == 4L)
    assert(row.getAs[Double]("zipf_slope") ==
      BigDecimal(slope).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(row.getAs[Double]("zipf_r2") ==
      BigDecimal(r2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("zipfFit: rank ties break on token order, per group independently") {
    // two tokens with equal tf in g2 -> ranks 1,2 by token asc; a second
    // group must not see g2's ranks (window is per-group)
    val df = Seq(
      ("g2", "zz aa zz aa"), // tf 2,2 -> rank(aa)=1, rank(zz)=2
      ("g3", "solo")).toDF("source", "text")
    val out = graft.pipeline.TextAnalysis.zipfFit(df, "source", "text")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("vocab")).toMap
    assert(out == Map("g2" -> 2L, "g3" -> 1L))
    // determinism: a repartitioned run produces the identical frame
    val a = graft.pipeline.TextAnalysis.zipfFit(df.repartition(5), "source", "text").collect().toSeq
    val b = graft.pipeline.TextAnalysis.zipfFit(df, "source", "text").collect().toSeq
    assert(a.sortBy(_.getString(0)) == b.sortBy(_.getString(0)))
  }
}
