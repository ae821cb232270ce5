package graft

import graft.queries.Registry

import scala.jdk.CollectionConverters._

/** Physical-plan pins for the headline relational queries: filters reach
  * the parquet scan, scans read only referenced columns, small dimensions
  * broadcast. A regression in any of these silently multiplies scan bytes
  * or shuffle width at scale, so they are asserted, not eyeballed. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def physical(q: String): String =
    Registry.all(q).fn(spark, dir).queryExecution.executedPlan.toString

  test("q1: shipdate filter pushed to the scan, unused columns pruned") {
    val plan = physical("q1_pricing_summary")
    assert(plan.contains("PushedFilters"), plan)
    val pushed = plan.linesIterator.mkString("\n")
    assert(pushed.contains("LessThanOrEqual(l_shipdate"), plan)
    // ReadSchema must NOT include columns q1 never touches
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      readSchema)
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_returnflag"),
      readSchema)
  }

  test("q3: filtered customer dimension joins via broadcast") {
    val plan = physical("q3_shipping_priority")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    // the BUILDING segment filter is pushed into the customer scan
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
  }

  test("q5: no cartesian products anywhere in the 5-way join") {
    val plan = physical("q5_local_supplier_volume")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("latestByKey plans a WindowGroupLimit (top-1 prune before the sort)") {
    val plan = physical("q_latest_by_key")
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("corpus wordcount scans only the referenced columns") {
    val plan = physical("corpus_wordcount")
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    // the documents table has lang/source/n_chars — the wordcount needs none of them
    assert(!readSchema.contains("lang") && !readSchema.contains("source") &&
      !readSchema.contains("n_chars"), readSchema)
  }

  test("duplicateSpans: no pair matrix — gram-keyed joins only") {
    val plan = physical("q_substring_dup_spans")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan)
    // the mark join is a LEFT SEMI on the gram hash (ids never fan out
    // against each other)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("semanticDedup: the pair join is keyed by cluster id, not cross") {
    val plan = physical("q_dedup_semantic")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan)
  }

  test("zorder layout query: scan reads only the two curve columns") {
    val plan = physical("q_zorder_layout")
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_orderkey"),
      readSchema)
  }

  test("fuzzyJoinDel1: variant equi-join, never a pair matrix") {
    val plan = physical("q_fuzzy_join_del1")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan)
  }

  test("bigramLmScore: count-table joins are keyed; only 1-row vocab crosses") {
    val plan = physical("q_bigram_lm_score")
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop is the 1-row vocab broadcast (model-sized)
    val bnl = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1, s"expected at most the vocab cross-join, got $bnl:\n$plan")
  }

  test("mixtureResample: the per-domain rate table joins via broadcast") {
    val plan = physical("q_mixture_resample")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hybrid retrieval: candidate generation stays sparse, no pair matrix") {
    val plan = physical("q_hybrid_retrieval")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("KMV sketch plans a WindowGroupLimit (partial bottom-k before the shuffle)") {
    import org.apache.spark.sql.functions._
    val keyed = Registry.t(spark, dir, "documents")
      .select(col("lang").as("scope"), col("doc_id").cast("string").as("key"))
    val plan = graft.pipeline.Sketches.kmvSketch(keyed, "key", Seq("scope"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("bloomPruneFilter stays map-only on the fact side: no explode, no extra shuffle") {
    val plan = physical("q_bloom_prune_join")
    // the bitmap probe is a literal-array predicate — a Generate (explode)
    // or an extra aggregate on the fact side would mean the probe shape
    // regressed to the shuffling bloomMightContain form
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan)
    // the lineitem scan feeds a Filter containing the bitmap words literal
    assert(plan.contains("shiftright"), plan)
  }

  test("gap fill: spine generator plus one window pass, no cartesian") {
    val plan = physical("q_timeseries_gapfill")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan)
    // sequence+explode appears as a Generate feeding the left join
    assert(plan.contains("Generate"), plan)
  }

  test("weightedCapPerKey plans a WindowGroupLimit (partial top-k before the shuffle)") {
    import org.apache.spark.sql.functions._
    val docs = Registry.t(spark, dir, "documents")
    val plan = graft.pipeline.Curation
      .weightedCapPerKey(docs, "source", "doc_id", "n_chars", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("tokenBudgetMix: one domain shuffle, budget lookup joins nothing") {
    val plan = physical("q_token_budget_mix")
    assert(!plan.contains("Join"), plan) // CASE-chain budgets, not a join
    // exactly one exchange feeds the window cumsum (plus the final sort's)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges\n$plan")
  }

  test("rolling RANGE window: one window pass, no self-join") {
    val plan = physical("q_rolling_revenue_30d")
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("a raw-lines parse runs at most 6 jobs and no exchange carries tokens") {
    import graft.corpus.ParseCorpus
    import graft.polylda.PolyParseCorpus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    import org.apache.spark.sql.graftshim.shim
    // 400 lines of 50 tokens over 100 words per language: a token-level
    // exchange writes at least the distinct (document, term) pairs, about
    // 16,000 here, while the line sort writes 400 records and the dictionary
    // reduce at most 100 terms + 3 counters per language and partition
    val rnd = new scala.util.Random(11)
    def text(prefix: String) = Seq.fill(50)(s"$prefix${rnd.nextInt(100)}").mkString(" ")
    val tokens = 400 * 50
    def write(lines: Seq[String]) = {
      val f = java.nio.file.Files.createTempFile("graft_parse_jobs_", ".txt")
      f.toFile.deleteOnExit()
      java.nio.file.Files.write(f, lines.asJava)
    }
    val vanillaFile = write((0 until 400).map(i => s"d$i\t${text("w")}"))
    val polyFile = write((0 until 400).map(i => s"d$i\t${text("w")}\t${if (i % 7 == 0) "null" else text("m")}"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffleRecords = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        shuffleRecords.add(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def measured(parse: => Long): (Long, Int, Long) = {
      shim.drainListenerBus(spark, 10000)
      jobs.set(0)
      shuffleRecords.clear()
      val docs = parse
      shim.drainListenerBus(spark, 10000)
      (docs, jobs.get, shuffleRecords.asScala.max)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((name, run) <- Seq(
          "vanilla" -> (() => ParseCorpus.fromRawLines(spark, vanillaFile.toString).stats.numDocs),
          "poly" -> (() => PolyParseCorpus.fromRawLines(spark, polyFile.toString,
            PolyParseCorpus.Config(numLanguages = 2)).docsPerLanguage(0)))) {
        val (docs, n, records) = measured(run())
        assert(docs == 400, name)
        assert(n <= 6, s"$name: $n jobs")
        assert(records < tokens / 10, s"$name: a stage wrote $records shuffle records for $tokens tokens")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bpe/unigram encode is map-only: scan + mapPartitions, no exchange") {
    // the encode stage must stream over the corpus with a broadcast
    // model — ANY exchange here would shuffle the full 100 TB corpus
    import graft.pipeline.{Tokenizer, Unigram}
    val docs = Registry.t(spark, dir, "documents")
    val bpe = Tokenizer.trainBpe(docs, "text", numMerges = 20)
    val bplan = Tokenizer.bpeEncode(docs, "doc_id", "text", bpe)
      .queryExecution.executedPlan.toString
    assert(!bplan.contains("Exchange"), bplan)
    val uni = Unigram.train(docs, "text",
      Unigram.Config(targetVocab = 200, seedSize = 500, maxPieceLen = 4))
    val uplan = Unigram.encode(docs, "doc_id", "text", uni)
      .queryExecution.executedPlan.toString
    assert(!uplan.contains("Exchange"), uplan)
  }

  test("deterministicShuffle: one hash exchange, no global sort") {
    import graft.pipeline.Curation
    val plan = Curation.deterministicShuffle(
        Registry.t(spark, dir, "documents"), "doc_id", numShards = 8)
      .queryExecution.executedPlan.toString
    // the window partitions by shard (one hash exchange + per-shard
    // sort); a rangepartitioning exchange would mean a global sort crept
    // in — the thing this operator exists to avoid
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("tokenizer word-frequency statistic: one partial-agg shuffle") {
    val plan = graft.pipeline.Tokenizer.wordFrequencies(
        Registry.t(spark, dir, "documents"), "text")
      .queryExecution.executedPlan.toString
    // map-side combine (partial_count) before the single exchange keeps
    // the shuffle vocabulary-sized, not corpus-sized
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("partial_count") || plan.contains("partial count"), plan)
  }

  test("PQ scoring join carries codes only — raw vectors never enter it") {
    // the point of product quantization at scale: after encoding, the
    // scored representation is the codes array, so the join input must
    // not project the embedding column
    val e = Registry.t(spark, dir, "embeddings")
    import spark.implicits._
    val df = graft.pipeline.Similarity.pqTopK(e, e.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 10, dim = 64)
    val plan = df.queryExecution.executedPlan.toString
    val joinLines = plan.linesIterator
      .dropWhile(l => !l.contains("BroadcastNestedLoopJoin")).take(4).mkString("\n")
    assert(joinLines.nonEmpty, plan)
    // the corpus side feeding the join projects codes, not cv
    val projAboveJoin = plan.linesIterator
      .filter(l => l.contains("Project") && l.contains("codes"))
    assert(projAboveJoin.nonEmpty, plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains("cv#")), plan)
  }

  test("IVF-PQ probe joins on cid with codes-only index rows") {
    val e = Registry.t(spark, dir, "embeddings")
    import spark.implicits._
    val df = graft.pipeline.Similarity.ivfPqTopK(e, e.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 10, dim = 64)
    val plan = df.queryExecution.executedPlan.toString
    // candidate generation is a cid-keyed broadcast hash join (list
    // pruning), not a nested-loop over the corpus
    assert(plan.contains("BroadcastHashJoin") && plan.contains("cid"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("interval overlap join stays an equi-join on (key, bin) — no cartesian") {
    val plan = physical("q_interval_overlap")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the exact overlap predicate must survive as a post-join filter
    assert(plan.contains("__bin"), plan)
  }

  test("pca scores are map-only over the scan (model as literals, no join)") {
    val plan = physical("q_pca_scores")
    // one exchange for the final orderBy is fine; the scoring itself must
    // not join — the fitted components ride the plan as literals
    assert(!plan.contains("Join"), plan)
  }

  test("weighted median: one window sort, no extra shuffle for the total") {
    val plan = physical("q_weighted_median")
    // both window frames share the same key partitioning: exactly one
    // hashpartitioning exchange on the key column
    val exchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size == 1, s"expected 1 key exchange:\n$plan")
  }

  test("nearest asof: both direction frames share one window sort") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val left = Seq((1L, "a", 10L)).toDF("id", "k", "ts")
    val right = Seq(("a", 10L, 1.0)).toDF("k", "rts", "v")
    val df = graft.operators.TemporalJoins.asofJoinNearest(
      left, right, Seq("k"), "ts", "rts", Seq("rts", "v"))
    val plan = df.queryExecution.executedPlan.toString
    // the union+window segment must sort the (key) partition exactly once
    // — the preceding and following frames ride the same Sort
    val sorts = plan.linesIterator.filter(_.trim.startsWith("+- Sort")).toSeq ++
      plan.linesIterator.filter(_.trim.startsWith(":- Sort")).toSeq
    val windowSorts = sorts.filter(_.contains("__ts"))
    assert(windowSorts.size == 1, s"expected 1 window sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rolling median and zscore windows stay single-sort per key") {
    val plan = physical("q_rolling_median")
    val exchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    // one key exchange for the window; the final orderBy is a range
    // exchange, not a second hash shuffle
    assert(exchanges.size == 1, s"expected 1 key exchange:\n$plan")
  }

  test("quantile binning: bounds broadcast, assignment map-side") {
    val plan = physical("q_quantile_bin")
    // the 1-row bounds frame joins via broadcast nested loop (a true
    // cross join of one row) — never a shuffled join of the fact table
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    val exchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    // only the bucket-summary aggregate shuffles (plus nothing for the
    // assignment itself)
    assert(exchanges.size <= 1, s"expected <=1 hash exchange:\n$plan")
  }

  test("welch t-test: one scan of the fact table, pairs from the stats frame") {
    val plan = physical("q_welch_ttest")
    // the stats frame is checkpointed, so the pair join reads the
    // materialized group stats — the fact parquet appears at most once
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0, s"expected checkpointed stats, no live scans:\n$plan")
  }

  test("bootstrap CI: replicate fan-out stays map-side, no sort-merge join") {
    val plan = physical("q_bootstrap_ci")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan)
    // the fan-out is a generate (explode), not a join against a numbers table
    assert(plan.contains("Generate"), plan)
  }

  test("item-item CF and association rules never go corpus-quadratic") {
    for (q <- Seq("q_item_item_cf", "q_assoc_rules")) {
      val plan = physical(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
    }
  }

  test("entity resolution: JW candidates come from block equi-joins only") {
    val plan = physical("q_jw_name_match")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the block key is the join key; the JW kernel runs post-join
    assert(plan.contains("jaro_winkler") || plan.contains("jaroWinkler"), plan)
  }

  /** Every Window node in `plan` must carry a partition spec mentioning
    * `__pid` — i.e. partition-LOCAL prefix work only; an unpartitioned
    * (single-task) window anywhere fails. */
  private def assertPidPartitionedWindowsOnly(plan: String): Unit = {
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    winLines.foreach { l =>
      assert(l.contains("__pid"), s"unpartitioned Window crept back in:\n$l\n$plan")
    }
  }

  test("mannWhitneyU: grid-aggregated AND no unpartitioned window at all") {
    import spark.implicits._
    val base = Registry.t(spark, dir, "events")
      .select(($"user_id" % 2).cast("string").as("g"),
        $"value".cast("double").as("__v"))
      .filter($"__v".isNotNull)
    val (stats, cache) = graft.pipeline.Profiling.mwRankStats(base)
    val plan = stats.queryExecution.executedPlan.toString
    cache.unpersist()
    // the raw relation is grid-aggregated before any ordering, and the
    // grid prefix sums ride partition-offset windows (r7 VERDICT: the
    // grid window degenerated to one task when all values are distinct)
    assertPidPartitionedWindowsOnly(plan)
    assert(plan.contains("rangepartitioning"), s"no distributed sort:\n$plan")
  }

  test("rankAuc: cumulative negatives via partition offsets, no unpartitioned window") {
    import spark.implicits._
    val scored = Registry.t(spark, dir, "events")
      .select(($"value" % 1.0).as("s"), ($"event_id" % 2 === 0).as("y"))
    val plan = graft.pipeline.Classify.rankAuc(scored, "s", "y")
      .queryExecution.executedPlan.toString
    assertPidPartitionedWindowsOnly(plan)
    assert(plan.contains("rangepartitioning"), s"no distributed sort:\n$plan")
  }

  test("giniLorenz: partition-offset prefix sums, no unpartitioned window") {
    import spark.implicits._
    val base = Registry.t(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(org.apache.spark.sql.functions.sum($"o_totalprice").as("spend"))
    val out = graft.pipeline.Profiling.giniLorenz(base, "o_custkey", "spend")
    val plan = out.queryExecution.executedPlan.toString
    assertPidPartitionedWindowsOnly(plan)
    assert(plan.contains("rangepartitioning"), s"no distributed sort:\n$plan")
  }

  test("dsirSelect: model joins broadcast; top-n cut has no unpartitioned window") {
    val plan = physical("q_dsir_select")
    // the B-sized llr model must ride a broadcast, never a shuffle join
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the ranked cut is the partition-offset idiom (orderedPrefix)
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    winLines.foreach { l =>
      assert(l.contains("__pid"), s"unpartitioned Window crept back in:\n$l")
    }
    assert(plan.contains("rangepartitioning"), s"no distributed sort:\n$plan")
  }

  test("labelPropagation and shortestPaths plans carry no window at all") {
    // both are pure join+aggregate recurrences; a window anywhere means
    // the argmax or frontier logic regressed to a per-node sort
    assert(!physical("q_label_propagation").contains("Window "))
    assert(!physical("q_bfs_distances").contains("Window "))
  }

  test("heavyHitters verify pass: candidate prune before a partial-agg shuffle") {
    val plan = physical("q_heavy_hitters")
    // the exact pass must filter to the candidate set BEFORE aggregating
    assert(plan.contains("INSET") || plan.contains(" IN "),
      s"candidate prune missing:\n$plan")
    // map-side combine: partial then final count, never raw rows through
    // the exchange
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(!plan.contains("Window "), plan)
  }

  test("kAnonymize: semi join on the QI stats, no pair matrix") {
    val plan = physical("q_k_anonymity")
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("zipfFit: the rank window is per-group, over the tf aggregate") {
    val plan = physical("q_zipf_slope")
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty, plan)
    winLines.foreach { l =>
      assert(l.contains("source"), s"unpartitioned rank window:\n$l")
    }
    // the window input is the (group, token) count aggregate, so tf
    // partial-aggregates before any sort
    assert(plan.contains("partial_count"), plan)
  }

  test("media near-dup joins stay banded equi-joins — never a pair matrix") {
    for (q <- Seq("q_image_phash_dedup", "q_audio_fingerprint_dedup",
        "q_video_phash_dedup")) {
      val plan = physical(q)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$q plans a pair matrix:\n$plan")
    }
  }

  test("multimodal prep capstone: map-only modality branches, no pair matrix") {
    val plan = physical("q_multimodal_prep_pipeline")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"prep capstone plans a pair matrix:\n$plan")
    // one shard-assignment exchange for the tar pack is the only wide
    // stage this composition needs; everything after is per-row decode
    assert(plan.contains("MapGroups") || plan.contains("mapGroups"), plan)
  }

  test("media dedup capstone: anti-join keep policy, no pair matrix anywhere") {
    val plan = physical("q_media_dedup_pipeline")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"capstone plans a pair matrix:\n$plan")
    assert(plan.contains("LeftAnti"), s"keep policy lost its anti join:\n$plan")
    // the three modality branches read the staged media table, not the
    // per-branch fixture generator (one encode pass, three decodes)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) >= 3, plan)
  }

  test("isotonicCalibrate bins without any window: distributed range sort") {
    import spark.implicits._
    val base = Registry.t(spark, dir, "events")
      .select($"event_id".as("__id"), ($"value" % 1.0).as("__s"),
        ($"event_id" % 2).cast("long").as("__y"))
    val (binned, cache) = graft.pipeline.Classify.isotonicBinned(base, 10, 100L)
    val plan = binned.queryExecution.executedPlan.toString
    cache.unpersist()
    assert(!plan.contains("Window"), s"global window crept back in:\n$plan")
    assert(plan.contains("rangepartitioning"), s"no distributed sort:\n$plan")
  }

  test("brand comparisons: part dim broadcasts, self-join keyed on the order") {
    val plan = graft.queries.FeedbackQueries.brandComparisons(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"pair matrix crept in:\n$plan")
  }

  test("dawidSkene: E-step model joins broadcast, no window anywhere") {
    val labels = graft.pipeline.Annotation.plantedLabels(
      Registry.t(spark, dir, "documents"), "doc_id", nRaters = 3,
      nClasses = 3, shiftedConfusion = true)
    // inspect mu BEFORE the loop's localCheckpoint truncates lineage:
    // run 1 iteration and look at theta (M-step joins) plus a fresh
    // E-step expression built the same way the chain builds it
    val (theta, pi, mu) = graft.pipeline.Annotation
      .dsChain(labels, "item_id", "rater", "label", iters = 1)
    val thetaPlan = theta.queryExecution.executedPlan.toString
    assert(!thetaPlan.contains("Window"), s"window in the M-step:\n$thetaPlan")
    // the only nested-loop joins allowed are the rater×class×class grid
    // (model-sized by construction); the item-keyed passes must stay keyed —
    // item ids never appear in a nested-loop join's output columns
    val nlLines = thetaPlan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(!nlLines.exists(_.contains("__it")),
      s"item-sized nested loop in the M-step:\n$thetaPlan")
    val post = graft.pipeline.Annotation
      .dawidSkenePosteriors(labels, "item_id", "rater", "label", iters = 1)
    val plan = post.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in the MAP argmax:\n$plan")
    pi.count(); mu.count() // chain frames stay consistent
  }

  test("corpusBleu: keyed clip join, each side exploded once, no window") {
    import spark.implicits._
    val df = Registry.t(spark, dir, "documents").select($"doc_id", $"source",
      org.apache.spark.sql.functions.split($"text", " ").as("ref"))
      .withColumn("cand", $"ref")
    val plan = graft.pipeline.TextEval
      .corpusBleu(df, "doc_id", "source", "cand", "ref")
      .queryExecution.executedPlan.toString
    // exactly two Generate (explode) nodes: one per side — a shared
    // side-tagged frame regresses to each branch generating both sides
    val generates = plan.linesIterator.count(_.contains("Generate explode"))
    assert(generates == 2, s"expected 2 explodes, got $generates:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("winnowing: keyed struct-min aggregate, no window, no pair matrix") {
    val fpPlan = physical("q_winnow_fingerprints")
    // the per-window argmin is a hash aggregate keyed by (doc, window
    // start) — a regression to a window function would serialize per-doc
    assert(!fpPlan.contains("Window"), s"window crept in:\n$fpPlan")
    assert(!fpPlan.contains("CartesianProduct") &&
      !fpPlan.contains("BroadcastNestedLoop"), fpPlan)
    val pairPlan = physical("q_winnow_dedup")
    assert(!pairPlan.contains("CartesianProduct") &&
      !pairPlan.contains("BroadcastNestedLoop"), pairPlan)
    // the hash-df cap applies as a semi join before the pair join
    assert(pairPlan.contains("LeftSemi"), pairPlan)
  }

  test("eloRatings: ONE distributed aggregate feeds the driver fold") {
    import org.apache.spark.sql.functions._
    // the collect()ed frame is the per-(period, pair) win-count aggregate;
    // pin its plan: keyed hash aggregate, broadcast part dim, no window
    val cmp = graft.queries.FeedbackQueries.brandComparisonsDated(spark, dir)
    val agg = cmp.groupBy(col("period"), col("w"), col("l"))
      .agg(count(lit(1)).as("c"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("trend and changepoint ops: keyed joins and keyed windows only") {
    for (q <- Seq("q_mann_kendall_trend", "q_theil_sen", "q_changepoints")) {
      val plan = physical(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"), s"$q pair matrix:\n$plan")
      // every window carries a partition key (__k / k / event_type)
      plan.linesIterator.filter(_.contains("Window ")).foreach { l =>
        assert(l.contains("__k") || l.contains("k#") || l.contains("event_type"),
          s"$q unpartitioned window:\n$l")
      }
    }
  }

  test("winnow screen: cross-side hash join, hash-df semi join, no window") {
    val plan = physical("q_winnow_index_screen")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("cliffsDelta: partition-offset below-counts, no unpartitioned window") {
    import spark.implicits._
    val base = Registry.t(spark, dir, "events")
      .select(($"user_id" % 2).cast("string").as("g"),
        $"value".cast("double").as("v"))
    val plan = graft.pipeline.Profiling.cliffsDelta(base, "g", "v")
      .queryExecution.executedPlan.toString
    assertPidPartitionedWindowsOnly(plan)
  }

  test("neymanSample and logRank: only keyed windows in the plans") {
    for (q <- Seq("q_neyman_sample", "q_log_rank")) {
      val plan = physical(q)
      // the only nested loop allowed is the 1-row scalar broadcast
      // (neyman's total-weight crossJoin — the Graphs dangling-mass
      // precedent); a data×data cartesian is still a failure
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
      plan.linesIterator.filter(_.contains("Window ")).foreach { l =>
        // neyman ranks within the stratum (__h); log-rank cumulates the
        // grid per group (g) — both keyed, grid/stratum-sized
        assert(l.contains("__h") || l.contains("g#"),
          s"$q unpartitioned window:\n$l")
      }
    }
  }

  test("rankingEval: every window partitions by the query key") {
    val plan = physical("q_ranking_eval")
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty, s"expected query-partitioned windows:\n$plan")
    // both the running-precision window and the ideal-rank window key on
    // the query (__q on the eval side, term on the fixture ranking side)
    winLines.foreach { l =>
      assert(l.contains("__q") || l.contains("term"),
        s"unpartitioned window:\n$l\n$plan")
    }
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
