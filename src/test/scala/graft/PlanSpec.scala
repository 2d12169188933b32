package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the physical plans we rely on for
  * scale (broadcast dimension joins, scan-level filter pushdown and
  * column pruning, whole-stage codegen, exchange reuse) are asserted,
  * not assumed — a regression that silently degrades the plan fails
  * here even though results stay correct.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** Final adaptive plan: AQE only materializes WholeStageCodegen
    * spans and reused stages once THIS dataframe's plan has run
    * (collect, not count — count builds a different plan).
    */
  private def finalPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("driver contract: queries and oracles cover the same names") {
    // a query without an oracle silently downgrades to a rows-only
    // check in the driver's correctness gate; an oracle without a
    // query is dead SQL masking a dropped operator
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("no query ranks through an unpartitioned window (the one " +
      "physical shape that funnels an unbounded input into one task)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, build)
          if build(spark, dir).queryExecution.optimizedPlan.collect {
            case w: LWindow if w.partitionSpec.isEmpty => w
          }.nonEmpty => name
    }
    assert(offenders.isEmpty,
      s"global single-task windows in: ${offenders.mkString(", ")}")
  }

  test("Bpe.train: the one corpus pass is a bounded TakeOrdered word " +
      "cap (no cartesian, no global window); the induced merge table " +
      "is a driver-local relation") {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    // the only distributed work: the capped word count
    val wc = graft.ext.Bpe.wordCounts(docs, col("text"), 512)
    val p = wc.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"word cap not a bounded TakeOrdered:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      "word counting degraded to a cartesian product")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(wc.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }.isEmpty, "global window in the word-count plan")
    // the merge induction itself is the bounded driver endgame: its
    // result plans as a LocalRelation (≤ k rows), no further jobs
    val df = graft.ext.Bpe.train(docs, col("text"), k = 6,
      maxWords = 512)
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    assert(df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty, "merge table should be a driver-local relation")
  }

  test("tpch_q5: all five dimension joins broadcast; lineitem streams") {
    val p = plan("tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 5)
    assert(!p.contains("SortMergeJoin"))
  }

  test("tpch_q1: filter and pruning reach the parquet scan") {
    val p = plan("tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // projection needs 4 data columns + the filter column; a scan
    // reading the full 16-column lineitem schema would be a pruning
    // regression
    assert(p.contains("l_shipdate") && !p.contains("l_comment"))
  }

  test("ts_anomaly: the native median/MAD kernel evaluates exactly " +
      "once per key — no InferFiltersFromConstraints re-evaluation " +
      "in a pushed filter, no interpreted HOF fold left in the plan") {
    // formatted mode: the kernel lives in the HashAggregate's result
    // expressions, which the plain tree toString elides
    val p = SparkEntry.queries("ts_anomaly")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // round 20: the two interpreted folds (median + MAD, plus the
    // r10 let-binding shield) became ONE native hist_med_mad kernel.
    // The inferred-isnotnull regression this test guards re-prints
    // the stats expression once per pushed isnotnull (3+
    // occurrences) — the coalesce filter guard below the join is
    // what keeps it at exactly 1
    val folds = "hist_med_mad".r.findAllIn(p).size
    assert(folds === 1, s"hist_med_mad appears $folds times in the " +
      s"physical plan — the kernel is being re-evaluated " +
      s"(inferred-filter pushdown regression)")
    // and the interpreted folds must be GONE (the kernel replaced
    // them; a reappearing `aggregate(__h` is a regression)
    assert(!p.contains("aggregate(__h"),
      "interpreted median fold reappeared alongside the kernel")
    // stats joins back broadcast — never a sort-merge shuffle of the
    // full event table (winsorizeFromHist:127 discipline)
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("r1_left_join runs inside WholeStageCodegen") {
    // '*(n)' prefixes mark codegen stages in the final plan rendering
    assert(finalPlan("r1_left_join").contains("*("))
  }

  test("dedup_minhash_lsh: signature aggregation is exchange-reused " +
      "in the shuffle-join (at-scale) plan") {
    // at tiny SF the band self-join broadcasts (nothing to reuse);
    // force the shuffle-join plan the operator would run at scale
    withBroadcastDisabled {
      assert(finalPlan("dedup_minhash_lsh").contains("ReusedExchange"))
    }
  }

  test("LSH band self-joins reuse one exchange in the DEFAULT plan too") {
    // the explicit (band, key) repartition means the signature subtree
    // is computed and shuffled once even when AQE would broadcast the
    // self-join — without it, a broadcast self-join evaluates the
    // whole signature aggregation twice
    assert(finalPlan("dedup_minhash_lsh").contains("ReusedExchange"))
    assert(finalPlan("dedup_simhash_pairs").contains("ReusedExchange"))
  }

  test("dedup_cosine_ivf: the IVF assignment is computed once — the " +
      "list self-join reads one ReusedExchange") {
    // without the explicit list-id repartition, both self-join
    // branches would recompute the centroid cross join + top-2 window
    assert(finalPlan("dedup_cosine_ivf").contains("ReusedExchange"))
  }

  private def withBroadcastDisabled[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("i2b2_pipeline: every join broadcasts at test scale with no " +
      "hint over the memoized spine stage (the Bench/Verify " +
      "configuration)") {
    // the joins carry no broadcast() hint (a forced broadcast OOMs at
    // scale instead of degrading to a shuffled hash join). Catalyst
    // must still pick BHJ for every dimension join under the
    // threshold, with the spine read from its in-session checkpoint.
    def evictBoth(): Unit =
      Seq("i2b2_spine", "i2b2_hier_last").foreach(n =>
        graft.queries.ExtensionQueries.evictStage(spark, dir, n))
    evictBoth()
    val p = plan("i2b2_pipeline")
    // ancestor-name resolution broadcasts; nothing degenerates
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the one shuffle join left is the path render-back: its right
    // side is the exchange-free groupBy output (co-partitioned on
    // the join key), and a path dimension is data-scale at 100 TB —
    // SMJ there is the intended shape, but it must stay the ONLY one
    assert("SortMergeJoin".r.findAllIn(p).size === 1,
      s"unexpected extra shuffle join:\n$p")
  }

  test("ew_asof_native plans the custom exec with sorted children") {
    val p = plan("ew_asof_native")
    assert(p.contains("AsofJoin"))
    assert(p.contains("Sort ["))
  }

  test("sample_hash_stratified: one pruned scan, one filter, no shuffle") {
    val p = plan("sample_hash_stratified")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"))
    assert(!p.contains("Exchange"))
  }

  test("tpch_q3: both canonical date filters push to the parquet scans") {
    val p = plan("tpch_q3")
    assert(p.contains("LessThan(o_orderdate"),
      s"orders date filter not pushed:\n$p")
    assert(p.contains("GreaterThan(l_shipdate"),
      s"lineitem ship filter not pushed:\n$p")
  }

  test("dedup_substring: one text pass — single scan, no join, " +
      "pruned to (doc_id, text)") {
    val p = plan("dedup_substring")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"winnowing fingerprint pass recomputed:\n$p")
    assert(!p.contains("Join"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("sim_pq_adc_topk: head of the materialized pq_adc20 candidate " +
      "stage — NO join, no re-run of the ADC scan, a group-limited " +
      "window over <= 20 rows per query") {
    val p = plan("sim_pq_adc_topk")
    // the whole ADC pipeline lives in the stage; the query plan is
    // just the checkpoint read + bounded head
    assert(p.contains("Scan ExistingRDD"),
      s"query re-derives the ADC pipeline instead of the stage:\n$p")
    assert(!p.contains("Join"), s"head-of-stage needs no join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-5 head should group-limit, not full-sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("PQ queries consume the memoized codebook instead of " +
      "retraining it (the train-once / query-many lifecycle)") {
    // the codebook stage is a localCheckpoint: a query plan that
    // contains the training aggregations (the per-subspace rank
    // window) or more than the two legitimate embedding scans
    // (corpus encode + query table) is re-training per query
    for (q <- Seq("sim_pq_adc_topk", "sim_ivfpq_topk")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      val trainingWindows = p.collect {
        // the training plan's rank window aliases exactly "__r"; the
        // query's own top-k window aliases "__rn"
        case w: LWindow if w.windowExpressions.exists(_.name == "__r") => w
      }
      assert(trainingWindows.isEmpty,
        s"$q replans codebook training:\n$p")
    }
  }

  test("text_surprisal: the token exchange is built once and reused " +
    "by count, total and join branches") {
    val p = finalPlan("text_surprisal")
    assert(p.contains("ReusedExchange") ||
      "Scan parquet".r.findAllIn(p).size <= 2,
      s"token pass recomputed per consumer:\n$p")
  }

  test("emb_quantize_int8: map-only encode — the corpus is never " +
    "regrouped on id (stats pack into one broadcast row)") {
    val p = finalPlan("emb_quantize_int8")
    assert(!p.contains("hashpartitioning(id"),
      s"encode side shuffles the exploded corpus back together:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"per-dim stats must broadcast:\n$p")
  }

  test("text_dsir_weight: one token exchange feeds both count models " +
    "and the scoring join (at-scale plan)") {
    withBroadcastDisabled {
      val p = finalPlan("text_dsir_weight")
      assert(p.contains("ReusedExchange"),
        s"token pass recomputed per consumer:\n$p")
    }
  }

  test("text_ccnet_buckets: threshold side broadcasts (no lang-keyed " +
    "shuffle join — 4 keys would skew) and no ranking window at all") {
    val p = finalPlan("text_ccnet_buckets")
    assert(p.contains("BroadcastExchange"),
      s"thresholds must broadcast, not shuffle on lang:\n$p")
    assert(!p.contains("Window"),
      s"the tercile cut must be a histogram fold, not a window:\n$p")
    // at-scale guard for the subtree-recompute trap: with broadcasts
    // off, the scored pipeline feeds both the threshold aggregation
    // and the probe side through shared exchanges
    withBroadcastDisabled {
      val p2 = finalPlan("text_ccnet_buckets")
      assert(p2.contains("ReusedExchange"),
        s"scored pipeline recomputed per consumer at scale:\n$p2")
    }
  }

  test("text_tfidf: no occurrence explode anywhere — the per-doc TF " +
    "table folds map-side (token_tf) and only (doc, term, tf) rows " +
    "ever shuffle (at-scale plan)") {
    // the round-12 shape shuffled every token occurrence through an
    // explicit term repartition; the kernel form must plan the
    // tokenization as Generate(token_tf(...)) with NO repartition
    // exchange below it — what shuffles is the aggregated TF table
    withBroadcastDisabled {
      val p = finalPlan("text_tfidf")
      assert(p.contains("token_tf"), s"kernel TF pass missing:\n$p")
      assert(!p.contains("REPARTITION_BY_COL"),
        s"occurrence repartition resurrected:\n$p")
    }
  }

  test("text_surprisal_bigram: the pair exchange is shared by the " +
    "count aggregations and the scoring joins (at-scale plan)") {
    withBroadcastDisabled {
      val p = finalPlan("text_surprisal_bigram")
      assert(p.contains("ReusedExchange"),
        s"pair pass recomputed per consumer:\n$p")
    }
  }

  test("emb_project: map-only — one pruned scan, no shuffle, no join") {
    val p = plan("emb_project")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"a JL projection must stay narrow:\n$p")
  }

  test("corpus_report: two aggregations on the source key, " +
    "no cartesian product") {
    val p = finalPlan("corpus_report")
    assert(!p.contains("CartesianProduct"))
  }

  test("ew_funnel: the whole pattern costs ONE exchange and ONE sort " +
    "— every step's window reuses the same (key, ts, tie) order") {
    val p = plan("ew_funnel")
    assert("Exchange".r.findAllIn(p).size === 1, s"extra shuffle:\n$p")
    assert("Sort \\[".r.findAllIn(p).size === 1, s"extra sort:\n$p")
  }

  test("ew_retention: the (user, week) distinct exchange feeds both " +
    "the cohort min and the join (at-scale plan)") {
    withBroadcastDisabled {
      val p = finalPlan("ew_retention")
      assert(p.contains("ReusedExchange"),
        s"activity pass recomputed for the cohort branch:\n$p")
    }
  }

  test("curate_pretrain: the composed pipeline never degrades to a " +
    "cartesian product and keeps scans bounded") {
    val p = finalPlan("curate_pretrain")
    assert(!p.contains("CartesianProduct"))
    // doc scans: langid+repetition branches + the split/chunk path;
    // a regression that re-reads the corpus per stage would blow this
    assert("Scan parquet".r.findAllIn(p).size <= 8,
      s"corpus re-scanned per stage:\n$p")
  }

  test("split_assign: map-only — one pruned scan, no shuffle") {
    val p = plan("split_assign")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"))
    assert(!p.contains("Exchange"))
  }

  test("pack_sequences: exactly one exchange (the shard window), " +
    "text column pruned after chunking") {
    val p = plan("pack_sequences")
    assert("Exchange".r.findAllIn(p).size === 1,
      s"packing should shuffle once, on the shard key:\n$p")
    assert(!p.contains("Join"))
  }

  test("ivfTopK/ivfPqTopK: centroid joins broadcast even from a " +
    "stats-less centroid frame — never cartesian") {
    // a centroid frame read back from parquet (e.g. a persisted kmeans
    // result) carries no size estimate; without the explicit
    // broadcast() pin the assign/probe cross joins can degrade to a
    // CartesianProduct exchange that shuffles the full corpus
    import graft.ext.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("cent").toString
    try {
      val emb = graft.sources.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.seedCentroids(emb, 8).write.mode("overwrite").parquet(tmp)
      val statless = spark.read.parquet(tmp)
      // small nlist takes the LITERAL-centroid path since round 13:
      // assignment and probe are map-only folds — no centroid join AT
      // ALL (the strongest form of "never cartesian"); the only joins
      // left are the list equi-join and the top-k window
      for (df <- Seq(
          Similarity.ivfTopK(emb, emb, statless, k = 5, nprobe = 2),
          Similarity.ivfPqTopK(emb, emb, statless, k = 5, nprobe = 2))) {
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct"))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"small-nlist IVF should fold literal centroids, not join:\n$p")
      }
      // past the 64-centroid literal cap the coarse quantizer falls
      // back to the broadcast join — which must STAY a broadcast even
      // from this stats-less parquet frame, never a cartesian
      val bigTmp = java.nio.file.Files.createTempDirectory("centbig")
        .toString
      try {
        Similarity.seedCentroids(emb, 80).write.mode("overwrite")
          .parquet(bigTmp)
        val statless80 = spark.read.parquet(bigTmp)
        for (df <- Seq(
            Similarity.ivfTopK(emb, emb, statless80, k = 5, nprobe = 2),
            Similarity.ivfPqTopK(emb, emb, statless80, k = 5,
              nprobe = 2))) {
          df.collect()
          val p = df.queryExecution.executedPlan.toString
          assert(!p.contains("CartesianProduct"),
            s"cartesian centroid join:\n$p")
          assert(p.contains("BroadcastNestedLoopJoin"))
        }
      } finally {
        import scala.sys.process._
        Seq("rm", "-rf", bigTmp).!
      }
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", tmp).!
    }
  }

  test("layout_bucket_join: co-located — the bucketed join reads " +
      "both sides with NO exchange") {
    // the whole point of the bucketed layout: the join's required
    // hash distribution is satisfied by the tables themselves; force
    // the shuffle-join path (tiny test data would broadcast) and
    // assert nothing re-partitions
    withBroadcastDisabled {
      val df = SparkEntry.queries("layout_bucket_join")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucketed:\n$p")
    }
  }

  test("kmeans model train + assign: centroid joins broadcast, " +
      "never cartesian") {
    // every Lloyd iteration cross-joins the corpus against ≤k
    // centroid rows; the bounded side must broadcast — a
    // CartesianProduct would shuffle the full corpus against itself
    // at scale. Since round 13 the model is a shared stage, so the
    // pins sit on the stage-build plans (train = 1 assignment inside
    // the iters=2 centroid chain, assign = 1 more), and the consumer
    // query must NOT replay any Lloyd join.
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cent = graft.ext.Clustering.kmeansCentroids(
      e, col("id"), col("vec"), k = 8, iters = 2)
    val pTrain = cent.queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(pTrain).size === 1)
    assert(!pTrain.contains("CartesianProduct"))
    val pAssign = graft.ext.Clustering.kmeansAssignWith(
      e, col("id"), col("vec"), cent)
      .queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(pAssign).size === 2)
    assert(!pAssign.contains("CartesianProduct"))
    val pQuery = plan("emb_kmeans")
    assert(!pQuery.contains("CartesianProduct"))
  }

  test("graph_pagerank: every rank round is an equi-join + partial " +
      "aggregation — no cartesian, and the iterated edge side is a " +
      "checkpoint scan, not a recomputed lineitem join") {
    val df = SparkEntry.queries("graph_pagerank")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the degree-annotated edge list is the memoized pr_graph stage
    // (checkpoint-backed): the per-round joins must never re-scan or
    // re-join orders/lineitem — 1 scan of each would appear per round
    // otherwise. The cheap nodes union (customer/supplier) stays a
    // plain scan by design.
    assert(!p.contains("lineitem") && !p.contains("orders"),
      s"rank rounds re-derive the edge list instead of the stage:\n$p")
  }

  test("stats_key_skew: heavy-hitter cap is a TakeOrdered heap, and " +
      "rank/cumshare run window-free (the global-window ban holds " +
      "even for the capped k rows)") {
    val df = SparkEntry.queries("stats_key_skew")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k cap is not a bounded TakeOrdered:\n$p")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(df.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }.isEmpty, "skew profile should not plan any window")
    assert(!p.contains("CartesianProduct"))
    // the top/peers/total branches must share ONE scan + partial
    // count — a profile that reads its 100 TB input three times is
    // three times the tool it needs to be
    assert(finalPlan("stats_key_skew").contains("ReusedExchange"),
      "count aggregation not exchange-reused across branches")
  }

  test("graph_triangles: wedge and closure joins stay equi-joins on " +
      "graph keys — no cartesian anywhere") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("coOccurrenceEdges: the maxGroupSize guard is the bounded " +
      "collect itself — a hot group's buffer stops at the cap, with " +
      "no join and no second incidence pass below the postings " +
      "aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.graft.BoundedCollectSet
    val inc = graft.sources.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("group"), col("l_partkey").as("item"))
    val df = graft.ext.Graph.coOccurrenceEdges(inc, minSupport = 2,
      maxGroupSize = 1000L)
    val lp = df.queryExecution.optimizedPlan
    val postings = lp.collect {
      case a: Aggregate if a.aggregateExpressions.exists(
        _.find {
          case b: BoundedCollectSet => b.maxSize === 1001
          case _ => false
        }.isDefined) => a
    }
    assert(postings.nonEmpty,
      s"bounded postings collect (cap = maxGroupSize+1) missing:\n$lp")
    // single-pass guard: nothing below the postings aggregate but the
    // incidence scan — a join here would mean a second pass / a
    // pre-filter subtree re-reading the input
    assert(postings.forall(_.child.collect { case j: Join => j }.isEmpty),
      s"postings aggregate is not a single pass over incidence:\n$lp")
  }

  test("aqeSkewJoin: OptimizeSkewedJoin splits the hot partition " +
      "under production-shaped thresholds, and the result is the " +
      "plain join's") {
    // production shape scaled to test bytes: a 95%-hot key, skew
    // thresholds lowered in proportion (a cluster's defaults are
    // 256 MB / factor 5 on multi-GB partitions)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    // getOption-style read: unset (or None-default) confs read back
    // null, which must restore as unset, not as set(null)
    val prev = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(0, 200000).select(
        when(col("id") % 100 < 95, lit(0L))
          .otherwise(col("id") % 100).as("k"),
        col("id").as("payload"))
      val dim = spark.range(0, 100).select(col("id").as("k"),
        concat(lit("g"), col("id")).as("tag"))
      val j = graft.ops.Relational.aqeSkewJoin(fact, dim, "k")
      // collect, not count: count would build a SEPARATE query
      // execution and leave this frame's adaptive plan unexecuted
      assert(j.collect().length === 200000,
        "skew split must not change the join result")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bloomPrunedJoin: InjectRuntimeFilter plants a bloom probe at " +
      "the fact scan under production-shaped thresholds, and the " +
      "result is the plain join's") {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // production shape scaled to test bytes: a multi-GB fact scan
      // qualifies against the default 10GB threshold; the fixture
      // scan qualifies against 0
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = graft.sources.Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val dim = graft.sources.Tables.load(spark, dir, "orders")
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 100000.0)
        .select(col("o_orderkey").as("l_orderkey"))
      val j = graft.ops.Relational.bloomPrunedJoin(fact, dim,
        "l_orderkey")
      val rows = j.collect().length
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter not injected:\n$p")
      // semantics: identical to the plain unhinted, unfiltered-scan join
      val plainRows = fact.join(dim, Seq("l_orderkey")).count()
      assert(rows.toLong === plainRows,
        "bloom pruning must not change the join result")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup_incremental_bloom: the literal-fold probe is join-free — " +
      "the ONLY join in the plan is the exact verify anti join") {
    // round-13 verdict item: the probe used to pay k=3 broadcast
    // joins against the ≤4096-row word table; the fold collects the
    // 32 KiB mask once and probes it as plan-literal arithmetic, so
    // a join operator count above 1 means the fold regressed
    // count in the FINAL plan only — AQE's toString echoes the
    // initial plan below it, which would double-count the anti join
    val p = finalPlan("dedup_incremental_bloom")
      .split("== Initial Plan ==")(0)
    val joins = ("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct)").r
      .findAllIn(p).length
    assert(joins === 1,
      s"expected exactly the verify anti join, found $joins joins:\n$p")
    assert(p.contains("LeftAnti"), s"verify anti join missing:\n$p")
  }

  test("agg_mode / feat_equidepth_bins: no ranking window anywhere — " +
      "mode is two hash aggs, binning is a histogram fold + broadcast " +
      "probe") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("agg_mode", "feat_equidepth_bins")) {
      val df = SparkEntry.queries(q)(spark, dir)
      assert(df.queryExecution.optimizedPlan.collect {
        case w: LWindow => w
      }.isEmpty, s"$q plans a window")
      assert(!df.queryExecution.executedPlan.toString
        .contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // the threshold row must come back as a broadcast, not a shuffle
    assert(plan("feat_equidepth_bins").contains("BroadcastHashJoin"))
  }

  test("ts_ewma: the fold shuffles once on the series key; the " +
      "buffer-cap count probe adds one count exchange and joins back " +
      "as a BROADCAST, never a third data shuffle") {
    val p = plan("ts_ewma")
    // exchange 1: the count probe's (tiny, one long per key) agg;
    // exchange 2: the fold's groupBy over the guarded rows. The probe
    // joins back via BroadcastExchange — the raw events are never
    // exchanged a second time.
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      s"EWMA should shuffle the events once + the count probe once:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the cap probe must broadcast back, not shuffle-join:\n$p")
    assert(p.contains("raise_error"),
      s"the per-key buffer cap guard is missing from the plan:\n$p")
  }

  test("ts_ohlc: ONE exchange — min_by/max_by/min/max/sum all " +
      "partial-aggregate map-side into the single (key, bucket) " +
      "shuffle; no window, no sort, no join") {
    val p = plan("ts_ohlc")
    assert("Exchange".r.findAllIn(p).size === 1,
      s"OHLC bars should cost exactly one exchange:\n$p")
    assert(p.contains("partial_min_by") || p.contains("partial_"),
      s"open/close must combine map-side (partial agg):\n$p")
    assert(!p.contains("Window") && !p.contains("Sort") &&
      !p.contains("Join"),
      s"OHLC must be pure aggregation — no window/sort/join:\n$p")
  }

  test("graph_common_neighbors: wedge joins stay equi-joins (never " +
      "cartesian) and the degree tables broadcast at test scale") {
    val p = finalPlan("graph_common_neighbors")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degraded to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"degree joins should broadcast at test scale:\n$p")
  }

  test("text_line_dedup: the line df join is a hash equi-join on the " +
      "line key — no cartesian, no window; reassembly is one doc " +
      "groupBy") {
    val p = finalPlan("text_line_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"line df join degraded:\n$p")
    assert(!p.contains("Window"),
      s"positional reassembly must be array_sort, not a window:\n$p")
  }

  test("ts_resample_locf / layout_compaction: every window is keyed " +
      "(covered by the global sweep) and the grid build is per-key " +
      "generate — no calendar cross-join") {
    val p = plan("ts_resample_locf")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"grid degraded to a calendar cross-join:\n$p")
  }

  test("ts_anomaly: window-free — medians are hash-agg histogram " +
      "folds, and the tiny med/mad tables broadcast back") {
    val p = finalPlan("ts_anomaly")
    assert(!p.contains("Window"),
      s"MAD should never rank per-row through a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-key median tables should broadcast at test scale:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("feat_winsorize: window-free histogram band, thresholds " +
      "broadcast back; ts_trend: window-free exact moments, no " +
      "cartesian") {
    val pw = finalPlan("feat_winsorize")
    assert(!pw.contains("Window"),
      s"percentile band must be a histogram fold, not a window:\n$pw")
    assert(pw.contains("BroadcastHashJoin"),
      s"per-key threshold rows should broadcast at test scale:\n$pw")
    val pt = plan("ts_trend")
    assert(!pt.contains("Window"),
      s"OLS moments must be one hash agg, never a ranking window:\n$pt")
    assert(!pt.contains("CartesianProduct") &&
      !pt.contains("BroadcastNestedLoopJoin"),
      s"the min-x probe degraded to all-pairs:\n$pt")
  }

  test("sim_hybrid_rrf: the lexical list comes from the shared " +
      "bm25_top20 stage (never re-scored), and the fused top-k is a " +
      "bounded TakeOrdered heap") {
    val p = plan("sim_hybrid_rrf")
    // the bm25 build tokenizes documents; a consumer plan that still
    // scans the documents parquet is re-running the retriever
    assert(!p.contains("documents.parquet"),
      s"lex side replans bm25 instead of reading the stage:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"fused cap should be a per-partition k-row heap:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_bm25_topk serves the shared bm25_top20 stage (the " +
      "build-once / consume-many lifecycle)") {
    val p = plan("text_bm25_topk")
    assert(!p.contains("documents.parquet"),
      s"bm25 consumer replans the ranking:\n$p")
  }

  test("rel_snapshot_diff: both snapshot sides prune to key + " +
      "compare columns before the full-outer exchange") {
    val p = plan("rel_snapshot_diff")
    assert(p.contains(
      "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string," +
        "o_totalprice:double>"),
      s"diff should never shuffle unread columns:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("quality_constraints: the row-level suite is ONE scan (all " +
      "conditional sums in a single aggregate), every lineitem scan " +
      "pruned to the checked columns") {
    val p = plan("quality_constraints")
    // scans: row suite, uniqueness groupBy, FK distinct (lineitem ×3)
    // + orders ×1 — a 4th lineitem scan means a check re-reads
    assert("Scan parquet".r.findAllIn(p).size === 4,
      s"row checks split into extra scans:\n$p")
    assert(!p.contains("l_extendedprice"),
      s"unchecked columns must not reach any scan:\n$p")
  }

  test("cdc_patch_apply: the LWW fold is ONE hash aggregate over the " +
      "changelog (no per-key window sort) plus the keyed full-outer " +
      "apply — no window, no cartesian, max_by partial-aggregates") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("cdc_patch_apply")(spark, dir)
    assert(df.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }.isEmpty, "the changelog fold must never sort per key")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // partial max_by before the exchange = map-side combine: the
    // changelog reduces before it moves
    assert(p.contains("partial_max_by") || p.contains("partial_max"),
      s"LWW fold should partial-aggregate map-side:\n${p.take(3000)}")
  }

  test("tpch_q7 / tpch_q18: the nation dims broadcast; the top-100 is " +
      "a bounded TakeOrdered, never a global sort; no cartesian") {
    val p7 = plan("tpch_q7")
    assert("BroadcastHashJoin".r.findAllIn(p7).size >= 2,
      s"both nation ends should broadcast:\n${p7.take(3000)}")
    assert(!p7.contains("CartesianProduct"))
    val p18 = plan("tpch_q18")
    assert(p18.contains("TakeOrderedAndProject"),
      s"top-100 must be a bounded heap:\n${p18.take(3000)}")
    // round-17 fusion pin: ONE lineitem scan and ONE aggregate — the
    // qualifying HAVING sum doubles as sum_qty (o_orderkey
    // functionally determines the whole group key), so the textbook
    // re-join + re-group of lineitem must never reappear
    assert("lineitem".r.findAllIn(p18).size <= 2, // scan node + its location line
      s"q18 must scan lineitem exactly once:\n${p18.take(3000)}")
    assert(!p18.contains("LeftSemi"),
      "the semi-join shape is superseded: the qualifying aggregate " +
        "joins inner, carrying __q as sum_qty")
    // the joins are UNHINTED (a pinned broadcast of the
    // data-proportional qualifying set would be an OOM cliff at a
    // 100×-scale run) — but at bench scale AQE's runtime-size gate
    // must still converge to the map-side shape: the qualifying
    // aggregate's probe into orders and the qualified-orders build
    // side of the customer join both convert to broadcast in the
    // FINAL adaptive plan
    val f18 = finalPlan("tpch_q18")
    assert("BroadcastHashJoin".r.findAllIn(f18).size >= 2,
      s"AQE did not convert q18's joins to broadcast:\n${
        f18.take(3000)}")
  }

  test("mm_cross_modal_dup / rel_incremental_distinct / curate_web: " +
      "the cross-set band join is keyed (no cartesian), the bitmap " +
      "merge is windowless, and the WET chain plans no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("mm_cross_modal_dup", "rel_incremental_distinct",
      "rel_distinct_intersect", "curate_web")) {
      val df = SparkEntry.queries(q)(spark, dir)
      assert(!df.queryExecution.executedPlan.toString
        .contains("CartesianProduct"), s"$q plans a cartesian")
      assert(df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.isEmpty, s"$q plans an unpartitioned window")
    }
    // the cross-modal candidates join on (band, key) — a hash join,
    // with the Hamming verify a codegen filter above it
    val p = plan("mm_cross_modal_dup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"cross-set band join is not an equi-join:\n${p.take(2000)}")
  }

  test("CollapseNfcNormalize: the optimizer rule folds nested " +
      "idempotent normalizations, and an extensions-built session " +
      "applies it end-to-end") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.graft.{CollapseNfcNormalize, NfcNormalize}
    import graft.ext.TextAnalysis
    def countNfc(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Int = {
      var n = 0
      p.transformAllExpressions { case e: NfcNormalize => n += 1; e }
      n
    }
    val df = spark.range(1).select(TextAnalysis.nfcNormalize(
      TextAnalysis.nfcNormalize(lit("éx"))).as("n"))
    assert(countNfc(df.queryExecution.analyzed) === 2)
    assert(countNfc(
      CollapseNfcNormalize(df.queryExecution.analyzed)) === 1)
    // end-to-end: a session built WITH the extensions optimizes the
    // nest away and still composes the text (same shared context)
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions()(_))
        .getOrCreate()
      // non-foldable input (an attribute), else ConstantFolding
      // evaluates the whole nest to a literal before the count
      val q = s2.sql("SELECT nfc_normalize(nfc_normalize(" +
        "concat('e', id))) AS n FROM range(1)")
      assert(countNfc(q.queryExecution.optimizedPlan) === 1,
        s"nest survived optimization:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().head.getString(0) === "e0")
    } finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("text_langid / text_stats run the FUSED native kernels " +
      "(lang_id / quality_score) as shuffle-free map-only plans") {
    // the declarative Column compositions (four interpreted marker
    // scans; three separate stat passes) stay as executable parity
    // specs — but the BENCH paths must plan the single-pass codegen
    // kernels, and a silent fallback to the Column forms would
    // re-introduce the interpreted lambda scans with results
    // unchanged. Pin the kernel names AND the map-only shape.
    for ((q, kernel) <- Seq("text_langid" -> "lang_id(",
        "text_stats" -> "quality_score(")) {
      val p = plan(q)
      assert(p.contains(kernel), s"$q lost the native kernel:\n$p")
      assert(!p.contains("Exchange"), s"$q should be map-only:\n$p")
      assert(p.contains("*("), s"$q fell out of codegen:\n$p")
    }
  }

  test("src_jsonl_roundtrip: the JSONL scan runs the DECLARED schema " +
      "(no inference) and no shuffle beyond the census agg") {
    val p = plan("src_jsonl_roundtrip")
    assert(p.contains("Scan json"), s"expected a json file scan:\n$p")
    assert(p.contains(
      "struct<doc_id:bigint,text:string,lang:string,source:string," +
        "n_chars:bigint>") || p.contains("n_chars:bigint"),
      s"declared schema not on the scan:\n$p")
    assert("Exchange".r.findAllIn(p).size === 1,
      s"census should cost exactly the one groupBy exchange:\n$p")
  }

  test("rate-thinned sampling: the null-safe stratum-count join stays " +
      "a broadcast HASH join (EqualNullSafe is an equi-join key, not " +
      "a nested-loop predicate), and only the intended single-row " +
      "total cross-join is a BNLJ") {
    for (q <- Seq("sample_temperature", "sample_domain_mix")) {
      // AdaptiveSparkPlan.toString appends an "== Initial Plan ==" twin
      // of every operator — scope the counts to the final section
      val p = finalPlan(q).split("== Initial Plan ==").head
      assert(p.contains("BroadcastHashJoin"),
        s"$q: stratum-count join lost its broadcast hash shape:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
      // exactly ONE nested-loop site: crossJoin(broadcast(total)), a
      // 1-row frame — a second would mean the count join degraded
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
        s"$q: more than the single-row total cross-join is BNLJ:\n$p")
    }
  }

  // -- The stage table ----------------------------------------------
  // prebuild, evict and the probe surfaces are all derived from one
  // ordered table; these pin each derived surface to it.

  /** The bench's stage rows, in build order. */
  private val benchStageRows = Seq("cc_labels", "dsir_domain_scores",
    "kmeans8_cent", "kmeans8_labels", "pq_codebook", "pq_codes",
    "pq_adc20", "ivfpq_adc20", "bpe_merges", "bm25_top20", "pr_graph",
    "copurchase_edges", "shingle_pairs", "events_census", "i2b2_spine",
    "incr_fp", "incr_bloom", "mm_pixel_blobs", "mm_ahash_blobs",
    "mm_audio_blobs", "mm_phash_blobs", "mm_video_blobs",
    "mm_vdup_blobs", "mm_img_feats", "mm_audio_feats",
    "mm_caption_cues", "mm_video_feats", "bucketed_layout")

  test("stage table: prebuildStages emits the 28 bench rows in build " +
      "order") {
    val rows = graft.queries.ExtensionQueries.prebuildStages(spark, dir)
    assert(rows.map(_._1) === benchStageRows)
  }

  test("stage table: every DataFrame stage has both a memoized thunk " +
      "and a raw frame") {
    import graft.queries.ExtensionQueries.{stageRawFrames, stageThunks}
    // the bench rows minus the two driver-side artifacts, plus the
    // hierarchy stage that is built inside the i2b2_spine row
    val frames = benchStageRows.toSet --
      Set("incr_bloom", "bucketed_layout") + "i2b2_hier_last"
    val thunks = stageThunks(spark, dir).map(_._1)
    assert(thunks.toSet === frames)
    assert(stageRawFrames(spark, dir).map(_._1) === thunks)
  }

  test("stage table: evictStages makes the next access rebuild") {
    import graft.queries.ExtensionQueries.{evictStages, stageThunks}
    // a memo hit returns the very same checkpointed frame; a rebuild
    // materializes a new one
    for (name <- Seq("events_census", "i2b2_hier_last")) {
      def get() = stageThunks(spark, dir).toMap.apply(name)()
      val built = get()
      assert(get() eq built, s"$name: memo hit must not rebuild")
      evictStages(spark, dir)
      assert(!(get() eq built), s"$name: evictStages must force a rebuild")
    }
  }
}
