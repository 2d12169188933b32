package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext._
import graft.sources.Tables

/** Shared plumbing for the per-family extension query registries:
  * table loaders, the memoized shared pipeline stages (component
  * labels, PQ codebook/codes, graphs, BPE merges, bucketed layout),
  * and the DuckDB-oracle SQL builders whose float math must stay
  * written identically to the Spark side.
  */
private[queries] object ExtensionSupport {


  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  // hex-string byte encoders for synthesizing container headers in
  // pure codegen'd expressions (to_binary at the end, no UDF)
  private[queries] def hex2(c: Column): Column = lpad(hex(c), 2, "0")
  private[queries] def hexLe16(c: Column): Column =
    concat(hex2(pmod(c, lit(256))), hex2((c / 256).cast("int")))
  private[queries] def hexBe16(c: Column): Column = lpad(hex(c), 4, "0")
  private[queries] def hexBe32(c: Column): Column = lpad(hex(c), 8, "0")
  private[queries] def hexLe32(c: Column): Column = concat(
    hex2(pmod(c, lit(256))), hex2(pmod((c / 256).cast("int"), lit(256))),
    hex2(pmod((c / 65536).cast("int"), lit(256))),
    hex2((c / 16777216).cast("int")))

  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  // -- Shared pipeline stages -----------------------------------------
  // The component labels, PQ codebook/codes, and BPE merges each feed
  // several queries. A production pipeline materializes such a stage
  // once and fans out — mirrored through the public
  // [[graft.ext.Stages]] cache (one localCheckpoint'd build per
  // (session, dir, stage), fingerprint-swapped on fixture
  // regeneration; full contract in its scaladoc). Every stage is one
  // row of [[StageTable]]: each build body lives in a `...Raw` builder
  // and each accessor is a one-line call through the table.
  private[queries] def componentLabelsRaw(s: SparkSession,
                                          dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = DedupOps.lshCandidatePairs(d, col("doc_id"),
      TextAnalysis.shingleHashes(col("text"), 2, hexLen = 8),
      numHashes = 12, bands = 4)
    DedupOps.connectedComponents(
      d.select(col("doc_id").as("id")), pairs)
  }

  private[queries] def componentLabels(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "cc_labels")

  /** PQ codebook over the embeddings corpus at the queries' default
    * geometry — trained ONCE per (session, dir) and shared by both PQ
    * queries (the FAISS train-once/query-many lifecycle; see
    * Similarity.pqTrain's scaladoc for why an un-materialized
    * codebook is recomputed per broadcast consumer).
    */
  // trainSample=4: the Lloyd update runs over a quarter of the
  // corpus (FAISS trains codebooks on a sample); the id-modulus
  // sample is deterministic so the DuckDB oracle re-derives the
  // identical codebook. Codes still cover the full corpus.
  private[queries] def pqCodebookRaw(s: SparkSession,
                                     dir: String): DataFrame =
    Similarity.pqTrain(emb(s, dir), m = 16, dims = 64, codebookK = 16,
      trainSample = 4)

  private[queries] def pqCodebook(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "pq_codebook")

  /** Packed PQ codes of the embeddings corpus at the same geometry —
    * the index-build half of the FAISS lifecycle (encode once, search
    * many), shared by all four PQ queries. Without the memo each
    * query re-runs the assign-join + pack aggregation over the whole
    * corpus — pure duplicated work at any scale.
    */
  private[queries] def pqCodesRaw(s: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(emb(s, dir), m = 16, dims = 64,
      codebookK = 16, codebook = Some(pqCodebook(s, dir)))

  private[queries] def pqCodes(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "pq_codes")

  /** The flat PQ/ADC candidate list at k′ = 20 — the same
    * search-once/finish-twice sharing as [[ivfpqAdc20]] for the
    * UN-pruned PQ twins: `sim_pq_adc_topk` takes its top-5 head,
    * `sim_pq_refine_topk` exact-re-ranks it.
    */
  private[queries] def pqAdc20Raw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.pqTopK(e.filter(col("id") < 50), e, k = 20,
      codebook = Some(pqCodebook(s, dir)),
      codes = Some(pqCodes(s, dir)))
  }

  private[queries] def pqAdc20(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "pq_adc20")

  /** The IVF-PQ ADC candidate list at k′ = 20 (= k·refine of the
    * refine query) — the search-once half shared by `sim_ivfpq_topk`
    * (its head: top-5 of this top-20 equals top-5 of the full ADC
    * ranking under the identical (adc_q DESC, id) order) and
    * `sim_ivfpq_refine_topk` (its exact-re-rank input). Without the
    * memo each query replays the whole coarse-assign → probe →
    * candidate-join → ADC-fold pipeline — the two most expensive rows
    * of round 14 were exactly these twins re-deriving one candidate
    * set. ≤ 50 queries × 20 rows: checkpoint is tiny, the saving is
    * the pipeline.
    */
  private[queries] def ivfpqAdc20Raw(s: SparkSession,
                                     dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfPqTopK(e.filter(col("id") < 50), e,
      Similarity.seedCentroids(e, nlist = 8), k = 20, nprobe = 2,
      codebook = Some(pqCodebook(s, dir)),
      codes = Some(pqCodes(s, dir)))
  }

  private[queries] def ivfpqAdc20(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "ivfpq_adc20")

  /** Degree-annotated trade-graph edges — the build-once half of the
    * PageRank lifecycle (a link graph is constructed once, then
    * ranked many times). Fingerprinted over BOTH source tables.
    */
  private[queries] def prGraphRaw(s: SparkSession, dir: String): DataFrame = {
    // ej is MATERIALIZED once (localCheckpoint): the round-19 plan
    // audit showed the lazy form recomputed the join+distinct subtree
    // four times (two union branches × the degree agg and the join
    // side of prepareEdges — 4 parquet scans, 4 distinct exchanges).
    val ej = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      // SHUFFLE_HASH on the smaller orders side (guide §3.1): the
      // default sort-merge pays a sort of BOTH shuffled sides; a
      // per-partition hash build on orders skips both sorts, and the
      // orderkey distribution is uniform (no build-side skew risk)
      .hint("shuffle_hash")
      .join(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()
      .localCheckpoint(true)
    // Bipartite degree split: customer nodes (2c) have one distinct
    // sk per ej row, supplier nodes (2sk+1) one distinct c — so the
    // union-then-groupBy(src) of the old form equals two small
    // per-side counts joined back. Both edge directions then
    // emit IN-ROW via explode — no union, no second pass over ej, no
    // sort-merge join of the 2|ej|-row union against its own degree
    // table. Output rows identical: (src, dst, deg).
    // (Round 20: SHUFFLE_HASH pins on these two joins — to skip the
    // initial plan's four SMJ sorts — were A/B measured and
    // REVERTED: interleaved isolated runs 0.86/1.04 s unhinted vs
    // 1.16/1.03 s pinned. The pin BLOCKS AQE's runtime broadcast
    // upgrade of the tiny aggregated degree tables, which is what
    // actually executes at this size; at corpus scale AQE's size
    // gate keeps them partitioned joins. Unhinted is the right call
    // on both ends — the r19 reasoning stands.)
    val degC = ej.groupBy("c").agg(count(lit(1)).as("__dc"))
    val degS = ej.groupBy("sk").agg(count(lit(1)).as("__ds"))
    ej.join(degC, "c").join(degS, "sk")
      .select(explode(array(
        struct((col("c") * 2).as("src"), (col("sk") * 2 + 1).as("dst"),
          col("__dc").as("deg")),
        struct((col("sk") * 2 + 1).as("src"), (col("c") * 2).as("dst"),
          col("__ds").as("deg")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"),
        col("__e.deg").as("deg"))
  }

  private[queries] def prGraph(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "pr_graph")

  // -- Write-once bucketed layout (layout_bucket_join) ----------------

  /** Catalog/table suffix unique per (session, dir): concurrent
    * sessions and parallel bench/verify runs on one machine must not
    * race on a shared table name or output directory.
    */
  private[graft] def bucketedSuffix(s: SparkSession, dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"${s.sparkContext.applicationId}|$dir".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  /** Write both bucketed tables ONCE per (session, dir, fixture) — the
    * write-once/join-many contract of a bucketed layout. Re-invoking
    * the query joins the already-written tables.
    */
  private[graft] def bucketedLayout(s: SparkSession, dir: String): Unit = {
    // heartbeat: refresh OUR directory's mtime on every use (reads
    // don't update mtime), so the stale-sibling sweep below gates on
    // liveness, not creation age — a sibling session alive for >24h
    // keeps its layout because each of its uses re-touches the dir
    val ownDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bucketed_${bucketedSuffix(s, dir)}")
    if (ownDir.isDirectory)
      ownDir.setLastModified(System.currentTimeMillis())
    side(s, dir, "bucketed_layout"): Unit
  }

  private def writeBucketedLayout(s: SparkSession, dir: String): Unit = {
    import graft.sources.BucketedTables
    val sfx = bucketedSuffix(s, dir)
    val root = new java.io.File(System.getProperty("java.io.tmpdir"))
    // stale-sibling cleanup: every session gets a fresh applicationId
    // suffix, so without this each bench/verify run leaks a
    // corpus-sized bucketed copy in /tmp forever. Directories not
    // touched for a day are dead runs — live sessions refresh their
    // mtime per use (above), so longevity never reads as staleness.
    val dayMs = 24L * 3600 * 1000
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_bucketed_") &&
        f.getName != s"graft_bucketed_$sfx" &&
        f.lastModified() < System.currentTimeMillis() - dayMs)
      .foreach { f =>
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete()
        }
        try rm(f) catch { case _: Throwable => () }
      }
    val tmp = System.getProperty("java.io.tmpdir") +
      s"/graft_bucketed_$sfx"
    BucketedTables.writeBucketed(
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      s"graft_docs_bkt_$sfx", s"$tmp/docs", "doc_id", buckets = 8)
    BucketedTables.writeBucketed(
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens")),
      s"graft_stats_bkt_$sfx", s"$tmp/stats", "doc_id", buckets = 8)
  }

  /** The induced BPE merge table (k = 6, maxWords = 512) — one
    * train-once stage shared by the vocab query and the encoder, the
    * tokenizer-training lifecycle (train once, encode everything).
    */
  private[queries] def bpeMergesRaw(s: SparkSession, dir: String): DataFrame =
    Bpe.train(docs(s, dir), col("text"), k = 6, maxWords = 512)

  private[queries] def bpeMerges(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "bpe_merges")

  /** BM25 top-20 against the seed terms — one ranking, two consumers
    * (`text_bm25_topk` serves it whole; `sim_hybrid_rrf` fuses its
    * (doc_id, rnk) projection with the vector list). The checkpoint
    * is 20 rows; the saving is the tokenize→explode→score pass the
    * second consumer would otherwise repeat.
    */
  private[queries] def bm25Top20Raw(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(docs(s, dir), col("doc_id"), col("text"),
      Bm25Terms, k = 20)

  private[queries] def bm25Top20(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "bm25_top20")

  /** The curate_domain SCORE TABLE — hashed-bigram DSIR importance
    * weights against the src0 target slice, lang-joined — memoized
    * because an exact per-lang tercile cut inherently consumes its
    * input twice (threshold histogram + probe), and each DataFrame
    * reference to the unmaterialized chain replays the bigram explode
    * and both count joins. Materializing the per-doc score table
    * before a percentile cut is exactly what a production curation
    * pipeline does.
    */
  private[queries] def dsirDomainScoresRaw(s: SparkSession,
                                           dir: String): DataFrame = {
    val d = docs(s, dir)
    TextAnalysis.dsirWeights(d, col("doc_id"), col("text"),
        col("source") === "src0", ngram = 2)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
  }

  private[queries] def dsirDomainScores(s: SparkSession,
                                        dir: String): DataFrame =
    stage(s, dir, "dsir_domain_scores")

  /** The k = 8 / iters = 2 Lloyd model over the embeddings table —
    * the train-once stage shared by emb_kmeans (assignment census),
    * emb_silhouette (eval), and dedup_semantic (SemDeDup): each
    * DataFrame reference to an untrained chain replays the whole
    * Lloyd loop, so the three queries were paying ~9 corpus passes
    * between them for one 8-row model.
    */
  private[queries] def kmeans8CentRaw(s: SparkSession,
                                      dir: String): DataFrame =
    Clustering.kmeansCentroids(emb(s, dir), col("id"), col("vec"),
      k = 8, iters = 2)

  private[queries] def kmeans8Cent(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "kmeans8_cent")

  /** Final assignment against [[kmeans8Cent]] (one broadcast pass),
    * materialized because dedup_semantic consumes it three times.
    */
  private[queries] def kmeans8LabelsRaw(s: SparkSession,
                                        dir: String): DataFrame =
    Clustering.kmeansAssignWith(emb(s, dir), col("id"), col("vec"),
      kmeans8Cent(s, dir))

  private[queries] def kmeans8Labels(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "kmeans8_labels")

  /** The incremental-dedup fingerprint STORE — (doc_id, fp), fp = md5
    * of the 40-char normalized prefix — memoized because a production
    * incremental dedup MATERIALIZES its fingerprint store: the
    * history side is a stored table keyed by fingerprint, never
    * re-derived from raw text per arriving batch (the normalize regex
    * over full documents is the dominant cost of both incremental
    * queries). Shared by dedup_incremental and
    * dedup_incremental_bloom — history and batch sides of each.
    */
  private[queries] def incrFpRaw(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      md5(substring(TextAnalysis.normalize(col("text")), 1, 40))
        .as("fp"))

  private[queries] def incrFp(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "incr_fp")

  /** The folded Bloom word mask of the incremental-dedup HISTORY side
    * — built once per (session, dir, fixture) like the stages (a
    * production filter is built once per history epoch and reused by
    * every batch), cached driver-side because it is a 32 KiB long[]
    * rather than a DataFrame. Feeds dedup_incremental_bloom.
    */
  private[queries] def incrBloomWords(s: SparkSession,
                                      dir: String): DedupOps.BloomWords =
    side(s, dir, "incr_bloom").asInstanceOf[DedupOps.BloomWords]

  private def incrBloomWordsRaw(s: SparkSession,
                                dir: String): DedupOps.BloomWords =
    DedupOps.bloomFoldWords(
      incrFp(s, dir).filter(col("doc_id") % 2 === 0)
        .select("fp").distinct(), col("fp"))

  // -- The stage table --------------------------------------------------

  /** One row of [[StageTable]]: a shared stage's name and the fixture
    * files its fingerprint hashes, in fold order.
    */
  private[queries] sealed trait StageDef {
    def name: String
    def fpFiles: Seq[String]
  }

  /** A memoized DataFrame stage. `raw` is its un-memoized build — what
    * the memo materializes, and what the profiler explains (a memo
    * thunk always explains as the checkpoint scan, hiding the build
    * plan); builders that consume other stages read them through the
    * memo. `ownRow = false` marks a stage that [[prebuildStages]]
    * builds and times inside its consumer's row.
    */
  private[queries] final case class FrameStage(
      name: String, fpFiles: Seq[String],
      raw: (SparkSession, String) => DataFrame,
      ownRow: Boolean = true) extends StageDef

  /** A driver-side artifact that is not a DataFrame, memoized per
    * (session, dir, fingerprint) in [[sideCache]].
    */
  private[queries] final case class SideStage(
      name: String, fpFiles: Seq[String],
      build: (SparkSession, String) => Any) extends StageDef

  private val Docs = Seq("documents.parquet")
  private val Embs = Seq("embeddings.parquet")
  private val Part = Seq("part.parquet")

  /** Every shared stage, in build order: each stage follows the stages
    * it consumes, so a [[prebuildStages]] row times one build. Lazy:
    * the rows name [[MultimodalQueries]] builders, and that object's
    * initialization reads this one's vals.
    */
  private[queries] lazy val StageTable: Seq[StageDef] = Seq(
    FrameStage("cc_labels", Docs, componentLabelsRaw),
    FrameStage("dsir_domain_scores", Docs, dsirDomainScoresRaw),
    FrameStage("kmeans8_cent", Embs, kmeans8CentRaw),
    FrameStage("kmeans8_labels", Embs, kmeans8LabelsRaw),
    FrameStage("pq_codebook", Embs, pqCodebookRaw),
    FrameStage("pq_codes", Embs, pqCodesRaw),
    FrameStage("pq_adc20", Embs, pqAdc20Raw),
    FrameStage("ivfpq_adc20", Embs, ivfpqAdc20Raw),
    FrameStage("bpe_merges", Docs, bpeMergesRaw),
    FrameStage("bm25_top20", Docs, bm25Top20Raw),
    FrameStage("pr_graph", Seq("orders.parquet", "lineitem.parquet"),
      prGraphRaw),
    FrameStage("copurchase_edges", Seq("lineitem.parquet"),
      copurchaseEdgesRaw),
    FrameStage("shingle_pairs", Docs, shinglePairsRaw),
    FrameStage("events_census", Seq("events.parquet"), eventsCensusRaw),
    FrameStage("i2b2_hier_last", Part, i2b2HierLastRaw, ownRow = false),
    FrameStage("i2b2_spine", Part, i2b2SpineRaw),
    FrameStage("incr_fp", Docs, incrFpRaw),
    SideStage("incr_bloom", Docs, incrBloomWordsRaw),
    FrameStage("mm_pixel_blobs", Docs, MultimodalQueries.pixelBlobsRaw),
    FrameStage("mm_ahash_blobs", Docs, MultimodalQueries.ahashBlobsRaw),
    FrameStage("mm_audio_blobs", Docs, MultimodalQueries.audioBlobsRaw),
    FrameStage("mm_phash_blobs", Docs, MultimodalQueries.phashBlobsRaw),
    FrameStage("mm_video_blobs", Docs, MultimodalQueries.videoBlobsRaw),
    FrameStage("mm_vdup_blobs", Docs, MultimodalQueries.vdupBlobsRaw),
    FrameStage("mm_img_feats", Docs, MultimodalQueries.imgFeatsRaw),
    FrameStage("mm_audio_feats", Docs, MultimodalQueries.audioFeatsRaw),
    FrameStage("mm_caption_cues", Docs, MultimodalQueries.captionCuesRaw),
    FrameStage("mm_video_feats", Docs, MultimodalQueries.videoFeatsRaw),
    SideStage("bucketed_layout", Docs, writeBucketedLayout))

  private lazy val stageByName: Map[String, StageDef] =
    StageTable.map(d => d.name -> d).toMap

  private def stageDef(name: String): StageDef =
    stageByName.getOrElse(name, sys.error(s"no shared stage '$name'"))

  /** The [[Stages]] key of stage `name` over `dir`. */
  private def memoKey(dir: String, name: String): String = s"$dir|$name"

  private def fingerprint(dir: String, d: StageDef): Long =
    d.fpFiles.foldLeft(0L)((a, f) =>
      31L * a + Tables.fingerprint(s"$dir/$f"))

  private def frame(s: SparkSession, dir: String, d: FrameStage): DataFrame =
    Stages.stage(s, memoKey(dir, d.name), fingerprint(dir, d))(d.raw(s, dir))

  /** The memoized frame of table stage `name` over `dir`. */
  private[queries] def stage(s: SparkSession, dir: String,
                            name: String): DataFrame =
    stageDef(name) match {
      case d: FrameStage => frame(s, dir, d)
      case d => sys.error(s"stage '${d.name}' is not a DataFrame")
    }

  /** Side artifacts with the fingerprint they were built from, keyed
    * like [[Stages]] by (session, dir, name). A build runs inside
    * compute's bin lock — acceptable for these two short entries.
    */
  private val sideCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Any)]()

  private def sideKey(s: SparkSession, dir: String, name: String): String =
    s"${s.sparkContext.applicationId}|${memoKey(dir, name)}"

  private def side(s: SparkSession, dir: String, d: SideStage): Any = {
    val fp = fingerprint(dir, d)
    sideCache.compute(sideKey(s, dir, d.name), (_, cur) =>
      if (cur != null && cur._1 == fp) cur else (fp, d.build(s, dir)))._2
  }

  private def side(s: SparkSession, dir: String, name: String): Any =
    stageDef(name) match {
      case d: SideStage => side(s, dir, d)
      case d => sys.error(s"stage '${d.name}' is not a side artifact")
    }

  /** Force-builds (and times) each shared stage for `dir` in table
    * order, so a benchmark can account the one-time stage cost
    * explicitly instead of charging it to whichever consumer query
    * happens to run first. Returns (stageName, seconds) per row.
    */
  def prebuildStages(s: SparkSession, dir: String): Seq[(String, Double)] = {
    def timed(name: String)(f: => Any): (String, Double) = {
      val t0 = System.nanoTime()
      f
      name -> (System.nanoTime() - t0) / 1e9
    }
    StageTable.collect {
      case d: FrameStage if d.ownRow => timed(d.name)(frame(s, dir, d).count())
      case d: SideStage => timed(d.name)(side(s, dir, d))
    }
  }

  /** Every DataFrame stage as a named memoized thunk, in table order —
    * the probe surface dev tools and the benchmark harness use to time
    * single builds (evict, then force). Official figures stay with
    * [[prebuildStages]].
    */
  private[graft] def stageThunks(s: SparkSession, dir: String)
      : Seq[(String, () => DataFrame)] =
    StageTable.collect { case d: FrameStage =>
      d.name -> (() => frame(s, dir, d)) }

  /** The RAW (un-memoized) build frame of every DataFrame stage, so a
    * printed plan is the plan a rebuild actually runs.
    */
  private[graft] def stageRawFrames(s: SparkSession, dir: String)
      : Seq[(String, () => DataFrame)] =
    StageTable.collect { case d: FrameStage =>
      d.name -> (() => d.raw(s, dir)) }

  /** Drop (and unpersist) one stage of (session, dir) so its next use
    * rebuilds. Unsupported while queries over the old frame are in
    * flight (the [[Stages]] contract for fixture regeneration).
    */
  private[graft] def evictStage(s: SparkSession, dir: String,
                                name: String): Unit =
    stageDef(name) match {
      case _: FrameStage => Stages.evict(s, memoKey(dir, name))
      case _: SideStage => sideCache.remove(sideKey(s, dir, name)): Unit
    }

  /** Drop every stage of (session, dir), so [[prebuildStages]] can time
    * a REBUILD — one-shot stage costs carry ±0.3 s of scheduling
    * jitter that min-of-k strips for ordinary queries but a memo would
    * otherwise lock in.
    */
  private[graft] def evictStages(s: SparkSession, dir: String): Unit =
    StageTable.foreach(d => evictStage(s, dir, d.name))

  /** Unthresholded shingle-pair intersections over documents — the
    * df-capped inverted-index candidate engine, built once and
    * finished two ways (Jaccard for `dedup_ngram_jaccard`,
    * containment for `dedup_containment`). The shingle explode is
    * the dominant cost of both; sharing it halves it.
    */
  private[queries] def shinglePairsRaw(s: SparkSession,
                                       dir: String): DataFrame =
    DedupOps.pairIntersections(docs(s, dir), Seq("lang", "source"),
      col("doc_id"), TextAnalysis.shingleHashes(col("text"), 2),
      maxDf = 64)

  private[queries] def shinglePairs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "shingle_pairs")

  /** The i2b2 read → last-wins dedup → join prefix, staged once and
    * consumed by BOTH F2 modes (`i2b2_pipeline` and its bug-compat
    * twin differ only in the fullname branch — the spine is
    * byte-identical, so each query paying its own dedup + two joins
    * was pure duplicated work).
    */
  private[queries] def i2b2SpineRaw(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    graft.pipeline.I2b2Pipeline.spine(
      LoincShim.loinc(part), LoincShim.hierarchy(part),
      i2b2HierLast(s, dir))
  }

  private[queries] def i2b2Spine(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "i2b2_spine")

  /** The last-wins-deduped hierarchy dimension (spec-correct F2
    * resolves ancestor names against it) — staged alongside
    * [[i2b2Spine]].
    */
  private[queries] def i2b2HierLastRaw(s: SparkSession,
                                       dir: String): DataFrame =
    graft.pipeline.I2b2Pipeline.hierLastWins(
      LoincShim.hierarchy(t(s, dir, "part")))

  private[queries] def i2b2HierLast(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "i2b2_hier_last")

  /** The drift-split date shared by the census and the KS query. */
  private[queries] val CensusCut = "2024-01-15"

  /** The (user_id, event_type, late, centi-value) → count CENSUS of
    * the events table — ONE scan + one exchange feeding the whole
    * histogram-fold family: `ts_anomaly` (median/MAD per user),
    * `feat_winsorize` (percentile bands per type) and
    * `stats_drift_ks` (per-type split CDFs) each derive their own
    * per-key histogram from this stage with a cheap re-aggregation
    * of the ALREADY-COUNTED census instead of re-scanning and
    * re-exchanging the raw events. `late` carries the drift split
    * ([[CensusCut]]); NULL values stay as (key, NULL) rows (the
    * winsorize contract — consumers that must not see them filter).
    */
  private[queries] def eventsCensusRaw(s: SparkSession,
                                       dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        (to_date(col("ts")) >= lit(CensusCut).cast("date")).as("late"),
        floor(col("value") * 100).cast("long").as("v"))
      .groupBy("user_id", "event_type", "late", "v")
      .agg(count(lit(1)).as("c"))

  private[queries] def eventsCensus(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "events_census")

  /** Support-≥2 co-purchase edges (canonical u < v) — like
    * [[prGraph]], a graph artifact built once and consumed by several
    * analyses (triangle census, community extraction).
    */
  private[queries] def copurchaseEdgesRaw(s: SparkSession,
                                          dir: String): DataFrame =
    Graph.coOccurrenceEdges(
      t(s, dir, "lineitem").select(col("l_orderkey").as("group"),
        col("l_partkey").as("item")),
      minSupport = 2)

  private[queries] def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "copurchase_edges")

  // ------------------------------------------------------------------ //
  // DuckDB oracles. Helpers keep the float math written identically
  // to the Spark side (left fold, double casts).

  /** Left-fold dot product of two float-list columns, double math. */
  private[queries] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  private[queries] def normSql(a: String): String =
    s"""sqrt(list_reduce(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x, y) -> x + y))""".stripMargin

  /** Seed terms for the BM25 curation query (high-df corpus words so
    * every SF has matches); shared by the Spark call and the oracle.
    */
  private[queries] val Bm25Terms = Seq("data", "join", "hash")

  private[queries] def bm25OracleSql(terms: Seq[String], k: Int): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, t -> t = '$t')) AS tf$i"
    }.mkString(", ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    // identical decimal literals to the Spark expression (2.2, 1.2,
    // 0.25, 0.75) — both engines parse the same doubles
    val score = terms.indices.map(i =>
      s"ln((s.n - s.df$i + 0.5)/(s.df$i + 0.5) + 1.0) * " +
        s"(CAST(tf$i AS DOUBLE) * 2.2) / (CAST(tf$i AS DOUBLE) + " +
        s"1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / s.avgdl))")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |tf AS (SELECT doc_id, len(toks) AS dl, $tfs FROM d),
       |s AS (SELECT count(*) AS n,
       |        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, $dfs FROM tf)
       |SELECT doc_id, dl, ${terms.indices.map(i => s"tf$i").mkString(", ")},
       |  CAST(row_number() OVER (ORDER BY ($score) DESC, doc_id) AS INT) AS rnk
       |FROM tf, s
       |QUALIFY rnk <= $k""".stripMargin
  }

  /** The WITH-block prefix of [[bm25OracleSql]] plus a `lex` CTE of
    * (doc_id, rnk) for the top `k` — composable into a larger oracle
    * (the RRF fusion query reuses the exact bm25 ranking this way
    * instead of carrying a second copy of the score expression).
    */
  private[queries] def bm25RankCtes(terms: Seq[String], k: Int): String = {
    val full = bm25OracleSql(terms, k)
    val selIdx = full.indexOf("SELECT doc_id, dl,")
    val prefix = full.substring(0, selIdx).trim.stripSuffix(",") + ","
    val rankSel = full.substring(selIdx)
      .replace(s"QUALIFY rnk <= $k", s"  QUALIFY rnk <= $k")
    s"""$prefix
       |lex AS (SELECT doc_id, rnk FROM (
       |  $rankSel))""".stripMargin
  }

  private[queries] def l2Sql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x, y) -> x + y)""".stripMargin

  /** PQ-ADC oracle, one CTE block per subspace mirroring
    * Similarity.pqTopK's single subspace-as-data plan: codebook =
    * first-kk init + one fixed-point Lloyd update, codes by L2 argmin
    * (ties to smaller cid), per-query fixed-point dot tables, integer
    * ADC sums, top-k by (adc DESC, id ASC).
    */
  private[queries] def pqOracleSql(m: Int, dims: Int, kk: Int, k: Int,
                          ivf: Option[(Int, Int)] = None,
                          refine: Option[Int] = None,
                          trainSample: Int = 1): String = {
    val d = dims / m
    // mirror of pqTrain's trainSample: seeds and the Lloyd update run
    // over the deterministic id-modulus sample; codes cover everything
    val trainW =
      if (trainSample == 1) "" else s" WHERE vec_id % $trainSample = 0"
    // coarse quantizer CTEs (mirrors sim_ivf_topk's cosine
    // assign/probe) + the allowed (query, neighbor) pair set
    // zero-norm guards mirror the Spark side's failed-embedding
    // policy: centroids filter AFTER the seed limit (collectLitCents'
    // order), and assigned/probed vectors filter before the cosine —
    // an unguarded NaN cosine would rank FIRST on both engines
    val ivfCtes = ivf.map { case (nlist, nprobe) =>
      s"""cent AS (SELECT ccid, cvec FROM (
         |           SELECT vec_id AS ccid, embedding AS cvec
         |           FROM embeddings ORDER BY vec_id LIMIT $nlist)
         |         WHERE (${normSql("cvec")}) > 0),
         |assigned AS (
         |  SELECT c.vec_id AS neighbor_id, ct.ccid AS list
         |  FROM embeddings c CROSS JOIN cent ct
         |  WHERE (${normSql("c.embedding")}) > 0
         |  QUALIFY row_number() OVER (PARTITION BY c.vec_id
         |    ORDER BY ${cosSql("c.embedding", "ct.cvec")} DESC, ct.ccid) = 1),
         |probes AS (
         |  SELECT q.vec_id AS query_id, ct.ccid AS list
         |  FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id < 50
         |    AND (${normSql("q.embedding")}) > 0
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${cosSql("q.embedding", "ct.cvec")} DESC, ct.ccid) <= $nprobe),
         |allowed AS (SELECT p.query_id, a.neighbor_id
         |            FROM probes p JOIN assigned a USING (list)),
         |""".stripMargin
    }.getOrElse("")
    val ctes = (0 until m).map { j =>
      val lo = j * d + 1
      val hi = (j + 1) * d
      s"""sub$j AS (SELECT vec_id, embedding[$lo:$hi] AS sv FROM embeddings),
         |cent0_$j AS (SELECT vec_id AS cid, sv AS cv FROM sub$j$trainW ORDER BY vec_id LIMIT $kk),
         |a1_$j AS (
         |  SELECT s.vec_id, s.sv, c.cid
         |  FROM (SELECT * FROM sub$j$trainW) s CROSS JOIN cent0_$j c
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id
         |    ORDER BY ${l2Sql("s.sv", "c.cv")} ASC, c.cid) = 1),
         |sums_$j AS (
         |  SELECT cid, i.i AS i,
         |    sum(CAST(floor(CAST(sv[i.i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM a1_$j, LATERAL (SELECT unnest(range(1, ${d + 1})) AS i) i
         |  GROUP BY 1, 2),
         |cent1_$j AS (
         |  SELECT cid, list((CAST(s AS DOUBLE) / n) / 1000000.0 ORDER BY i) AS cv
         |  FROM sums_$j GROUP BY cid),
         |codes_$j AS (
         |  SELECT s.vec_id, c.cid FROM sub$j s CROSS JOIN cent1_$j c
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id
         |    ORDER BY ${l2Sql("s.sv", "c.cv")} ASC, c.cid) = 1),
         |tbl_$j AS (
         |  SELECT q.vec_id AS query_id, c.cid,
         |    CAST(floor((${dotSql(s"q.embedding[$lo:$hi]", "c.cv")}) * 1000000.0) AS BIGINT) AS tq
         |  FROM embeddings q CROSS JOIN cent1_$j c WHERE q.vec_id < 50)""".stripMargin
    }
    val restrict = if (ivf.isDefined)
      " JOIN allowed al ON al.neighbor_id = cd.vec_id" +
        " AND al.query_id = t.query_id"
    else ""
    val parts = (0 until m).map(j =>
      s"SELECT t.query_id, cd.vec_id AS neighbor_id, t.tq " +
        s"FROM codes_$j cd JOIN tbl_$j t ON t.cid = cd.cid$restrict")
      .mkString(" UNION ALL ")
    // stage-1 candidate cap: k·refine when a refine stage follows,
    // plain k otherwise
    val capK = k * refine.getOrElse(1)
    val adcSel =
      s"""SELECT query_id, neighbor_id, CAST(sum(tq) AS BIGINT) AS adc_q
         |FROM parts WHERE query_id <> neighbor_id
         |GROUP BY 1, 2
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY adc_q DESC, neighbor_id) <= $capK""".stripMargin
    refine match {
      case None =>
        s"""WITH $ivfCtes${ctes.mkString(",\n")},
           |parts AS ($parts)
           |$adcSel""".stripMargin
      case Some(_) =>
        // exact cosine re-rank of the ADC candidates; same op order
        // as the Spark side (dot(q,c) / (norm(q)·norm(c))), zero-norm
        // vectors excluded on both sides
        s"""WITH $ivfCtes${ctes.mkString(",\n")},
           |parts AS ($parts),
           |adc AS ($adcSel)
           |SELECT a.query_id, a.neighbor_id,
           |  ${cosSql("q.embedding", "c.embedding")} AS cos
           |FROM adc a
           |JOIN embeddings c ON c.vec_id = a.neighbor_id
           |JOIN embeddings q ON q.vec_id = a.query_id
           |WHERE (${normSql("c.embedding")}) > 0
           |  AND (${normSql("q.embedding")}) > 0
           |QUALIFY row_number() OVER (PARTITION BY a.query_id
           |  ORDER BY cos DESC, a.neighbor_id) <= $k""".stripMargin
    }
  }

  private[queries] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / ((${normSql(a)}) * (${normSql(b)}))"

  /** DuckDB rendering of [[TextAnalysis.qlog8]] — log2 in integer
    * eighth-bits: 8·(binlen−1) + (top 4 bits) − 8, msb from binary
    * string length, shift direction by msb position. `x` must be a
    * positive integer expression (it is interpolated several times —
    * keep it simple, no side effects).
    */
  private[queries] def qlog8Sql(x: String): String = {
    val len = s"length(bin($x))"
    s"(8 * ($len - 1) + (CASE WHEN $len >= 4 " +
      s"THEN ($x) >> ($len - 4) ELSE ($x) << (4 - $len) END) - 8)"
  }

  /** DuckDB rendering of [[org.apache.spark.sql.graft.WinnowKernel]]'s
    * double 31-bit polynomial gram hash as the positional sum
    * Σ cp(pos+j)·B^(k−1−j) mod P (equal to the Spark side's rolling
    * update, term by term mod P): each term ≤ 2^21 · 2^31 and the
    * k-term sum ≤ 2^56, exact in BIGINT.
    */
  private[queries] def winnowHashSql(k: Int): String = {
    import org.apache.spark.sql.graft.WinnowKernel._
    def sum(pows: IndexedSeq[Long]) = (0 until k).map(j =>
      s"CAST(ascii(substr(text, CAST(i.i + $j AS INT), 1)) AS BIGINT) * ${pows(j)}")
      .mkString(" + ")
    s"((${sum(powers(B1, P1, k))}) % $P1) * $P2 + " +
      s"((${sum(powers(B2, P2, k))}) % $P2)"
  }

  /** Winnowing fingerprint CTEs shared by the substring-dedup and
    * decontamination oracles — k=16-char grams, 8-gram windows (ROWS
    * ... 7 FOLLOWING), identical constants to the Spark calls. The
    * oracle keeps the simple per-position window form; the Spark
    * side's chunked kernel produces the same fingerprint SET (overlap
    * chunking truncates windows only at true document end, exactly
    * like the window frame here).
    */
  private[queries] def winnowFpsCte: String =
    s"""grams AS (
       |  SELECT doc_id, i.i AS pos,
       |    ${winnowHashSql(16)} AS h
       |  FROM documents,
       |    LATERAL (SELECT unnest(generate_series(1, length(text) - 15)) AS i) i
       |  WHERE length(text) >= 16),
       |winmin AS (
       |  SELECT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
       |  FROM grams),
       |fps AS (SELECT DISTINCT doc_id, fp FROM winmin)""".stripMargin

  /** Events view with the ns→µs timestamp truncation Tables.load does. */
  private[queries] val evtCte =
    """evts AS (SELECT event_id, make_timestamp(epoch_us(ts)) AS ts,
      |               user_id, event_type, value, props FROM events)""".stripMargin

  /** Word bigram shingles of `text` (TextAnalysis.shingles k=2). */
  private[queries] val shingleCte =
    """sh AS (
      |  SELECT doc_id, lang, source,
      |    CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 2
      |      THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+'))),
      |             i -> string_split_regex(trim(text), '\s+')[i] || '_' ||
      |                  string_split_regex(trim(text), '\s+')[i+1])
      |      ELSE [] END AS s
      |  FROM documents)""".stripMargin

  /** DuckDB rendering of the deterministic ±1 hyperplane matrix
    * (Similarity.hyperplanes) as literal lists, one per plane.
    */
  private[queries] def planeSql(planes: Int, dims: Int): Seq[String] =
    Similarity.hyperplanes(planes, dims).toSeq.map(row =>
      row.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]"))

  private[queries] def lshBucketSql(vec: String, planes: Int, dims: Int): String =
    planeSql(planes, dims).zipWithIndex.map { case (w, p) =>
      s"(CASE WHEN (${dotSql(vec, w)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private[queries] val tokensSql = """string_split_regex(trim(text), '\s+')"""

  /** Augmented-space MIPS bucket (mirrors Similarity.mipsTopK's
    * bucketBits): per plane, sign of ⟨v, w₁..d⟩ + w_{d+1}·extra where
    * extra = √(max(M²−n², 0)) for corpus rows and 0 for queries (the
    * +0 term is an IEEE no-op, so the query side omits it).
    */
  private[queries] def mipsBucketSql(vec: String, extra: Option[String],
                            planes: Int, dims: Int): String = {
    val pl = Similarity.hyperplanes(planes, dims + 1)
    pl.zipWithIndex.map { case (w, p) =>
      val prefix = w.take(dims)
        .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      val proj = extra match {
        case Some(e) =>
          val wl = if (w(dims) > 0) "1.0" else "-1.0"
          s"(${dotSql(vec, prefix)}) + $wl * $e"
        case None => s"(${dotSql(vec, prefix)})"
      }
      s"(CASE WHEN ($proj) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** The BPE induction as a CTE chain (graft.ext.Bpe replayed in SQL):
    * `w0` is the capped word table with delimited symbol strings;
    * round r computes pair counts `pc_r` from `w_(r-1)`, picks the
    * (n DESC, pattern-bytes ASC) top pair `t_r`, and re-encodes into
    * `w_r` with the same leftmost non-overlapping `replace` Spark
    * runs. Ends with `t1..tk` in scope.
    */
  private[queries] def bpeCtes(k: Int, maxWords: Int): String = {
    val w0 = raw"""w0 AS (
      |  SELECT wc, regexp_replace(w, '(?s)(.)', '|\1|', 'g') AS str FROM (
      |    SELECT t AS w, count(*) AS wc
      |    FROM (SELECT unnest($tokensSql) AS t FROM documents)
      |    WHERE t <> ''
      |    GROUP BY 1 ORDER BY wc DESC, w LIMIT $maxWords))""".stripMargin
    val rounds = (1 to k).map { r =>
      s"""pc$r AS (
        |  SELECT s[i] AS sl, s[i + 1] AS sr, CAST(sum(wc) AS BIGINT) AS n
        |  FROM (SELECT wc, s, unnest(generate_series(1, len(s) - 1)) AS i
        |        FROM (SELECT wc, string_split(trim(str, '|'), '||') AS s
        |              FROM w${r - 1}))
        |  GROUP BY 1, 2),
        |t$r AS (
        |  SELECT $r AS rank, sl, sr, sl || sr AS merged,
        |         '|' || sl || '||' || sr || '|' AS pat,
        |         '|' || sl || sr || '|' AS rep, n
        |  FROM pc$r ORDER BY n DESC, pat LIMIT 1),
        |w$r AS (
        |  SELECT wc, replace(str, (SELECT pat FROM t$r),
        |                     (SELECT rep FROM t$r)) AS str
        |  FROM w${r - 1})""".stripMargin
    }
    (w0 +: rounds).mkString(",\n")
  }

  private[queries] def stopContains(arr: String): String = {
    val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($arr, t -> list_contains($stops, t)))"
  }

  /** punctRatio in SQL, with the Spark side's empty-text guard:
    * Spark's punctRatio returns 0.0 on length-0 text while an
    * unguarded DuckDB divide gives IEEE 0/0 = NaN — the one empty-doc
    * divergence in the stats family (split('') is [''] on BOTH
    * engines, so the token-denominator terms never hit 0/0).
    */
  private[queries] lazy val punctRatioSql: String =
    "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
      "CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / " +
      "CAST(length(text) AS DOUBLE) END"

  /** TextAnalysis.qualityScore in SQL — expects `text` and `toks`
    * columns in scope. ONE definition spliced into every oracle that
    * scores quality, so the three-term formula cannot drift per query.
    */
  private[queries] lazy val qualitySql: String =
    s"CAST(${stopContains("toks")} AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.5 + " +
      s"(1.0 - $punctRatioSql) * 0.3 + " +
      "least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.2"

  private[queries] def langScoreSql(markers: Seq[String]): String = {
    val m = markers.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, t -> list_contains($m, t)))"
  }

  /** The MinHash-LSH candidate-pair pipeline as a reusable CTE chain
    * ending in `mh_pairs(id_a, id_b)` — spliced into both the pair
    * query and the connected-components closure so the two oracles
    * cannot drift.
    */
  private[queries] lazy val minhashPairCtes: String = {
    val coef = DedupOps.minhashCoefficients(12)
    val p = DedupOps.MinhashP
    val sigCols = coef.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $p) AS m$i"
    }.mkString(",\n|    ")
    val bandSelects = (0 until 4).map { b =>
      val ms = (b * 3 until b * 3 + 3)
        .map(j => s"CAST(m$j AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS b, md5(concat_ws(',', '$b', $ms)) AS bkey FROM sig"
    }.mkString("\n|  UNION ALL ")
    s"""$shingleCte,
      |hs AS (SELECT doc_id,
      |         CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % $p AS h
      |       FROM (SELECT doc_id, unnest(s) AS s FROM sh)),
      |sig AS (SELECT doc_id,
      |    $sigCols
      |  FROM hs GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |mh_pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bkey = b2.bkey
      |  WHERE a.doc_id < b2.doc_id)""".stripMargin
  }

  /** Unrolled integer-fixed-point PageRank rounds (mirrors
    * Graph.pageRank's schedule exactly: same integer divisions, same
    * damping rational).
    */
  private[queries] def pageRankCtes(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""s$k AS (SELECT e.dst AS node_id, sum(r${k - 1}.r // e.deg) AS m
         |        FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node_id
         |        GROUP BY 1),
         |r$k AS (SELECT n.node_id,
         |          CAST(150000 + (17 * COALESCE(s$k.m, 0)) // 20 AS BIGINT) AS r
         |        FROM nodes n LEFT JOIN s$k USING (node_id))""".stripMargin
    }.mkString(",\n")
    s"""ej AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
       |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT 2 * c AS src, 2 * sk + 1 AS dst FROM ej
       |          UNION ALL SELECT 2 * sk + 1, 2 * c FROM ej),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |e AS (SELECT edges.src, edges.dst, deg.deg
       |      FROM edges JOIN deg USING (src)),
       |nodes AS (SELECT 2 * c_custkey AS node_id FROM customer
       |          UNION ALL SELECT 2 * s_suppkey + 1 FROM supplier),
       |r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$rounds""".stripMargin
  }

  /** Shared co-purchase edge CTEs (mirrors the `copurchase_edges`
    * stage: distinct incidence, 1000-item group cap, support-≥2 pair
    * floor, canonical u < v).
    */
  private[queries] val copurchaseCtes =
    """oi AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
      |            FROM lineitem),
      |gok AS (SELECT grp FROM oi GROUP BY grp HAVING count(*) <= 1000),
      |oi2 AS (SELECT oi.grp, oi.item FROM oi JOIN gok USING (grp)),
      |pairs AS (SELECT a.item AS u, b.item AS v, count(*) AS sup
      |          FROM oi2 a JOIN oi2 b ON a.grp = b.grp AND a.item < b.item
      |          GROUP BY 1, 2),
      |edges AS (SELECT u, v FROM pairs WHERE sup >= 2)""".stripMargin

}
