package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, exact and
  * fuzzy. Everything is expressed as group-bys and bucket joins —
  * the shapes that scale: no pairwise O(n²) work ever happens outside
  * a blocking bucket, and every aggregation is partial-agg friendly.
  *
  * The hash family is md5-based (standard across engines) so every
  * stage is oracle-checkable; swap `md5` for `xxhash64` for ~4×
  * faster hashing at cluster scale (same shapes, weaker oracle).
  */
object DedupOps {

  /** Exact dedup: canonical row id + duplicate count per distinct
    * value of `key`. groupBy, not dropDuplicates: deterministic
    * canonical pick (min id) and a free dup-count, at the same single
    * shuffle.
    */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Mersenne prime 2^31 - 1: modulus of the universal-hash MinHash
    * permutation family. 31-bit hashes and coefficients keep every
    * product `a * h` under 2^62 — exact in a 64-bit long on any
    * engine, so the oracle reproduces the math verbatim.
    */
  val MinhashP: Long = 2147483647L

  /** Deterministic (a, b) coefficient pairs for the permutation family
    * h_i(x) = (a_i * x + b_i) mod P, seeded from md5 — public
    * universal-hashing MinHash (Broder '97), RNG replaced by md5 so
    * any engine can reproduce the permutations.
    */
  def minhashCoefficients(n: Int): Seq[(Long, Long)] = {
    val mdf = java.security.MessageDigest.getInstance("MD5")
    def h31(tag: String, i: Int): Long = {
      val d = mdf.digest(s"$tag:$i".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map("%02x".format(_)).mkString, 16) % (MinhashP - 1)
    }
    Seq.tabulate(n)(i => (h31("a", i) + 1, h31("b", i)))
  }

  /** 31-bit base hash of one shingle: md5 prefix mod P. ONE md5 per
    * shingle; the n signature elements are arithmetic permutations of
    * it — 12× less hashing than seeding md5 per (i, shingle).
    */
  def shingleHash(s: Column): Column =
    PortableHash.md5PrefixLong(s, 8) % MinhashP

  /** Candidate near-dup pairs via MinHash LSH — the 100 TB shape:
    *
    *   explode shingles → 1 md5 each → groupBy(doc): n `min` aggs
    *   (map-side partial agg: each mapper ships one candidate per doc)
    *   → band keys from the signature columns → self-join on
    *   (band, key) → distinct (a < b) pairs.
    *
    * The pair expansion is a streamed equi-join, NOT a per-bucket
    * collect: a pathological bucket (say 1M byte-identical docs — the
    * case dedup exists for) produces n² join ROWS that flow through
    * the shuffle and AQE's skew-join splitting, rather than one
    * n-element array whose in-row n² expansion would OOM a single
    * task. The banded rows are explicitly repartitioned on the join
    * key so the two self-join branches read ONE exchange (exchange
    * reuse, asserted in PlanSpec): the signature aggregation is
    * computed once and shuffled once, in every plan — without the
    * explicit shuffle, a broadcast self-join evaluates the whole
    * signature subtree twice. Docs with zero shingles drop out (no
    * hash → no bucket).
    */
  /** @param maxBucket optional hot-bucket cap (0 = unlimited, the
    *                   default — output is the full candidate set).
    *                   A band bucket holding n docs emits C(n, 2)
    *                   join rows; one boilerplate flood (a million
    *                   byte-identical headers) makes a single bucket
    *                   quadratic — the same failure mode as a
    *                   stopword shingle in [[jaccardPairs]], and the
    *                   same guard: buckets above the cap are dropped
    *                   from pair expansion. Recall tradeoff is
    *                   deliberate and visible: a capped bucket's
    *                   members ARE near-dups of each other, so a
    *                   pipeline that caps should route oversize
    *                   buckets to a direct all-same-cluster rule
    *                   (they need no pairwise verification) instead
    *                   of the pair path. The bucket census costs one
    *                   window over the band exchange (no extra
    *                   shuffle — same partitioning).
    */
  def lshCandidatePairs(df: DataFrame, id: Column, shingles: Column,
                        numHashes: Int = 12, bands: Int = 4,
                        maxBucket: Int = 0): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands); " +
        "otherwise trailing signature columns silently drop out of every band")
    val rows = numHashes / bands
    val coef = minhashCoefficients(numHashes)
    // A LONG-array shingle column is consumed as ALREADY-HASHED
    // shingle ids in the md5PrefixLong(·, 8) domain (build with
    // TextAnalysis.shingleHashes(c, k, hexLen = 8)); only the
    // MinhashP reduction remains. Duplicate shingles never matter
    // here — the signature is a per-doc MIN.
    val preHashed = df.select(shingles.as("__probe")).schema.head
      .dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    val based =
      if (preHashed)
        df.select(id.as("__id"), explode(shingles).as("__sh"))
          .select(col("__id"), (col("__sh") % MinhashP).as("__h"))
      else
        df.select(id.as("__id"), explode(shingles).as("__sh"))
          .select(col("__id"), shingleHash(col("__sh")).as("__h"))
    val mins = coef.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__h") + lit(b)) % MinhashP).as(s"__m$i")
    }
    val sig = based.groupBy("__id").agg(mins.head, mins.tail: _*)
    val keyCols = (0 until bands).map { b =>
      md5(concat_ws(",",
        lit(b.toString) +: (b * rows until (b + 1) * rows)
          .map(j => col(s"__m$j").cast("string")): _*))
    }
    // The pair dedup stays a trailing DISTINCT here — a measured
    // round-17 negative result, the opposite call from
    // simhashBandPairs' emit-once filter: simhash signatures are
    // single LONGs already riding the join rows, so its
    // first-matching-band test is free, but the MinHash band keys
    // are md5 STRINGS, and carrying the key array per banded row
    // (to recompute "first agreeing band" in the join) 4×'d the
    // band-shuffle payload — same-session A/B at sf0.1: 0.38 s
    // (distinct) vs 0.69 s (key-array carry) hot, because candidate
    // pairs (2 310) are far FEWER than banded rows (240k) on any
    // corpus where the banding discriminates. The distinct's
    // map-side partial dedup also bounds its exchange by the true
    // pair set.
    val banded0 = sig.select(col("__id"),
      posexplode(array(keyCols: _*)).as(Seq("__band", "__key")))
      .repartition(col("__band"), col("__key"))
    val banded =
      if (maxBucket <= 0) banded0
      else {
        import org.apache.spark.sql.expressions.Window
        banded0.withColumn("__bs", count(lit(1)).over(
            Window.partitionBy(col("__band"), col("__key"))))
          .filter(col("__bs") <= maxBucket)
          .drop("__bs")
      }
    val a = banded.select(col("__band"), col("__key"), col("__id").as("id_a"))
    val b = banded.select(col("__band"), col("__key"), col("__id").as("id_b"))
    a.join(b, Seq("__band", "__key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Keep one canonical row per key: the first by `order` (ties
    * impossible when `order` is unique; make it so). The window form
    * shuffles whole partitions per key — the standard shape; for a
    * known-hot key space use exact() + a join instead.
    */
  def keepFirstPerKey(df: DataFrame, key: Column, order: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains("__rn"),
      "input must not carry a __rn column (reserved by keepFirstPerKey)")
    val w = Window.partitionBy(key).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** n-gram Jaccard similarity of two shingle arrays (set semantics).
    * Two EMPTY sets score 1.0 (identical) rather than tripping ANSI
    * divide-by-zero — two docs both shorter than the shingle width
    * must not crash the comparison job.
    */
  def jaccard(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    when(u === 0, lit(1.0)).otherwise(
      size(array_intersect(a, b)).cast("double") / u.cast("double"))
  }

  /** Ordered (a < b) pair expansion inside one SORTED distinct
    * postings list — sortedness makes i < j imply first < second.
    * Shared by the inverted-index pair generators so the pairing
    * invariants live in exactly one place. Backed by the native
    * [[org.apache.spark.sql.graft.OrderedPairs]] kernel: the previous
    * transform/slice/flatten lambda composition was interpreted
    * (higher-order functions are CodegenFallback) and copied the
    * list's tail once PER ELEMENT — O(n²) transient arrays per
    * posting list. Output parity is pinned in ExtSpec.
    */
  private[ext] def orderedPairs(ids: Column, aName: String,
                           bName: String): Column =
    explode(org.apache.spark.sql.graft.PairColumns
      .ordered_pairs(ids, aName, bName))

  /** The lambda composition [[orderedPairs]] replaced — kept as the
    * executable parity reference for the kernel spec.
    */
  private[graft] def orderedPairsDeclarative(ids: Column, aName: String,
                                             bName: String): Column =
    explode(flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as(aName), y.as(bName))))))

  /** Blocked n-gram Jaccard near-dup pairs via an inverted shingle
    * index — the 100 TB shape: group by (block, shingle) into a
    * postings list, df-cap it, generate the co-occurring id pairs
    * INSIDE each list, and count pairs to get intersection sizes;
    * |A∪B| = |A| + |B| − |A∩B| from per-doc sizes. No per-pair array
    * hashing and no raw self-join: a pair's cost is its number of
    * SHARED shingles, pairs sharing nothing are never materialized
    * (their Jaccard is 0), and the one pass over the expensive
    * shingle explode is the aggregation that builds the index.
    *
    * The document-frequency cap is the scale guard: a shingle shared
    * by df docs yields C(df,2) pairs, so one stopword bigram inside a
    * big block is quadratic. Shingles above the cap carry ~0 Jaccard
    * signal (they're in everything) — the filter drops them before
    * pair generation, bounding every list at C(maxDf,2) pairs. Sizes
    * are computed over the capped universe (df=1 shingles still count
    * toward |A|) so the measure stays a true Jaccard on the filtered
    * shingle sets.
    *
    * @param blockKeys existing columns that bound the candidate space.
    *                  Each row must belong to exactly ONE block (a
    *                  partition key: language, source, …). Do NOT pass
    *                  an exploded multi-membership key like an LSH
    *                  band — per-doc sizes are counted over all blocks,
    *                  so a doc appearing in `bands` blocks would have
    *                  |A| inflated bands× and every Jaccard deflated
    *                  below threshold. Band-blocked near-dup detection
    *                  is [[lshCandidatePairs]]/[[simhashBandPairs]].
    */
  def jaccardPairs(df: DataFrame, blockKeys: Seq[String], id: Column,
                   shingles: Column, threshold: Double,
                   maxDf: Int = 64): DataFrame =
    jaccardFromIntersections(
      pairIntersections(df, blockKeys, id, shingles, maxDf), threshold)

  /** [[jaccardPairs]]' finishing ratio over a prebuilt
    * [[pairIntersections]] frame — split out so a SHARED intersection
    * stage (one shingle exchange) can serve both the Jaccard and the
    * containment measure instead of each rebuilding the index.
    */
  def jaccardFromIntersections(pairs: DataFrame,
                               threshold: Double): DataFrame =
    pairs
      .withColumn("jac", col("__i").cast("double") /
        (col("__na") + col("__nb") - col("__i")).cast("double"))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")

  /** Asymmetric containment pairs over the SAME inverted-index plan
    * as [[jaccardPairs]]: C(A→B) = |A∩B| / |A| — the quote /
    * subset-document detector. A short doc fully quoted inside a long
    * one has tiny Jaccard (the union is dominated by the long doc)
    * but containment ≈ 1 from the short side, which is why
    * decontamination and license-text removal filter on containment,
    * not Jaccard. Emits both directions per candidate pair; a pair
    * survives when EITHER direction reaches `threshold`. Same df-cap
    * scale guard, same single shingle exchange — only the finishing
    * ratio differs.
    */
  def containmentPairs(df: DataFrame, blockKeys: Seq[String],
                       id: Column, shingles: Column, threshold: Double,
                       maxDf: Int = 64): DataFrame =
    containmentFromIntersections(
      pairIntersections(df, blockKeys, id, shingles, maxDf), threshold)

  /** [[containmentPairs]]' finishing ratios over a prebuilt
    * [[pairIntersections]] frame (see [[jaccardFromIntersections]]).
    */
  def containmentFromIntersections(pairs: DataFrame,
                                   threshold: Double): DataFrame =
    pairs
      .withColumn("cont_a_in_b",
        col("__i").cast("double") / col("__na").cast("double"))
      .withColumn("cont_b_in_a",
        col("__i").cast("double") / col("__nb").cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a"))
        >= threshold)
      .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")

  /** The shared candidate-pair engine behind [[jaccardPairs]] and
    * [[containmentPairs]]: inverted shingle index → df-capped
    * postings → in-posting ordered pairs → intersection counts joined
    * with both per-doc set sizes. Returns
    * (id_a, id_b, __i, __na, __nb) — unthresholded, so one stage can
    * serve every finishing measure.
    */
  private[graft] def pairIntersections(df: DataFrame,
                                       blockKeys: Seq[String],
                                       id: Column, shingles: Column,
                                       maxDf: Int): DataFrame = {
    // maxDf = 0 is NOT "unlimited" here (that is lshCandidatePairs'
    // maxBucket convention): it would cap every posting list at one
    // id and then drop it at the size filter — zero pairs, silently.
    // A caller crossing the two conventions must fail loudly. The
    // upper bound keeps maxDf + 1 from wrapping.
    require(maxDf >= 1 && maxDf < Int.MaxValue,
      s"maxDf ($maxDf) must be in [1, Int.MaxValue) — 0 is not " +
        "'unlimited' for df-capped postings (every list would drop)")
    // A LONG-array shingle column is consumed as ALREADY-HASHED
    // distinct shingle ids in the md5PrefixLong(·, 15) domain (build
    // it with TextAnalysis.shingleHashes(c, k) — the fused one-pass
    // kernel); a string-array column takes the declarative
    // distinct→explode→hash path below. Either way the exchange
    // carries 8-byte keys instead of ~25-byte strings (~40% off the
    // shuffle and hash-compare cost; collision odds at 60 bits are
    // ~n²/2^61 — noise next to the shingling itself).
    val preHashed = df.select(shingles.as("__probe")).schema.head
      .dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    val e0 =
      if (preHashed)
        df.select(blockKeys.map(col) ++ Seq(id.as("__id"),
          explode(shingles).as("__sh")): _*)
      else
        df.select(blockKeys.map(col) ++ Seq(id.as("__id"),
          explode(array_distinct(shingles)).as("__sh")): _*)
          .withColumn("__sh", PortableHash.md5PrefixLong(col("__sh"), 15))
    // df cap INSIDE the aggregation buffer: a stopword shingle shared
    // by millions of docs stops accumulating at maxDf+1 ids (O(maxDf)
    // task memory), and the filter below then drops it exactly as a
    // full-set size check would — BoundedCollectSet's scaladoc proves
    // size ≤ maxDf iff true distinct count ≤ maxDf, and kept groups
    // always carry their complete set. The set semantics also dedupe
    // duplicate-delivered ids (a doc delivered twice must not
    // self-pair or inflate counts), map-side. A pre-aggregated
    // count+semi-join guard was measured instead and rejected: column
    // pruning makes the count branch's exchange non-identical to the
    // postings exchange, so the whole scan+shingle+hash pipeline ran
    // twice (+40-70% end to end).
    // NOTE (round 19): the postings subtree prints three times in the
    // initial plan (pair expansion + both size-join branches), but an
    // A/B with postings/sizes localCheckpoint'd measured NO gain
    // (1.33 → 1.32 s at sf0.1) — runtime exchange reuse already
    // collapses the duplicates — so the lazy form stands (it also
    // keeps library composition lazy for downstream pushdown).
    val postings = e0
      .groupBy(blockKeys.map(col) :+ col("__sh"): _*)
      .agg(sort_array(org.apache.spark.sql.graft.AggColumns
        .bounded_collect_set(col("__id"), maxDf + 1)).as("__ids"))
      .filter(size(col("__ids")) <= maxDf)
      .select(col("__ids"))
    val sizes = postings.select(explode(col("__ids")).as("__id"))
      .groupBy("__id").agg(count(lit(1)).as("__n"))
    val inter = postings
      .filter(size(col("__ids")) >= 2)
      .select(orderedPairs(col("__ids"), "id_a", "id_b").as("__p"))
      .select(col("__p.id_a"), col("__p.id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.select(col("__id").as("id_a"), col("__n").as("__na")),
        "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("__n").as("__nb")),
        "id_b")
  }

  /** One star-contraction step of the alternating connected-components
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14). For each node u with neighborhood Γ(u) and
    * m = min(Γ(u) ∪ {u}): large-star rewires every neighbor LARGER
    * than u to m; small-star rewires every neighbor ≤ u (and u itself)
    * to m. Edges stay normalized as (a < b) and deduped — each step is
    * one groupBy-min plus one equi-join, all partial-agg friendly.
    */
  /** @param dedup canonicalize the output with a distinct — required
    *               for the round output (the convergence compare is a
    *               set compare), skippable for the large→small
    *               intermediate where duplicate edges cost one extra
    *               shuffle but cannot change any min (idempotent)
    */
  private def starStep(e: DataFrame, large: Boolean,
                       dedup: Boolean = true): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("__mv"))
      .select(col("u"), least(col("u"), col("__mv")).as("m"))
    val joined = sym.join(mins, "u")
    val rewired =
      if (large)
        joined.filter(col("v") > col("u"))
          .select(col("m").as("a"), col("v").as("b"))
      else
        joined.filter(col("v") <= col("u") && col("v") =!= col("m"))
          .select(col("m").as("a"), col("v").as("b"))
          .union(mins.filter(col("u") =!= col("m"))
            .select(col("m").as("a"), col("u").as("b")))
    val out = rewired.filter(col("a") =!= col("b"))
    if (dedup) out.distinct() else out
  }

  /** Connected components over near-dup candidate pairs — the stage
    * that turns pairwise dedup output into per-document cluster ids
    * (component_id = min id in the component, the canonical doc every
    * production dedup keeps). Alternating large-star/small-star
    * contraction ([[starStep]]): every component collapses to a star
    * centered on its minimum id in O(log n) rounds — near-dup pair
    * graphs DO grow long chains (A≈B≈C… without A≈C), where one-hop
    * min-label propagation needs O(diameter) rounds (16 vs 6 on the
    * sf0.1 corpus). Each round is two star steps over the edge set
    * (no per-node state carried between rounds); per-round lineage is
    * truncated by an eager checkpoint. The early stop is exact:
    * iteration ends when a full round leaves the edge set unchanged, a
    * fixpoint that is necessarily the star forest (= the oracle's
    * transitive closure), not an iteration-capped approximation.
    *
    * Fault-tolerance contract: with `checkpointDir` set (an HDFS/S3
    * path on a real cluster) every round writes a RELIABLE checkpoint,
    * so losing an executor mid-job costs one round's recompute from
    * the last checkpoint. The `None` default falls back to
    * `localCheckpoint` — executor-local blocks, right for single-node
    * and test runs, but a lost executor there aborts the job (lineage
    * is truncated, there is nothing to recompute from); don't ship the
    * default to a 1000-executor run of a 40-round graph.
    *
    * @param nodes one `id` column, every node (isolated docs become
    *              singleton components — pairs alone would drop them)
    * @param pairs `id_a`, `id_b` candidate pairs (undirected)
    * @param checkpointDir reliable checkpoint directory; sets the
    *                      SparkContext checkpoint dir (a context-wide
    *                      setting) on entry
    * @param localThreshold local-completion endgame (the same move
    *                       Kiveris et al. make once contraction has
    *                       shrunk the graph): when the current edge
    *                       set has at most this many edges it is
    *                       collected — a BOUNDED driver cost of
    *                       ~16 bytes/edge ≈ 3 MB at the default —
    *                       and finished with a min-root union-find
    *                       instead of paying O(log n) more rounds of
    *                       job-scheduling overhead; 0 disables the
    *                       endgame and keeps every round distributed
    */
  /** Local-completion endgame: the contracted edge set fits the
    * driver budget, so finish with a min-root union-find — union
    * always points the larger root at the smaller, so every tree's
    * final root is the component minimum, the same canonical label
    * the star-forest fixpoint yields. Mid-loop hand-off is safe:
    * star steps never drop a node from the edge set while its
    * component still has other members, and never merge or split
    * components, so connectivity over the collected edges plus the
    * left-join singleton fallback is exactly the original partition.
    * Generic over the id type (string doc ids work exactly like
    * longs, as in the distributed loop): ids only need the same
    * ordering least/greatest use, i.e. Catalyst's. For strings
    * that is UTF8String's UTF-8 BYTE order, which differs from
    * java.lang.String.compareTo (UTF-16 code units) when
    * supplementary-plane chars mix with U+E000–U+FFFF — so strings
    * compare via their UTF-8 bytes here, keeping the endgame's
    * canonical minima identical to the distributed loop's.
    */
  private def localFinish(nodes: DataFrame, edges: Array[(Any, Any)],
                          idType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    val spark = nodes.sparkSession
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != r) {
        val nx = parent.get(c); parent.put(c, r); c = nx
      }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val members: Seq[Any] =
      edges.iterator.flatMap(p => Iterator(p._1, p._2)).toSet.toSeq
    val rows = members.map(x =>
      org.apache.spark.sql.Row(x, find(x)))
    val labelDf = spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component_id", idType))))
    nodes.select("id")
      .join(broadcast(labelDf), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component_id"), col("id")).as("component_id"))
  }

  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 50,
                          checkpointDir: Option[String] = None,
                          localThreshold: Long = 200000L): DataFrame = {
    // RoundState owns the global-checkpoint-dir save/restore and the
    // persist-before-checkpoint write discipline (see its scaladoc in
    // Graph.scala) — one mechanism across every iterative loop
    val rs = new RoundState(nodes.sparkSession, checkpointDir)
    try ccLoop(nodes, pairs, maxIter, checkpointDir, localThreshold, rs)
    finally rs.done()
  }

  private def ccLoop(nodes: DataFrame, pairs: DataFrame, maxIter: Int,
                     checkpointDir: Option[String],
                     localThreshold: Long, rs: RoundState): DataFrame = {
    def ckpt(df: DataFrame): DataFrame = rs(df)
    // Count AND an order-independent set checksum (bit_xor of a 64-bit
    // row hash), both piggybacked on the checkpoint's materialization
    // job via `observe` — no second count() job per round. The
    // checksum is a cheap NEGATIVE convergence filter: differing
    // checksums prove the edge sets differ, so the exact anti-join
    // probe below only ever runs on rounds where count and checksum
    // both match (in practice, once). Metrics arrive on the listener
    // bus just after the eager checkpoint returns, so poll briefly and
    // fall back to a (cached, cheap) count() rather than block on
    // Observation.get forever; a missed poll yields checksum None
    // (= unknown), which only means the exact probe cannot be skipped
    // on count-equal rounds — it can never fake or block convergence.
    def ckptCounted(df: DataFrame): (DataFrame, Long, Option[Long]) = {
      val obs = org.apache.spark.sql.Observation()
      val out = ckpt(df.observe(obs, count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("x")))
      org.apache.spark.sql.graft.ObservationAccess.await(obs, 2000) match {
        case Some(v) =>
          (out, v("n").asInstanceOf[Long],
            Some(v("x").asInstanceOf[Long]))
        case None => (out, out.count(), None)
      }
    }
    val canon = pairs.filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .distinct()
    // Fast-path probe for the local-completion endgame: run the pair
    // job ONCE under a persist and limit-collect threshold+1 rows. A
    // small graph (the common case once upstream blocking has done
    // its job) finishes right here — no eager checkpoint of the edge
    // set, no Observation round-trip, no second collect pass. A big
    // graph costs one cheap scheduling round: CollectLimit stops
    // scanning once it has threshold+1 rows, computed partitions stay
    // cached, and the checkpoint pass below reads them back instead
    // of recomputing.
    if (localThreshold > 0) {
      canon.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // clamp BEFORE the +1: at localThreshold = Long.MaxValue (an
      // "always finish locally" caller) the naive `threshold + 1`
      // wraps to Long.MinValue, the probe cap .toInt's to 0, and
      // limit(0) collects NO edges — every node silently labels
      // itself (the r15 bound-arithmetic bug class; caught by the
      // random-graph union-find property spec)
      val cap =
        (math.min(localThreshold, Int.MaxValue.toLong - 1) + 1).toInt
      val probe = canon.limit(cap).collect()
      if (probe.length <= localThreshold) {
        val out = localFinish(nodes,
          probe.map(r => (r.get(0), r.get(1))), canon.schema("a").dataType)
        canon.unpersist()
        return out
      }
    }
    var (e, prevCount, prevSum) = ckptCounted(canon)
    canon.unpersist()
    var iter = 0
    var converged = prevCount == 0L
    while (iter < maxIter && !converged && prevCount > localThreshold) {
      // checkpoint after EACH star step: the small-star reads its
      // input through two differently-shaped exchanges (a partial-agg
      // groupBy and a join probe), which exchange reuse does NOT
      // deduplicate — an unmaterialized large-star output would be
      // recomputed once per branch. An explicit persist instead of the
      // checkpoint measured SLOWER (InMemoryRelation blocks the
      // exchange-reuse match inside each step).
      val half = ckpt(starStep(e, large = true, dedup = false))
      val (next, n, x) = ckptCounted(starStep(half, large = false))
      // both sides are distinct sets: equal size + equal xor-checksum
      // gate the EXACT probe — an empty anti join (strictly cheaper
      // than `except`, which would re-distinct both already-distinct
      // sides). The && short-circuit means the anti join only runs on
      // rounds where count and checksum both plateaued (typically the
      // single fixpoint-confirming round); a checksum collision merely
      // runs the probe once more, never a false convergence. An
      // UNKNOWN checksum (missed observe poll on either side) must
      // not block convergence — skip the gate and let the exact probe
      // decide, else a noisy listener bus could starve the loop to
      // maxIter on an already-converged edge set.
      val checksumsDiffer = (for (a <- x; b <- prevSum) yield a != b)
        .getOrElse(false)
      converged = n == prevCount && !checksumsDiffer &&
        next.join(e, Seq("a", "b"), "left_anti").isEmpty
      // drop superseded round state (a 40-round run would otherwise
      // hold every round's blocks) AND its reliable-checkpoint files —
      // the context cleaner does not remove those under default config,
      // so without the explicit delete every round's edge-set copy
      // accrues in the checkpoint dir. Safe here: `next` is already
      // checkpointed, so nothing re-reads the superseded files. The
      // FINAL round's files are left for the caller to consume.
      half.unpersist()
      e.unpersist()
      if (checkpointDir.isDefined) {
        org.apache.spark.sql.graft.CheckpointFiles.delete(half)
        org.apache.spark.sql.graft.CheckpointFiles.delete(e)
      }
      prevCount = n
      prevSum = x
      e = next
      iter += 1
    }
    if (!converged && prevCount <= localThreshold) {
      val out = localFinish(nodes,
        e.select(col("a"), col("b")).collect()
          .map(r => (r.get(0), r.get(1))),
        e.schema("a").dataType)
      e.unpersist()
      if (checkpointDir.isDefined)
        org.apache.spark.sql.graft.CheckpointFiles.delete(e)
      return out
    }
    // fail loudly: labels read off a PARTIALLY contracted edge set are
    // silently wrong (a node's local min ≠ the component min)
    require(converged,
      s"connectedComponents did not reach the star-forest fixpoint in " +
        s"$maxIter rounds — raise maxIter (components with enormous " +
        "diameter need ~log² n alternations)")
    val sym = e.select(col("a").as("id"), col("b").as("nb"))
      .union(e.select(col("b").as("id"), col("a").as("nb")))
    val centers = sym.groupBy("id").agg(min("nb").as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("component_id"))
    nodes.select("id").join(centers, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component_id"), col("id")).as("component_id"))
  }

  /** Blocked edit-distance near-dup pairs over SHORT strings (names,
    * titles, codes): within a block, pairs (a < b) whose levenshtein
    * distance is ≤ `maxDist`. Levenshtein is O(len·len) per PAIR with
    * no hashing shortcut, so this is only viable where a blocking key
    * bounds candidates and the strings are short — for document bodies
    * use the MinHash/SimHash families instead. The join is a plain
    * equi-join on the block key (shuffle-partitioned, AQE-splittable);
    * `levenshtein` is a codegen'd built-in on both Spark and DuckDB
    * with the identical classic definition, so the oracle reproduces
    * it verbatim.
    *
    * Blocks larger than `maxBlock` are dropped WHOLE before the join
    * — the [[pairIntersections]] df-cap / [[Graph.coOccurrenceEdges]]
    * maxGroupSize governor, because blocking keys have FIXED
    * cardinality (brand × type is ~10³ values no matter how large the
    * catalog), so block size grows linearly with the corpus and the
    * pair count quadratically: the 100× scale smoke measured the
    * uncapped blow-up at 466M pair rows / 292 s from a fixture only
    * 100× the bench (SF10_SMOKE.md). A block the cap rejects means
    * the key is not discriminating there — those members are
    * boilerplate to an EDIT-DISTANCE dedup exactly as a df > 64
    * shingle is to the inverted index. 256²/2 ≈ 33 k banded-DP
    * verifies is one task's compute budget. The hot-key table is
    * ≤ n/maxBlock rows by construction and the exclusion is a
    * one-sided anti join (excluding a block's `a` side kills all its
    * pairs), so the governor costs one partial-agg count, not a
    * second quadratic pass.
    *
    * The cap is NOT silent (the no-silent-caps discipline of the
    * df-capped postings): [[editDistanceOversizedBlocks]] returns the
    * exact hot-key table this governor excludes — same keys, same
    * default, with member and excluded-pair counts — so a caller can
    * audit (or alert on) what the default dropped, and the oracle can
    * mirror the predicate.
    */
  def editDistancePairs(df: DataFrame, blockKeys: Seq[String], id: Column,
                        text: Column, maxDist: Int,
                        maxBlock: Long = 256L): DataFrame = {
    require(maxBlock >= 2, s"maxBlock ($maxBlock) must be at least 2")
    // ONE definition of the governor predicate — the audit twin IS
    // the exclusion list (a drifted copy would break the "returns
    // exactly what the governor excludes" contract silently)
    val oversized = editDistanceOversizedBlocks(df, blockKeys, maxBlock)
      .select(blockKeys.map(col): _*)
    // probe side spread on the BLOCK key when the scan is
    // unsplittable-narrow (see spreadNarrow): under a broadcast build
    // the O(block²) distance loop otherwise runs inside the scan's
    // single task; keyed spread is the same exchange a non-broadcast
    // plan needs anyway, so nothing is wasted at scale
    val a = spreadNarrow(df.select(blockKeys.map(col) ++
      Seq(id.as("id_a"), text.as("__ta")): _*), blockKeys.map(col))
      .join(oversized, blockKeys, "left_anti")
    val b = df.select(blockKeys.map(col) ++
      Seq(id.as("id_b"), text.as("__tb")): _*)
    // two semantics-preserving cuts before/inside the O(len·len) core:
    // |len(a) − len(b)| is a lower bound on levenshtein, so the cheap
    // length prefilter discards those pairs without running it; the
    // thresholded levenshtein bounds the DP band at maxDist (returns
    // −1 past it — those pairs are exactly the ones the dist filter
    // drops, and surviving distances are exact)
    a.join(b, blockKeys)
      .filter(col("id_a") < col("id_b") &&
        abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist").between(0, maxDist))
      .select((blockKeys.map(col) ++
        Seq(col("id_a"), col("id_b"), col("dist"))): _*)
  }

  /** The audit twin of [[editDistancePairs]]'s `maxBlock` governor:
    * the blocks the default output EXCLUDES, with their member count
    * and the number of candidate pairs that exclusion suppressed
    * (n·(n−1)/2 — the upper bound before the length prefilter; the
    * true near-dup loss is ≤ this). ≤ n/maxBlock rows by
    * construction, one partial-agg count to compute — run it
    * alongside the pairs (same keys, same `maxBlock`) to alert on a
    * blocking scheme whose keys stopped discriminating, instead of
    * discovering the governor's cut by row-count archaeology.
    *
    * NULL-key rows are NOT the governor's: a row with a NULL in any
    * block key never equi-joins, so it produces no pairs at ANY
    * block size — attributing an oversized NULL group to the cap
    * would blame the governor for an exclusion the join semantics
    * made (and would alert "keys stopped discriminating" on the
    * wrong cause). They are excluded here exactly as they are from
    * the pair join.
    */
  def editDistanceOversizedBlocks(df: DataFrame, blockKeys: Seq[String],
                                  maxBlock: Long = 256L): DataFrame = {
    require(maxBlock >= 2, s"maxBlock ($maxBlock) must be at least 2")
    df.filter(blockKeys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(blockKeys.map(col): _*)
      .agg(count(lit(1)).as("n_members")).filter(col("n_members") > maxBlock)
      .withColumn("n_pairs_excluded",
        expr("n_members * (n_members - 1) div 2"))
  }

  /** SimHash bit-j contribution of one 60-bit token hash: +1/-1. */
  def simhashTokenHash(t: Column): Column =
    PortableHash.md5PrefixLong(t, 15)

  /** Whole-document SimHash as ONE map-only scalar — bit-identical to
    * `explode(tokens) → simhashTokenHash → groupBy(doc) →
    * simhashAgg(bits)` (ExtSpec pins the parity) without the explode
    * or the per-doc exchange: at corpus scale the signature stage
    * becomes a pure narrow pass and the FIRST shuffle of a simhash
    * dedup is the banded candidate join itself.
    */
  def simhashDoc(text: Column, bits: Int = 60): Column =
    org.apache.spark.sql.graft.TextStatsColumns.simhash(text, bits, 15)

  /** SimHash over exploded tokens: callers explode tokens, group by
    * doc, and agg `simhashAgg(bits)` — the explode/conditional-sum
    * shape keeps partial aggregation (map-side combine) at scale.
    * Returns the aggregate expression producing the `bits`-bit
    * simhash as a long.
    */
  def simhashAgg(tokenHash: Column, bits: Int = 60): Column = {
    // default 60 = the width simhashTokenHash carries AND the width
    // simhashBandPairs' defaults assume (4 bands × 15 bits); a
    // narrower aggregate fed to the band join's defaults would make
    // the high bands constant-zero and the self-join quadratic
    val bitCols = (0 until bits).map { j =>
      when(sum(((shiftright(tokenHash, j) % 2) * 2 - 1)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhash longs (near-dup test):
    * one codegen'd popcount over the masked XOR — the same single
    * expression the band join's verify step uses.
    */
  def hammingDistance(a: Column, b: Column, bits: Int = 60): Column = {
    require(bits >= 1 && bits <= 63, "bits must be in [1, 63]")
    bit_count(a.bitwiseXOR(b).bitwiseAND(lit((1L << bits) - 1)))
  }

  /** SimHash near-dup pairs via band blocking: two docs whose
    * simhashes agree on ANY `bitsPerBand`-bit band are candidates
    * (a Hamming distance ≤ bands−1 pair must agree on some band, by
    * pigeonhole — the standard simhash dedup blocking, Manku et al.
    * WWW'07), then exact Hamming ≤ `maxHamming` verifies. Same
    * streamed band self-join shape as [[lshCandidatePairs]].
    *
    * Band width is THE scale parameter: buckets-per-band = 2^bitsPerBand
    * and the self-join emits ~N²/2^bitsPerBand candidate rows per band.
    * The default 4 × 15-bit bands over a 60-bit simhash (the width
    * [[simhashTokenHash]] actually carries) gives 32,768 buckets per
    * band — narrow 8-bit bands (256 buckets) are quadratic-at-scale.
    * Hamming verifies AFTER the equi-join, and a multi-band-agreeing
    * pair emits exactly once via the first-matching-band filter (a
    * codegen'd when-chain over the two signatures already on the join
    * row) — no trailing pair-distinct exchange; only the
    * maxBucket-capped path keeps the distinct (a cap can drop the
    * first-matching band's bucket while a later band survives).
    *
    * @param bits total simhash width; bands × bitsPerBand must cover
    *             it exactly or trailing bits silently leave the
    *             blocking (candidate recall changes with no error)
    */
  def simhashBandPairs(df: DataFrame, id: Column, simhash: Column,
                       bands: Int = 4, bitsPerBand: Int = 15,
                       maxHamming: Int = 3, bits: Int = 60,
                       maxBucket: Int = 0): DataFrame = {
    require(bands * bitsPerBand == bits,
      s"bands ($bands) * bitsPerBand ($bitsPerBand) must equal the " +
        s"simhash width ($bits); a shortfall silently drops the top " +
        "bits from every band key")
    val mask = (1L << bitsPerBand) - 1
    val keys = array((0 until bands).map(b =>
      shiftright(simhash, b * bitsPerBand).bitwiseAND(lit(mask))): _*)
    // explicit join-key repartition: one exchange feeds both self-join
    // branches (exchange reuse), so the simhash aggregation upstream is
    // computed and shuffled once in every plan — same rationale as
    // [[lshCandidatePairs]], including the optional maxBucket
    // hot-bucket cap (0 = unlimited; same census-window shape and
    // same route-oversize-buckets-to-a-cluster-rule tradeoff)
    val banded0 = df.select(id.as("__id"), simhash.as("__s"),
      posexplode(keys).as(Seq("__band", "__key")))
      .repartition(col("__band"), col("__key"))
    val banded =
      if (maxBucket <= 0) banded0
      else {
        import org.apache.spark.sql.expressions.Window
        banded0.withColumn("__bs", count(lit(1)).over(
            Window.partitionBy(col("__band"), col("__key"))))
          .filter(col("__bs") <= maxBucket)
          .drop("__bs")
      }
    val a = banded.select(col("__band"), col("__key"),
      col("__id").as("id_a"), col("__s").as("__sa"))
    val b = banded.select(col("__band"), col("__key"),
      col("__id").as("id_b"), col("__s").as("__sb"))
    val verified = a.join(b, Seq("__band", "__key"))
      .filter(col("id_a") < col("id_b"))
      // masked to `bits` like hammingDistance — the scaladoc's "same
      // single expression" claim: set bits ABOVE bits-1 (a 64-bit
      // signature under 60-bit bands) would inflate the distance and
      // silently reject true near-dups
      .withColumn("hamming",
        hammingDistance(col("__sa"), col("__sb"), bits))
      .filter(col("hamming") <= maxHamming)
    if (maxBucket <= 0)
      // emit-once without the trailing pair-distinct exchange
      // (round 17): a pair agreeing on several bands arrives once
      // per band, but BOTH full signatures ride the join row, so
      // "is this the first band the two signatures agree on?" is a
      // codegen'd when-chain — keep exactly that row. Only sound
      // uncapped: a maxBucket cut can drop the first-matching band's
      // bucket while a later band survives, so the capped path keeps
      // the distinct.
      verified.filter(col("__band") ===
          firstMatchingBand(col("__sa"), col("__sb"), bands,
            bitsPerBand))
        .select("id_a", "id_b", "hamming")
    else
      verified.select("id_a", "id_b", "hamming").distinct()
  }

  /** The smallest band index two signatures agree on (join rows
    * always have one) — the emit-once key of the banded self-joins:
    * a when-chain over the band extracts, pure integer codegen.
    */
  private def firstMatchingBand(sa: Column, sb: Column, bands: Int,
                                bitsPerBand: Int): Column = {
    val mask = (1L << bitsPerBand) - 1
    (0 until bands).foldRight(lit(bands): Column) { case (b, acc) =>
      when(shiftright(sa, b * bitsPerBand).bitwiseAND(lit(mask)) ===
        shiftright(sb, b * bitsPerBand).bitwiseAND(lit(mask)),
        lit(b)).otherwise(acc)
    }
  }

  /** CROSS-set banded Hamming pairs — [[simhashBandPairs]] between
    * two DIFFERENT signature sets sharing one hash space (the
    * cross-modal shape: image aHashes vs video keyframe hashes).
    * Every (left id, right id) ORDERED pair within `maxHamming`
    * emits, including equal ids (a doc's image duplicating its own
    * clip's keyframe IS the match being hunted); no self-join, so no
    * `id <` halving. Same banded blocking: candidates share a band
    * key, Hamming verifies in codegen.
    */
  def simhashBandPairsAcross(left: DataFrame, right: DataFrame,
                             id: Column, simhash: Column,
                             bands: Int, bitsPerBand: Int,
                             maxHamming: Int, bits: Int): DataFrame = {
    require(bands * bitsPerBand == bits,
      s"bands ($bands) * bitsPerBand ($bitsPerBand) must equal the " +
        s"simhash width ($bits)")
    val mask = (1L << bitsPerBand) - 1
    def banded(df: DataFrame, side: String) = {
      val keys = array((0 until bands).map(b =>
        shiftright(simhash, b * bitsPerBand).bitwiseAND(lit(mask))): _*)
      df.select(id.as(s"id_$side"), simhash.as(s"__s$side"),
        posexplode(keys).as(Seq("__band", "__key")))
    }
    banded(left, "a")
      .join(banded(right, "b"), Seq("__band", "__key"))
      // masked to `bits` like hammingDistance — the scaladoc's "same
      // single expression" claim: set bits ABOVE bits-1 (a 64-bit
      // signature under 60-bit bands) would inflate the distance and
      // silently reject true near-dups
      .withColumn("hamming",
        hammingDistance(col("__sa"), col("__sb"), bits))
      .filter(col("hamming") <= maxHamming)
      // emit-once via the first matching band (no cap parameter on
      // the cross shape, so always sound) — see simhashBandPairs
      .filter(col("__band") ===
        firstMatchingBand(col("__sa"), col("__sb"), bands, bitsPerBand))
      .select("id_a", "id_b", "hamming")
  }

  /** Word-mask Bloom filter of the `fp` values: one (word, mask) row
    * per non-zero 64-bit word of an `mBits`-bit filter, `k` universal
    * hashes per value ([[CountMin.bucket]]'s Carter–Wegman family —
    * literal constants, fully codegen'd, no UDF). The table is at
    * most mBits/64 rows regardless of input size, mergeable across
    * batches by `bit_or` over word, and broadcastable to every probe.
    */
  def bloomBits(df: DataFrame, fp: Column, mBits: Int, k: Int): DataFrame = {
    require(mBits >= 64 && (mBits & 63) == 0,
      s"mBits ($mBits) must be a positive multiple of 64 (word-packed)")
    df.select(PortableHash.md5PrefixLong(fp, 15).as("__it"))
      .select(col("__it"),
        explode(array((0 until k).map(lit): _*)).as("__seed"))
      .select(CountMin.bucket(col("__seed"), col("__it"), k, mBits)
        .as("__pos"))
      .groupBy(shiftright(col("__pos"), 6).as("__w"))
      .agg(bit_or(expr(
        "shiftleft(cast(1 as bigint), cast(pmod(__pos, 64) as int))"))
        .as("__mask"))
  }

  /** Exact `left_anti` on `fpCol`, accelerated by a Bloom prefilter —
    * the incremental-dedup shape at corpus scale: rows missing ANY of
    * the k filter bits are provably absent from `right` (no false
    * negatives — a member's bits are all set by construction) and skip
    * the join entirely; only the Bloom-positive sliver is verified by
    * the exact anti join, whose left input collapses to roughly the
    * true-duplicate rate + the filter's false-positive rate. At 100 TB
    * the filter is built once per history epoch and reused by every
    * arriving batch.
    *
    * The probe is ONE codegen'd predicate against the word mask folded
    * into a driver-side literal (the [[Similarity]] collectLitCents
    * discipline): [[bloomBits]] is ≤ mBits/64 rows BY CONSTRUCTION
    * (32 KiB at the default — a parameter bound, not a data bound), so
    * it collects into a dense long[] and each of the k bit tests is
    * element_at + shift + mask arithmetic inside WholeStageCodegen.
    * The previous shape — k probe joins against the word table — paid
    * three broadcast-join operators for a 32 KiB bitset (round-13
    * verdict item); a filter beats a join when the right side is a
    * constant. Above `litFoldMaxBits` the literal would bloat the plan
    * (and its task-serialized closures), so the fold refuses loudly —
    * a genuinely larger filter belongs in a rebroadcast structure, and
    * no in-repo caller is within 2^6 of the cap.
    *
    * CONTRACT: runs a bounded job (the ≤ mBits/64-row fold) at
    * DataFrame-CONSTRUCTION time, like the IVF literal fold — pass a
    * cheap/staged `right` or accept that its chain evaluates here and
    * again in the verify join.
    *
    * Result is EXACTLY `left.join(right, fpCol, "left_anti")` — false
    * positives are removed by the verify join, false negatives cannot
    * occur (a NULL fp hashes to NULL, probes indeterminate, and is
    * kept via the coalesce-to-false branch, matching the anti join's
    * null-never-equals semantics) — so the oracle for any query using
    * this is the plain anti join.
    */
  val litFoldMaxBits: Int = 1 << 24 // 2 MiB of literal words

  /** A folded Bloom filter TOGETHER with the parameters it was built
    * at: the probe's hash family must be the build's (the
    * no-false-negative contract), and a bare long[] cannot say what
    * mBits/k produced it — a caller folding at k = 2 and probing at
    * the default k = 3 would pass a length check and then silently
    * drop true members of `right` from the verify join. Carrying the
    * parameters with the words makes that mismatch unrepresentable:
    * [[bloomFilteredAnti]] probes with THESE values, always.
    */
  final case class BloomWords(words: Array[Long], mBits: Int, k: Int) {
    require(words.length == mBits / 64,
      s"word array (${words.length} words) does not match mBits/64 " +
        s"(${mBits / 64})")
  }

  /** The driver-side fold of [[bloomBits]] into a dense word array —
    * exposed so a caller can build the filter ONCE per history epoch
    * and hand it to every arriving batch's [[bloomFilteredAnti]] (the
    * production lifecycle; rebuilding per query pays a history pass
    * each time). Bounded at mBits/64 longs by construction.
    */
  def bloomFoldWords(right: DataFrame, fp: Column,
                     mBits: Int = 1 << 18, k: Int = 3): BloomWords = {
    require(mBits <= litFoldMaxBits,
      s"mBits ($mBits) above the literal-fold cap ($litFoldMaxBits): " +
        "a filter this size should be a rebuilt/rebroadcast structure, " +
        "not a plan literal")
    val words = new Array[Long](mBits / 64)
    bloomBits(right, fp, mBits, k).collect().foreach { r =>
      words(r.getLong(0).toInt) = r.getLong(1)
    }
    BloomWords(words, mBits, k)
  }

  /** See the contract block above. `mBits`/`k` configure the
    * SELF-BUILT filter only; a `prebuilt` filter probes at its OWN
    * build parameters (they travel inside [[BloomWords]]), so the two
    * can never disagree. NOTE the filter fold is a construction-time
    * SNAPSHOT of `right`: exactness holds because the verify anti
    * join reads the same file listing Spark captured when `right` was
    * constructed — hand a frame whose underlying data then mutates in
    * place (a re-written table path between construction and a later
    * re-execution) and BOTH legs are stale together, never split.
    * The epoch lifecycle refreshes filter and history frame as one
    * unit.
    */
  def bloomFilteredAnti(left: DataFrame, right: DataFrame, fpCol: String,
                        mBits: Int = 1 << 18, k: Int = 3,
                        prebuilt: Option[BloomWords] = None): DataFrame = {
    val bw = prebuilt.getOrElse(
      bloomFoldWords(right, col(fpCol), mBits, k))
    // ONE expression node (BloomWordProbe), not the ~500-node
    // declarative composition: the big predicate tree measurably
    // dominated PLANNING time (it re-plans per adaptive stage and the
    // optimizer walks it per pass) while the kernel's per-row work is
    // identical. Hash-family parity with bloomBits is the
    // no-false-negative contract: the consts are the very rowConsts
    // the build exploded over, and ExtSpec pins kernel == declarative
    // bucket arithmetic.
    val consts = CountMin.rowConsts(bw.k).flatMap { case (a, b) =>
      Seq(a, a * a % CountMin.P, a * a % CountMin.P * a % CountMin.P, b)
    }.toArray
    // coalesce to false: a NULL fp probes NULL, and the anti join's
    // null-never-equals semantics mean such a row is provably absent
    val mightContain = coalesce(
      org.apache.spark.sql.graft.HashColumns.bloom_word_probe(
        col(fpCol), bw.words, consts, bw.k, bw.mBits),
      lit(false))
    left.filter(!mightContain)
      .unionByName(
        left.filter(mightContain)
          .join(right.select(col(fpCol)).distinct(), Seq(fpCol),
            "left_anti"))
  }

  /** Benchmark decontamination: flag corpus documents sharing at
    * least `minShared` winnowing fingerprints with ANY document of
    * the evaluation set — the one-sided application of
    * [[winnowingFingerprints]] every serious training pipeline runs
    * before training (evaluation text inside the training set
    * invalidates the benchmark). The guarantee is inherited: a copied
    * span of `window + k − 1` chars CANNOT escape undetected;
    * `minShared` is calibrated above the corpus's ambient
    * phrase-collision floor (common short phrases legitimately shared
    * with the benchmark), which is what separates true contamination
    * from topical overlap.
    *
    * Returns one row per corpus doc long enough to fingerprint:
    * (doc_id, n_shared, keep). The benchmark side collapses to its
    * DISTINCT fingerprint set — typically small enough to broadcast —
    * so the corpus is scanned once and joined once at any scale.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, id: Column,
                    text: Column, k: Int = 16, window: Int = 8,
                    minShared: Int = 16, chunkChars: Int = 4096): DataFrame = {
    val c = winnowingFingerprints(corpus, id, text, k, window, chunkChars)
    val b = winnowingFingerprints(benchmark, id, text, k, window, chunkChars)
      .select("fp").distinct()
    val hits = c.join(b, "fp").groupBy("doc_id")
      .agg(count(lit(1)).as("__h"))
    c.select("doc_id").distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__h"), lit(0L)).as("n_shared"),
        (coalesce(col("__h"), lit(0L)) < minShared).as("keep"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every k-char gram of the text, then
    * keep the MINIMUM hash of each window of `window` consecutive
    * grams. Any substring shared by two documents of length
    * ≥ window + k − 1 contains one full gram window inside the shared
    * region; that window's min hash is a pure function of the shared
    * bytes, so both documents keep an identical fingerprint —
    * guaranteed detection, unlike mod-p gram sampling (Manber '94)
    * which can miss a planted span entirely.
    *
    * Shape (scales where the classic per-string loop does not):
    * documents are cut into chunks of `chunkChars` window-start
    * positions with `window + k − 2` characters of lookahead overlap,
    * so every window is computed from exactly the bytes the unchunked
    * definition sees (truncated windows only ever occur at the true
    * end of a document) — a book-length outlier becomes many bounded
    * tasks instead of one straggler. Each chunk row runs ONE codegen'd
    * O(len) rolling-hash kernel call ([[org.apache.spark.sql.graft.WinnowKernel]]:
    * double 31-bit polynomial hash, monotonic-deque sliding min) — no
    * per-gram rows, no md5, and no per-document window shuffle; the
    * only exchange is the final fingerprint `distinct`. Fingerprint
    * density is ~2/(window+1) per gram, so the downstream postings
    * join sees a ~window/2-fold smaller table than raw grams would.
    */
  def winnowingFingerprints(df: DataFrame, id: Column, text: Column,
                            k: Int = 16, window: Int = 8,
                            chunkChars: Int = 4096): DataFrame =
    winnowingFingerprintsRaw(df, id, text, k, window, chunkChars)
      .distinct()
    // (round 20: the substringDupPairs complete-pass spread was A/B'd
    // HERE too — keyed (doc_id, fp) repartition before the distinct —
    // and LOST, dedup_decontaminate 0.600 → 0.751: decontaminate's
    // benchmark side re-distincts on fp right above, so the extra
    // exchange is pure overhead. Left as the partial-agg shape.)

  /** [[winnowingFingerprints]] WITHOUT the global per-(doc, fp)
    * distinct exchange: the kernel already dedups within each chunk,
    * so the only residual duplicates are the same fingerprint selected
    * in two different 4096-start chunks of one long document. A
    * consumer whose next step is set-semantic anyway (the postings
    * `bounded_collect_set` in [[substringDupPairs]]) reads THIS and
    * saves a full corpus exchange; a consumer that counts (doc, fp)
    * rows ([[decontaminate]]) must take the distinct form.
    */
  def winnowingFingerprintsRaw(df: DataFrame, id: Column, text: Column,
                               k: Int = 16, window: Int = 8,
                               chunkChars: Int = 4096): DataFrame = {
    // NOT spread (unlike editDistancePairs): the rolling-hash kernel
    // is O(len) with ~10 integer ops per char — measured, a spread
    // exchange here cost more than the single-task map it parallelized
    // (dedup_decontaminate 0.17 → 0.41 s) while dedup_substring's
    // aggregation-bound chain gained ~nothing. RE-CONFIRMED round 19
    // on single-row-group inputs: substring 0.95 → 0.97, decontaminate
    // 0.69 → 1.16 — the keyless repartition's local sort + full-text
    // shuffle outweighs the one-task kernel at any measured scale.
    require(chunkChars >= 1, "chunkChars must be positive")
    val overlap = window + k - 2
    // (round 19, third A/B: a KEYED doc_id spread — no sort-before-
    // repartition — still lost, substring 0.99 → 1.04: the full-text
    // shuffle itself outweighs the one-task kernel. Left unspread.)
    df.filter(length(text) >= k) // no gram fits a shorter doc
      .select(id.as("doc_id"), text.as("__t"))
      // chunk i owns window starts i*chunkChars+1 .. min((i+1)*chunkChars, G)
      // where G = length - k + 1; last chunk index = (G-1) div chunkChars
      .select(col("doc_id"), col("__t"),
        expr(s"explode(sequence(0, (length(__t) - $k) div $chunkChars))")
          .as("__ci"))
      .select(col("doc_id"),
        expr(s"substring(__t, __ci * $chunkChars + 1, " +
          s"${chunkChars + overlap})").as("__chunk"),
        least(lit(chunkChars), length(col("__t")) - lit(k - 1) -
          col("__ci") * chunkChars).cast("int").as("__ns"))
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.WinnowColumns
          .winnow_mins(col("__chunk"), col("__ns"), k, window)).as("fp"))
  }

  /** Floor a compute-heavy NARROW stage at cluster parallelism:
    * repartition ONLY when the input's planned partition count is
    * below the session's default parallelism. This is the
    * unsplittable-input guard — a single-row-group parquet file or a
    * gzip member plans as ONE split, which serializes the whole
    * kernel pass (winnowing, per-pair edit distance) through one
    * task no matter how many cores the cluster has. At corpus scale
    * a scan already carries thousands of splits and this is the
    * identity — no exchange is added. Wide keyed variant: pass the
    * keys so the spread doubles as the join-side partitioning.
    *
    * Scan-rooted inputs only, ENFORCED by plan shape: the partition
    * probe goes through `df.rdd`, which on an exchange-bearing
    * adaptive plan finalizes — i.e. EXECUTES — the upstream query
    * stages at construction time. Any logical node that can plan an
    * exchange (join, aggregate, window, repartition, limit…) makes
    * this return the input untouched WITHOUT probing, so a caller
    * handing [[editDistancePairs]] a derived frame gets correct,
    * merely unspread, behavior — never surprise execution.
    */
  private[graft] def spreadNarrow(df: DataFrame, keys: Seq[Column] = Nil,
                                  cap: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val scanRooted = df.queryExecution.logical.collectFirst {
      case p if !p.isInstanceOf[Project] && !p.isInstanceOf[Filter] &&
        !p.isInstanceOf[SubqueryAlias] && !p.isInstanceOf[LeafNode] => p
    }.isEmpty
    if (!scanRooted) return df
    val have = df.rdd.getNumPartitions
    // `cap` bounds the spread BELOW full parallelism (round 19): a
    // spread frame that gets checkpointed and then read by many
    // small consumer stages taxes each of them with one task launch
    // per partition — a bounded spread keeps most of the kernel
    // parallelism while consumers stay near their single-digit task
    // floor. Still scale-adaptive: a real multi-split input at scale
    // makes this the identity.
    val want = math.min(cap,
      df.sparkSession.sparkContext.defaultParallelism)
    // within 2x of full parallelism: leave the scan alone (an
    // exchange costs more than the imbalance it fixes)
    if (have * 2 >= want) df
    else if (keys.isEmpty) df.repartition(want)
    else df.repartition(want, keys: _*)
  }

  /** Substring-level duplicate pairs: documents sharing ≥ `minShared`
    * winnowing fingerprints — the exact-span family (boilerplate,
    * license headers, copied passages) that doc-level MinHash misses
    * when the surrounding text differs. Postings lists longer than
    * `maxDf` are dropped before the self-join, the same
    * quadratic-stopword guard as [[jaccardPairs]]: a fingerprint
    * present in thousands of docs is corpus boilerplate, and its
    * posting list alone would emit |list|² pair rows.
    */
  def substringDupPairs(df: DataFrame, id: Column, text: Column,
                        k: Int = 16, window: Int = 8, minShared: Int = 3,
                        maxDf: Int = 64, chunkChars: Int = 4096): DataFrame = {
    // Inverted-index shape, same as [[jaccardPairs]]: ONE pass builds
    // a per-fingerprint postings list, the df-cap drops boilerplate
    // lists, and the (a < b) pairs expand in-row from the sorted list
    // (output-proportional, bounded by C(maxDf, 2) per list). A
    // self-join formulation instead recomputes the md5 + windowed-min
    // pass once per join branch — broadcast self-joins don't reuse the
    // fingerprint exchange.
    // RAW fingerprints: the postings aggregation below is a SET, so
    // the rare cross-chunk duplicate collapses there and the global
    // per-(doc, fp) distinct exchange never needs to run
    val fps0 = winnowingFingerprintsRaw(df, id, text, k, window, chunkChars)
    // Round 20: on a SINGLE-split input the postings aggregation's
    // partial pass — a hash map over every fingerprint of the corpus
    // — serializes on the scan task (the explode/kernel above it is
    // the cheap part; four spread shapes over the TEXT lost across
    // rounds 15-19). Keying the post-explode (doc_id, fp) stream —
    // 16 bytes/row — by fp instead lets the aggregation plan in ONE
    // complete pass on the exchange's 32 tasks (A/B: 0.907 → 0.780;
    // the doc_id-keyed spread that KEPT the partial pass measured
    // 0.958 — two 3M-row exchanges lose to one). Gated on the input
    // actually planning as one task: on a real multi-split corpus
    // this is the identity and the partial pass — the hot-key/
    // boilerplate-fp shuffle guard (each mapper ships ≤ maxDf+1 doc
    // ids per fp, guide §2.5) — stays in place. The probe is safe
    // here: fps0 is generate-over-scan, no exchange to execute.
    val fps = {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (fps0.rdd.getNumPartitions * 2 >= p) fps0
      else fps0.repartition(col("fp"))
    }
    val postings = fps.groupBy("fp")
      // the bounded SET dedups any residual (doc, fp) duplicate —
      // same lists as the distinct form — and the df cap holds
      // INSIDE the aggregation
      // buffer (O(maxDf) task memory even for a boilerplate
      // fingerprint present in millions of docs; the size filter then
      // drops exactly the same lists a full collect would, see
      // BoundedCollectSet's scaladoc). Sorted so i < j ⇒
      // doc_a < doc_b in the expansion below.
      .agg(sort_array(org.apache.spark.sql.graft.AggColumns
        .bounded_collect_set(col("doc_id"), maxDf + 1)).as("__ids"))
      .filter(size(col("__ids")).between(2, maxDf))
    postings
      .select(orderedPairs(col("__ids"), "doc_a", "doc_b").as("__p"))
      .select(col("__p.doc_a"), col("__p.doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
