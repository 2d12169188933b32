package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.ext._

/** Unit tests for the training-data-pipeline operators (dedup,
  * similarity, text analysis, event windows, multimodal) on tiny
  * literal frames with hand-computed expectations.
  */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // -- Dedup -----------------------------------------------------------

  test("exact dedup groups identical keys, canonical = min id") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
    val got = DedupOps.exact(df, $"k", $"id")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("a", 1L, 2L), ("b", 2L, 1L)))
  }

  test("jaccard uses set semantics") {
    val df = Seq((Seq("a", "b", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val got = df.select(DedupOps.jaccard($"x", $"y")).as[Double].collect().head
    assert(got === 2.0 / 4.0) // {b,c} over {a,b,c,d}
    // two empty shingle sets: identical (1.0), not an ANSI 0/0 crash
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("x", "y")
      .select(DedupOps.jaccard($"x", $"y")).as[Double].collect().head
    assert(empty === 1.0)
  }

  test("containmentPairs catches a full quote that Jaccard misses, " +
    "in both directions, blocked") {
    // doc 2 is a verbatim quote of doc 1's opening: its whole bigram
    // set sits inside doc 1's, so cont(2→1) = 1.0 while the Jaccard
    // is 3/12 = 0.25; doc 3 is unrelated; doc 4 is doc 2 in another
    // block (never pairs across blocks)
    val long = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu"
    val docs = Seq(
      (1L, "en", long), (2L, "en", "alpha beta gamma delta"),
      (3L, "en", "zzz yyy xxx www"), (4L, "fr", "alpha beta gamma delta"))
      .toDF("doc_id", "lang", "text")
    val got = DedupOps.containmentPairs(docs, Seq("lang"),
        $"doc_id", TextAnalysis.shingleHashes($"text", 2),
        threshold = 0.5, maxDf = 64)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 3.0 / 12.0, 1.0)))
    // the same pair is invisible to jaccardPairs at the same bar
    val jac = DedupOps.jaccardPairs(docs, Seq("lang"),
        $"doc_id", TextAnalysis.shingleHashes($"text", 2),
        threshold = 0.5, maxDf = 64)
      .as[(Long, Long, Double)].collect().toSeq
    assert(jac.isEmpty)
    // maxDf = 0 is lshCandidatePairs' "unlimited" convention, NOT
    // this family's — here it would silently drop every posting list
    // and emit zero pairs; it must fail at construction instead
    val e = intercept[IllegalArgumentException] {
      DedupOps.jaccardPairs(docs, Seq("lang"), $"doc_id",
        TextAnalysis.shingleHashes($"text", 2),
        threshold = 0.5, maxDf = 0)
    }
    assert(e.getMessage.contains("maxDf"))
  }

  test("connectedComponents handles string ids through the local " +
    "endgame") {
    val nodes = Seq("a", "b", "c", "z").toDF("id")
    val pairs = Seq(("b", "a"), ("b", "c")).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(nodes, pairs)
      .as[(String, String)].collect().toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"))
  }

  test("gopherRules: each rule bit fires on its crafted violation " +
      "and a clean doc keeps") {
    import spark.implicits._
    val okWords = "the quick brown fox and dog ran over it " * 4 // 36 w
    val docs = Seq(
      1L -> okWords,                                // clean → keep
      2L -> "the of and it is",                     // too short → bit 0
      3L -> ("xx " * 30 + "the of extraordinarily" +
        "longtokenthatbreaksmeanlength" * 4),       // still short words OK
      4L -> (Seq.fill(30)("the of is it").mkString(" ") +
        " ####################################"),   // symbols vs 121 words
      5L -> ("the of " + "9 8 7 6 5 4 3 2 1 0 " * 3), // digits → alpha bit
      6L -> ("zebra yak xun walrus vole urchin tapir snail rhino quail " * 3)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, $"doc_id", $"text",
        minWords = 10, maxWords = 1000)
      .select($"doc_id", $"fail_mask", $"keep")
      .as[(Long, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((0, true)))
    assert((out(2L)._1 & 1) === 1 && !out(2L)._2)      // word count
    assert((out(4L)._1 & 4) === 4 && !out(4L)._2)      // symbol ratio
    assert((out(5L)._1 & 8) === 8 && !out(5L)._2)      // alpha fraction
    assert((out(6L)._1 & 16) === 16 && !out(6L)._2)    // stopwords < 2
    // mean word length: one doc of 1-char tokens fails low bound
    val short = Seq(7L -> ("a b " * 10 + "the of")).toDF("doc_id", "text")
    val m7 = TextAnalysis.gopherRules(short, $"doc_id", $"text",
      minWords = 5, maxWords = 1000)
      .select($"fail_mask").as[Int].head()
    assert((m7 & 2) === 2)
  }

  test("canonicalizeUrl: default ports per scheme, root path, " +
      "tracking-only query, fragment, param sort") {
    import spark.implicits._
    val cases = Seq(
      "HTTPS://Ex.COM:443/" -> "https://ex.com/",
      "https://ex.com:8443/" -> "https://ex.com:8443/",   // non-default kept
      "http://ex.com" -> "http://ex.com/",                // empty path → root
      "http://ex.com/?utm_source=a&utm_medium=b" -> "http://ex.com/",
      "http://ex.com/p?b=2&a=1#frag" -> "http://ex.com/p?a=1&b=2",
      "http://ex.com:443/p" -> "http://ex.com:443/p",     // 443 on http kept
      "http://ex.com/p///" -> "http://ex.com/p")
    val got = cases.map(_._1).toDF("url")
      .select(TextAnalysis.canonicalizeUrl($"url")).as[String].collect()
    assert(got.toSeq === cases.map(_._2))
  }

  test("VideoHeader: v0/v1 mvhd, largesize moov, trak count; text " +
      "never misparses") {
    import graft.ext.VideoHeader
    def hex(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    val ftyp = "00000010 66747970 69736F6D 00000000"
    // v0 mvhd (108 B), timescale 600, duration 1234, two empty traks
    val mvhd0 = "0000006C 6D766864 00000000 00000000 00000000" +
      " 00000258 000004D2" + "00" * 80
    val v0 = hex(ftyp + f"${8 + 108 + 16}%08X" + "6D6F6F76" + mvhd0 +
      "00000008 7472616B" + "00000008 7472616B")
    assert(VideoHeader.parseMp4(v0) ===
      Some(VideoHeader.Mp4Header(2, 600L, 1234L)))
    // v1 mvhd (120 B): 64-bit ctime/mtime/duration, timescale at +28
    val mvhd1 = "00000078 6D766864 01000000" +
      "0000000000000000 0000000000000000" +        // ctime, mtime (64)
      "00000258" + "00000000000004D2" + "00" * 80  // ts, duration (64)
    val v1 = hex(ftyp + f"${8 + 120}%08X" + "6D6F6F76" + mvhd1)
    assert(VideoHeader.parseMp4(v1) ===
      Some(VideoHeader.Mp4Header(0, 600L, 1234L)))
    // largesize moov (size==1 + 64-bit size, 16-byte header)
    val vL = hex(ftyp + "00000001" + "6D6F6F76" +
      f"${16 + 108}%016X" + mvhd0)
    assert(VideoHeader.parseMp4(vL) ===
      Some(VideoHeader.Mp4Header(0, 600L, 1234L)))
    // printable text: BE32 "size" >= 0x20202020 fails the ftyp bound
    assert(VideoHeader.parseMp4(
      "this is definitely not an mp4 container at all ...."
        .getBytes("UTF-8")) === None)
    // truncated moov: walk must fail closed, not read past the buffer
    assert(VideoHeader.parseMp4(v0.dropRight(10)) === None)
  }

  test("decodeVideo clamps an adversarial near-2^63 mvhd duration — " +
      "derived fields stay non-negative") {
    def hex(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    val ftyp = "00000010 66747970 69736F6D 00000000"
    // v1 mvhd, timescale 600, duration 2^63 − 1: ticks·1000 would wrap
    // negative without the clamp
    val mvhd1 = "00000078 6D766864 01000000" +
      "0000000000000000 0000000000000000" +
      "00000258" + "7FFFFFFFFFFFFFFF" + "00" * 80
    val blob = hex(ftyp + f"${8 + 120}%08X" + "6D6F6F76" + mvhd1)
    val row = graft.ext.Multimodal
      .decodeVideo(Seq((1L, blob)).toDF("doc_id", "blob"))
      .collect().head
    assert(row.format === "mp4")
    assert(row.duration_ticks === Long.MaxValue)
    assert(row.duration_ms >= 0L,
      s"duration_ms wrapped negative: ${row.duration_ms}")
    assert(row.n_sampled_1hz >= 0L)
  }

  test("Stages: build-once, fingerprint swap, evict-rebuild, and " +
      "checkpoint-backed results") {
    import graft.ext.Stages
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(tag: String) = {
      builds.incrementAndGet()
      Seq((1L, tag), (2L, tag)).toDF("id", "tag")
    }
    val name = s"extspec-stage-${System.nanoTime()}"
    val a = Stages.stage(spark, name, fingerprint = 1L)(build("v1"))
    val b = Stages.stage(spark, name, fingerprint = 1L)(build("v1"))
    assert(builds.get() === 1, "same fingerprint must not rebuild")
    // the cached frame is materialized: its plan scans the checkpoint,
    // not the original lineage (consumers can't replan the build)
    assert(a.queryExecution.optimizedPlan.toString
      .contains("LogicalRDD"), "stage result not checkpoint-backed")
    assert(b.as[(Long, String)].collect().toSet ===
      Set(1L -> "v1", 2L -> "v1"))
    // changed fingerprint: atomically swaps in the rebuilt frame
    val c = Stages.stage(spark, name, fingerprint = 2L)(build("v2"))
    assert(builds.get() === 2, "fingerprint change must rebuild")
    assert(c.as[(Long, String)].collect().toSet ===
      Set(1L -> "v2", 2L -> "v2"))
    // evict: next call rebuilds even at the same fingerprint
    Stages.evict(spark, name)
    Stages.stage(spark, name, fingerprint = 2L)(build("v3"))
    assert(builds.get() === 3, "evict must force a rebuild")
    Stages.evict(spark, name)
  }

  test("shingleHashes: the fused kernel matches the declarative " +
      "array_distinct(shingles) -> md5PrefixLong composition on " +
      "whitespace edge cases, unicode, and random text") {
    import graft.ext.{PortableHash, TextAnalysis}
    val rnd = new scala.util.Random(17)
    val alphabet = "ab é日\t\n\f\r  _x9"
    val crafted = Seq("", " ", "  ", "\t", "\ta b", "a", "a b",
      "a  b", " a b ", "a\tb\nc", "a b a b a b", "_ _", "é 日 é",
      "xy\fz\rw", "a_b c_d")
    val fuzz = (1 to 60).map(_ => (1 to rnd.nextInt(40))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (k <- Seq(1, 2, 3); hexLen <- Seq(8, 15)) {
      val df = (crafted ++ fuzz).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val ref = df.select($"id", array_distinct(transform(
          TextAnalysis.shingles($"t", k),
          s => PortableHash.md5PrefixLongBuiltin(s, hexLen))).as("h"))
        .as[(Long, Seq[Long])].collect().toMap
      val got = df.select($"id",
          TextAnalysis.shingleHashes($"t", k, hexLen).as("h"))
        .as[(Long, Seq[Long])].collect().toMap
      // first-occurrence order must match too (array_distinct keeps
      // first occurrence; so does the kernel)
      assert(got === ref, s"mismatch at k=$k hexLen=$hexLen")
    }
  }

  test("bounded_collect_set: cap-and-drop matches the unbounded " +
      "collect_set exactly, across partial-aggregated partitions and " +
      "duplicate deliveries") {
    import org.apache.spark.sql.graft.AggColumns
    // distinct counts 1..30 straddling the cap; duplicate rows mixed
    // in (set semantics must dedupe them before the cap counts)
    val rows = for {
      k <- 0 until 30
      i <- 0 until (k + 1)
      _ <- 0 to (i % 2)
    } yield (k, (i % (k + 1)).toLong)
    val df = rows.toDF("k", "v").repartition(7)
    val limit = 5
    def collectPairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toSet
    val bounded = collectPairs(df.groupBy("k")
      .agg(sort_array(AggColumns.bounded_collect_set(col("v"), limit + 1))
        .as("s"))
      .filter(size(col("s")) <= limit))
    val ref = collectPairs(df.groupBy("k")
      .agg(sort_array(collect_set(col("v"))).as("s"))
      .filter(size(col("s")) <= limit))
    assert(bounded === ref)
    assert(bounded.nonEmpty && bounded.size === limit,
      s"expected exactly $limit kept groups (distinct counts 1..$limit)")
    // binary payloads take the UnsafeArrayData buffer path: value
    // equality (not reference) must dedupe equal byte arrays
    val bin = Seq((1, Array[Byte](1, 2)), (1, Array[Byte](1, 2)),
      (1, Array[Byte](3)), (2, Array[Byte](9)))
      .toDF("k", "v")
    val got = bin.groupBy("k")
      .agg(size(AggColumns.bounded_collect_set(col("v"), 10)).as("n"))
      .as[(Int, Int)].collect().toMap
    assert(got === Map(1 -> 2, 2 -> 1))
  }

  test("bounded aggregator merge-path properties under random data " +
      "and partitionings: BoundedCollectSet size = min(distinct, " +
      "maxSize), TopK = sort-take oracle, MG sketch guarantees") {
    import org.apache.spark.sql.graft.AggColumns
    import graft.ext.FreqItems
    // deterministic pseudo-random stream with heavy duplication —
    // repartition counts 1/3/7 exercise the MERGE paths (map-side
    // partials folding in different orders), which the literal-frame
    // tests never vary
    val rnd = new scala.util.Random(20260816)
    val rows = Seq.fill(600)((rnd.nextInt(12), rnd.nextInt(40).toLong))
    val exact = rows.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).toSet }
    for (parts <- Seq(1, 3, 7); maxSize <- Seq(1, 5, 64)) {
      val df = rows.toDF("k", "v").repartition(parts)
      val got = df.groupBy("k")
        .agg(AggColumns.bounded_collect_set(col("v"), maxSize).as("s"))
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toMap
      exact.foreach { case (k, vs) =>
        val s = got(k)
        assert(s.length === math.min(vs.size, maxSize),
          s"parts=$parts maxSize=$maxSize k=$k")
        assert(s.toSet.subsetOf(vs), "collected a value never seen")
        if (vs.size < maxSize)
          assert(s.toSet === vs,
            "an under-cap group must carry its COMPLETE distinct set")
      }
    }
    // TopKAggregator: result row-identical to the in-memory
    // (score DESC, id ASC) sort-take for every partitioning
    val scored = Seq.fill(400)(
      (rnd.nextInt(6), rnd.nextInt(50) / 7.0, rnd.nextLong() & 0xffffL))
    val oracle = scored.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(v => (v._2, v._3)).distinct
        .sortBy { case (s, id) => (-s, id) }.take(3) }
    for (parts <- Seq(1, 3, 7)) {
      val df = scored.toDF("k", "score", "id").distinct()
        .repartition(parts)
      val got = df.groupBy("k")
        .agg(graft.ops.TopKAggregator.topK(3)(col("score"), col("id"))
          .as("top"))
        .collect().map(r => (r.getInt(0),
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getDouble(0), x.getLong(1))))).toMap
      oracle.foreach { case (k, want) =>
        assert(got(k) === want, s"parts=$parts k=$k")
      }
    }
    // Misra–Gries: the textbook guarantees must hold on EVERY
    // execution (est <= exact, undercount <= n/(cap+1), every heavy
    // hitter present) — random merge orders cannot break theorems
    val stream = Seq.fill(500)(s"w${(rnd.nextGaussian().abs * 4).toInt}")
    val exactCounts = stream.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val n = stream.size
    val cap = 6
    for (parts <- Seq(1, 3, 7)) {
      val sk = stream.toDF("item").repartition(parts)
        .agg(FreqItems.sketch(cap)(col("item")).as("sk"))
        .collect()(0).getMap[String, Long](0)
      assert(sk.size <= cap)
      sk.foreach { case (item, est) =>
        val ex = exactCounts(item)
        assert(est <= ex, s"MG must never over-count ($item)")
        assert((ex - est) * (cap + 1) <= n,
          s"undercount bound violated ($item: $est vs $ex)")
      }
      exactCounts.foreach { case (item, ex) =>
        if (ex * (cap + 1) > n)
          assert(sk.contains(item),
            s"heavy hitter $item (n=$ex) missing at parts=$parts")
      }
    }
  }

  test("simhashBandPairs under a pathologically hot band bucket: " +
      "exact vs a brute-force reference, and maxBucket bounds the " +
      "expansion") {
    import graft.ext.DedupOps
    // 60 of 100 docs share band 0's key (low 15 bits all = 7) with
    // random high bits — one bucket holds >50% of the corpus, the
    // skew shape a boilerplate flood produces. 3 planted near-dups.
    val rnd = new scala.util.Random(13)
    val mask60 = (1L << 60) - 1
    val hot = (1L to 60L).map(i =>
      i -> (((rnd.nextLong() & mask60) & ~32767L) | 7L))
    val cold = (61L to 100L).map(i => i -> (rnd.nextLong() & mask60))
    val planted = Seq(200L -> (hot.head._2 ^ 1L),
      201L -> (cold.head._2 ^ (1L << 20)))
    val docs = hot ++ cold ++ planted
    def bandKeys(s: Long): Seq[Long] =
      (0 until 4).map(b => (s >>> (b * 15)) & 32767L)
    def hamming(a: Long, b: Long): Int =
      java.lang.Long.bitCount((a ^ b) & mask60)
    val want = (for {
      (ia, sa) <- docs; (ib, sb) <- docs
      if ia < ib
      if bandKeys(sa).zip(bandKeys(sb)).exists(p => p._1 == p._2)
      if hamming(sa, sb) <= 3
    } yield (ia, ib, hamming(sa, sb))).toSet
    assert(want.nonEmpty && want.size >= 2)
    val df = docs.toDF("doc_id", "simhash")
    val got = DedupOps.simhashBandPairs(df, $"doc_id", $"simhash",
        bands = 4, bitsPerBand = 15, maxHamming = 3, bits = 60)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === want, "hot-bucket candidate set must stay exact")
    // the cap drops only pairs whose EVERY shared band bucket is
    // oversize: here the hot bucket (61 members) is the only
    // oversize one, so pairs relying on it alone disappear
    val capped = DedupOps.simhashBandPairs(df, $"doc_id", $"simhash",
        bands = 4, bitsPerBand = 15, maxHamming = 3, bits = 60,
        maxBucket = 32)
      .as[(Long, Long, Int)].collect().toSet
    val hotIds = (hot.map(_._1) :+ 200L).toSet
    val hotOnly = want.filter { case (a, b, _) =>
      hotIds(a) && hotIds(b) &&
        bandKeys(docs.toMap.apply(a)).zip(bandKeys(docs.toMap.apply(b)))
          .zipWithIndex.forall { case ((x, y), bi) =>
            x != y || bi == 0 } }
    assert(capped === want -- hotOnly,
      "cap must drop exactly the pairs carried only by the hot bucket")
  }

  test("lshCandidatePairs under a boilerplate flood: all-identical " +
      "docs stay exact, and maxBucket removes only the flood's pairs") {
    import graft.ext.{DedupOps, TextAnalysis}
    // 30 byte-identical docs (every band bucket shared) + 20 distinct
    val flood = (1L to 30L).map(i => i -> "alpha beta gamma delta epsilon")
    val rest = (31L to 50L).map(i =>
      i -> s"unique${i} words${i} here${i} text${i} body${i}")
    val df = (flood ++ rest).toDF("doc_id", "text")
    val got = DedupOps.lshCandidatePairs(df, $"doc_id",
        TextAnalysis.shingles($"text", 2))
      .as[(Long, Long)].collect().toSet
    val floodPairs = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L } yield (a, b)).toSet
    assert(floodPairs.subsetOf(got),
      "every identical-doc pair must be a candidate")
    assert(got.forall { case (a, b) => a <= 30L == (b <= 30L) },
      "no candidate pair may straddle the flood and the distinct docs")
    val capped = DedupOps.lshCandidatePairs(df, $"doc_id",
        TextAnalysis.shingles($"text", 2), maxBucket = 16)
      .as[(Long, Long)].collect().toSet
    assert(capped === got -- floodPairs,
      "cap must remove exactly the flood's quadratic pair set")
  }

  test("semanticDedup keeps min-id per similar pair within a cluster " +
      "and is non-transitive by design") {
    // two obvious blobs on orthogonal axes; ids 1,2,3 near +x (1~2,
    // 2~3 similar at the threshold but 1!~3), ids 10,11 near +y
    val v = Seq(
      1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      2L -> Seq(0.9f, 0.44f, 0.0f, 0.0f),
      3L -> Seq(0.6f, 0.8f, 0.0f, 0.0f),
      10L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      11L -> Seq(0.0f, 0.0f, 1.0f, 0.01f)
    ).toDF("id", "vec")
    // k=2 seeds at ids 1,2 — one Lloyd step lands 1,2,3 in one
    // cluster, 10,11 in the other (cos(1,3)=0.6 < cos thresholds
    // inside the cluster pairs)
    val got = Similarity.semanticDedup(v, $"id", $"vec", k = 2,
      iters = 2, threshold = 0.9)
      .as[(Long, Long)].collect().map(_._1).toSet
    // cos(1,2)≈0.898? — compute: dot=0.9, |b|=sqrt(0.81+0.1936)=1.0018 →
    // 0.898 < 0.9 keeps 2; cos(2,3)=0.54+0.352=0.892/(1.0018*1.0)=0.89
    // — thresholds chosen so only 10~11 (cos≈1.0) dedups: 11 dropped
    assert(got === Set(1L, 2L, 3L, 10L))
    // tighter threshold: 1~2 (0.898) and 2~3 (0.89) now similar but
    // 1~3 (0.6+0.0=0.6... cos(1,3)=0.6) is not: 2 drops (neighbor 1),
    // 3 drops (neighbor 2) — BOTH non-minimal chain members go
    val got2 = Similarity.semanticDedup(v, $"id", $"vec", k = 2,
      iters = 2, threshold = 0.85)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(got2 === Set(1L, 10L))
  }

  test("spanDedup keeps each span's global first occurrence and " +
      "reassembles surviving text; a fully-duplicated doc dies") {
    val w = 2 // 2-token spans
    val docs = Seq(
      (1L, "a b c d"),        // spans: "a b", "c d"
      (2L, "c d e f"),        // "c d" repeats doc 1 → keeps "e f"
      (3L, "a b c d"),        // both spans repeat → doc dies
      (4L, "x")               // short doc, one 1-token span
    ).toDF("doc_id", "text")
    val got = TextAnalysis.spanDedup(docs, $"doc_id", $"text", window = w)
      .as[(Long, Long, Long, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((2L, 2L, Some("a b c d"))))
    assert(got(2L) === ((2L, 1L, Some("e f"))))
    assert(got(3L) === ((2L, 0L, None)))
    assert(got(4L) === ((1L, 1L, Some("x"))))
  }

  test("lineDedup drops EVERY copy of a line in >= maxDf docs " +
      "(unlike spanDedup's keep-one-owner), preserves order, and a " +
      "fully-boilerplate doc survives as an empty row") {
    val docs = Seq(
      (1L, "hdr\nbody one\nftr"),   // hdr+ftr boilerplate → "body one"
      (2L, "hdr\nbody two\nftr"),
      (3L, "hdr\nftr"),             // all boilerplate → empty, kept
      (4L, "hdr\nunique a\nunique b"), // order of survivors preserved
      (5L, "solo\nsolo")            // same line TWICE in ONE doc:
                                    // df counts distinct docs (1), kept
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lineDedup(docs, $"doc_id", $"text",
        delim = "\n", maxDf = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // df: hdr=4, ftr=3 (dropped at maxDf=3); everything else < 3
    assert(got(1L) === (("body one", 3L, 1L)))
    assert(got(2L) === (("body two", 3L, 1L)))
    assert(got(3L) === (("", 2L, 0L)))
    assert(got(4L) === (("unique a\nunique b", 3L, 2L)))
    assert(got(5L) === (("solo\nsolo", 2L, 2L)))
  }

  test("tokenEntropy: zero for a constant doc, exactly qlog8(N) for " +
      "an all-distinct doc, and the integer plug-in estimator " +
      "between") {
    val docs = Seq(
      (1L, "a a a a"),      // one token: entropy 0
      (2L, "a b c d"),      // uniform distinct: qlog8(4) = 16 (2 bits)
      (3L, "a a b b b x")   // (1/3, 1/2, 1/6): true H = 11.67 q8
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs, $"doc_id", $"text")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((4L, 1L, 0L)))
    assert(got(2L) === ((4L, 4L, 16L)))
    // qlog8(6)=20, sum = 2·qlog8(2) + 3·qlog8(3) = 16+36 = 52,
    // 52 div 6 = 8 → 20 − 8 = 12
    assert(got(3L) === ((6L, 3L, 12L)))
  }

  test("qlog8 is exact at powers of two and tracks 8*log2 within an " +
      "eighth-bit everywhere") {
    val xs = (1L to 4096L) ++ Seq(1L << 40, (1L << 40) + 12345L,
      Long.MaxValue / 2)
    val got = xs.toDF("x")
      .select($"x", TextAnalysis.qlog8($"x").as("q"))
      .as[(Long, Long)].collect()
    for ((x, q) <- got) {
      val exact = 8.0 * math.log(x.toDouble) / math.log(2.0)
      if ((x & (x - 1)) == 0)
        assert(q === math.round(exact), s"x=$x power of two")
      // truncation to the top 4 bits + linear interpolation always
      // UNDER-estimates (log2(1+f) >= f); brute force over 1..1e6
      // puts the worst gap at ~1.68 eighth-bits (~0.21 bit), x just
      // under 12*2^k
      assert(q > exact - 1.7 && q <= exact + 1e-9, s"x=$x q=$q exact=$exact")
    }
  }

  test("nbQuality matches a straight-line Naive Bayes in eighth-bits " +
      "on a hand-labeled corpus") {
    def qref(x: Long): Long = {
      val b = 63 - java.lang.Long.numberOfLeadingZeros(x)
      val m = if (b >= 3) x >> (b - 3) else x << (3 - b)
      8L * b + m - 8L
    }
    val corpus = Seq(
      (1L, "good good nice", true),
      (2L, "bad bad ugly", false),
      (3L, "good bad", true),
      (4L, "ugly nice good", false))
    // reference model
    val toks = corpus.flatMap { case (id, t, y) =>
      t.split("\\s+").map(w => (id, w, y)) }
    val cp = toks.filter(_._3).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cf = toks.filterNot(_._3).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val v = (cp.keySet ++ cf.keySet).size.toLong
    val (tp, tf) = (cp.values.sum, cf.values.sum)
    val (np_, nf) = (2L, 2L)
    val expect = corpus.map { case (id, t, y) =>
      val s = t.split("\\s+").map { w =>
        qref(cp.getOrElse(w, 0L) + 1) - qref(cf.getOrElse(w, 0L) + 1) +
          (qref(tf + v) - qref(tp + v))
      }.sum + (qref(np_ + 1) - qref(nf + 1))
      (id, y, t.split("\\s+").length.toLong, s, s > 0)
    }.toSet
    val got = TextAnalysis.nbQuality(
      corpus.toDF("doc_id", "text", "y"), $"doc_id", $"text", $"y")
      .as[(Long, Boolean, Long, Long, Boolean)].collect().toSet
    assert(got === expect)
  }

  test("Bpe.train/encode match a straight-line reference BPE on the " +
      "classic corpus (merge order, tie-breaks, greedy re-encode)") {
    import graft.ext.Bpe
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val text = words.mkString(" ")
    // reference: the textbook algorithm on (symbol-list, count) pairs,
    // top pair by (count desc, delimited-pattern bytes asc), greedy
    // left-to-right merge
    var ref = words.groupBy(identity).map { case (w, g) =>
      (w.map(_.toString).toList, g.size.toLong) }.toList
    val expect = (1 to 6).map { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      ref.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + c) }
      val top = counts.toSeq.minBy { case ((l, r), n) =>
        (-n, s"|$l||$r|") }
      def mergeGreedy(s: List[String]): List[String] = s match {
        case a :: b :: rest if (a, b) == top._1 =>
          (a + b) :: mergeGreedy(rest)
        case a :: rest => a :: mergeGreedy(rest)
        case Nil => Nil
      }
      ref = ref.map { case (syms, c) => (mergeGreedy(syms), c) }
      (top._1._1, top._1._2, top._1._1 + top._1._2, top._2)
    }
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = Bpe.train(docs, $"text", k = 6, maxWords = 512)
    val got = merges.orderBy("rank")
      .as[(Int, String, String, String, Long)].collect()
      .map(r => (r._2, r._3, r._4, r._5)).toSeq
    assert(got === expect)
    // encode: the reference's final symbolization, joined by spaces
    val refEnc = words.distinct.map { w =>
      var syms = w.map(_.toString).toList
      expect.foreach { case (l, r, m, _) =>
        def g(s: List[String]): List[String] = s match {
          case a :: b :: rest if a == l && b == r => m :: g(rest)
          case a :: rest => a :: g(rest)
          case Nil => Nil
        }
        syms = g(syms)
      }
      w -> syms.map(s => s"|$s|").mkString
    }.toMap
    val enc = Bpe.encode(Seq((7L, "low lower newest"))
        .toDF("doc_id", "text"), $"doc_id", $"text", merges)
      .as[(Long, String, Long)].collect().head
    assert(enc._2 ===
      Seq("low", "lower", "newest").map(refEnc).mkString(" "))
    assert(enc._3 ===
      enc._2.count(_ == '|').toLong / 2)
  }

  test("Bpe.decode inverts encode to the whitespace-normalized input " +
      "for any merge table, including an empty one") {
    import graft.ext.Bpe
    val docs = Seq(
      (1L, "  low\t lower \n newest  "), // messy whitespace
      (2L, ""), // empty survives symbolize's w = '' guard
      (3L, "widest")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, $"text", k = 3, maxWords = 512)
    for (m <- Seq(merges, merges.limit(0))) {
      val got = Bpe.encode(docs, $"doc_id", $"text", m)
        .select($"id", Bpe.decode($"bpe")).as[(Long, String)]
        .collect().toMap
      assert(got(1L) === "low lower newest")
      assert(got(2L) === "")
      assert(got(3L) === "widest")
    }
  }

  test("Bpe.encode enforces the pipe-free precondition loudly: a " +
      "document carrying the '|' sentinel raises with its id instead " +
      "of decoding with its pipes silently deleted") {
    import graft.ext.Bpe
    val docs = Seq((1L, "clean text"), (2L, "a|b pipes"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(Seq((1L, "clean text")).toDF("doc_id", "text"),
      $"text", k = 1, maxWords = 512)
    val e = intercept[Exception] {
      Bpe.encode(docs, $"doc_id", $"text", merges).collect()
    }
    assert(e.getMessage.contains("sentinel"))
    assert(e.getMessage.contains("id=2"))
  }

  test("punctRatio and qualityScore survive an empty document") {
    val got = Seq((1L, ""), (2L, "hi!")).toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.punctRatio($"text").as("p"),
        TextAnalysis.qualityScore($"text").as("q"))
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 === 0.0)
    assert(!got(1L)._2.isNaN)
    assert(got(2L)._1 === 1.0 / 3.0)
  }

  test("connectedComponents: min-label fixpoint over chains, " +
    "singletons survive") {
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L, 10L, 11L, 12L, 13L, 14L)
      .toDF("id")
    // a triangle-free CHAIN 10-…-14 (diameter 4) proves the loop runs
    // to fixpoint, not a fixed round count; 9 is isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L),
      (11L, 12L), (12L, 13L), (13L, 14L)).toDF("id_a", "id_b")
    // localThreshold = 0 forces the distributed star-contraction loop
    // (the default would take the local-completion endgame here)
    val got = DedupOps.connectedComponents(nodes, pairs,
      localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      9L -> 9L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      14L -> 10L))
    // no pairs at all: every node is its own component
    val lone = DedupOps.connectedComponents(nodes,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .as[(Long, Long)].collect()
    assert(lone.forall { case (id, c) => id == c })
  }

  test("connectedComponents matches a brute-force union-find on a " +
      "random graph, distributed and local-endgame paths alike") {
    // 200 nodes / 230 random edges gives a mix of giant components,
    // chains, and singletons; the oracle is a plain in-memory
    // union-find relabeled to min-id-per-component (the documented
    // label contract). Both execution regimes must agree with it:
    // localThreshold = 0 forces the star-contraction loop to run to
    // fixpoint, the default takes the bounded local-completion endgame.
    val rnd = new scala.util.Random(99)
    val n = 200
    val nodeIds = (0 until n).map(_ => rnd.nextLong() & 0xffffffL)
      .distinct
    val edges = Seq.fill(230) {
      val a = nodeIds(rnd.nextInt(nodeIds.size))
      val b = nodeIds(rnd.nextInt(nodeIds.size))
      (a, b)
    }.filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map(
      nodeIds.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minLabel = nodeIds.groupBy(find).flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
    val nodes = nodeIds.toDF("id")
    val pairs = edges.toDF("id_a", "id_b")
    for (threshold <- Seq(0L, Long.MaxValue)) {
      val got = DedupOps.connectedComponents(nodes.repartition(5),
          pairs.repartition(3), localThreshold = threshold)
        .as[(Long, Long)].collect().toMap
      assert(got.keySet === nodeIds.toSet,
        s"threshold=$threshold: every node labels exactly once")
      minLabel.foreach { case (id, want) =>
        assert(got(id) === want, s"threshold=$threshold node=$id")
      }
    }
  }

  test("connectedComponents reliable-checkpoint path: same labels, " +
    "checkpoint files written") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt")
    try {
      val nodes = Seq(1L, 2L, 3L, 4L, 7L).toDF("id")
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
      val got = DedupOps.connectedComponents(nodes, pairs,
        checkpointDir = Some(dir.toString), localThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L))
      // the rounds actually wrote reliable checkpoints into the dir
      def files(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty)
        kids ++ kids.filter(_.isDirectory).flatMap(files)
      }
      assert(files(dir.toFile).exists(_.isFile),
        "no checkpoint data written to the reliable checkpoint dir")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", dir.toString).!
    }
  }

  test("connectedComponents matches a union-find oracle on random graphs") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 3) {
      val n = 60 + trial * 30
      val ids = (0 until n).map(_ => rnd.nextLong().abs % 100000).distinct
      val edges = (0 until n).map { _ =>
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      }.filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical = min id per root
      val byRoot = ids.groupBy(find)
      val expect = byRoot.flatMap { case (_, members) =>
        val m = members.min
        members.map(_ -> m)
      }
      // both the local-completion endgame (default threshold) and the
      // pure distributed loop (threshold 0) must match the oracle
      val gotLocal = DedupOps.connectedComponents(
        ids.toDF("id"), edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(gotLocal === expect, s"trial $trial (local endgame)")
      val gotDist = DedupOps.connectedComponents(
        ids.toDF("id"), edges.toDF("id_a", "id_b"), localThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(gotDist === expect, s"trial $trial (distributed)")
    }
  }

  test("identical docs always collide in MinHash LSH; disjoint never") {
    val df = Seq(
      (1L, Seq("x_y", "y_z", "z_w")),
      (2L, Seq("x_y", "y_z", "z_w")), // identical shingles to 1
      (3L, Seq("p_q", "q_r", "r_s"))) // disjoint
      .toDF("doc_id", "sh")
    val pairs = DedupOps.lshCandidatePairs(df, $"doc_id", $"sh", 12, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical token multisets hash equal, hamming 0") {
    val docs = Seq((1L, "spark makes plans"), (2L, "spark makes plans"),
      (3L, "entirely different words here"))
    val sims = docs.toDF("doc_id", "text")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .select($"doc_id", DedupOps.simhashTokenHash($"tok").as("h"))
      .groupBy("doc_id").agg(DedupOps.simhashAgg($"h", 32).as("sim"))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) === sims(2L))
    assert(sims(1L) !== sims(3L))
    val hd = Seq((sims(1L), sims(2L)), (sims(1L), sims(3L)))
      .toDF("a", "b").select(DedupOps.hammingDistance($"a", $"b", 32))
      .as[Int].collect()
    assert(hd(0) === 0)
    assert(hd(1) > 0)
  }

  // -- Similarity ------------------------------------------------------

  test("cosine of known vectors") {
    val df = Seq((Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      (Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)),
      (Seq(1f, 0f, 0f), Seq(1f, 1f, 0f)))
      .toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(got(0) === 0.0)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(math.abs(got(2) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("ivfNearDupPairs finds within-cluster pairs, never below threshold") {
    // two tight clusters around (1,0) and (0,1); with the two cluster
    // exemplars as centroids, every within-cluster pair shares a list
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.99f, 0.01f)), (2L, Seq(0.98f, 0.02f)),
      (10L, Seq(0f, 1f)), (11L, Seq(0.01f, 0.99f)))
      .toDF("id", "vec")
    val cents = Seq((0L, Seq(1f, 0f)), (10L, Seq(0f, 1f))).toDF("id", "vec")
    val got = Similarity.ivfNearDupPairs(vecs, $"id", $"vec", cents,
      threshold = 0.9, nassign = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L)))
    // multi-assign (nassign = 2) can only ADD recall, and every pair
    // must still clear the exact-cosine threshold
    val multi = Similarity.ivfNearDupPairs(vecs, $"id", $"vec", cents,
      threshold = 0.9, nassign = 2)
    val pairs = multi.select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSet
    assert(got.subsetOf(pairs))
    assert(multi.filter($"cos" < 0.9).count() === 0)
    // no duplicate pairs even when a pair shares both lists
    assert(multi.count() === pairs.size)
  }

  test("ivfNearDupPairs: the literal-centroid fast path matches the " +
      "window/broadcast fallback on random vectors (property)") {
    // deterministic LCG vectors; single-digit ids so the fallback's
    // string-cid ordering (its tie-break domain) agrees with the
    // literal path's long ordering
    var seed = 0x2545F4914F6CDD1DL
    def nxt(): Float = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 40).toInt % 1000) / 500f - 1f
    }
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(8)(nxt()))).toDF("id", "vec")
    val centsL = (0L until 6L).map(i =>
      (i, Seq.fill(8)(nxt()))).toDF("id", "vec")
    // a string id table is the documented fallback trigger (the
    // literal fold needs integral ids); same centroid VECTORS
    val centsS = centsL.select($"id".cast("string").as("id"), $"vec")
    // nassign = 8 > nlist = 6: the probe array runs short, the padded
    // scalar list columns go NULL, and the emit-once least() must
    // skip them — the overflow edge of the fast path
    for (nassign <- Seq(1, 2, 3, 8)) {
      val lit = Similarity.ivfNearDupPairs(vecs, $"id", $"vec", centsL,
        threshold = 0.2, nassign = nassign)
        .as[(Long, Long, Double)].collect().toSet
      val fb = Similarity.ivfNearDupPairs(vecs, $"id", $"vec", centsS,
        threshold = 0.2, nassign = nassign)
        .select($"id_a", $"id_b", $"cos")
        .as[(Long, Long, Double)].collect().toSet
      assert(lit === fb, s"nassign=$nassign literal/fallback diverged")
      assert(lit.nonEmpty, s"nassign=$nassign degenerate fixture")
    }
  }

  test("bruteForceTopK returns k best neighbors, self excluded") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0f, 1f)), (3L, Seq(0.5f, 0.5f)))
      .toDF("id", "vec")
    val got = Similarity.bruteForceTopK(vecs.filter($"id" === 0), vecs, 2)
      .select($"neighbor_id").as[Long].collect().toSeq
    assert(got === Seq(1L, 3L)) // by descending cosine to (1,0)
  }

  test("lshTopK only searches within buckets (subset of brute force)") {
    val vecs = (0L until 20L).map(i =>
      (i, Seq.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
      .toDF("id", "vec")
    val brute = Similarity.bruteForceTopK(vecs, vecs, 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(vecs, vecs, 3, planes = 2, dims = 64)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty)
    // every LSH neighbor has cosine <= the brute-force kth best, so at
    // planes=2 (4 buckets) most pairs should agree; structurally, LSH
    // results are always valid (query != neighbor).
    assert(lsh.forall { case (q, n) => q != n })
  }

  test("ivfTopK: per-list search, exact scores, recall 1 at nprobe = nlist") {
    val vecs = (0L until 20L).map(i =>
      (i, Seq.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
      .toDF("id", "vec")
    val cent = Similarity.seedCentroids(vecs, 4)
    val brute = Similarity.bruteForceTopK(vecs, vecs, 3)
      .select($"query_id", $"neighbor_id", $"cos")
      .as[(Long, Long, Double)].collect()
    // probing every list IS brute force: identical rows, exact scores
    val full = Similarity.ivfTopK(vecs, vecs, cent, k = 3, nprobe = 4)
      .select($"query_id", $"neighbor_id", $"cos")
      .as[(Long, Long, Double)].collect()
    assert(full.toSet === brute.toSet)
    // nprobe < nlist: still k valid neighbors per query, scores exact
    // (every returned cos matches the brute-force cos for that pair)
    val bruteAll = Similarity.bruteForceTopK(vecs, vecs, 19)
      .select($"query_id", $"neighbor_id", $"cos")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val ivf = Similarity.ivfTopK(vecs, vecs, cent, k = 3, nprobe = 1)
      .select($"query_id", $"neighbor_id", $"cos")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, n, c) =>
      assert(q !== n)
      assert(c === bruteAll((q, n)))
    }
  }

  // -- Text analysis ---------------------------------------------------

  test("token and bpeish counts") {
    val got = Seq("Hello, world! 42 times")
      .toDF("t")
      .select(TextAnalysis.tokenCount($"t"),
        TextAnalysis.bpeishCount($"t")).as[(Int, Int)].collect().head
    // tokens: [Hello,, world!, 42, times]
    assert(got._1 === 4)
    // bpeish: Hello , world ! 4 2 times
    assert(got._2 === 7)
  }

  test("shingles: k-grams in order, empty below k") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(TextAnalysis.shingles($"t", 3)).as[Seq[String]].collect()
    assert(got(0) === Seq("a_b_c", "b_c_d"))
    assert(got(1) === Seq.empty)
  }

  test("native text kernels on MALFORMED UTF-8: byte-distinct " +
      "invalid tokens stay distinct (Latin-1 keying, no U+FFFD " +
      "collapse), token_tf emits the ORIGINAL bytes, and " +
      "nfc_normalize canonicalizes both spellings of a malformed " +
      "string to one byte sequence") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.graft.{GraftTextStats, GraftUnicodeUtil}
    // two byte-distinct INVALID tokens: 0xFF and 0xFE — a UTF-8
    // decode reads both as U+FFFD and merges them
    val doc = UTF8String.fromBytes(
      Array[Byte](0xFF.toByte, ' ', 0xFE.toByte))
    val st = GraftTextStats.ngramStats(doc, 1)
    assert((st.getLong(0), st.getLong(1)) === ((2L, 2L)),
      "distinct malformed tokens must not collapse to one key")
    val tf = GraftTextStats.tokenTf(doc)
    assert(tf.numElements() === 2)
    val termBytes = (0 until 2).map(i =>
      tf.getStruct(i, 2).getUTF8String(0).getBytes.toSeq)
    assert(termBytes.toSet ===
      Set(Seq(0xFF.toByte), Seq(0xFE.toByte)),
      "emitted terms must carry the ORIGINAL bytes, not U+FFFD")
    // nfc_normalize: composed é + stray 0xFF vs decomposed e+combining
    // acute + the same stray byte — canonically equal text, and the
    // outputs must be byte-identical (the fast path must not return
    // raw malformed bytes the slow path would rewrite)
    val composed = UTF8String.fromBytes(
      "é".getBytes("UTF-8") :+ 0xFF.toByte)
    val decomposed = UTF8String.fromBytes(
      "e\u0301".getBytes("UTF-8") :+ 0xFF.toByte)
    assert(GraftUnicodeUtil.nfcNormalize(composed).getBytes.toSeq ===
      GraftUnicodeUtil.nfcNormalize(decomposed).getBytes.toSeq)
  }

  test("native simhash / token_tf / ngram_repetition_stats / " +
      "repetition_keep match their declarative compositions " +
      "(the scaladoc'd parity contracts) on docs and edge strings") {
    import org.apache.spark.sql.graft.TextStatsColumns
    val edge = Seq("", "   ", "a", " a  b ", "x x x x", "a_b a_b",
      "日本 語 日本 語", "the the the and", "a\tbc\fd\re",
      "one two one two one")
    val d = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select($"text").as[String].collect().toSeq ++ edge
    val df = d.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "t")

    // simhashDoc vs the r12 explode → md5-prefix → vote composition
    val simNat = df.select($"doc_id",
        DedupOps.simhashDoc($"t", 60).as("s"))
      .as[(Long, Long)].collect().toMap
    val simDec = df.select($"doc_id",
        explode(TextAnalysis.tokens($"t")).as("tok"))
      .select($"doc_id", DedupOps.simhashTokenHash($"tok").as("h"))
      .groupBy("doc_id").agg(DedupOps.simhashAgg($"h", 60).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(simNat === simDec)

    // token_tf vs explode(tokens) → non-empty filter → count
    val tfNat = df.select($"doc_id",
        explode(TextStatsColumns.token_tf($"t")).as("p"))
      .select($"doc_id", $"p.term", $"p.tf")
      .as[(Long, String, Long)].collect().toSet
    val tfDec = df.select($"doc_id",
        explode(TextAnalysis.tokens($"t")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(tfNat === tfDec)

    // ngram_repetition_stats vs explode(shingles) → per-gram count →
    // per-doc census; docs with < k tokens emit no shingle rows in
    // the declarative form and must census as (0, 0, 0) natively
    for (k <- Seq(2, 3)) {
      val natNg = df.select($"doc_id",
          TextStatsColumns.ngram_repetition_stats($"t", k).as("s"))
        .select($"doc_id", $"s.n", $"s.d", $"s.top")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val decNg = df.select($"doc_id",
          explode(TextAnalysis.shingles($"t", k)).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(sum($"c").as("n"),
          count(lit(1)).as("d"), max($"c").as("top"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      for ((id, nat) <- natNg)
        assert(nat === decNg.getOrElse(id, (0L, 0L, 0L)),
          s"k=$k doc $id: native $nat vs declarative " +
            s"${decNg.get(id)}")
    }

    // repetitionKeep (fused scalar) vs repetitionMetrics' keep flag
    val keepNat = df.select($"doc_id",
        TextAnalysis.repetitionKeep($"t").as("keep"))
      .as[(Long, Boolean)].collect().toMap
    val keepDec = TextAnalysis
      .repetitionMetrics(df, $"doc_id", $"t")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(keepNat === keepDec)
  }

  test("native langId / qualityScore are bit-identical to their " +
      "declarative Column compositions on docs, edge, and random " +
      "unicode strings") {
    val edge = Seq("", "   ", "the", "  the and of is  ", "él ñ es",
      "a\tb\nc", "@@@@ 123 abc", "le la et est le la",
      "der und der und ist die", "el y los es es",
      "été café es y") ++ {
      // 300 adversarial random strings: marker/stopword tokens mixed
      // with multi-byte unicode, digits, punctuation, and every
      // whitespace byte the \s class matches — the token-boundary and
      // codepoint-counting edges a fixed list can miss
      import org.scalacheck.Gen
      val token = Gen.oneOf("the", "and", "of", "is", "der", "die",
        "und", "ist", "le", "la", "et", "est", "el", "los", "y", "es",
        "a", "an", "or", "to", "in", "it", "x", "日本語", "héllo",
        "naïve", "42", "a.b", "@@", " ", "__", "ß", "€9")
      val ws = Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "  ")
      val piece = Gen.frequency(4 -> token, 3 -> ws)
      val str = Gen.chooseNum(0, 24)
        .flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
      Gen.listOfN(300, str).sample.get
    }
    val d = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select($"text").as[String].collect().toSeq ++ edge :+
      (null: String) // NULL text: langId must predict "es" (the
    // when-cascade's otherwise branch, which the oracle's CASE ELSE
    // mirrors), qualityScore must stay NULL on both forms
    val df = d.toDF("t")
    // null-safe compare: a plain =!= evaluates to NULL (filtered
    // away) whenever either side is NULL — exactly the rows where a
    // null-semantics divergence would hide
    val mismatch = df.select(
        TextAnalysis.langId($"t").as("n"),
        TextAnalysis.langIdColumns($"t").as("c"),
        TextAnalysis.qualityScore($"t").as("qn"),
        TextAnalysis.qualityScoreColumns($"t").as("qc"))
      .filter(!($"n" <=> $"c") || !($"qn" <=> $"qc"))
      .count()
    assert(mismatch === 0L)
  }

  test("langId picks the marker-richest language with fixed tie-break") {
    val got = Seq(
      "the cat and the dog is big",
      "der hund und die katze ist",
      "le chat et la maison est",
      "el perro y los gatos es",
      "zzz qqq")
      .toDF("t").select(TextAnalysis.langId($"t")).as[String].collect()
    assert(got.toSeq === Seq("en", "de", "fr", "es", "en"))
  }

  test("quality score is in [0,1] and favors prose") {
    val got = Seq(
      "the report is a summary of the data and it is complete",
      "@@@@ #### $$$$ %%%%")
      .toDF("t").select(TextAnalysis.qualityScore($"t")).as[Double].collect()
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0) > got(1))
  }

  // -- Event windows ---------------------------------------------------

  test("asofJoin: latest right row at-or-before each left ts") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), 101L),
      (2L, ts("2024-01-01 09:00:00"), 102L))
      .toDF("user_id", "ts", "click_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 5.0),
      (1L, ts("2024-01-01 12:00:00"), 7.0), // equal ts -> inclusive
      (2L, ts("2024-01-01 09:30:00"), 9.0)) // after left -> no match
      .toDF("user_id", "ts", "value")
    val got = EventWindows.asofJoin(left, right, "user_id", "ts", Seq("value"))
      .select($"click_id", $"asof_value").as[(Long, Option[Double])]
      .collect().toMap
    assert(got(100L) === Some(5.0))
    assert(got(101L) === Some(7.0))
    assert(got(102L) === None)
  }

  test("asofJoin: null key/ts never matches, in both variants") {
    val left = Seq(
      (Option(1L), Option(ts("2024-01-01 10:00:00")), 100L),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:00")), 101L),
      (Option(1L), Option.empty[Timestamp], 102L))
      .toDF("user_id", "ts", "click_id")
    val right = Seq(
      (Option(1L), Option(ts("2024-01-01 09:00:00")), 5.0),
      // null key / null ts right rows must match nothing — without
      // the pre-filter the null-ts payload sorts first and is carried
      // into every row of its key, and null keys match each other
      (Option.empty[Long], Option(ts("2024-01-01 09:00:00")), 66.0),
      (Option(1L), Option.empty[Timestamp], 77.0))
      .toDF("user_id", "ts", "value")
    for (variant <- Seq(
        EventWindows.asofJoin(left, right, "user_id", "ts", Seq("value")),
        EventWindows.asofJoinNative(left, right, "user_id", "ts", Seq("value")))) {
      val got = variant.select($"click_id", $"asof_value")
        .as[(Long, Option[Double])].collect().toMap
      assert(got === Map(100L -> Some(5.0), 101L -> None, 102L -> None))
    }
  }

  test("asofJoin / asofJoinNative / asofJoinTolerance match a " +
      "brute-force oracle on random data under partitionings") {
    // the union+window variant and the custom AsofJoinExec physical
    // operator implement the same contract through entirely different
    // machinery — random data with equal timestamps, null keys/ts,
    // and several partitionings cross-validates both against the
    // definition ("latest right row with ts <= left ts, same key")
    val rnd = new scala.util.Random(7)
    def rts(i: Int): Timestamp =
      new Timestamp(1700000000000L + i * 60000L)
    val leftRows = Seq.tabulate(120) { i =>
      val k = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(4).toLong)
      val t = if (rnd.nextInt(12) == 0) None else Some(rts(rnd.nextInt(50)))
      (k, t, i.toLong)
    }
    val rightRows = Seq.tabulate(80) { i =>
      val k = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(4).toLong)
      val t = if (rnd.nextInt(12) == 0) None else Some(rts(rnd.nextInt(50)))
      (k, t, i.toDouble)
    } // contract: at most one right row per (key, ts)
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    def oracle(tolSec: Option[Long]): Map[Long, Option[Double]] =
      leftRows.map { case (k, t, id) =>
        id -> (for {
          kk <- k; tt <- t
          best <- rightRows
            .filter(r => r._1.contains(kk) &&
              r._2.exists(!_.after(tt)) &&
              tolSec.forall(s => r._2.exists(rt =>
                (tt.getTime - rt.getTime) / 1000 <= s)))
            .sortBy(_._2.get.getTime).lastOption
        } yield best._3)
      }.toMap
    for (parts <- Seq(1, 4)) {
      val left = leftRows.toDF("user_id", "ts", "click_id")
        .repartition(parts)
      val right = rightRows.toDF("user_id", "ts", "value")
        .repartition(parts)
      val want = oracle(None)
      for ((name, df) <- Seq(
          ("union+window",
            EventWindows.asofJoin(left, right, "user_id", "ts",
              Seq("value"))),
          ("native",
            EventWindows.asofJoinNative(left, right, "user_id", "ts",
              Seq("value"))))) {
        val got = df.select($"click_id", $"asof_value")
          .as[(Long, Option[Double])].collect()
        assert(got.length === leftRows.size,
          s"$name parts=$parts: every left row must be preserved")
        got.foreach { case (id, v) =>
          assert(v === want(id), s"$name parts=$parts click=$id")
        }
      }
      // tolerance: matches older than the bound null out, the rest
      // are bit-identical to the unbounded join
      val wantTol = oracle(Some(600L))
      val gotTol = EventWindows.asofJoinTolerance(left, right,
          "user_id", "ts", Seq("value"), toleranceSeconds = 600L)
        .select($"click_id", $"asof_value")
        .as[(Long, Option[Double])].collect().toMap
      wantTol.foreach { case (id, v) =>
        assert(gotTol(id) === v, s"tolerance parts=$parts click=$id")
      }
    }
  }

  test("sessions split on gap >= threshold") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:20:00")), // same session (20m < 30m)
      (1L, ts("2024-01-01 11:00:00")), // new session (40m gap)
      (2L, ts("2024-01-01 10:00:00")))
      .toDF("user_id", "ts")
    val got = EventWindows.sessions(events, $"user_id", "30 minutes")
      .select($"user_id", $"n").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(got(1L) === Seq(1L, 2L))
    assert(got(2L) === Seq(1L))
  }

  test("tumbling windows are epoch-aligned") {
    val events = Seq(
      (ts("2024-01-01 10:59:59"), "a", 1.0),
      (ts("2024-01-01 11:00:00"), "a", 2.0))
      .toDF("ts", "event_type", "value")
    val got = EventWindows.tumbling(events, "1 hour")
      .select($"wstart", $"n").as[(Timestamp, Long)].collect().toMap
    assert(got(ts("2024-01-01 10:00:00")) === 1L)
    assert(got(ts("2024-01-01 11:00:00")) === 1L)
  }

  // -- Multimodal ------------------------------------------------------

  test("decodeFeatures is deterministic from payload bytes") {
    val df = Seq((7L, "hello")).toDF("doc_id", "text")
    val got = Multimodal.decodeFeatures(Multimodal.withBlob(df, "text"))
      .collect().head
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("hello".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.doc_id === 7L)
    assert(got.byte_len === 5L)
    assert(got.fp === md)
    assert(got.width === (java.lang.Long.parseLong(md.substring(0, 7), 16) % 1024).toInt)
    assert(got.height === (java.lang.Long.parseLong(md.substring(7, 14), 16) % 768).toInt)
    assert(got.format === "raw")
    assert(got.n_frames === 5 % 30 + 1)
  }

  test("ImageHeader/AudioHeader property fuzz (r18): randomized GIF " +
    "block streams (extensions, color tables, sub-block chains), " +
    "JPEG marker walks (fill bytes, DHT-before-SOF, every SOFn), WAV " +
    "chunk walks (junk/LIST/fact chunks, odd padding, header-only " +
    "data, hostile 32-bit sizes) — exact fact recovery, no-throw on " +
    "truncations") {
    import java.io.ByteArrayOutputStream
    for (seed <- 0 until 20) {
      val rnd = new scala.util.Random(500 + seed)
      def bytes(n: Int) = Array.fill(n)(rnd.nextInt(256).toByte)
      // ---- GIF: randomized block stream, spec-derived writer ----
      val (gw, gh) = (1 + rnd.nextInt(65535), 1 + rnd.nextInt(65535))
      val g = new ByteArrayOutputStream()
      def le16(o: ByteArrayOutputStream, v: Int): Unit = {
        o.write(v & 0xff); o.write((v >> 8) & 0xff)
      }
      (if (rnd.nextBoolean()) "GIF87a" else "GIF89a").foreach(c => g.write(c))
      le16(g, gw); le16(g, gh)
      val gctBits = rnd.nextInt(8)
      val gct = rnd.nextBoolean()
      g.write((if (gct) 0x80 else 0) | gctBits) // flags
      g.write(rnd.nextInt(256)); g.write(rnd.nextInt(256)) // bg, aspect
      if (gct) g.write(bytes(3 * (1 << (gctBits + 1))))
      def subBlocks(o: ByteArrayOutputStream): Unit = {
        (0 until rnd.nextInt(4)).foreach { _ =>
          val n = 1 + rnd.nextInt(255); o.write(n); o.write(bytes(n))
        }
        o.write(0)
      }
      val nFrames = rnd.nextInt(5)
      (0 until nFrames).foreach { _ =>
        if (rnd.nextDouble() < 0.5) { // extension before the frame
          g.write(0x21); g.write(rnd.nextInt(256)); subBlocks(g)
        }
        g.write(0x2c)
        le16(g, rnd.nextInt(100)); le16(g, rnd.nextInt(100)) // left, top
        le16(g, 1 + rnd.nextInt(200)); le16(g, 1 + rnd.nextInt(200))
        val lctBits = rnd.nextInt(8)
        val lct = rnd.nextBoolean()
        g.write((if (lct) 0x80 else 0) | lctBits)
        if (lct) g.write(bytes(3 * (1 << (lctBits + 1))))
        g.write(rnd.nextInt(9)) // LZW minimum code size
        subBlocks(g)
      }
      if (rnd.nextDouble() < 0.3) { // trailing extension
        g.write(0x21); g.write(0xfe); subBlocks(g)
      }
      g.write(0x3b)
      val gif = g.toByteArray
      assert(ImageHeader.parse(gif) === Some(("gif", gw, gh)),
        s"seed=$seed gif dims")
      assert(ImageHeader.gifFrames(gif) === Some(nFrames),
        s"seed=$seed gif frames")
      for (cut <- Seq(0, 5, 12, gif.length / 2, gif.length - 1)) {
        ImageHeader.parse(java.util.Arrays.copyOf(gif, cut)): Unit
        ImageHeader.gifFrames(java.util.Arrays.copyOf(gif, cut)): Unit
      }
      // ---- JPEG: randomized marker walk before the frame header ----
      val (jw, jh) = (1 + rnd.nextInt(65535), 1 + rnd.nextInt(65535))
      val j = new ByteArrayOutputStream()
      def be16(o: ByteArrayOutputStream, v: Int): Unit = {
        o.write((v >> 8) & 0xff); o.write(v & 0xff)
      }
      j.write(0xff); j.write(0xd8) // SOI
      (0 until rnd.nextInt(5)).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => // APPn/COM/DQT segment with random payload
            j.write(0xff)
            j.write(Seq(0xe0 + rnd.nextInt(16), 0xfe, 0xdb)(rnd.nextInt(3)))
            val n = rnd.nextInt(20); be16(j, n + 2); j.write(bytes(n))
          case 1 => // DHT — shares the Cx range but is NOT a frame header
            j.write(0xff); j.write(0xc4)
            val n = 1 + rnd.nextInt(20); be16(j, n + 2); j.write(bytes(n))
          case 2 => j.write(0xff) // fill byte (§B.1.1.2)
          case _ => // standalone TEM/RSTn
            j.write(0xff)
            j.write(if (rnd.nextBoolean()) 0x01 else 0xd0 + rnd.nextInt(8))
        }
      }
      val sofs = Seq(0xc0, 0xc1, 0xc2, 0xc3, 0xc5, 0xc6, 0xc7,
        0xc9, 0xca, 0xcb, 0xcd, 0xce, 0xcf)
      j.write(0xff); j.write(sofs(rnd.nextInt(sofs.size)))
      be16(j, 11); j.write(8); be16(j, jh); be16(j, jw) // len, prec, h, w
      j.write(bytes(4))
      val jpeg = j.toByteArray
      assert(ImageHeader.parse(jpeg) === Some(("jpeg", jw, jh)),
        s"seed=$seed jpeg dims")
      for (cut <- Seq(1, 2, 4, jpeg.length / 2))
        ImageHeader.parse(java.util.Arrays.copyOf(jpeg, cut)): Unit
      // ---- WAV: randomized chunk walk, spec-derived writer ----
      val channels = 1 + rnd.nextInt(2)
      val rate = 8000 + rnd.nextInt(40001)
      val blockAlign = channels * 2
      val ds = blockAlign * rnd.nextInt(5000) + rnd.nextInt(blockAlign)
      val wv = new ByteArrayOutputStream()
      def le32(o: ByteArrayOutputStream, v: Long): Unit = {
        (0 until 4).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))
      }
      def wavChunk(o: ByteArrayOutputStream, id: String,
                   body: Array[Byte]): Unit = {
        id.foreach(c => o.write(c)); le32(o, body.length.toLong)
        o.write(body)
        if ((body.length & 1) == 1) o.write(0)
      }
      val inner = new ByteArrayOutputStream()
      "WAVE".foreach(c => inner.write(c))
      if (rnd.nextBoolean()) // junk chunk (odd size exercises padding)
        wavChunk(inner, "junk", bytes(1 + rnd.nextInt(9)))
      if (rnd.nextBoolean())
        wavChunk(inner, "LIST", "INFO".getBytes("US-ASCII") ++ bytes(6))
      val fmtBody = {
        val o = new ByteArrayOutputStream()
        le16(o, 1); le16(o, channels); le32(o, rate.toLong)
        le32(o, rate.toLong * blockAlign); le16(o, blockAlign); le16(o, 16)
        if (rnd.nextBoolean()) le16(o, 0) // cbSize extension (size 18)
        o.toByteArray
      }
      wavChunk(inner, "fmt ", fmtBody)
      if (rnd.nextBoolean()) wavChunk(inner, "fact", bytes(4))
      // header-only data: declared size, payload absent half the time
      val headerOnly = rnd.nextBoolean()
      "data".foreach(c => inner.write(c)); le32(inner, ds.toLong)
      if (!headerOnly) inner.write(bytes(ds))
      val wav = new ByteArrayOutputStream()
      "RIFF".foreach(c => wav.write(c)); le32(wav, inner.size.toLong)
      inner.writeTo(wav)
      val gotWav = ImageHeader.parse(wav.toByteArray) // not an image
      assert(gotWav.isEmpty, s"seed=$seed wav-not-image")
      assert(AudioHeader.parseWav(wav.toByteArray) ===
        Some(AudioHeader.Wav(channels, rate, 16, ds / blockAlign)),
        s"seed=$seed wav facts")
      // hostile 32-bit chunk size before fmt: must TERMINATE (long
      // offsets, never wrap negative) and yield None, not hang/throw
      val hostile = new ByteArrayOutputStream()
      "RIFF".foreach(c => hostile.write(c)); le32(hostile, 100L)
      "WAVE".foreach(c => hostile.write(c))
      "junk".foreach(c => hostile.write(c)); le32(hostile, 0xfffffff0L)
      hostile.write(bytes(16))
      assert(AudioHeader.parseWav(hostile.toByteArray).isEmpty)
    }
  }

  test("ImageHeader parses PNG/GIF/BMP dims and rejects text") {
    def hexBytes(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // PNG 640x480, big-endian dims in IHDR
    assert(ImageHeader.parse(hexBytes(
      "89504E470D0A1A0A0000000D49484452" + "00000280" + "000001E0" +
        "0806000000")) === Some(("png", 640, 480)))
    // GIF89a 320x200, little-endian logical screen dims
    assert(ImageHeader.parse(hexBytes(
      "474946383961" + "4001" + "C800" + "F70000")) ===
      Some(("gif", 320, 200)))
    // BMP BITMAPINFOHEADER 16x32, negative (top-down) height
    assert(ImageHeader.parse(hexBytes(
      "424D000000000000000036000000" + "28000000" + "10000000" +
        "E0FFFFFF" + "0100180000000000")) === Some(("bmp", 16, 32)))
    // BMP BITMAPCOREHEADER (size 12): 16-bit dims
    assert(ImageHeader.parse(hexBytes(
      "424D00000000000000001A000000" + "0C000000" + "1000" + "2000" +
        "01001800")) === Some(("bmp", 16, 32)))
    // JPEG baseline (SOF0) 640x480: SOI, JFIF APP0, then the frame
    // header carrying BE16 height first, width second
    val app0 = "FFE000104A46494600010100000100010000"
    assert(ImageHeader.parse(hexBytes(
      "FFD8" + app0 + "FFC0001108" + "01E0" + "0280" +
        "03011100021101031101")) === Some(("jpeg", 640, 480)))
    // progressive (SOF2), a DHT (C4, NOT a frame header) first, and a
    // fill byte before the SOF marker
    assert(ImageHeader.parse(hexBytes(
      "FFD8" + "FFC4001F00000105010101010101000000000000000102030405" +
        "060708090A0B" + "FF" + "FFC2001108" + "0020" + "0010" +
        "03011100021101031101")) === Some(("jpeg", 16, 32)))
    // scan data before any SOF (malformed) and truncated headers parse
    // to nothing rather than garbage
    assert(ImageHeader.parse(hexBytes("FFD8FFDA0008")).isEmpty)
    assert(ImageHeader.parse(hexBytes("FFD8" + app0)).isEmpty)
    // text payloads never misparse, even starting with 'BM'/'GIF'
    assert(ImageHeader.parse(
      "BMW and GIFts are words, not images, xxx".getBytes("UTF-8")).isEmpty)
    assert(ImageHeader.parse("hello".getBytes("UTF-8")).isEmpty)
  }

  test("mm_decode_image query decodes synthesized headers to closed-form dims") {
    val df = SparkEntry.queries("mm_decode_image")(
      spark, "/root/testdata/sf0.001")
    val rows = df.as[(Long, String, Int, Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, fmt, w, h, n) =>
      assert(fmt === Seq("png", "gif", "bmp", "jpeg")((id % 4).toInt))
      assert(w === (id % 1024 + 1).toInt)
      assert(h === (id % 768 + 1).toInt)
      assert(n === (if (id % 4 == 1) (id % 5 + 1).toInt else 1))
    }
  }

  test("AudioHeader parses RIFF/WAVE fmt+data; rejects text") {
    def hexBytes(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // stereo 16-bit 8kHz, 40-byte data chunk => 10 samples
    val wav = hexBytes(
      "52494646" + "40000000" + "57415645" +
        "666D7420" + "10000000" + "0100" + "0200" + "401F0000" +
        "007D0000" + "0400" + "1000" +
        "64617461" + "28000000")
    assert(AudioHeader.parseWav(wav) ===
      Some(AudioHeader.Wav(2, 8000, 16, 10L)))
    // an unknown chunk before fmt/data is skipped by size
    val padded = hexBytes(
      "52494646" + "40000000" + "57415645" +
        "4C495354" + "04000000" + "AABBCCDD" + // LIST chunk, 4 bytes
        "666D7420" + "10000000" + "0100" + "0100" + "803E0000" +
        "007D0000" + "0200" + "1000" +
        "64617461" + "0A000000")
    assert(AudioHeader.parseWav(padded) ===
      Some(AudioHeader.Wav(1, 16000, 16, 5L)))
    assert(AudioHeader.parseWav("RIFF but not audio".getBytes("UTF-8")).isEmpty)
    assert(AudioHeader.parseWav("hello".getBytes("UTF-8")).isEmpty)
    // hostile 0xFFFFFFFF chunk size: must terminate (no Int overflow
    // walking backwards), not hang
    assert(AudioHeader.parseWav(hexBytes(
      "52494646" + "40000000" + "57415645" +
        "4C495354" + "FFFFFFFF" + "00")).isEmpty)
  }

  test("gifFrames walks descriptors, extensions and color tables") {
    def hexBytes(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val frame = "2C00000000" + "0100" + "0100" + "0002010100"
    // two frames, a graphic-control extension, no color tables
    val gif = hexBytes("474946383961" + "01000100" + "000000" +
      "21F90401000000" + "00" + frame + frame + "3B")
    assert(ImageHeader.gifFrames(gif) === Some(2))
    // global color table (flags 0x80|0: 2 entries = 6 bytes) skipped
    val withTable = hexBytes("474946383961" + "01000100" + "800000" +
      "000000FFFFFF" + frame + "3B")
    assert(ImageHeader.gifFrames(withTable) === Some(1))
    // truncated header-only stream: None (decode falls back to 1)
    assert(ImageHeader.gifFrames(
      hexBytes("474946383961" + "01000100" + "F70000")).isEmpty)
  }

  test("mm_decode_audio query decodes synthesized WAV and FLAC " +
    "headers closed-form (every 4th member is a fLaC STREAMINFO)") {
    val df = SparkEntry.queries("mm_decode_audio")(
      spark, "/root/testdata/sf0.001")
    val rows = df.as[(Long, String, Int, Int, Int, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.count(_._2 == "flac") > 0)
    rows.foreach { case (id, fmt, ch, rate, bits, n, ms) =>
      assert(fmt === (if (id % 4 == 3) "flac" else "wav"))
      assert(ch === (id % 2 + 1).toInt)
      assert(rate === ((id % 3 + 1) * 8000).toInt)
      assert(bits === 16)
      assert(n === id % 100 + 1)
      assert(ms === n * 1000 / rate)
    }
  }

  // -- Native vector kernels -------------------------------------------

  test("hilbert_index is callable from SQL; bits must be a literal") {
    org.apache.spark.sql.graft.VectorColumns.register(spark)
    Seq((3L, 5L)).toDF("x", "y").createOrReplaceTempView("hilbert_sql_t")
    val got = spark.sql(
      "SELECT hilbert_index(x, y, 8) AS h FROM hilbert_sql_t")
      .as[Long].collect().head
    assert(got ===
      org.apache.spark.sql.graft.GraftHilbertUtil.hilbertD(8, 3L, 5L))
    intercept[Exception] {
      spark.sql("SELECT hilbert_index(x, y, x) FROM hilbert_sql_t")
        .collect()
    }
  }

  test("native md5PrefixLong matches the conv/substring builtin form") {
    // parity corpus: ascii, unicode, empty, whitespace, long strings
    val strs = Seq("", "a", "hello world", "héllo wörld ünïcode",
      "the quick brown fox", " leading and trailing ", "\t\n",
      "x" * 500, "graft-sample:12345") ++
      (0 until 200).map(i => s"doc $i body ${i * 31}")
    val df = strs.toDF("s")
    for (n <- Seq(1, 7, 8, 15)) {
      val rows = df.select(
        graft.ext.PortableHash.md5PrefixLong($"s", n).as("native"),
        graft.ext.PortableHash.md5PrefixLongBuiltin($"s", n).as("builtin"))
        .as[(Long, Long)].collect()
      rows.foreach { case (a, b) => assert(a === b, s"hexLen=$n") }
    }
    // null in, null out — same as the builtin chain
    val nulls = Seq[Option[String]](None).toDF("s")
      .select(graft.ext.PortableHash.md5PrefixLong($"s", 15)).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("VecDot/VecNorm match the higher-order fold bit for bit") {
    import org.apache.spark.sql.functions.{aggregate, zip_with, lit, sqrt}
    val vecs = (0 until 50).map(i =>
      (i.toLong, Seq.tabulate(64)(d => ((i * 13 + d * 31) % 97 / 9.7f - 5f))))
      .toDF("id", "vec")
    val hofDot = aggregate(
      zip_with($"vec", $"vec", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val rows = vecs.select(
      org.apache.spark.sql.graft.VectorColumns.vec_dot($"vec", $"vec").as("nd"),
      hofDot.as("hd"),
      org.apache.spark.sql.graft.VectorColumns.vec_norm($"vec").as("nn"),
      sqrt(hofDot).as("hn"))
      .as[(Double, Double, Double, Double)].collect()
    rows.foreach { case (nd, hd, nn, hn) =>
      assert(java.lang.Double.doubleToLongBits(nd) ===
        java.lang.Double.doubleToLongBits(hd))
      assert(java.lang.Double.doubleToLongBits(nn) ===
        java.lang.Double.doubleToLongBits(hn))
    }
  }

  test("VecDot is null on null input") {
    val df = Seq((Some(Seq(1f, 2f)), None: Option[Seq[Float]])).toDF("a", "b")
    val got = df.select(
      org.apache.spark.sql.graft.VectorColumns.vec_dot($"a", $"b"))
      .collect().head
    assert(got.isNullAt(0))
  }

  test("VecDot/VecL2Sq/VecNorm poison to NULL on a NULL ELEMENT — " +
      "the zip_with+aggregate fold's contract, never a silent 0.0") {
    import org.apache.spark.sql.graft.VectorColumns._
    val df = Seq(
      (1L, Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(2f), Some(5f))),
      (2L, Seq[Option[Float]](Some(1f), Some(3f)), Seq[Option[Float]](Some(2f), Some(5f))))
      .toDF("id", "a", "b")
    val got = df.select($"id", vec_dot($"a", $"b").as("d"),
        vec_l2sq($"a", $"b").as("l"), vec_norm($"a").as("n"))
      .collect().map(r => r.getLong(0) ->
        ((r.isNullAt(1), r.isNullAt(2), r.isNullAt(3)))).toMap
    assert(got(1L) === ((true, true, true)))
    assert(got(2L) === ((false, false, false)))
    // wrong-arity SQL calls fail with the function named, not an
    // IndexOutOfBoundsException — both registration paths share the
    // guarded builders
    org.apache.spark.sql.graft.VectorColumns.register(spark)
    Seq((1L, Seq(1f, 2f))).toDF("id", "v")
      .createOrReplaceTempView("vec_arity_t")
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(v) FROM vec_arity_t").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t => t.getMessage != null &&
      t.getMessage.contains("vec_dot expects 2 arguments")), s"got: $e")
  }

  test("repetitionKeep KEEPS null text (the metrics-table gate's " +
      "contract) and SimHashDoc refuses bits past the token hash") {
    val df = Seq((1L, Some("a a a a")), (2L, None: Option[String]))
      .toDF("doc_id", "t")
    val got = df.select($"doc_id",
        TextAnalysis.repetitionKeep($"t").as("keep"))
      .as[(Long, Boolean)].collect().toMap
    val want = TextAnalysis.repetitionMetrics(df, $"doc_id", $"t")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(got === want)
    assert(got(2L) === true)
    // 60 signature bits over an 8-hex (32-bit) token hash would zero
    // the high bands and degrade banded joins to ~N²/2 — loud refusal
    val e = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.TextStatsColumns
        .simhash($"t", bits = 60, hexLen = 8)
    }
    assert(e.getMessage.contains("meaningful bits"), e.getMessage)
  }

  test("jaccardPairs matches the array-form jaccard on blocked pairs") {
    val df = Seq(
      (1L, "b1", Seq("x_y", "y_z", "z_w")),
      (2L, "b1", Seq("x_y", "y_z", "q_r")),   // jac 2/4 = 0.5 with 1
      (3L, "b1", Seq("p_q")),                  // shares nothing
      (4L, "b2", Seq("x_y", "y_z", "z_w")))    // other block
      .toDF("doc_id", "blk", "sh")
    val got = DedupOps.jaccardPairs(df, Seq("blk"), $"doc_id", $"sh", 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 0.5)))
  }

  test("pqTopK degenerates to exact inner-product ranking when every " +
    "vector is its own codeword") {
    // with codebookK = n and the first-n-ids init, each subvector's
    // nearest codeword after one Lloyd update is itself (clusters are
    // singletons, the update is the identity mean), so the ADC sum is
    // the quantized exact dot product — the top-k must match a
    // brute-force dot ranking computed independently
    val rnd = new scala.util.Random(23)
    val n = 12
    val dims = 8
    val vecs = Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(dims)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("id", "vec")
    val got = Similarity.pqTopK(df.filter($"id" < 3), df, k = 4,
      m = 4, dims = dims, codebookK = n)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // expected: exact dot ranking with the SAME fixed-point rounding
    // per subspace (4 subspaces of 2 dims each)
    def qdot(a: Seq[Float], b: Seq[Float]): Long =
      (0 until 4).map { j =>
        math.floor(a.slice(j * 2, j * 2 + 2).map(_.toDouble)
          .zip(b.slice(j * 2, j * 2 + 2).map(_.toDouble))
          .map { case (x, y) => x * y }.sum * 1e6).toLong
      }.sum
    val expected = (for {
      (qi, qv) <- vecs if qi < 3
      ranked = vecs.filter(_._1 != qi)
        .sortBy { case (ni, nv) => (-qdot(qv, nv), ni) }.take(4)
      (ni, _) <- ranked
    } yield (qi, ni)).toSet
    assert(got === expected)
  }

  test("domainMixSample clamps under-represented strata and thins " +
    "over-represented ones toward the recipe") {
    val df = ((1L to 10L).map(i => i -> "rare") ++
      (11L to 110L).map(i => i -> "common")).toDF("id", "src")
    // target: rare 50% (10 available of 110*0.5=55 wanted -> clamp,
    // keep all 10), common 10% (11 of 100 wanted -> thin)
    val kept = Sampling.domainMixSample(df, $"id", $"src",
      targetShares = Seq("rare" -> 0.5), defaultShare = 0.1,
      salt = "t:").as[(Long, String)].collect()
    val byStratum = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byStratum("rare") === 10) // clamped: a hash sample can't upsample
    val common = byStratum.getOrElse("common", 0)
    // rate = 0.1 * 110 / 100 = 0.11 -> expect ~11 of 100, binomial spread
    assert(common > 0 && common < 30, s"common kept $common")
    // determinism: same inputs, same rows
    val again = Sampling.domainMixSample(df.repartition(7), $"id", $"src",
      targetShares = Seq("rare" -> 0.5), defaultShare = 0.1,
      salt = "t:").as[(Long, String)].collect().toSet
    assert(again === kept.toSet)
  }

  test("repetitionMetrics flags looping text and keeps distinct prose") {
    val docs = Seq(
      (1L, "buy now " * 20),                     // one bigram looped
      (2L, (0 until 40).map(i => s"w$i").mkString(" ")), // all distinct
      (3L, "a b"),                               // bigram but no trigram
      (4L, "solo"),                              // one token: no bigrams
      (5L, "")                                   // zero tokens
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(docs, $"doc_id", $"text")
      .select("doc_id", "dup2_frac", "top2_share", "keep")
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(!m(1L)._4 && m(1L)._2 > 0.9 && m(1L)._3 > 0.4)
    assert(m(2L)._4 && m(2L)._2 === 0.0)
    assert(m(3L)._4) // missing trigrams count as zero repetition
    // every doc gets a row: sub-bigram docs keep=true with zero
    // fractions instead of silently vanishing from the output
    assert(m.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(m(4L) === ((4L, 0.0, 0.0, true)))
    assert(m(5L) === ((5L, 0.0, 0.0, true)))
  }

  test("packSequences: in-shard streams are gapless and chunk-ordered") {
    val docs = (0L until 30L).map(i =>
      (i, (0 until 10 + (i % 7).toInt).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkTokens(docs, $"doc_id", $"text",
      window = 4, overlap = 1)
    val packed = TextAnalysis.packSequences(chunks, $"doc_id",
      $"chunk_idx", $"n_tokens", capacity = 16, shards = 4,
      salt = "t-pack:")
      .as[(Long, Int, Long, Long, Long, Long)].collect()
    assert(packed.length === chunks.count())
    // per shard: walking chunks in (doc_id, chunk_idx) order, each
    // chunk starts exactly where the previous ended (concat-and-cut:
    // global stream position = seq_id * capacity + seq_offset)
    packed.groupBy(_._4).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._1, r._2))
      var pos = 0L
      ordered.foreach { case (_, _, n, _, seqId, off) =>
        assert(seqId === pos / 16 && off === pos % 16)
        pos += n
      }
    }
    // same docs always in the same shard
    assert(packed.groupBy(_._1).values.forall(_.map(_._4).distinct.size == 1))
  }

  test("PixelDecoder round-trips PixelEncoder: truecolor PNG through " +
    "every scanline filter, grayscale PNG, and 24-bit BMP all decode " +
    "to the exact integer raster; corruption fails loudly") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    val w = 23; val h = 11 // odd sizes exercise BMP row padding
    def r(x: Int, y: Int) = (x * 7 + y * 13 + 5) % 256
    def g(x: Int, y: Int) = (x * 3 + y * 31) % 256
    def b(x: Int, y: Int) = (x * 17 + y + 200) % 256
    val rgb = (x: Int, y: Int) => (r(x, y) << 16) | (g(x, y) << 8) | b(x, y)
    val want = Array.tabulate(h, w)((y, x) =>
      PixelDecoder.luma(r(x, y), g(x, y), b(x, y))).flatten
    // each fixed filter alone, then the cycling default
    for (f <- 0 to 4) {
      val p = PixelDecoder.decode(
        PixelEncoder.png(w, h, rgb, filterFor = _ => f)).get
      assert((p.width, p.height) === (w, h), s"filter $f")
      assert(p.gray === want, s"filter $f")
    }
    assert(PixelDecoder.decode(PixelEncoder.png(w, h, rgb)).get
      .gray === want)
    // grayscale PNG: sample passes through untouched by luma
    val wantG = Array.tabulate(h, w)((y, x) => g(x, y)).flatten
    assert(PixelDecoder.decode(
      PixelEncoder.png(w, h, (x, y) => g(x, y), colorType = 0)).get
      .gray === wantG)
    // BMP bottom-up rows land right-side-up
    assert(PixelDecoder.decode(PixelEncoder.bmp(w, h, rgb)).get
      .gray === want)
    // a flipped bit in the IDAT body fails the chunk CRC loudly
    val png = PixelEncoder.png(w, h, rgb)
    png(60) = (png(60) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException] {
      PixelDecoder.decode(png)
    }
    assert(e.getMessage.contains("CRC"))
    // non-image payloads are None, not an error
    assert(PixelDecoder.decode("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("PixelDecoder Adam7: interlaced PNGs decode to the identical " +
    "raster across sizes that exercise partial and empty passes") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    def r(x: Int, y: Int) = (x * 7 + y * 13 + 5) % 256
    def g(x: Int, y: Int) = (x * 3 + y * 31) % 256
    def b(x: Int, y: Int) = (x * 17 + y + 200) % 256
    val rgb = (x: Int, y: Int) =>
      (r(x, y) << 16) | (g(x, y) << 8) | b(x, y)
    // 1×1 → only pass 1 non-empty; 3×2 → passes 1,4,6,7 partial,
    // 2,3,5 EMPTY (no bytes, not even filter bytes); 8×8 → one full
    // MCU of every pass; 23×11 / 16×16 — general odd/aligned
    for ((w, h) <- Seq((1, 1), (3, 2), (8, 8), (23, 11), (16, 16))) {
      val plain = PixelDecoder.decode(PixelEncoder.png(w, h, rgb)).get
      val adam = PixelDecoder.decode(
        PixelEncoder.png(w, h, rgb, interlace = true)).get
      assert((adam.width, adam.height) === (w, h), s"${w}x$h")
      assert(adam.gray === plain.gray, s"${w}x$h")
      // grayscale variant, fixed filter 4 (Paeth within each pass)
      val plainG = PixelDecoder.decode(PixelEncoder.png(w, h,
        (x, y) => g(x, y), colorType = 0, filterFor = _ => 4)).get
      val adamG = PixelDecoder.decode(PixelEncoder.png(w, h,
        (x, y) => g(x, y), colorType = 0, filterFor = _ => 4,
        interlace = true)).get
      assert(adamG.gray === plainG.gray, s"gray ${w}x$h")
    }
    // the interlace byte is covered by the subset gate, not silently
    // misread: method 2 is corrupt, not a None edge
    val bad = PixelEncoder.png(4, 4, rgb)
    // IHDR data starts at offset 16; interlace byte is its 13th
    bad(16 + 12) = 2
    // fix the CRC so ONLY the interlace method is wrong
    val crc = new java.util.zip.CRC32
    crc.update(bad, 12, 4 + 13)
    val cv = crc.getValue
    for (k <- 0 until 4)
      bad(29 + k) = ((cv >> (24 - 8 * k)) & 0xff).toByte
    val e = intercept[IllegalArgumentException] {
      PixelDecoder.decode(bad)
    }
    assert(e.getMessage.contains("interlace"))
  }

  test("PixelDecoder 16-bit PNG: bit-replicated samples reduce " +
    "through the high byte to the identical 8-bit raster — gray and " +
    "truecolor, all filters, Adam7 included") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    def r(x: Int, y: Int) = (x * 7 + y * 13 + 5) % 256
    def rgb(x: Int, y: Int) =
      (r(x, y) << 16) | (((x * 3 + y * 31) % 256) << 8) |
        ((x * 17 + y + 200) % 256)
    for ((w, h) <- Seq((1, 1), (7, 3), (23, 11)); inter <- Seq(false, true)) {
      val want = PixelDecoder.decode(PixelEncoder.png(w, h, rgb)).get
      val p16 = PixelDecoder.decode(PixelEncoder.png(w, h, rgb,
        interlace = inter, bitDepth = 16)).get
      assert(p16.gray === want.gray, s"rgb16 ${w}x$h i$inter")
      // 16-bit samples filter at byte distance 2/6 — Paeth-only
      // encodes exercise the wide left/upleft references
      val g16 = PixelDecoder.decode(PixelEncoder.png(w, h,
        (x, y) => r(x, y), colorType = 0, filterFor = _ => 4,
        interlace = inter, bitDepth = 16)).get
      val g8 = PixelDecoder.decode(PixelEncoder.png(w, h,
        (x, y) => r(x, y), colorType = 0)).get
      assert(g16.gray === g8.gray, s"gray16 ${w}x$h i$inter")
    }
    // a genuinely 16-bit sample (hi != lo) reduces via the HIGH
    // byte: hand-build a 1×1 gray16 whose sample is 0xABCD
    val crafted = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte), 0, 8)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        val len = Array[Byte](0, 0, 0, data.length.toByte)
        out.write(len, 0, 4)
        out.write(typ.getBytes("US-ASCII"), 0, 4)
        out.write(data, 0, data.length)
        val crc = new java.util.zip.CRC32
        crc.update(typ.getBytes("US-ASCII")); crc.update(data)
        val cv = crc.getValue
        for (k <- 0 until 4)
          out.write(((cv >> (24 - 8 * k)) & 0xff).toInt)
      }
      chunk("IHDR", Array[Byte](0, 0, 0, 1, 0, 0, 0, 1, 16, 0, 0, 0, 0))
      val raw = Array[Byte](0, 0xAB.toByte, 0xCD.toByte) // filter 0
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val zbuf = new Array[Byte](64)
      val zn = defl.deflate(zbuf)
      defl.end()
      chunk("IDAT", java.util.Arrays.copyOf(zbuf, zn))
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
    assert(PixelDecoder.decode(crafted).get.gray === Array(0xAB))
  }

  test("PixelDecoder paletted PNG: depths 1/2/4/8 round-trip through " +
    "the PLTE luma reduction, interlaced included; a stream index " +
    "beyond the palette fails loudly") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    // 4-entry palette with distinct lumas; idx pattern hits every
    // entry; sizes force partial trailing bytes at sub-byte depths
    val pal = Array(0x000000, 0xff0000, 0x00ff00, 0x0000ff)
    def lum(p: Int) =
      (77 * ((p >> 16) & 0xff) + 150 * ((p >> 8) & 0xff) +
        29 * (p & 0xff)) >> 8
    for (depth <- Seq(2, 4, 8); (w, h) <- Seq((1, 1), (7, 3), (23, 11));
         inter <- Seq(false, true)) {
      def idx(x: Int, y: Int) = (x * 5 + y * 3) % 4
      val png = PixelEncoder.pngPaletted(w, h, idx, pal, depth,
        interlace = inter)
      val p = PixelDecoder.decode(png).get
      assert((p.width, p.height) === (w, h), s"d$depth ${w}x$h i$inter")
      for (y <- 0 until h; x <- 0 until w)
        assert(p.gray(y * w + x) === lum(pal(idx(x, y))),
          s"d$depth ${w}x$h i$inter ($x,$y)")
    }
    // depth 1: two entries, stripes
    val p1 = PixelDecoder.decode(PixelEncoder.pngPaletted(9, 4,
      (x, y) => (x + y) % 2, Array(0x102030, 0xffffff), 1)).get
    for (y <- 0 until 4; x <- 0 until 9)
      assert(p1.gray(y * 9 + x) ===
        lum(Array(0x102030, 0xffffff)((x + y) % 2)), s"d1 ($x,$y)")
    // an index beyond the PLTE is corruption, not a silent pixel:
    // encode with a 6-entry palette emitting index 5, then rebuild
    // the stream with its PLTE truncated to 2 entries (CRC refreshed
    // so ONLY the palette size is wrong)
    val poisoned = {
      val full = PixelEncoder.pngPaletted(3, 2, (x, _) => if (x == 1) 5 else 0,
        Array.tabulate(6)(g => g * 0x111111), 4)
      // shrink PLTE from 6 to 2 entries: rebuild chunk by chunk
      val out = new java.io.ByteArrayOutputStream()
      out.write(full, 0, 8)
      var i = 8
      while (i < full.length) {
        val len = ((full(i) & 0xff) << 24) | ((full(i + 1) & 0xff) << 16) |
          ((full(i + 2) & 0xff) << 8) | (full(i + 3) & 0xff)
        val typ = new String(full, i + 4, 4, "US-ASCII")
        if (typ == "PLTE") {
          val data = java.util.Arrays.copyOfRange(full, i + 8, i + 8 + 6)
          val hdr = Array[Byte](0, 0, 0, 6)
          out.write(hdr, 0, 4)
          out.write("PLTE".getBytes("US-ASCII"), 0, 4)
          out.write(data, 0, 6)
          val crc = new java.util.zip.CRC32
          crc.update("PLTE".getBytes("US-ASCII"))
          crc.update(data)
          val cv = crc.getValue
          for (k <- 0 until 4)
            out.write(((cv >> (24 - 8 * k)) & 0xff).toInt)
        } else out.write(full, i, 12 + len)
        i += 12 + len
      }
      out.toByteArray
    }
    val e = intercept[IllegalArgumentException] {
      PixelDecoder.decode(poisoned)
    }
    assert(e.getMessage.contains("palette index"))
  }

  test("PixelDecoder paletted BMP: 8-bit BI_RGB and BI_RLE8 " +
    "round-trip through the BGRX table; a hand-built delta/absolute " +
    "stream decodes exactly; bad indices fail loudly") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    val pal = Array.tabulate(64)(k => (k << 18) | (k << 10) | (k << 2))
    def lum(p: Int) =
      (77 * ((p >> 16) & 0xff) + 150 * ((p >> 8) & 0xff) +
        29 * (p & 0xff)) >> 8
    // runs of 5, isolated literals, row remainders — drives encoded,
    // absolute AND unit-pair emission in the RLE encoder
    def idx(x: Int, y: Int) = if ((x / 5 + y) % 2 == 0) y % 64
      else (x * 7 + y * 3) % 64
    for ((w, h) <- Seq((13, 4), (23, 11), (254, 3)); rle <- Seq(false, true)) {
      val p = PixelDecoder.decode(
        PixelEncoder.bmpPaletted(w, h, idx, pal, rle)).get
      assert((p.width, p.height) === (w, h), s"${w}x$h rle=$rle")
      for (y <- 0 until h; x <- 0 until w)
        assert(p.gray(y * w + x) === lum(pal(idx(x, y))),
          s"${w}x$h rle=$rle ($x,$y)")
    }
    // hand-built RLE8 with a DELTA escape (the encoder never emits
    // one): 6x2, bottom row [1,1,1,_,_,_], delta (2,1) skips to the
    // top row, one pixel of 2 at x=5; skipped cells stay index 0
    val g20 = Array.tabulate(3)(k => {
      val v = k * 20; (v << 16) | (v << 8) | v
    })
    val hand = {
      val out = new java.io.ByteArrayOutputStream()
      def le16w(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def le32w(v: Int): Unit = { le16w(v & 0xffff); le16w(v >>> 16) }
      out.write('B'); out.write('M')
      le32w(14 + 40 + 12 + 10); le32w(0); le32w(14 + 40 + 12)
      le32w(40); le32w(6); le32w(2); le16w(1); le16w(8)
      le32w(1); le32w(10); le32w(0); le32w(0); le32w(3); le32w(3)
      for (k <- 0 until 3) {
        out.write(k * 20); out.write(k * 20); out.write(k * 20); out.write(0)
      }
      out.write(3); out.write(1) // run: 3 × idx1 (bottom row)
      out.write(0); out.write(2); out.write(2); out.write(1) // delta
      out.write(1); out.write(2) // one px idx2 at (5, top)
      out.write(0); out.write(1) // EOB
      out.toByteArray
    }
    val hp = PixelDecoder.decode(hand).get
    assert((hp.width, hp.height) === (6, 2))
    assert(hp.gray === Array(0, 0, 0, 0, 0, 40, 20, 20, 20, 0, 0, 0))
    // index beyond the color table is corruption, not a silent pixel
    val bad = PixelEncoder.bmpPaletted(4, 2, (_, _) => 2,
      Array.tabulate(8)(k => k * 0x111111))
    // biClrUsed is at offset 46; shrink the declared table to 2
    bad(46) = 2
    val e = intercept[IllegalArgumentException] {
      PixelDecoder.decode(bad)
    }
    assert(e.getMessage.contains("pixel index"))
  }

  test("FlacDecoder: bit-exact round-trip through every subframe " +
    "strategy, stereo decorrelation mode, and multi-frame split; " +
    "non-FLAC is None; CRC corruption fails loudly") {
    import graft.ext.{FlacDecoder, FlacEncoder}
    // deterministic pseudo-audio exercising rice across magnitudes
    def sig(n: Int, seed: Int): Array[Int] = Array.tabulate(n) { t =>
      val h = (seed + 1) * (t * 101 + 1) + seed * 7919
      ((h * 2654435761L / 1024) % 512).toInt - 256
    }
    val mono = sig(300, 3)
    for (mode <- Seq("constant", "verbatim", "fixed0", "fixed1",
      "fixed2", "fixed3", "fixed4", "lpc")) {
      val in = if (mode == "constant") Array.fill(300)(-77) else mono
      val f = FlacDecoder.decode(
        FlacEncoder.encode(Array(in), 16000, mode = mode)).get
      assert(f.sampleRate === 16000 && f.channels === 1 && f.bps === 16)
      assert(f.samples(0) === in, mode)
    }
    // stereo: all four assignments reconstruct both channels exactly,
    // including odd l+r (the mid floor + side parity-bit path)
    val l = sig(257, 5)
    val r = sig(257, 9).map(v => v + 1) // force odd sums to occur
    for (asgn <- Seq("independent", "leftside", "rightside", "midside")) {
      val f = FlacDecoder.decode(FlacEncoder.encode(Array(l, r),
        44100, mode = "fixed2", assignment = asgn)).get
      assert(f.channels === 2)
      assert(f.samples(0) === l, asgn)
      assert(f.samples(1) === r, asgn)
      assert(FlacDecoder.firstChannel(FlacEncoder.encode(Array(l, r),
        44100, mode = "fixed2", assignment = asgn)).get === l)
    }
    // multi-frame: blockSize smaller than the signal splits frames;
    // the UTF-8 frame numbers and per-frame CRCs all verify
    val long = sig(1000, 11)
    val enc = FlacEncoder.encode(Array(long), 8000, mode = "fixed2",
      blockSize = 192)
    assert(FlacDecoder.decode(enc).get.samples(0) === long)
    // 8-bit and 24-bit sample sizes survive too
    val small = sig(100, 2).map(v => v / 4)
    assert(FlacDecoder.decode(FlacEncoder.encode(Array(small), 8000,
      bps = 8, mode = "fixed1")).get.samples(0) === small)
    val wide = sig(100, 2).map(v => v * 30000)
    assert(FlacDecoder.decode(FlacEncoder.encode(Array(wide), 8000,
      bps = 24, mode = "fixed2")).get.samples(0) === wide)
    // header-only STREAMINFO census agrees with the full decode
    assert(FlacDecoder.streamInfo(enc).get ===
      FlacDecoder.StreamInfo(8000, 1, 16, 1000L))
    // not FLAC -> None (the dispatch contract)
    assert(FlacDecoder.decode("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(FlacDecoder.streamInfo("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    // a flipped bit in frame data fails the CRC-16 loudly, never
    // yields silently-wrong samples (headers end ~byte 50; flip late)
    val bad = enc.clone()
    bad(bad.length - 40) = (bad(bad.length - 40) ^ 0x10).toByte
    val e = intercept[IllegalArgumentException] {
      FlacDecoder.decode(bad)
    }
    assert(e.getMessage.contains("CRC"), e.getMessage)
    // truncation mid-stream is loud, not a short decode
    val cut = java.util.Arrays.copyOf(enc, enc.length - 30)
    val e2 = intercept[IllegalArgumentException] {
      FlacDecoder.decode(cut)
    }
    assert(e2.getMessage.contains("truncated") ||
      e2.getMessage.contains("samples") ||
      e2.getMessage.contains("CRC"), e2.getMessage)
  }

  test("FlacDecoder multi-partition property: random VALID rice/rice2 " +
      "bitstreams with partition orders 0-3, mixed per-partition " +
      "params and raw escapes decode to the exact samples") {
    // round-17 property campaign: the ENCODER only ever writes
    // partition order 0, so the decoder's multi-partition walk
    // (first partition short by the predictor order, per-partition
    // parameters, the 5-bit rice2 domain, the raw escape) had no
    // round-trip coverage. This test writes random valid streams
    // with a local bit-writer + CRC replica (RFC 9639 framing, the
    // same construction FlacEncoder uses) and requires bit-exact
    // sample recovery.
    import graft.ext.FlacDecoder
    final class W {
      val out = new java.io.ByteArrayOutputStream()
      var cur = 0; var nb = 0
      def bits(v: Long, n: Int): Unit = {
        var k = n - 1
        while (k >= 0) {
          cur = (cur << 1) | ((v >>> k) & 1).toInt; nb += 1
          if (nb == 8) { out.write(cur); cur = 0; nb = 0 }
          k -= 1
        }
      }
      def alignByte(): Unit = if (nb > 0) bits(0, 8 - nb)
      def bytes: Array[Byte] = { assert(nb == 0); out.toByteArray }
    }
    def crc8(b: Array[Byte]): Int = {
      var crc = 0
      for (x <- b) {
        crc ^= x & 0xff
        for (_ <- 0 until 8)
          crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
                else (crc << 1) & 0xff
      }
      crc
    }
    def crc16(b: Array[Byte]): Int = {
      var crc = 0
      for (x <- b) {
        crc ^= (x & 0xff) << 8
        for (_ <- 0 until 8)
          crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
                else (crc << 1) & 0xffff
      }
      crc
    }
    var seed = 0x5851F42D4C957F2DL
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    for (trial <- 0 until 24) {
      val po = nxt(4)                  // partition order 0..3
      val order = nxt(5)               // fixed predictor 0..4
      val method = nxt(2)              // 0 = rice(4-bit), 1 = rice2
      val blockSize = (1 << po) * (8 + nxt(4) * 8) // divisible by 2^po
      val samples = Array.tabulate(blockSize)(_ => nxt(4001) - 2000)
      val res = Array.tabulate(blockSize - order) { k =>
        val i = k + order
        val p = order match {
          case 0 => 0
          case 1 => samples(i - 1)
          case 2 => 2 * samples(i - 1) - samples(i - 2)
          case 3 => 3 * samples(i - 1) - 3 * samples(i - 2) +
            samples(i - 3)
          case _ => 4 * samples(i - 1) - 6 * samples(i - 2) +
            4 * samples(i - 3) - samples(i - 4)
        }
        samples(i) - p
      }
      val head = new W
      head.bits(0x664c6143L, 32)
      head.bits(1, 1); head.bits(0, 7); head.bits(34, 24)
      head.bits(blockSize.toLong, 16); head.bits(blockSize.toLong, 16)
      head.bits(0, 24); head.bits(0, 24)
      head.bits(16000L, 20); head.bits(0, 3); head.bits(15L, 5)
      head.bits(blockSize.toLong, 36)
      head.bits(0, 64); head.bits(0, 64)
      val fw = new W
      fw.bits(0x3ffe, 14); fw.bits(0, 1); fw.bits(0, 1)
      fw.bits(7, 4); fw.bits(0, 4); fw.bits(0, 4) // mono
      fw.bits(4, 3); fw.bits(0, 1)                // 16 bps
      fw.bits(0, 8)                               // frame number 0
      fw.bits((blockSize - 1).toLong, 16)
      val hb = { fw.alignByte(); fw.bytes }
      val f2 = new W
      hb.foreach(b => f2.bits(b & 0xffL, 8))
      f2.bits(crc8(hb).toLong, 8)
      // fixed-order subframe, multi-partition residual
      f2.bits(0, 1); f2.bits((8 + order).toLong, 6); f2.bits(0, 1)
      for (i <- 0 until order)
        f2.bits(samples(i).toLong & 0xffffL, 16)
      f2.bits(method.toLong, 2)
      f2.bits(po.toLong, 4)
      val paramBits = if (method == 0) 4 else 5
      val escape = (1 << paramBits) - 1
      val perPart = blockSize >> po
      var at = 0
      for (p <- 0 until (1 << po)) {
        val n = if (p == 0) perPart - order else perPart
        val slice = res.slice(at, at + n)
        if (nxt(4) == 0) {             // raw escape partition
          f2.bits(escape.toLong, paramBits)
          f2.bits(17L, 5)              // 17 signed bits covers ±16000
          slice.foreach(e => f2.bits(e.toLong & 0x1ffff, 17))
        } else {                       // rice partition, random param
          val param = nxt(if (method == 0) 15 else 20)
          f2.bits(param.toLong, paramBits)
          for (e <- slice) {
            val u = (e.toLong << 1) ^ (e.toLong >> 63)
            val q = (u >>> param).toInt
            for (_ <- 0 until q) f2.bits(0, 1)
            f2.bits(1, 1)
            f2.bits(u & ((1L << param) - 1), param)
          }
        }
        at += n
      }
      f2.alignByte()
      val fb = f2.bytes
      val fin = new W
      fb.foreach(b => fin.bits(b & 0xffL, 8))
      fin.bits(crc16(fb).toLong, 16)
      val stream = head.bytes ++ fin.bytes
      val got = FlacDecoder.decode(stream)
      assert(got.isDefined, s"trial $trial did not decode")
      assert(got.get.samples(0) === samples,
        s"trial $trial po=$po order=$order method=$method " +
          s"blockSize=$blockSize")
    }
  }

  test("Subtitles property fuzz (r18): randomized cue grids rendered " +
    "through a randomized test-side SRT/VTT writer — CRLF/LF, BOM, " +
    "comma/dot separators, >99h and short MM:SS timestamps, sparse " +
    "indices, blank-line runs, optional VTT ids, cue settings, " +
    "NOTE/STYLE/REGION blocks, styling + voice + karaoke tags — " +
    "parse back to the exact grid") {
    import graft.ext.Subtitles.{parseSrt, parseVtt}
    for (seed <- 0 until 20) {
      val rnd = new scala.util.Random(700 + seed)
      val words = IndexedSeq("alpha", "beta", "gamma", "delta", "eps",
        "zeta", "eta", "theta", "42", "x9")
      def textLine() = Seq.fill(1 + rnd.nextInt(4))(
        words(rnd.nextInt(words.size))).mkString(" ")
      val nCues = 1 + rnd.nextInt(6)
      var t = rnd.nextInt(5000).toLong
      val cues = (0 until nCues).map { k =>
        val start = t + rnd.nextInt(100000)
        val end = start + rnd.nextInt(8000) // == start allowed
        t = end + rnd.nextInt(5000)
        val hOffset = // exercise >99h recordings in some cues
          if (rnd.nextDouble() < 0.2) 100L * 3600000 else 0L
        (k, start + hOffset, end + hOffset,
          Seq.fill(1 + rnd.nextInt(3))(textLine()))
      }
      val nl = if (rnd.nextBoolean()) "\r\n" else "\n"
      val sep = if (rnd.nextBoolean()) "," else "."
      def fmt(ms: Long): String = {
        val h = ms / 3600000; val m = ms / 60000 % 60
        val s = ms / 1000 % 60; val f = ms % 1000
        f"$h%02d:$m%02d:$s%02d$sep$f%03d"
      }
      // ---- SRT: sparse indices, random blank runs ----
      val srtIdx = cues.indices.map(_ * (1 + rnd.nextInt(3)) + 1)
      val srt = (if (rnd.nextBoolean()) "﻿" else "") +
        cues.zip(srtIdx).map { case ((_, s, e, txt), idx) =>
          s"$idx$nl${fmt(s)} --> ${fmt(e)}$nl${txt.mkString(nl)}"
        }.mkString(nl * (2 + rnd.nextInt(2))) + nl * rnd.nextInt(3)
      assert(parseSrt(srt) === cues.zip(srtIdx).map {
        case ((_, s, e, txt), idx) => (idx, s, e, txt.mkString("\n"))
      }, s"seed=$seed srt")
      // ---- VTT: header meta, comment blocks, ids, settings, tags ----
      val v = new StringBuilder()
      if (rnd.nextBoolean()) v ++= "﻿"
      v ++= "WEBVTT"
      if (rnd.nextBoolean()) v ++= " - fuzz file"
      v ++= nl
      if (rnd.nextBoolean()) v ++= s"Kind: captions${nl}Language: en$nl"
      v ++= nl
      def commentBlock(): Unit = rnd.nextInt(3) match {
        case 0 => v ++= s"NOTE a comment$nl with lines$nl$nl"
        case 1 => v ++= s"STYLE$nl::cue { color: red }$nl$nl"
        case _ => v ++= s"REGION$nl id:r1 width:40%$nl$nl"
      }
      def decorate(line: String): String = rnd.nextInt(5) match {
        case 0 => s"<b>$line</b>"
        case 1 => s"<c.loud>$line</c>"
        case 2 => s"<v Ann>$line</v>"
        case 3 => s"<00:00:01.000>$line" // karaoke tag
        case _ => line
      }
      cues.foreach { case (_, s, e, txt) =>
        if (rnd.nextDouble() < 0.4) commentBlock()
        if (rnd.nextBoolean()) v ++= s"id-${rnd.nextInt(100)}$nl"
        def vfmt(ms: Long): String = // short MM:SS.mmm form when < 1h
          if (ms < 3600000 && rnd.nextBoolean())
            f"${ms / 60000}%02d:${ms / 1000 % 60}%02d.${ms % 1000}%03d"
          else fmt(ms).replace(",", ".")
        v ++= s"${vfmt(s)} --> ${vfmt(e)}"
        if (rnd.nextBoolean()) v ++= " align:start line:0%"
        v ++= nl
        txt.foreach(l => v ++= decorate(l) + nl)
        v ++= nl
      }
      if (rnd.nextDouble() < 0.3) commentBlock()
      val gotVtt = parseVtt(v.toString)
      assert(gotVtt === cues.zipWithIndex.map {
        case ((_, s, e, txt), k) => (k + 1, s, e, txt.mkString("\n"))
      }, s"seed=$seed vtt")
    }
  }

  test("Subtitles.parseSrt: builder round-trip, BOM/LF/dot variants, " +
    "multi-line cues, and loud malformed-cue failures") {
    import graft.ext.Subtitles.{buildSrt, parseSrt}
    val cues = Seq(
      (1, 0L, 1500L, "hello"),
      (2, 61234L, 3600000L + 2005L, "two\nlines"),
      (7, 359999999L, 360000000L, "sparse index"))
    assert(parseSrt(buildSrt(cues)) === cues)
    // LF-only, dot separator, BOM, extra blank lines — the wild
    val messy = "﻿1\n00:00:01.500 --> 00:00:02.000\nfirst\n\n\n" +
      "2\n00:01:00,000 --> 00:01:01,250\nsecond a\nsecond b\n\n"
    assert(parseSrt(messy) === Seq(
      (1, 1500L, 2000L, "first"),
      (2, 60000L, 61250L, "second a\nsecond b")))
    // WebVTT: header metadata, NOTE block, optional identifier, cue
    // settings, short MM:SS.mmm timestamps, styling + karaoke tags
    import graft.ext.Subtitles.parseVtt
    val vtt = "WEBVTT - demo\nKind: captions\n\n" +
      "NOTE a comment\nwith a second line\n\n" +
      "00:05.000 --> 00:06.500 align:start\n" +
      "<v Ann><00:00:05.200>plain <b>bold</b></v>\n\n" +
      "my-id-2\n01:00:00.000 --> 01:00:01,000\nline a\n<c.loud>line b</c>\n"
    assert(parseVtt(vtt) === Seq(
      (1, 5000L, 6500L, "plain bold"),
      (2, 3600000L, 3600000L + 1000L, "line a\nline b")))
    val eh = intercept[IllegalArgumentException] { parseVtt("1\n") }
    assert(eh.getMessage.contains("WEBVTT header"))
    val et = intercept[IllegalArgumentException] {
      parseVtt("WEBVTT\n\n00:xx.000 --> 00:06.000\nt\n")
    }
    assert(et.getMessage.contains("bad timestamp"))
    // malformed cues are loud, with the cue number
    for ((bad, what) <- Seq(
      ("1\n00:00:xx,000 --> 00:00:01,000\nt\n", "bad timestamp"),
      ("1\n00:00:02,000 --> 00:00:01,000\nt\n", "precedes"),
      ("1\n00:00:01,000 00:00:02,000\nt\n", "no arrow"),
      ("x\n00:00:01,000 --> 00:00:02,000\nt\n", "not a number"),
      ("1\n00:00:01,000 --> 00:00:02,000\n\n", "no text"))) {
      val e = intercept[IllegalArgumentException] { parseSrt(bad) }
      assert(e.getMessage.contains(what), s"$what: ${e.getMessage}")
    }
  }

  test("HtmlText.extractText: rawtext containment, quoted attributes, " +
    "comments with tags, entities, block-vs-inline lines, whitespace " +
    "collapse, and best-effort on truncation") {
    import graft.ext.HtmlText.extractText
    // a script QUOTING a close tag must not leak; attribute '>' must
    // not end the tag early; the comment's tags must vanish
    val page = """<html><head><title> My  Title </title>
      |<style>p { color: red }</style></head>
      |<body><!-- <p>hidden</p> -->
      |<p class="x" title="a > b">Hello <b>bold</b> world &amp;
      |  more</p>
      |<script>if (a < b) { s = "</p>fake"; }</script>
      |<ul><li>one</li><li>two &lt;tag&gt; &#65;&#x42;</li></ul>
      |</body></html>""".stripMargin
    assert(extractText(page) ===
      "My Title\nHello bold world & more\none\ntwo <tag> AB")
    // inline tags continue the line; block tags split it
    assert(extractText("a<b>c</b>d<p>e") === "acd\ne")
    // unknown entity stays literal; nbsp becomes a plain space
    assert(extractText("x &unknown; y&nbsp;z") === "x &unknown; y z")
    // bare '<' not opening a tag is text
    assert(extractText("1 < 2 and 3 > 2") === "1 < 2 and 3 > 2")
    // link extraction: quoted/unquoted/entity hrefs in order; href
    // inside a quoted OTHER attribute or on a non-anchor tag skips
    import graft.ext.HtmlText.extractLinkTargets
    assert(extractLinkTargets(
      """<a href="http://x/?a=1&amp;b=2">t</a>
        |<a title="href=decoy" href='/y'>u</a>
        |<a href=/bare>v</a><link href="/css"><a name=z>w</a>"""
        .stripMargin) === Seq("http://x/?a=1&b=2", "/y", "/bare"))
    assert(extractLinkTargets("no links <p>here</p>") === Seq.empty)
    // comments and script/style RAWTEXT skip whole — a commented-out
    // or script-quoted anchor is data, not a live crawl-frontier link
    // (the same regions extractText drops)
    assert(extractLinkTargets(
      """<body><!-- <a href="/retired">x</a> -->
        |<script>var s = '<a href="/phantom">';</script>
        |<a href="/live">ok</a></body>""".stripMargin) === Seq("/live"))
    // truncation: open comment / tag / rawtext at EOF drop silently
    assert(extractText("ok<!-- never closed") === "ok")
    assert(extractText("ok<p unfinished") === "ok")
    assert(extractText("ok<script>var x = 1;") === "ok")
    assert(extractText("") === "")
  }

  test("BitmapDistinct: build/union/cardinality agree with Set across " +
    "the array->bitmap promotion boundary, cross-form unions, and " +
    "multi-container values; out-of-range is loud") {
    import graft.ext.BitmapDistinct._
    def rnd(seed: Int, n: Int, span: Long): Seq[Long] = {
      val r = new scala.util.Random(seed)
      Seq.fill(n)((r.nextLong().abs % span))
    }
    // spans chosen to hit: single sparse container (array form),
    // dense container past 4096 (bitmap form), values across many
    // containers including >2^31 (unsigned range)
    val cases = Seq(
      rnd(1, 100, 65536L),           // one array container
      rnd(2, 9000, 6000L),           // dense: promotes to bitmap
      rnd(3, 5000, 1L << 20),        // several containers, mixed forms
      rnd(4, 3000, 0xffffffffL),     // full unsigned span
      (0L until 4096L) ++ Seq(4096L), // exactly past the boundary
      Seq.empty[Long])
    for ((vs, i) <- cases.zipWithIndex) {
      val b = build(vs)
      assert(cardinality(b) === vs.toSet.size.toLong, s"case $i")
    }
    for (Seq(x, y) <- cases.combinations(2)) {
      val u = union(build(x), build(y))
      assert(cardinality(u) === (x.toSet ++ y.toSet).size.toLong)
      // union is idempotent and commutative on the serialized form
      assert(java.util.Arrays.equals(union(build(y), build(x)), u))
      assert(java.util.Arrays.equals(union(u, build(x)), u))
      // intersection cardinality — exact across the same form mix
      assert(intersectCardinality(build(x), build(y)) ===
        (x.toSet & y.toSet).size.toLong)
      assert(intersectCardinality(build(x), u) === x.toSet.size.toLong)
    }
    val e = intercept[IllegalArgumentException] { build(Seq(-1L)) }
    assert(e.getMessage.contains("unsigned 32-bit"))
    assert(cardinality(Array.emptyByteArray) === 0L)
  }

  test("VideoHeader property fuzz (r18): randomized ISO-BMFF box " +
    "trees from an independent test-side writer — free/skip/mdat/wide " +
    "boxes before moov, largesize headers, mvhd v0/v1 at random child " +
    "positions, trak payloads of random junk — parse recovers exact " +
    "facts; truncations and random blobs never throw") {
    import graft.ext.VideoHeader
    import java.io.ByteArrayOutputStream
    def be32(o: ByteArrayOutputStream, v: Long): Unit =
      (3 to 0 by -1).foreach(s => o.write(((v >> (8 * s)) & 0xff).toInt))
    def be64(o: ByteArrayOutputStream, v: Long): Unit = {
      be32(o, v >>> 32); be32(o, v & 0xffffffffL)
    }
    def s4(o: ByteArrayOutputStream, s: String): Unit =
      s.foreach(c => o.write(c))
    def box(typ: String, body: Array[Byte],
            largesize: Boolean = false): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      if (largesize) {
        be32(o, 1L); s4(o, typ); be64(o, body.length + 16L)
      } else { be32(o, body.length + 8L); s4(o, typ) }
      o.write(body); o.toByteArray
    }
    for (seed <- 0 until 15) {
      val rnd = new scala.util.Random(300 + seed)
      val version = rnd.nextInt(2)
      val ts = 1L + rnd.nextInt(1000000)
      val dur = if (version == 1 && rnd.nextBoolean())
        (1L << 33) + rnd.nextInt(1000000) // only representable in v1
      else rnd.nextInt(1 << 30).toLong
      val nTracks = rnd.nextInt(4)
      def junkBody(n: Int) = Array.fill(n)(rnd.nextInt(256).toByte)
      val mvhd = {
        val o = new ByteArrayOutputStream()
        o.write(version); o.write(0); o.write(0); o.write(0) // ver+flags
        if (version == 0) {
          be32(o, rnd.nextInt()); be32(o, rnd.nextInt()) // times
          be32(o, ts); be32(o, dur)
        } else {
          be64(o, rnd.nextLong()); be64(o, rnd.nextLong())
          be32(o, ts); be64(o, dur)
        }
        o.write(junkBody(rnd.nextInt(60))) // rate/volume/matrix tail
        box("mvhd", o.toByteArray)
      }
      val children = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      (0 until nTracks).foreach(_ =>
        children += box("trak", junkBody(rnd.nextInt(40))))
      if (rnd.nextBoolean()) children += box("udta", junkBody(9))
      if (rnd.nextBoolean()) children += box("free", junkBody(5))
      children.insert(rnd.nextInt(children.size + 1), mvhd)
      val moovBody = children.toArray.flatten
      val moov = box("moov", moovBody,
        largesize = rnd.nextDouble() < 0.3)
      val file = new ByteArrayOutputStream()
      file.write(box("ftyp",
        "isomiso2avc1".getBytes("US-ASCII") ++ junkBody(rnd.nextInt(12))))
      if (rnd.nextBoolean())
        file.write(box("free", junkBody(rnd.nextInt(20))))
      if (rnd.nextBoolean())
        file.write(box("mdat", junkBody(rnd.nextInt(200)),
          largesize = rnd.nextDouble() < 0.3))
      file.write(moov)
      if (rnd.nextBoolean()) file.write(box("skip", junkBody(3)))
      val mp4 = file.toByteArray
      val got = VideoHeader.parseMp4(mp4)
      assert(got === Some(VideoHeader.Mp4Header(nTracks, ts, dur)),
        s"seed=$seed v$version")
      // robustness: every truncation prefix and bit-flipped variant
      // must return an Option, never throw
      for (cut <- Seq(0, 1, 7, 8, mp4.length / 2, mp4.length - 1))
        VideoHeader.parseMp4(java.util.Arrays.copyOf(mp4, cut)): Unit
      val flipped = mp4.clone()
      val fi = rnd.nextInt(mp4.length)
      flipped(fi) = (flipped(fi) ^ 0xff).toByte
      VideoHeader.parseMp4(flipped): Unit
      VideoHeader.parseMp4(junkBody(rnd.nextInt(64))): Unit
    }
  }

  test("MjpegAvi property fuzz (r18): randomized containers from an " +
    "independent test-side RIFF writer — JUNK/INFO/idx1 chunks, an " +
    "audio stream, interleaved ##wb audio inside movi, mixed " +
    "rec-grouped and bare frames, random stream digits and dc/db " +
    "names, odd-length payload padding — parse and frameIndex " +
    "recover exactly the planted facts and frames") {
    import graft.ext.{JpegEncoder, MjpegAvi, PixelDecoder}
    import java.io.ByteArrayOutputStream
    // RIFF writer derived from the AVI RIFF reference, independent of
    // MjpegAvi.encode: every chunk hand-assembled so the fuzz can
    // splice structures the fixture encoder never emits
    def w16(o: ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
    }
    def w32(o: ByteArrayOutputStream, v: Int): Unit = {
      w16(o, v & 0xffff); w16(o, v >>> 16)
    }
    def s4(o: ByteArrayOutputStream, s: String): Unit =
      s.foreach(c => o.write(c))
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      s4(o, id); w32(o, body.length); o.write(body)
      if ((body.length & 1) == 1) o.write(0) // RIFF even padding
      o.toByteArray
    }
    def list(typ: String, bodies: Array[Byte]*): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      s4(o, typ); bodies.foreach(o.write)
      chunk("LIST", o.toByteArray)
    }
    for (seed <- 0 until 15) {
      val rnd = new scala.util.Random(100 + seed)
      val (w, h) = (16, 8)
      val usPerFrame = 1 + rnd.nextInt(100000)
      val nFrames = rnd.nextInt(7)
      val frames = (0 until nFrames).map(f => JpegEncoder.grayDcOnly(
        w, h, (bx, _) => (f * 89 + bx * 31 + seed * 7) % 256 - 128))
      def junk(): Array[Byte] =
        chunk("JUNK", Array.fill(rnd.nextInt(9))(rnd.nextInt(256).toByte))
      // avih: usPerFrame @0, totalFrames @16, width @32, height @36;
      // other fields random (the parser must not depend on them)
      val avih = {
        val o = new ByteArrayOutputStream()
        w32(o, usPerFrame)
        (1 to 3).foreach(_ => w32(o, rnd.nextInt()))
        w32(o, nFrames)
        (5 to 7).foreach(_ => w32(o, rnd.nextInt()))
        w32(o, w); w32(o, h)
        (10 to 13).foreach(_ => w32(o, rnd.nextInt()))
        chunk("avih", o.toByteArray)
      }
      val strhVids = {
        val o = new ByteArrayOutputStream()
        s4(o, "vids"); s4(o, "MJPG")
        (0 until rnd.nextInt(12)).foreach(_ => o.write(rnd.nextInt(256)))
        chunk("strh", o.toByteArray)
      }
      val strlVids = list("strl", strhVids,
        chunk("strf", Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)))
      // an audio stream the parser must skip without tripping the
      // MJPG check (its strh is NOT 'vids')
      val strlAuds = list("strl",
        chunk("strh", {
          val o = new ByteArrayOutputStream()
          s4(o, "auds"); s4(o, "    ")
          o.toByteArray
        }),
        chunk("strf", Array.fill(16)(rnd.nextInt(256).toByte)))
      val hdrl =
        if (rnd.nextBoolean()) list("hdrl", avih, strlVids, strlAuds)
        else list("hdrl", avih, strlAuds, strlVids)
      // movi: frames with random stream digits and dc/db suffixes,
      // some rec-wrapped (optionally with an audio chunk in the same
      // record, the interleaved-muxer shape), audio chunks between
      val movi = {
        val bodies = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        for (f <- frames) {
          if (rnd.nextDouble() < 0.3)
            bodies += chunk("01wb",
              Array.fill(1 + rnd.nextInt(7))(rnd.nextInt(256).toByte))
          val cid = s"${rnd.nextInt(10)}${rnd.nextInt(10)}" +
            (if (rnd.nextBoolean()) "dc" else "db")
          val fc = chunk(cid, f)
          bodies += (if (rnd.nextDouble() < 0.4) {
            if (rnd.nextBoolean()) list("rec ", fc,
              chunk("01wb", Array.fill(4)(rnd.nextInt(256).toByte)))
            else list("rec ", fc)
          } else fc)
        }
        if (rnd.nextDouble() < 0.3)
          bodies += chunk("01wb", Array.fill(6)(rnd.nextInt(256).toByte))
        list("movi", bodies.toSeq: _*)
      }
      val info = list("INFO",
        chunk("ISFT", "fuzz writer ".getBytes("US-ASCII")))
      val idx1 = chunk("idx1",
        Array.fill(16 * rnd.nextInt(3))(rnd.nextInt(256).toByte))
      val inner = new ByteArrayOutputStream()
      s4(inner, "AVI ")
      if (rnd.nextBoolean()) inner.write(junk())
      inner.write(hdrl)
      if (rnd.nextBoolean()) inner.write(junk())
      if (rnd.nextBoolean()) inner.write(info)
      inner.write(movi)
      if (rnd.nextBoolean()) inner.write(idx1)
      val file = new ByteArrayOutputStream()
      s4(file, "RIFF"); w32(file, inner.size); inner.writeTo(file)
      val avi = file.toByteArray
      // parse recovers exactly the planted header facts
      val got = MjpegAvi.parse(avi).get
      assert((got.width, got.height, got.usPerFrame, got.totalFrames)
        === ((w, h, usPerFrame, nFrames)), s"seed=$seed")
      // frameIndex recovers exactly the planted frames, in order,
      // byte for byte — audio/JUNK/idx1 never counted, rec always
      // unwrapped
      val idx = MjpegAvi.frameIndex(avi)
      assert(idx.map(_._1) === frames.indices.toSeq, s"seed=$seed")
      for (((no, at, len), orig) <- idx.zip(frames))
        assert(java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(avi, at, at + len), orig),
          s"seed=$seed frame $no")
      // a strided sample decodes to the same rasters as direct decode
      if (nFrames > 0) {
        val stride = 1 + rnd.nextInt(3)
        for ((no, px) <- MjpegAvi.sampleFrames(avi, stride)) {
          assert(px.gray === PixelDecoder.decode(frames(no)).get.gray,
            s"seed=$seed frame $no")
        }
      }
    }
  }

  test("MjpegAvi: container round-trip (headers, frame index, strided " +
    "decode through the JPEG decoder), odd-length frame padding, " +
    "non-AVI is None, corruption and non-MJPG streams fail loudly") {
    import graft.ext.{JpegEncoder, MjpegAvi, PixelDecoder}
    // 5 frames, 16x8, block DCs chosen so frames differ and one
    // frame's JPEG has ODD byte length (exercises chunk padding)
    def frame(f: Int): Array[Byte] =
      JpegEncoder.grayDcOnly(16, 8, (bx, _) => (f * 97 + bx * 53) % 256 - 128)
    val frames = (0 until 5).map(frame)
    assert(frames.map(_.length % 2).distinct.size >= 1) // sanity
    val avi = MjpegAvi.encode(frames, 16, 8, usPerFrame = 40000)
    val info = MjpegAvi.parse(avi).get
    assert((info.width, info.height, info.usPerFrame, info.totalFrames)
      === ((16, 8, 40000, 5)))
    val idx = MjpegAvi.frameIndex(avi)
    assert(idx.map(_._1) === Seq(0, 1, 2, 3, 4))
    // each indexed payload is exactly the original frame bytes
    for (((no, at, len), orig) <- idx.zip(frames))
      assert(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(avi, at, at + len), orig), s"frame $no")
    // strided sampling decodes frames 0, 2, 4 only, matching a
    // direct decode of the same payloads
    val sampled = MjpegAvi.sampleFrames(avi, stride = 2).toSeq
    assert(sampled.map(_._1) === Seq(0, 2, 4))
    for ((no, px) <- sampled) {
      val direct = PixelDecoder.decode(frame(no)).get
      assert(px.gray === direct.gray, s"frame $no")
      assert((px.width, px.height) === ((16, 8)))
    }
    // interleaved muxers wrap each frame in a 'LIST rec ' record —
    // the index must unwrap them to the SAME payloads, not silently
    // return zero frames
    val aviRec = MjpegAvi.encode(frames, 16, 8, usPerFrame = 40000,
      recGrouped = true)
    val idxRec = MjpegAvi.frameIndex(aviRec)
    assert(idxRec.map(_._1) === Seq(0, 1, 2, 3, 4))
    for (((no, at, len), orig) <- idxRec.zip(frames))
      assert(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(aviRec, at, at + len), orig),
        s"rec-grouped frame $no")
    // non-AVI payloads are None (dispatch), including a WAV RIFF
    assert(MjpegAvi.parse("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(MjpegAvi.parse(frame(0)).isEmpty)
    // a corrupted chunk length overruns its parent -> loud
    val bad = avi.clone()
    // find the first 00dc chunk and inflate its length field
    val at0 = idx.head._2
    bad(at0 - 4) = 0xff.toByte; bad(at0 - 3) = 0xff.toByte
    val e = intercept[IllegalArgumentException] {
      MjpegAvi.frameIndex(bad)
    }
    assert(e.getMessage.contains("overruns"), e.getMessage)
    // a non-MJPG vids stream is outside the subset -> loud
    val notMjpg = avi.clone()
    val strhAt = {
      var i = 0
      while (!(notMjpg(i) == 'v' && notMjpg(i + 1) == 'i' &&
        notMjpg(i + 2) == 'd' && notMjpg(i + 3) == 's')) i += 1
      i
    }
    notMjpg(strhAt + 4) = 'H'
    val e2 = intercept[IllegalArgumentException] {
      MjpegAvi.parse(notMjpg)
    }
    assert(e2.getMessage.contains("MJPG"), e2.getMessage)
  }

  test("audioSegments / videoScenes / videoCurationFeatures: exact " +
    "runs and boundaries on hand-built members; loud contracts " +
    "(undecodable audio, dimension-changing clip)") {
    import graft.ext.{JpegEncoder, MjpegAvi, Multimodal, WavEncoder}
    // segments: threshold is STRICT (>): a run of exactly-threshold
    // samples is silence; runs at both ends are kept
    val samples = Array(200, 150, 128, 128, -300, 0, 0, 129, 5, 131)
    val segs = Multimodal.audioSegments(
      Seq((7L, WavEncoder.pcm16(samples))).toDF("doc_id", "blob"),
      $"doc_id", $"blob", threshold = 128)
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    assert(segs === Set(
      (7L, 0, 0, 2, 350L),   // 200, 150
      (7L, 1, 4, 1, 300L),   // |-300|
      (7L, 2, 7, 1, 129L),
      (7L, 3, 9, 1, 131L)))
    val eAudio = intercept[org.apache.spark.SparkException] {
      Multimodal.audioSegments(
        Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "blob"),
        $"doc_id", $"blob", 128).collect()
    }
    assert(eAudio.getCause.getMessage.contains("not a decodable"))
    // scenes: flat(dc)=((dc+4)>>3)+128; dc jump of 256 = flat jump 32
    def frame(dc: Int) = JpegEncoder.grayDcOnly(16, 8, (_, _) => dc)
    val clip = MjpegAvi.encode(
      Seq(frame(0), frame(0), frame(256), frame(260)), 16, 8, 40000)
    val scenes = Multimodal.videoScenes(
      Seq((3L, clip)).toDF("doc_id", "blob"), cutThreshold = 15)
      .as[(Long, Int, Int, Int)].collect().toSet
    // cut only at frame 2 (diff 32 > 15); frame 3 differs by 0-1
    assert(scenes === Set((3L, 0, 0, 2), (3L, 1, 2, 2)))
    // one-pass features agree with the separate ops
    val feats = Multimodal.videoCurationFeatures(
      Seq((3L, clip)).toDF("doc_id", "blob"), cutThreshold = 15)
      .as[(Long, Long, Long, Long)].collect().head
    assert(feats._2 === 128L * 128) // keyframe gray_sum (dc 0 -> 128)
    assert(feats._3 === 2L)        // n_scenes
    // a clip whose frames change dimensions is corruption, not a
    // silently-wrong diff
    val badClip = MjpegAvi.encode(
      Seq(frame(0), JpegEncoder.grayDcOnly(24, 8, (_, _) => 0)),
      16, 8, 40000)
    val eDims = intercept[org.apache.spark.SparkException] {
      Multimodal.videoScenes(
        Seq((4L, badClip)).toDF("doc_id", "blob"), 15).collect()
    }
    assert(eDims.getCause.getMessage.contains("changes dimensions"))
  }

  test("PixelDecoder GIF: round-trips the uncompressed-technique " +
    "encoder, decodes a genuinely COMPRESSED variable-width LZW " +
    "stream (chain growth, width bumps, KwKwK), and fails loudly on " +
    "truncation and early EOI") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    val w = 23; val h = 11
    def g(x: Int, y: Int) = (x * 3 + y * 31) % 256
    val wantG = Array.tabulate(h, w)((y, x) => g(x, y)).flatten
    // 1) encoder round-trip (fixed-width literals + periodic CLEAR)
    val gif = PixelEncoder.gif(w, h, g)
    val p = PixelDecoder.decode(gif).get
    assert((p.width, p.height) === (w, h))
    assert(p.gray === wantG)
    // 2) genuinely compressed stream: a reference LZW compressor
    //    (dictionary of strings, growing code width) over a raster
    //    with long runs — forces multi-byte chains, width growth
    //    past 9 bits, and the KwKwK corner (run of repeats straight
    //    after a fresh dictionary entry)
    val w2 = 64; val h2 = 48
    def g2(x: Int, y: Int) = if ((x / 8 + y / 8) % 2 == 0) 17 else 203
    val want2 = Array.tabulate(h2, w2)((y, x) => g2(x, y)).flatten
    val compressed = {
      val minCode = 8; val clear = 256; val eoi = 257
      val bits = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nBits = 0; var width = 9
      def put(c: Int): Unit = {
        acc |= c.toLong << nBits; nBits += width
        while (nBits >= 8) { bits.write((acc & 0xff).toInt); acc >>>= 8; nBits -= 8 }
      }
      val dict = scala.collection.mutable.HashMap[List[Int], Int]()
      var next = eoi + 1
      put(clear)
      var cur: List[Int] = Nil // reversed current string
      for (px <- want2) {
        val cand = px :: cur
        if (cur.isEmpty || dict.contains(cand)) cur = cand
        else {
          put(if (cur.tail.isEmpty) cur.head else dict(cur))
          if (next < 4096) {
            dict(cand) = next; next += 1
            // encoder bumps width when the NEXT code to assign no
            // longer fits (matching the decoder's next==2^width bump)
            if (next == (1 << width) + 1 && width < 12) width += 1
          }
          cur = List(px)
        }
      }
      put(if (cur.tail.isEmpty) cur.head else dict(cur))
      put(eoi)
      if (nBits > 0) bits.write((acc & 0xff).toInt)
      val z = bits.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      out.write("GIF89a".getBytes("US-ASCII")); le16(w2); le16(h2)
      out.write(0xf7); out.write(0); out.write(0)
      for (k <- 0 until 256) { out.write(k); out.write(k); out.write(k) }
      // a 89a graphic-control extension in front, to exercise the skip
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0); le16(0); out.write(0); out.write(0)
      out.write(0x2c); le16(0); le16(0); le16(w2); le16(h2); out.write(0)
      out.write(minCode)
      var off = 0
      while (off < z.length) {
        val n = math.min(255, z.length - off)
        out.write(n); out.write(z, off, n); off += n
      }
      out.write(0); out.write(0x3b)
      out.toByteArray
    }
    val p2 = PixelDecoder.decode(compressed).get
    assert((p2.width, p2.height) === (w2, h2))
    assert(p2.gray === want2)
    // 3) truncation inside the LZW stream fails loudly
    val cut = java.util.Arrays.copyOf(gif, gif.length - 20)
    val e1 = intercept[IllegalArgumentException] {
      PixelDecoder.decode(cut)
    }
    assert(e1.getMessage.toLowerCase.contains("lzw") ||
      e1.getMessage.toLowerCase.contains("truncat"))
    // 4) interlace: encoder stores the Appendix E four-pass row
    //    order, decoder permutes it back — identical raster across
    //    sizes hitting empty/partial passes (h=1: only pass 1;
    //    h=5: passes 1,3,4; h=11/16: all four, odd and aligned)
    for ((wi, hi) <- Seq((7, 1), (5, 5), (23, 11), (16, 16))) {
      val pi = PixelDecoder.decode(
        PixelEncoder.gif(wi, hi, g, interlace = true)).get
      assert((pi.width, pi.height) === (wi, hi), s"${wi}x$hi")
      assert(pi.gray ===
        Array.tabulate(hi, wi)((y, x) => g(x, y)).flatten, s"${wi}x$hi")
    }
    // 5) the flag is honored, not ignored: flipping it on a
    //    sequentially-stored GIF must yield exactly the Appendix E
    //    row permutation (stored row j displays at order(j))
    val inter = gif.clone()
    // image descriptor follows the 13-byte header + 768-byte GCT
    val descAt = 13 + 768
    assert(inter(descAt) == 0x2c.toByte)
    inter(descAt + 9) = (inter(descAt + 9) | 0x40).toByte
    val pp = PixelDecoder.decode(inter).get
    val order = (for ((y0, dy) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                      y <- y0 until h by dy) yield y).toArray
    val permuted = new Array[Int](w * h)
    for (j <- 0 until h; x <- 0 until w)
      permuted(order(j) * w + x) = g(x, j)
    assert(pp.gray === permuted)
  }

  test("JpegDecoder: DC-only fixtures decode to the EXACT closed form; " +
    "a genuine AC stream matches a double-precision IDCT within ±1; " +
    "4:4:4 color plumbing and subset edges behave") {
    import graft.ext.{JpegDecoder, JpegEncoder, PixelDecoder}
    // 1) DC-only grayscale: exact closed form, edge-cropped dims
    val w = 21; val h = 13 // 3×2 blocks, cropped
    def dc(bx: Int, by: Int) = ((bx * 37 + by * 101) % 256) * 8 - 1024
    val jp = JpegEncoder.grayDcOnly(w, h, dc)
    val p = PixelDecoder.decode(jp).get
    assert((p.width, p.height) === (w, h))
    for (y <- 0 until h; x <- 0 until w) {
      val want = math.min(255, math.max(0,
        ((dc(x / 8, y / 8) + 4) >> 3) + 128))
      assert(p.gray(y * w + x) === want, s"($x,$y)")
    }
    // 2) general path: hand-build an 8×8 single-block stream with AC
    //    coefficients and check against an independent double IDCT
    def buildAc(coefZz: Seq[(Int, Int)]): Array[Byte] = {
      // coefZz: (zigzag index, value), index 0 = DC, ascending
      val out = new java.io.ByteArrayOutputStream()
      def u8w(v: Int): Unit = out.write(v & 0xff)
      def be16w(v: Int): Unit = { u8w(v >> 8); u8w(v) }
      def mk(m: Int): Unit = { u8w(0xff); u8w(m) }
      mk(0xd8)
      mk(0xdb); be16w(67); u8w(0); for (_ <- 0 until 64) u8w(1)
      mk(0xc0); be16w(11); u8w(8); be16w(8); be16w(8); u8w(1)
      u8w(1); u8w(0x11); u8w(0)
      // DC: 12 categories at 4 bits; AC: 16 symbols at 5 bits —
      // (0, size) for size 1..15 plus EOB, codes 00000..01111
      mk(0xc4); be16w(2 + 17 + 12); u8w(0x00)
      for (l <- 1 to 16) u8w(if (l == 4) 12 else 0)
      for (s <- 0 until 12) u8w(s)
      mk(0xc4); be16w(2 + 17 + 16); u8w(0x10)
      for (l <- 1 to 16) u8w(if (l == 5) 16 else 0)
      u8w(0x00); for (s <- 1 to 15) u8w(s) // symbol order: EOB, sizes
      mk(0xda); be16w(8); u8w(1); u8w(1); u8w(0x00)
      u8w(0); u8w(63); u8w(0)
      var acc = 0L; var nB = 0
      def put(v: Int, n: Int): Unit = {
        acc = (acc << n) | (v & ((1L << n) - 1)); nB += n
        while (nB >= 8) {
          val byte = ((acc >> (nB - 8)) & 0xff).toInt
          u8w(byte); if (byte == 0xff) u8w(0)
          nB -= 8
        }
      }
      def cat(v: Int) = 32 - Integer.numberOfLeadingZeros(math.abs(v))
      def ext(v: Int, s: Int) = if (v < 0) v + (1 << s) - 1 else v
      val dcV = coefZz.find(_._1 == 0).map(_._2).getOrElse(0)
      put(cat(dcV), 4)
      if (cat(dcV) > 0) put(ext(dcV, cat(dcV)), cat(dcV))
      var k = 1
      for ((zz, v) <- coefZz.filter(_._1 > 0).sortBy(_._1)) {
        assert(zz == k, "test stream uses run-0 symbols only") // run 0
        val s = cat(v)
        put(s, 5) // AC symbol (0<<4 | s), canonical code = symbol rank
        put(ext(v, s), s)
        k = zz + 1
      }
      if (k <= 63) put(0, 5) // EOB (code 00000)
      if (nB > 0) put((1 << (8 - nB)) - 1, 8 - nB)
      mk(0xd9)
      out.toByteArray
    }
    val coefs = Seq((0, 240), (1, -30), (2, 17), (3, 9), (4, -5))
    val p2 = PixelDecoder.decode(buildAc(coefs)).get
    // independent reference: real-valued 2D IDCT + the same clamp
    val zig = Array(0, 1, 8, 16, 9, 2, 3, 10) // first 8 zigzag entries
    val f = new Array[Double](64)
    for ((zz, v) <- coefs) f(zig(zz)) = v.toDouble
    def cC(u: Int) = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    for (x <- 0 until 8; y <- 0 until 8) {
      var s = 0.0
      for (u <- 0 until 8; v <- 0 until 8)
        s += cC(u) * cC(v) / 4.0 * f(u * 8 + v) *
          math.cos((2 * x + 1) * u * math.Pi / 16.0) *
          math.cos((2 * y + 1) * v * math.Pi / 16.0)
      val want = math.min(255, math.max(0, math.round(s + 128).toInt))
      val got = p2.gray(x * 8 + y)
      assert(math.abs(got - want) <= 1, s"IDCT ($x,$y): got $got want $want")
    }
    // 3) 4:4:4 color: flat neutral chroma (Cb=Cr=128 ⇒ dc 0) makes
    //    R=G=B=Y, so luma returns the Y closed form exactly
    val color = {
      val out = new java.io.ByteArrayOutputStream()
      def u8w(v: Int): Unit = out.write(v & 0xff)
      def be16w(v: Int): Unit = { u8w(v >> 8); u8w(v) }
      def mk(m: Int): Unit = { u8w(0xff); u8w(m) }
      mk(0xd8)
      mk(0xdb); be16w(67); u8w(0); for (_ <- 0 until 64) u8w(1)
      mk(0xc0); be16w(8 + 9); u8w(8); be16w(16); be16w(16); u8w(3)
      for (c <- 1 to 3) { u8w(c); u8w(0x11); u8w(0) }
      mk(0xc4); be16w(2 + 17 + 12); u8w(0x00)
      for (l <- 1 to 16) u8w(if (l == 4) 12 else 0)
      for (s <- 0 until 12) u8w(s)
      mk(0xc4); be16w(2 + 17 + 1); u8w(0x10)
      for (l <- 1 to 16) u8w(if (l == 2) 1 else 0)
      u8w(0x00)
      mk(0xda); be16w(6 + 6); u8w(3)
      for (c <- 1 to 3) { u8w(c); u8w(0x00) }
      u8w(0); u8w(63); u8w(0)
      var acc = 0L; var nB = 0
      def put(v: Int, n: Int): Unit = {
        acc = (acc << n) | (v & ((1L << n) - 1)); nB += n
        while (nB >= 8) {
          val byte = ((acc >> (nB - 8)) & 0xff).toInt
          u8w(byte); if (byte == 0xff) u8w(0)
          nB -= 8
        }
      }
      def cat(v: Int) = 32 - Integer.numberOfLeadingZeros(math.abs(v))
      def ext(v: Int, s: Int) = if (v < 0) v + (1 << s) - 1 else v
      val preds = new Array[Int](3)
      def yDc(bx: Int, by: Int) = (bx * 320 + by * 168) - 512
      for (by <- 0 until 2; bx <- 0 until 2; c <- 0 until 3) {
        val dcV = if (c == 0) yDc(bx, by) else 0
        val diff = dcV - preds(c); preds(c) = dcV
        val s = cat(diff)
        put(s, 4); if (s > 0) put(ext(diff, s), s)
        put(0, 2) // EOB
      }
      if (nB > 0) put((1 << (8 - nB)) - 1, 8 - nB)
      mk(0xd9)
      out.toByteArray
    }
    val pc = PixelDecoder.decode(color).get
    assert((pc.width, pc.height) === (16, 16))
    for (y <- 0 until 16; x <- 0 until 16) {
      def yDc(bx: Int, by: Int) = (bx * 320 + by * 168) - 512
      val want = math.min(255, math.max(0,
        ((yDc(x / 8, y / 8) + 4) >> 3) + 128))
      assert(pc.gray(y * 16 + x) === want, s"color ($x,$y)")
    }
    // the header walk agrees on the container format
    assert(graft.ext.ImageHeader.parse(jp).map(_._1) === Some("jpeg"))
    // 4) truncating the entropy stream fails loudly
    val cut = java.util.Arrays.copyOf(jp, jp.length - 3)
    val e = intercept[IllegalArgumentException] {
      PixelDecoder.decode(cut)
    }
    assert(e.getMessage.contains("JPEG"))
    // 5) rewriting SOF0→SOF2 makes the sequential scan header an
    //    ILLEGAL progressive one (a DC scan must have Se=0): loud
    //    failure, not a silent misparse
    val prog = jp.clone()
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    val eProg = intercept[IllegalArgumentException] {
      JpegDecoder.decode(prog)
    }
    assert(eProg.getMessage.contains("DC scan"))
    // 6) truncation MID-HEADER (inside the SOF segment) fails with
    // the contractual message, not ArrayIndexOutOfBoundsException
    val midHdr = intercept[IllegalArgumentException] {
      JpegDecoder.decode(java.util.Arrays.copyOf(jp, sofAt + 6))
    }
    assert(midHdr.getMessage.contains("JPEG") &&
      midHdr.getMessage.contains("overruns"))
  }

  test("JpegDecoder: a DQT table overrunning its segment fails " +
      "loudly instead of silently reading the next marker's bytes " +
      "as quant values; spec-legal multi-scan baseline classifies " +
      "as None (outside the subset), not corrupt") {
    import graft.ext.{JpegEncoder, JpegDecoder}
    // flip the gray fixture's DQT table byte to pq=1 (16-bit
    // entries): the table now needs 1+128 bytes but the segment
    // still declares len=67 — reading on would take the SOF bytes
    // as quant values and decode silently wrong pixels
    val gray = JpegEncoder.grayDcOnly(8, 8, (_, _) => 0)
    val dqtAt = {
      var i = 0
      while (!((gray(i) & 0xff) == 0xff &&
        (gray(i + 1) & 0xff) == 0xdb)) i += 1
      i
    }
    val badDqt = gray.clone()
    badDqt(dqtAt + 4) = 0x10.toByte // pq=1, tq=0
    val e = intercept[IllegalArgumentException] {
      JpegDecoder.decode(badDqt)
    }
    assert(e.getMessage.contains("DQT table overruns"), e.getMessage)
    // rewrite the 3-component fixture's SOS to select ONE component
    // — the first scan of a T.81-legal non-interleaved multi-scan
    // file: outside this decoder's subset, so None, never a throw
    val ycc = JpegEncoder.yccDcOnly(16, 16, (_, _) => 0)
    val sosAt = {
      var i = 0
      while (!((ycc(i) & 0xff) == 0xff &&
        (ycc(i + 1) & 0xff) == 0xda)) i += 1
      i
    }
    val multiScan = ycc.clone()
    multiScan(sosAt + 4) = 1 // ns: 3 -> 1
    assert(JpegDecoder.decode(multiScan).isEmpty)
  }

  test("JpegDecoder: a ZRL run past coefficient 63 fails with the " +
    "contractual message; in-band ZRLs decode (round-13 ADVICE item)") {
    import graft.ext.JpegDecoder
    // hand-built 8×8 single-component baseline JPEG whose AC Huffman
    // table carries EOB (code 00) and ZRL (code 01), so the entropy
    // stream can emit arbitrary ZRL runs: 3 ZRLs (k = 49) then EOB is
    // a legal all-zero-AC block; a 4th ZRL (k = 65) overruns T.81's
    // 63-coefficient block and must fail loudly, never desynchronize
    def jpeg(nZrl: Int, eob: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def u8w(v: Int): Unit = out.write(v & 0xff)
      def be16w(v: Int): Unit = { u8w(v >> 8); u8w(v) }
      def marker(m: Int): Unit = { u8w(0xff); u8w(m) }
      marker(0xd8)
      marker(0xdb); be16w(2 + 65); u8w(0x00)
      for (_ <- 0 until 64) u8w(1)
      marker(0xc0); be16w(8 + 3)
      u8w(8); be16w(8); be16w(8); u8w(1)
      u8w(1); u8w(0x11); u8w(0)
      marker(0xc4); be16w(2 + 17 + 12); u8w(0x00) // DC table
      for (l <- 1 to 16) u8w(if (l == 4) 12 else 0)
      for (s <- 0 until 12) u8w(s)
      marker(0xc4); be16w(2 + 17 + 2); u8w(0x10) // AC: EOB=00, ZRL=01
      for (l <- 1 to 16) u8w(if (l == 2) 2 else 0)
      u8w(0x00); u8w(0xf0)
      marker(0xda); be16w(6 + 2)
      u8w(1); u8w(1); u8w(0x00)
      u8w(0); u8w(63); u8w(0)
      var acc = 0L; var nBits = 0
      def putBits(v: Int, n: Int): Unit = {
        acc = (acc << n) | (v & ((1L << n) - 1)); nBits += n
        while (nBits >= 8) {
          val byte = ((acc >> (nBits - 8)) & 0xff).toInt
          u8w(byte); if (byte == 0xff) u8w(0x00); nBits -= 8
        }
      }
      putBits(0, 4) // DC category 0 (diff 0)
      for (_ <- 0 until nZrl) putBits(1, 2) // ZRL
      if (eob) putBits(0, 2)
      if (nBits > 0) putBits((1 << (8 - nBits)) - 1, 8 - nBits)
      marker(0xd9)
      out.toByteArray
    }
    val ok = JpegDecoder.decode(jpeg(nZrl = 3, eob = true)).get
    assert(ok.width === 8 && ok.height === 8)
    assert(ok.gray.forall(_ === 128)) // DC 0 → mid-gray, ACs all zero
    val e = intercept[IllegalArgumentException] {
      JpegDecoder.decode(jpeg(nZrl = 4, eob = false))
    }
    assert(e.getMessage.contains("pixel decode: JPEG") &&
      e.getMessage.contains("AC run past coefficient 63"))
  }

  test("JpegDecoder: 4:2:0 and 4:2:2 MCU interleave decode to the " +
    "per-Y-block closed form; non-neutral chroma replicates across " +
    "the MCU") {
    import graft.ext.{JpegDecoder, JpegEncoder}
    def flat(dc: Int) = math.min(255, math.max(0, ((dc + 4) >> 3) + 128))
    // 4:2:0 (2×2): 32×16 = 2×1 MCUs of 4 Y blocks each; distinct DC
    // per Y block pins the T.81 block order WITHIN the MCU
    // (left-to-right, top-to-bottom) and across MCUs
    def yDc(bx: Int, by: Int) = (bx * 160 + by * 88) - 456
    val j420 = JpegEncoder.yccDcOnly(32, 16, yDc, hs = 2, vs = 2)
    val p420 = JpegDecoder.decode(j420).get
    assert((p420.width, p420.height) === (32, 16))
    for (y <- 0 until 16; x <- 0 until 32)
      assert(p420.gray(y * 32 + x) === flat(yDc(x / 8, y / 8)),
        s"4:2:0 ($x,$y)")
    // 4:2:2 (2×1): 32×16 = 2×2 MCUs of 2 Y blocks each — same
    // pixel-level closed form, different interleave
    val j422 = JpegEncoder.yccDcOnly(32, 16, yDc, hs = 2, vs = 1)
    val p422 = JpegDecoder.decode(j422).get
    for (y <- 0 until 16; x <- 0 until 32)
      assert(p422.gray(y * 32 + x) === flat(yDc(x / 8, y / 8)),
        s"4:2:2 ($x,$y)")
    // non-neutral chroma: MCU (1, 0) carries cr=+256 (flat 160 after
    // +128 bias) — every pixel of that 16×16 region shifts through
    // the JFIF matrix identically (chroma REPLICATION), pixels of
    // MCU (0, 0) stay y. Expected value recomputed through the same
    // fixed-point math the decoder documents.
    val jChroma = JpegEncoder.yccDcOnly(32, 16, (_, _) => 0,
      hs = 2, vs = 2,
      chromaDc = (mx, _) => if (mx == 1) (0, 256) else (0, 0))
    val pc = JpegDecoder.decode(jChroma).get
    def cl(v: Int) = { val s = (v + 32768) >> 16
      math.min(255, math.max(0, s)) }
    val yFlat = flat(0)
    val crOff = flat(256) - 128 // decoded chroma plane value − bias
    val wantShift = {
      val r = cl((yFlat << 16) + 91881 * crOff)
      val g = cl((yFlat << 16) - 46802 * crOff)
      val b = cl(yFlat << 16)
      (77 * r + 150 * g + 29 * b) >> 8
    }
    for (y <- 0 until 16; x <- 0 until 32) {
      val want = if (x < 16) yFlat else wantShift
      assert(pc.gray(y * 32 + x) === want, s"chroma ($x,$y)")
    }
    // sampling factors outside 1–2 stay a None subset edge
    val j3 = j420.clone()
    val sofAt = (0 until j3.length - 1).find(i =>
      (j3(i) & 0xff) == 0xff && (j3(i + 1) & 0xff) == 0xc0).get
    j3(sofAt + 11) = 0x31.toByte // Y sampling 3×1
    assert(JpegDecoder.decode(j3).isEmpty)
  }

  test("JpegDecoder progressive: the three-scan DC fixture matches " +
    "the baseline closed form; hand-built spectral-selection + " +
    "successive-approximation AC scans decode IDENTICALLY to the " +
    "sequential stream carrying the same coefficients") {
    import graft.ext.{JpegDecoder, JpegEncoder}
    // 1) DC-only progressive == DC-only sequential, pixel for pixel.
    //    Odd DCs exercise 1-bits in the DC refinement scan; 64×40 =
    //    40 blocks forces an EOBn with appended bits (EOB5 + 8)
    def dc(bx: Int, by: Int) =
      ((bx * 37 + by * 101) % 255) * 8 - 1024 + (bx + by) % 2
    for ((w, h) <- Seq((8, 8), (21, 13), (64, 40))) {
      val seqD = JpegDecoder.decode(JpegEncoder.grayDcOnly(w, h, dc)).get
      val prog = JpegDecoder.decode(
        JpegEncoder.grayDcOnlyProgressive(w, h, dc)).get
      assert((prog.width, prog.height) === (w, h), s"${w}x$h")
      assert(prog.gray === seqD.gray, s"${w}x$h")
    }
    // 2) real AC machinery: one 8×8 block, coefficients
    //    dc=240, zz1=-30, zz2=17, zz3=9, zz4=-5, zz6=+1, decoded
    //    from (a) a sequential stream and (b) a five-scan
    //    progressive stream — spectral split 1..3 / 4..63 at Al=1,
    //    then DC + AC refinement to Al=0 (correction bits, a
    //    newly-significant coefficient behind a zero-run, an EOB
    //    refinement tail, and a between-scans DHT redefinition).
    //    Equal coefficients ⇒ the SAME integer IDCT ⇒ exact equality.
    class BitSink(val out: java.io.ByteArrayOutputStream) {
      var acc = 0L; var nB = 0
      def put(v: Int, n: Int): Unit = {
        acc = (acc << n) | (v & ((1L << n) - 1)); nB += n
        while (nB >= 8) {
          val byte = ((acc >> (nB - 8)) & 0xff).toInt
          out.write(byte); if (byte == 0xff) out.write(0)
          nB -= 8
        }
      }
      def flush(): Unit = if (nB > 0) put((1 << (8 - nB)) - 1, 8 - nB)
    }
    def cat(v: Int) = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def ext(v: Int, s: Int) = if (v < 0) v + (1 << s) - 1 else v
    def headerTo(out: java.io.ByteArrayOutputStream, sof: Int): Unit = {
      def u8w(v: Int): Unit = out.write(v & 0xff)
      def be16w(v: Int): Unit = { u8w(v >> 8); u8w(v) }
      def mk(m: Int): Unit = { u8w(0xff); u8w(m) }
      mk(0xd8)
      mk(0xdb); be16w(67); u8w(0); for (_ <- 0 until 64) u8w(1)
      mk(sof); be16w(11); u8w(8); be16w(8); be16w(8); u8w(1)
      u8w(1); u8w(0x11); u8w(0)
      mk(0xc4); be16w(2 + 17 + 12); u8w(0x00) // DC: 12 cats @ 4 bits
      for (l <- 1 to 16) u8w(if (l == 4) 12 else 0)
      for (s <- 0 until 12) u8w(s)
    }
    def acDht(out: java.io.ByteArrayOutputStream, len: Int,
              syms: Seq[Int]): Unit = {
      def u8w(v: Int): Unit = out.write(v & 0xff)
      u8w(0xff); u8w(0xc4)
      u8w(0); u8w(2 + 17 + syms.length) // be16 length, < 256
      u8w(0x10)
      for (l <- 1 to 16) u8w(if (l == len) syms.length else 0)
      syms.foreach(u8w)
    }
    def sos(out: java.io.ByteArrayOutputStream, ss: Int, se: Int,
            ah: Int, al: Int): Unit = {
      def u8w(v: Int): Unit = out.write(v & 0xff)
      u8w(0xff); u8w(0xda); u8w(0); u8w(8); u8w(1); u8w(1); u8w(0x00)
      u8w(ss); u8w(se); u8w((ah << 4) | al)
    }
    val sequential = {
      val out = new java.io.ByteArrayOutputStream()
      headerTo(out, 0xc0)
      // AC symbols in use: (0,5)×2, (0,4), (0,3), (1,1), then EOB —
      // table = distinct symbols @6 bits, canonical code = rank
      val syms = Seq(0x05, 0x04, 0x03, 0x11, 0x00)
      acDht(out, 6, syms)
      sos(out, 0, 63, 0, 0)
      val b = new BitSink(out)
      b.put(cat(240), 4); b.put(ext(240, cat(240)), cat(240))
      def acSym(run: Int, v: Int): Unit = {
        val s = cat(v)
        b.put(syms.indexOf((run << 4) | s), 6)
        b.put(ext(v, s), s)
      }
      acSym(0, -30); acSym(0, 17); acSym(0, 9); acSym(0, -5)
      acSym(1, 1) // zz5 is zero → run 1, then +1 at zz6
      b.put(syms.indexOf(0x00), 6) // EOB
      b.flush()
      out.write(0xff); out.write(0xd9)
      out.toByteArray
    }
    val progressive = {
      val out = new java.io.ByteArrayOutputStream()
      headerTo(out, 0xc2)
      // first-pass AC table: EOB + run-0 sizes 1..15 @ 5 bits
      acDht(out, 5, 0x00 +: (1 to 15))
      // scan 1: DC first, Al=1 → 240>>1 = 120
      sos(out, 0, 0, 0, 1)
      val b = new BitSink(out)
      b.put(cat(120), 4); b.put(ext(120, cat(120)), cat(120))
      b.flush()
      // scan 2: AC 1..3 first at Al=1 → -15, 8, 4 (divide toward 0);
      // the band ends at Se so no EOB is needed
      sos(out, 1, 3, 0, 1)
      for (v <- Seq(-15, 8, 4)) {
        b.put(cat(v), 5) // run-0 size symbol: rank == size
        b.put(ext(v, cat(v)), cat(v))
      }
      b.flush()
      // scan 3: AC 4..63 first at Al=1 → -2 at zz4 (−5 → −2 toward
      // zero), zz6's +1 vanishes at this precision, then EOB0
      sos(out, 4, 63, 0, 1)
      b.put(cat(-2), 5); b.put(ext(-2, cat(-2)), cat(-2))
      b.put(0, 5) // EOB0
      b.flush()
      // scan 4: DC refinement → low bit of 240
      sos(out, 0, 0, 1, 0)
      b.put(240 & 1, 1)
      b.flush()
      // scan 5: AC refinement 1..63 to Al=0. History is
      // -30, 16, 8, -4 (the Al=1 values ×2); targets -30, 17, 9, -5
      // ⇒ correction bits 0,1,1,1; zz6 becomes newly significant
      // (+1) behind one zero-history coefficient (zz5) ⇒ symbol
      // (1<<4)|1 + sign bit, with the correction bits woven in
      // DECODE order; then EOB0 covers the zero tail. The table is
      // REDEFINED between scans — {0x11, 0x00} @ 2 bits
      acDht(out, 2, Seq(0x11, 0x00))
      sos(out, 1, 63, 1, 0)
      b.put(0, 2) // symbol 0x11 (rank 0)
      b.put(1, 1) // sign: +1<<0
      b.put(0, 1) // zz1: |−30| bit0
      b.put(1, 1) // zz2: |17| bit0
      b.put(1, 1) // zz3: |9| bit0
      b.put(1, 1) // zz4: |−5| bit0 — then zz5 skips, zz6 places
      b.put(1, 2) // EOB0 (rank 1): refine-to-end of the zero tail
      b.flush()
      out.write(0xff); out.write(0xd9)
      out.toByteArray
    }
    val ps = JpegDecoder.decode(sequential).get
    val pp = JpegDecoder.decode(progressive).get
    assert((pp.width, pp.height) === (8, 8))
    assert(pp.gray === ps.gray)
    // the AC coefficients actually landed (not a flat block): the
    // sequential reference itself must vary within the block
    assert(ps.gray.distinct.length > 1)
    // 3) progressive + 4:2:0 at NON-MCU-aligned dims: 17×17 makes
    //    the luma ACTUAL grid (3×3 blocks) smaller than the padded
    //    one (4×4) — the interleaved DC scans walk the padded grid
    //    while each per-component AC scan walks the actual grid
    //    (T.81 §A.2.2), the asymmetry this decode pins. Neutral
    //    chroma keeps the closed form per visible Y block.
    def flat(v: Int) = math.min(255, math.max(0, ((v + 4) >> 3) + 128))
    for ((w2, h2, hs, vs) <- Seq((17, 17, 2, 2), (32, 16, 2, 2),
      (23, 9, 2, 1))) {
      def dc2(bx: Int, by: Int) =
        ((bx * 61 + by * 149) % 255) * 8 - 1024 + (bx + by) % 2
      val p = JpegDecoder.decode(
        JpegEncoder.yccDcOnlyProgressive(w2, h2, dc2, hs, vs)).get
      assert((p.width, p.height) === (w2, h2), s"${w2}x$h2")
      for (y <- 0 until h2; x <- 0 until w2)
        assert(p.gray(y * w2 + x) === flat(dc2(x / 8, y / 8)),
          s"${w2}x$h2 ${hs}x$vs ($x,$y)")
    }
  }

  test("JpegDecoder progressive property: random coefficient blocks " +
      "through random band splits, successive approximation, ZRL, " +
      "EOB runs and refinement weaves decode IDENTICALLY to the " +
      "sequential stream carrying the same coefficients") {
    // round-17 property campaign, the random-valid-bitstream
    // generalization of the hand-crafted progressive test above: a
    // full T.81 §G.1.2.2-3 ENCODER lives in the test (first-pass
    // EOB-run merging across blocks, refinement correction-bit
    // weaving, ZRL-in-refinement, newly-significant ±1 insertions
    // behind zero-history runs) and every trial demands pixel-exact
    // agreement with the sequential twin — equal coefficients, same
    // integer IDCT.
    import graft.ext.JpegDecoder
    var seed = 0x413526A1D7453DEFL
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    class Sink(val out: java.io.ByteArrayOutputStream) {
      var acc = 0L; var nB = 0
      def put(v: Int, n: Int): Unit = if (n > 0) {
        acc = (acc << n) | (v & ((1L << n) - 1)); nB += n
        while (nB >= 8) {
          val byte = ((acc >> (nB - 8)) & 0xff).toInt
          out.write(byte); if (byte == 0xff) out.write(0)
          nB -= 8
        }
      }
      def flush(): Unit = if (nB > 0) put((1 << (8 - nB)) - 1, 8 - nB)
    }
    def cat(v: Int) = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def ext(v: Int, s: Int) = if (v < 0) v + (1 << s) - 1 else v
    // ONE AC table for every scan: all (run 0-15, size 1-8), EOBn
    // n=0..14 and ZRL, canonical 8-bit codes (144 symbols, rank =
    // code)
    val acSyms = (for (r <- 0 to 15; s <- 1 to 8) yield (r << 4) | s) ++
      (0 to 14).map(_ << 4) :+ 0xf0
    val acRank = acSyms.zipWithIndex.toMap
    def header(out: java.io.ByteArrayOutputStream, sof: Int, w: Int,
               h: Int): Unit = {
      def u8w(v: Int): Unit = out.write(v & 0xff)
      def be16w(v: Int): Unit = { u8w(v >> 8); u8w(v) }
      def mk(m: Int): Unit = { u8w(0xff); u8w(m) }
      mk(0xd8)
      mk(0xdb); be16w(67); u8w(0); for (_ <- 0 until 64) u8w(1)
      mk(sof); be16w(11); u8w(8); be16w(h); be16w(w); u8w(1)
      u8w(1); u8w(0x11); u8w(0)
      mk(0xc4); be16w(2 + 17 + 12); u8w(0x00)
      for (l <- 1 to 16) u8w(if (l == 4) 12 else 0)
      for (s <- 0 until 12) u8w(s)
      mk(0xc4); be16w(2 + 17 + acSyms.length); u8w(0x10)
      for (l <- 1 to 16) u8w(if (l == 8) acSyms.length else 0)
      acSyms.foreach(u8w)
    }
    def sos(out: java.io.ByteArrayOutputStream, ss: Int, se: Int,
            ah: Int, al: Int): Unit = {
      def u8w(v: Int): Unit = out.write(v & 0xff)
      u8w(0xff); u8w(0xda); u8w(0); u8w(8); u8w(1); u8w(1); u8w(0x00)
      u8w(ss); u8w(se); u8w((ah << 4) | al)
    }
    for (trial <- 0 until 12) {
      val (bw, bh) = (1 + nxt(3), 1 + nxt(2))
      val (w, h) = (bw * 8, bh * 8)
      val nBlk = bw * bh
      // random coefficients: blocks alternate dense/sparse/empty;
      // ±1 values are invisible at Al=1 (newly significant in the
      // refinement), tail positions force ZRL/EOB machinery
      val blocks = Array.tabulate(nBlk) { b =>
        val t = new Array[Int](64)
        t(0) = nxt(2041) - 1024 // DC in [-1024, 1016]
        val kind = nxt(4)
        val nAc = kind match {
          case 0 => 0; case 1 => 2 + nxt(3); case _ => 6 + nxt(7) }
        for (_ <- 0 until nAc) {
          val k = 1 + nxt(63)
          t(k) = if (nxt(3) == 0) (if (nxt(2) == 0) 1 else -1)
            else { val v = 1 + nxt(255); if (nxt(2) == 0) v else -v }
        }
        t
      }
      // ---- sequential twin
      val sequential = {
        val out = new java.io.ByteArrayOutputStream()
        header(out, 0xc0, w, h)
        sos(out, 0, 63, 0, 0)
        val bs = new Sink(out)
        var pred = 0
        for (t <- blocks) {
          val s0 = cat(t(0) - pred)
          bs.put(s0, 4); bs.put(ext(t(0) - pred, s0), s0)
          pred = t(0)
          var run = 0
          var lastNz = 0
          for (k <- 1 to 63 if t(k) != 0) lastNz = k
          for (k <- 1 to lastNz) {
            if (t(k) == 0) {
              run += 1
              if (run == 16) { bs.put(acRank(0xf0), 8); run = 0 }
            } else {
              val s = cat(t(k))
              bs.put(acRank((run << 4) | s), 8)
              bs.put(ext(t(k), s), s)
              run = 0
            }
          }
          if (lastNz < 63) bs.put(acRank(0x00), 8)
        }
        bs.flush()
        out.write(0xff); out.write(0xd9)
        out.toByteArray
      }
      // ---- progressive twin: DC@1, AC bands @1, DC refine, AC refine
      val progressive = {
        val split = 1 + nxt(62) // first AC band = 1..split
        val out = new java.io.ByteArrayOutputStream()
        header(out, 0xc2, w, h)
        // DC first at Al=1
        sos(out, 0, 0, 0, 1)
        val bs = new Sink(out)
        var pred = 0
        for (t <- blocks) {
          val v = t(0) >> 1
          val s0 = cat(v - pred)
          bs.put(s0, 4); bs.put(ext(v - pred, s0), s0)
          pred = v
        }
        bs.flush()
        // AC first scans at Al=1 (values truncate toward zero)
        def acFirst(ss: Int, se: Int): Unit = {
          sos(out, ss, se, 0, 1)
          var eob = 0
          def flushEob(): Unit = if (eob > 0) {
            val n = 31 - Integer.numberOfLeadingZeros(eob)
            bs.put(acRank(n << 4), 8)
            if (n > 0) bs.put(eob - (1 << n), n)
            eob = 0
          }
          for (t <- blocks) {
            val band = (ss to se).map(k => t(k) / 2)
            val lastNz = band.lastIndexWhere(_ != 0)
            if (lastNz < 0) eob += 1
            else {
              flushEob()
              var run = 0
              for (i <- 0 to lastNz) {
                if (band(i) == 0) {
                  run += 1
                  if (run == 16) { bs.put(acRank(0xf0), 8); run = 0 }
                } else {
                  val s = cat(band(i))
                  bs.put(acRank((run << 4) | s), 8)
                  bs.put(ext(band(i), s), s)
                  run = 0
                }
              }
              if (lastNz < se - ss) eob += 1
            }
          }
          flushEob()
          bs.flush()
        }
        acFirst(1, split)
        if (split < 63) acFirst(split + 1, 63)
        // DC refinement to Al=0: the raw low bit
        sos(out, 0, 0, 1, 0)
        for (t <- blocks) bs.put(t(0) & 1, 1)
        bs.flush()
        // AC refinement 1..63 to Al=0: §G.1.2.3 weave
        sos(out, 1, 63, 1, 0)
        var eobRun = 0
        val eobBits = scala.collection.mutable.ArrayBuffer[Int]()
        def flushEobR(): Unit = if (eobRun > 0) {
          val n = 31 - Integer.numberOfLeadingZeros(eobRun)
          bs.put(acRank(n << 4), 8)
          if (n > 0) bs.put(eobRun - (1 << n), n)
          eobBits.foreach(bit => bs.put(bit, 1))
          eobBits.clear(); eobRun = 0
        }
        for (t <- blocks) {
          val hist = (0 until 64).map(k => (t(k) / 2) * 2)
          val hasNew = (1 to 63).exists(k => hist(k) == 0 && t(k) != 0)
          if (!hasNew) {
            eobRun += 1
            for (k <- 1 to 63 if hist(k) != 0)
              eobBits += (math.abs(t(k)) & 1)
          } else {
            flushEobR()
            var run = 0
            val pend = scala.collection.mutable.ArrayBuffer[Int]()
            var tail = false
            for (k <- 1 to 63) {
              if (hist(k) != 0) pend += (math.abs(t(k)) & 1)
              else if (t(k) == 0) {
                run += 1
                if (run == 16) {
                  bs.put(acRank(0xf0), 8)
                  pend.foreach(bit => bs.put(bit, 1))
                  pend.clear(); run = 0
                }
              } else { // newly significant ±1
                bs.put(acRank((run << 4) | 1), 8)
                bs.put(if (t(k) > 0) 1 else 0, 1)
                pend.foreach(bit => bs.put(bit, 1))
                pend.clear(); run = 0
              }
            }
            if (run > 0 || pend.nonEmpty) {
              eobRun = 1
              eobBits ++= pend
            }
          }
        }
        flushEobR()
        bs.flush()
        out.write(0xff); out.write(0xd9)
        out.toByteArray
      }
      val ps = JpegDecoder.decode(sequential)
      val pp = JpegDecoder.decode(progressive)
      assert(ps.isDefined && pp.isDefined, s"trial $trial decode")
      assert(pp.get.gray === ps.get.gray,
        s"trial $trial ${bw}x$bh blocks diverged")
      assert(ps.get.gray.distinct.length > 1 || blocks.forall(
        t => (1 to 63).forall(t(_) == 0)), s"trial $trial degenerate")
    }
  }

  test("dHashFromGray: exact gradient bits on the 10x6 pool, " +
    "invariant under monotone brightness shifts where aHash is not, " +
    "and cross-format equal signatures from real decodes") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    // a single rising step at x=4 in every row: bits set exactly at
    // cx=3 (cell 4 > cell 3), nothing else
    def step(x: Int, y: Int) = if (x >= 4) 200 else 50
    val p = Pixels(10, 6, Array.tabulate(60)(i => step(i % 10, i / 10)))
    val want = (0 until 6).map(cy => 1L << (cy * 9 + 3)).sum
    assert(Multimodal.dHashFromGray(p) === want)
    // monotone brightness shift: dHash unchanged, aHash changed
    // for an asymmetric-area step (the global mean moves relative
    // to the plateau levels under +40 where pairwise orders do not)
    def bright(x: Int, y: Int) = math.min(255, step(x, y) + 40)
    val pb = Pixels(10, 6, Array.tabulate(60)(i => bright(i % 10, i / 10)))
    assert(Multimodal.dHashFromGray(pb) === want)
    // larger raster pools to the same cells: 20x12 with the step at
    // x=8 lands in the same cell boundary
    val big = Pixels(20, 12, Array.tabulate(240) { i =>
      if (i % 20 >= 8) 200 else 50
    })
    assert(Multimodal.dHashFromGray(big) === want)
    // real decodes: the same raster through PNG and BMP gives the
    // SAME dhash signature
    val rgb = (x: Int, y: Int) => {
      val g = step(x, y); (g << 16) | (g << 8) | g
    }
    val viaPng = Multimodal.dHashImages(
      Seq((1L, PixelEncoder.png(10, 6, rgb)),
        (2L, PixelEncoder.bmp(10, 6, rgb))).toDF("doc_id", "blob"),
      col("doc_id"), col("blob")).collect()
    assert(viaPng.map(_.getLong(1)).toSet === Set(want))
  }

  test("pHashFromGray: matches an independent direct-form integer " +
    "DCT, is exactly invariant to positive contrast scaling, and " +
    "decodes cross-format to equal signatures") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    def g(x: Int, y: Int) = (x * 13 + y * 29 + (x * y) % 7) % 200
    val p = Pixels(32, 32, Array.tabulate(1024)(i => g(i % 32, i / 32)))
    // 1) independent reference: the direct (non-separable) O(n^4)
    //    sum over the same rounded basis + sorted-median threshold
    val K = Multimodal.PhK
    val coef = Array.tabulate(8, 8) { (u, v) =>
      var s = BigInt(0)
      for (y <- 0 until 32; x <- 0 until 32)
        s += BigInt(g(x, y)) * K(u)(x) * K(v)(y)
      s
    }
    val ac = (for (u <- 0 until 8; v <- 0 until 8
                   if u != 0 || v != 0) yield coef(u)(v)).sorted
    val med = ac(31)
    var want = 0L
    for (u <- 0 until 8; v <- 0 until 8; if u != 0 || v != 0)
      if (coef(u)(v) > med) want |= 1L << (u * 8 + v - 1)
    assert(Multimodal.pHashFromGray(p) === want)
    assert(want !== 0L)
    // 2) contrast scaling: every coefficient and the median scale by
    //    the same positive factor, hash unchanged EXACTLY (raster
    //    kept < 128 so the doubling stays in 8-bit range)
    def gs(x: Int, y: Int) = g(x, y) % 120
    val base = Pixels(32, 32, Array.tabulate(1024)(i => gs(i % 32, i / 32)))
    val doubled = Pixels(32, 32, base.gray.map(_ * 2))
    assert(Multimodal.pHashFromGray(doubled) ===
      Multimodal.pHashFromGray(base))
    // 3) the same raster through PNG / BMP / GIF decodes to one
    //    signature
    val rgb = (x: Int, y: Int) => {
      val v = g(x, y); (v << 16) | (v << 8) | v
    }
    val sigs = Multimodal.pHashImages(
      Seq((1L, PixelEncoder.png(32, 32, rgb)),
        (2L, PixelEncoder.bmp(32, 32, rgb)),
        (3L, PixelEncoder.gif(32, 32, (x, y) => g(x, y)))).toDF("doc_id", "blob"),
      col("doc_id"), col("blob")).collect()
    assert(sigs.map(_.getLong(1)).toSet === Set(want))
    // 4) pooling: a 64x64 pixel-doubled raster pools back to the
    //    same 32x32 cells, so the signature is scale-invariant here
    val big = Pixels(64, 64, Array.tabulate(4096) { i =>
      g((i % 64) / 2, (i / 64) / 2)
    })
    assert(Multimodal.pHashFromGray(big) === want)
  }

  test("OrcSource: stages once, round-trips rows, and fails loudly " +
    "on footer-vs-declared schema drift") {
    import graft.sources.OrcSource
    val d = Seq((1L, "a", 5), (2L, "b", 7)).toDF("id", "s", "n")
    val path = OrcSource.stage(d, "target/test_orc", "t", 42L)
    // idempotent: a second stage call returns the published dir
    assert(OrcSource.stage(d, "target/test_orc", "t", 42L) === path)
    val back = OrcSource.read(spark, path, d.schema)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1),
      r.getInt(2))).sortBy(_._1).toSeq === Seq((1L, "a", 5), (2L, "b", 7)))
    // a drifted declaration (n widened to long) is corruption, not
    // a silent cast
    val drifted = org.apache.spark.sql.types.StructType(
      d.schema.fields.map(f =>
        if (f.name == "n") f.copy(dataType =
          org.apache.spark.sql.types.LongType) else f))
    val e = intercept[IllegalArgumentException] {
      OrcSource.read(spark, path, drifted)
    }
    assert(e.getMessage.contains("schema drift"))
  }

  test("boxDownsample: floor-of-mean cells, shrinking edge blocks, " +
    "factor 1 is identity") {
    // 5×3 by 2×2: cells (0,0)=(0,1,5,6)→3, (2,0)=col4 rows0-1=(4,9)→6,
    // (0,1)=row2 (10,11)→10, (2,1)=pixel 14→14
    val src = Pixels(5, 3, Array.tabulate(15)(identity))
    val t = Multimodal.boxDownsample(src, 2, 2)
    assert((t.width, t.height) === (3, 2))
    assert(t.gray === Array((0 + 1 + 5 + 6) / 4, (2 + 3 + 7 + 8) / 4,
      (4 + 9) / 2, (10 + 11) / 2, (12 + 13) / 2, 14))
    // floor, not round: (1 + 2) / 2 = 1
    val f = Multimodal.boxDownsample(Pixels(2, 1, Array(1, 2)), 2, 1)
    assert(f.gray === Array(1))
    // factor 1 = identity
    val id1 = Multimodal.boxDownsample(src, 1, 1)
    assert(id1.gray === src.gray && id1.width === 5 && id1.height === 3)
  }

  test("aHashFromGray pools to the 10x6 grid with integer means and " +
    "real-decode signatures band-join into cross-format duplicate " +
    "clusters") {
    import graft.ext.{PixelDecoder, PixelEncoder}
    // constant image below the mean everywhere -> no bit can exceed
    // the mean: hash 0; one bright cell -> exactly that bit set
    val flat = Pixels(20, 12, Array.fill(240)(100))
    assert(Multimodal.aHashFromGray(flat) === 0L)
    val oneHot = Pixels(20, 12, Array.tabulate(240) { i =>
      val x = i % 20; val y = i / 20
      if (x < 2 && y < 2) 255 else 10 // cell (0,0) bright
    })
    assert(Multimodal.aHashFromGray(oneHot) === 1L)
    // the same pixels through PNG and BMP produce the SAME signature
    // (closed form: two bright cells -> exactly those two bits), so
    // duplicate images cluster across container formats; an image
    // bright in two OTHER cells is hamming 4 away — a band-join
    // candidate via its shared all-zero bands, killed by the verify
    def bright(cells: Set[(Int, Int)])(x: Int, y: Int) = {
      val p = if (cells((x, y))) 255 else 10
      (p << 16) | (p << 8) | p
    }
    val a = bright(Set((0, 0), (1, 0))) _ // bits 0, 1
    val c = bright(Set((8, 5), (9, 5))) _ // bits 58, 59
    val blobs = Seq(
      (1L, PixelEncoder.png(10, 6, a)),
      (2L, PixelEncoder.bmp(10, 6, a)),
      (3L, PixelEncoder.png(10, 6, c)))
      .toDF("doc_id", "blob")
    val sigs = Multimodal.aHashImages(blobs, $"doc_id", $"blob")
    val byId = sigs.as[(Long, Long)].collect().toMap
    assert(byId(1L) === 3L && byId(2L) === 3L)
    assert(byId(3L) === (3L << 58))
    val pairs = DedupOps.simhashBandPairs(sigs, $"id", $"ahash",
        bands = 4, bitsPerBand = 15, maxHamming = 3, bits = 60)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("AudioHeader.pcm16 round-trips WavEncoder with sign-extended " +
    "samples and audioFingerprint windows them deterministically") {
    import graft.ext.{AudioHeader, WavEncoder}
    val samples = Array.tabulate(120)(t => ((t * 37) % 512) - 256)
    val got = AudioHeader.pcm16(WavEncoder.pcm16(samples)).get
    assert(got === samples)
    // stereo: both channels carry the sample; first channel read back
    assert(AudioHeader.pcm16(
      WavEncoder.pcm16(samples, channels = 2)).get === samples)
    // a truncated data chunk fails loudly, never a short fingerprint
    val whole = WavEncoder.pcm16(samples)
    val e = intercept[IllegalArgumentException] {
      AudioHeader.pcm16(whole.dropRight(10))
    }
    assert(e.getMessage.contains("data chunk"))
    // closed-form windows: constant energy sets no bit (nothing is
    // strictly above the mean); an impulse sets exactly its window's
    val imp0 = Array.fill(120)(0); imp0(0) = 100
    val imp59 = Array.fill(120)(0); imp59(119) = 100
    assert(Multimodal.audioFingerprint(Array.fill(120)(7)) === 0L)
    assert(Multimodal.audioFingerprint(imp0) === 1L)
    assert(Multimodal.audioFingerprint(imp59) === (1L << 59))
  }

  test("G.711 bijectivity property: an INDEPENDENT spec-derived " +
      "compressor round-trips all 256 codes of both laws (the " +
      "shared-table blind spot: Spark and the oracle expand with the " +
      "same closed form, so only a reverse-direction check can catch " +
      "a table derivation bug)") {
    import graft.ext.{AudioHeader, WavEncoder}
    def msb(x: Int): Int = 31 - Integer.numberOfLeadingZeros(x)
    // mu-law compressor from the T.711 segment structure: |v|+0x84 =
    // (132+8m)·2^s, so s = msb−7 and m recovers by shift; value<0
    // sets the pre-complement sign bit (code bit 7 CLEAR)
    def compressMu(v: Int): Int = {
      val mag = math.abs(v)
      val u = mag + 0x84
      val s = msb(u) - 7
      val m = ((u >> s) - 132) >> 3
      val cPre = (if (v < 0) 0x80 else 0x00) | (s << 4) | m
      ~cPre & 0xff
    }
    // A-law compressor: seg 0 holds mags 8..248 (mant·16+8), seg s>=1
    // holds [256·2^(s−1), 512·2^(s−1)) ((mant·16+264)<<(s−1)); bit 7
    // SET means positive, then XOR 0x55
    def compressA(v: Int): Int = {
      val mag = math.abs(v)
      val s = if (mag < 256) 0 else msb(mag) - 7
      val m = if (s == 0) (mag - 8) / 16
        else ((mag >> (s - 1)) - 264) / 16
      (((if (v > 0) 0x80 else 0x00) | (s << 4) | m) ^ 0x55) & 0xff
    }
    val muExp = AudioHeader.linearSamples(
      WavEncoder.g711((0 until 256).toArray, tag = 7)).get
    for (c <- 0 until 256) {
      if (c == 0x7f) assert(muExp(c) === 0, "mu-law negative zero")
      else assert(compressMu(muExp(c)) === c,
        s"mu-law code $c expands to ${muExp(c)} which compresses to " +
          s"${compressMu(muExp(c))}")
    }
    // the two zeros collapse: 0x7F (neg zero) re-compresses to 0xFF
    assert(compressMu(muExp(0x7f)) === 0xff)
    val aExp = AudioHeader.linearSamples(
      WavEncoder.g711((0 until 256).toArray, tag = 6)).get
    for (c <- 0 until 256)
      assert(compressA(aExp(c)) === c,
        s"A-law code $c expands to ${aExp(c)} which compresses to " +
          s"${compressA(aExp(c))}")
    // every expansion is a distinct value except mu-law's two zeros
    assert(aExp.distinct.length === 256)
    assert(muExp.distinct.length === 255)
  }

  test("AudioHeader.linearSamples expands G.711 mu-law and A-law " +
    "through the spec tables (known anchor codes), first channel of " +
    "stereo, loud overrun; pcm16 still rejects companded codings") {
    import graft.ext.{AudioHeader, WavEncoder}
    // ITU-T G.711 anchor values (Sun/CCITT reference decoder):
    // mu-law: 0xFF -> 0, 0x7F -> 0 (negative zero), 0x00 -> -32124,
    // 0x80 -> +32124; A-law: 0x55 -> -8, 0xD5 -> +8, 0x2A -> -32256,
    // 0xAA -> +32256
    val mu = AudioHeader.linearSamples(
      WavEncoder.g711(Array(0xFF, 0x7F, 0x00, 0x80), tag = 7)).get
    assert(mu === Array(0, 0, -32124, 32124))
    val al = AudioHeader.linearSamples(
      WavEncoder.g711(Array(0x55, 0xD5, 0x2A, 0xAA), tag = 6)).get
    assert(al === Array(-8, 8, -32256, 32256))
    // monotone within a segment: mu-law codes 0xE0..0xEF complement
    // to c = 0x1F..0x10 (positive, seg 1, mantissa decreasing), so
    // the decoded values are strictly DECREASING positives
    val seg = AudioHeader.linearSamples(
      WavEncoder.g711((0xE0 to 0xEF).toArray, tag = 7)).get
    assert(seg.forall(_ > 0))
    assert(seg.zip(seg.tail).forall { case (a, b) => a > b })
    // stereo: first channel only (both channels carry the code here)
    val st = AudioHeader.linearSamples(
      WavEncoder.g711(Array(0x00, 0xFF), tag = 7, channels = 2)).get
    assert(st === Array(-32124, 0))
    // 16-bit PCM passes through linearSamples identically to pcm16
    val pcm = Array(-5, 17, 32767, -32768)
    assert(AudioHeader.linearSamples(WavEncoder.pcm16(pcm)).get === pcm)
    // pcm16's contract is UNCHANGED: companded codings are None
    assert(AudioHeader.pcm16(
      WavEncoder.g711(Array(0xFF), tag = 7)).isEmpty)
    assert(AudioHeader.pcm16(
      WavEncoder.g711(Array(0x55), tag = 6)).isEmpty)
    // truncated data chunk fails loudly, same contract as pcm16
    val whole = WavEncoder.g711(Array.fill(50)(0x41), tag = 6)
    val e = intercept[IllegalArgumentException] {
      AudioHeader.linearSamples(whole.dropRight(10))
    }
    assert(e.getMessage.contains("declares"))
  }

  test("AudioHeader.linearSamples decodes mono IMA ADPCM: a hand-" +
    "traced block matches the step-table reconstruction exactly, " +
    "round-trips track the source, state carries across blocks, and " +
    "malformed blocks fail loudly") {
    import graft.ext.{AudioHeader, WavEncoder}
    // 1) hand-traced vector: blockAlign 8 (9 samples), seed 0,
    //    index 0, nibbles 4,8,0,0,0,0,0,0 (bytes 0x84 0x00 0x00 0x00)
    //    n=4: step 7, diff 0+7=7, +  -> 7, idx 0+2=2
    //    n=8: step 9, diff 1, - -> 6, idx 2-1=1
    //    n=0: step 8, diff 1, + -> 7, idx 0
    //    n=0 x5: step 7, diff 0, stays 7
    val block = {
      val b = new java.io.ByteArrayOutputStream()
      def le16w(v: Int): Unit = { b.write(v & 0xff); b.write((v >> 8) & 0xff) }
      def le32w(v: Int): Unit = { le16w(v & 0xffff); le16w(v >>> 16) }
      b.write("RIFF".getBytes); le32w(38 + 8); b.write("WAVE".getBytes)
      b.write("fmt ".getBytes); le32w(20)
      le16w(0x11); le16w(1); le32w(8000); le32w(8000 * 8 / 9)
      le16w(8); le16w(4); le16w(2); le16w(9)
      b.write("data".getBytes); le32w(8)
      le16w(0); b.write(0); b.write(0) // seed 0, index 0, reserved
      b.write(0x84); b.write(0); b.write(0); b.write(0)
      b.toByteArray
    }
    assert(AudioHeader.linearSamples(block).get ===
      Array(0, 7, 6, 7, 7, 7, 7, 7, 7))
    // 2) round-trip: a smooth ramp reconstructs closely; the block
    //    seed is exact; multi-block streams carry the index across
    val src = Array.tabulate(101)(i =>
      (math.sin(i / 7.0) * 12000).toInt)
    val dec = AudioHeader.linearSamples(
      WavEncoder.imaAdpcm(src, blockSamples = 21)).get
    assert(dec.length >= src.length)
    assert(dec(0) === src(0))
    val err = src.indices.map(i => math.abs(dec(i) - src(i)))
    assert(err.sum / src.length < 800, s"mean err ${err.sum / src.length}")
    // 3) pcm16 rejects ADPCM (compressed coding, not linear PCM)
    assert(AudioHeader.pcm16(WavEncoder.imaAdpcm(src)).isEmpty)
    // 4) corrupt step index fails loudly (data begins at byte 48:
    //    seed 48-49, index 50)
    val bad = block.clone()
    bad(50) = 120.toByte // step index > 88
    val e1 = intercept[IllegalArgumentException] {
      AudioHeader.linearSamples(bad)
    }
    assert(e1.getMessage.contains("step index"))
    // 5) a data size that is not a block multiple fails loudly
    val ragged = java.util.Arrays.copyOf(block, block.length - 3)
    // shrink the declared data size (le32 at 44) in lockstep so it's
    // a genuine ragged-block stream, not an overrun
    ragged(44) = 5
    val e2 = intercept[IllegalArgumentException] {
      AudioHeader.linearSamples(ragged)
    }
    assert(e2.getMessage.contains("multiple"))
  }

  test("AudioHeader.pcm16 resolves WAVE_FORMAT_EXTENSIBLE through the " +
    "SubFormat GUID: integer-PCM decodes, float/absent extension do not") {
    import graft.ext.AudioHeader
    val samples = Array.tabulate(16)(t => t * 100 - 800)
    // hand-built extensible container: 40-byte fmt chunk with
    // cbSize=22 and the SubFormat GUID's leading code selectable
    def extensible(subCode: Int, fmtSize: Int = 40,
                   guidTailByte: Int = 0x71): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def s(str: String): Unit = out.write(str.getBytes("US-ASCII"))
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def le32(v: Int): Unit = { le16(v & 0xffff); le16(v >>> 16) }
      s("RIFF"); le32(4 + 8 + fmtSize + 8 + samples.length * 2); s("WAVE")
      s("fmt "); le32(fmtSize)
      le16(0xFFFE); le16(1); le32(8000); le32(16000); le16(2); le16(16)
      if (fmtSize >= 40) {
        le16(22); le16(16); le32(4)
        le16(subCode) // GUID bytes 0-1: the classic tag code
        // remainder of the KSDATAFORMAT GUID tail (fixed)
        Array(0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x80, 0x00,
          0x00, 0xAA, 0x00, 0x38, 0x9B, guidTailByte).foreach(out.write)
      }
      s("data"); le32(samples.length * 2)
      samples.foreach(le16)
      out.toByteArray
    }
    assert(AudioHeader.pcm16(extensible(subCode = 1)).get === samples)
    // IEEE-float subformat (3) declares 16-bit but is not integer PCM
    assert(AudioHeader.pcm16(extensible(subCode = 3)).isEmpty)
    // extensible WITHOUT its mandatory 22-byte extension: malformed
    assert(AudioHeader.pcm16(extensible(subCode = 1, fmtSize = 16)).isEmpty)
    // a FOREIGN SubFormat GUID whose first two bytes merely collide
    // with the PCM code (last GUID byte off the KSDATAFORMAT base):
    // must be rejected, not read as linear PCM (round-13 ADVICE item)
    assert(AudioHeader.pcm16(
      extensible(subCode = 1, guidTailByte = 0x72)).isEmpty)
    assert(AudioHeader.linearSamples(
      extensible(subCode = 1, guidTailByte = 0x72)).isEmpty)
  }

  test("tokenBudgetMix fails LOUD on a weighted source with zero " +
      "available tokens; domainMixSample refuses duplicate stratum " +
      "shares (the last-wins silent override)") {
    val df = Seq((1L, "a", 10L), (2L, "b", 0L))
      .toDF("doc_id", "src", "toks")
    val ex = intercept[Exception] {
      Sampling.tokenBudgetMix(df, $"doc_id", $"src", $"toks",
        Seq("a" -> 500000L, "b" -> 500000L), budgetTokens = 100L,
        salt = "t:").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t => t.getMessage != null &&
      t.getMessage.contains("tokenBudgetMix")), s"got: $ex")
    intercept[IllegalArgumentException] {
      Sampling.domainMixSample(df, $"doc_id", $"src",
        Seq("a" -> 0.3, "a" -> 0.1), defaultShare = 1.0, salt = "d:")
    }
  }

  test("tokenBudgetMix: whole epochs when the share exceeds the " +
    "corpus, hash lottery for the remainder, unlisted sources drop") {
    // web: 100 tokens available, target 50% of 1000 = 500 →
    //   epochs 5, remainder 0 → every web doc repeats exactly 5
    // code: 400 available, target 30% = 300 → epochs 0,
    //   frac = 750000 ppm → docs kept by lottery with n_repeat 1
    // junk: unlisted → dropped entirely
    val df = (Seq.tabulate(4)(i => (i.toLong, "web", 25L)) ++
      Seq.tabulate(8)(i => (10L + i, "code", 50L)) ++
      Seq((99L, "junk", 10L))).toDF("doc_id", "src", "toks")
    val got = Sampling.tokenBudgetMix(df, $"doc_id", $"src", $"toks",
        weightsPpm = Seq("web" -> 500000L, "code" -> 300000L),
        budgetTokens = 1000L, salt = "t-budget:")
      .as[(Long, String, Long, Long)].collect().toSeq
    val web = got.filter(_._2 == "web")
    assert(web.map(_._1).sorted === (0L to 3L) &&
      web.forall(_._4 === 5L))
    val code = got.filter(_._2 == "code")
    assert(code.forall(_._4 === 1L) && code.nonEmpty && code.size <= 8)
    assert(!got.exists(_._2 == "junk"))
    // drawn code tokens land within lottery noise of the 300 target
    val drawn = code.map(_._3).sum
    assert(drawn % 50 === 0L && drawn >= 100L && drawn <= 400L)
  }

  test("contrastiveNegatives: k ring neighbors per anchor, no self, " +
    "no cross-bucket, singleton buckets empty, deterministic") {
    val ids = (1L to 40L).toDF("id")
    val got = Sampling.contrastiveNegatives(ids, $"id", k = 3,
        buckets = 4, salt = "t-neg:")
      .as[(Long, Long, Long)].collect().toSeq
    // every anchor with >= 1 bucket peer gets min(k, n-1) negatives
    val byAnchor = got.groupBy(_._1)
    byAnchor.values.foreach { ns =>
      assert(ns.map(_._2).sorted === (1L to ns.size.toLong))
      assert(ns.forall(n => n._3 != n._1)) // never itself
      assert(ns.map(_._3).distinct.size === ns.size) // distinct negs
    }
    // deterministic: a second run draws the identical set
    val again = Sampling.contrastiveNegatives(ids, $"id", k = 3,
        buckets = 4, salt = "t-neg:")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.toSet === again.toSet)
    // a singleton bucket contributes nothing rather than [1, 0]
    // descending-sequence garbage: force one with buckets >> rows
    val lone = Sampling.contrastiveNegatives(
        Seq(7L).toDF("id"), $"id", k = 3, buckets = 4, salt = "t-neg:")
      .count()
    assert(lone === 0L)
    // negatives stay within the anchor's bucket
    val bkt = ids
      .withColumn("b", graft.ext.PortableHash.md5PrefixLong(
        concat(lit("t-neg:bkt:"), $"id".cast("string")), 7) % 4)
      .as[(Long, Long)].collect().toMap
    assert(got.forall(r => bkt(r._1) === bkt(r._3)))
  }

  test("splitAssign keeps a leakage key in one split and covers all rows") {
    val df = (0L until 400L).map(i => (i, s"dom${i % 40}"))
      .toDF("doc_id", "source")
    val got = Sampling.splitAssign(df, $"source", "t-split:", 100, 100)
      .select("doc_id", "source", "split")
      .as[(Long, String, String)].collect()
    assert(got.length === 400)
    // every doc of a source gets the SAME split (the leakage guard)
    got.groupBy(_._2).values.foreach(rows =>
      assert(rows.map(_._3).distinct.length === 1))
    val bySplit = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > 200) // 80% expectation, loose bound
  }

  test("unigramSurprisal: integer bit surprisal from corpus counts") {
    // corpus: "a a a a" + "rare" -> N=5 (floorlog2=2), count(a)=4
    // (floorlog2=2), count(rare)=1 (floorlog2=0)
    val df = Seq((1L, "a a a a"), (2L, "rare"), (3L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramSurprisal(df, $"doc_id", $"text")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((4L, 0L, 0L)))    // 4 x (2-2) = 0 bits
    assert(got(2L) === ((1L, 2L, 2000L))) // 1 x (2-0) = 2 bits
    assert(got(3L) === ((0L, 0L, 0L)))    // empty doc keeps its row
  }

  test("dsirWeights: integer log-ratio of target/raw unigram models") {
    // target doc1 "a a b", raw-only doc2 "a c", empty doc3
    // cr: a=3 b=1 c=1; ct: a=2 b=1 c=0; V=3, Nr=5, Nt=3
    // per-token fl2(ct+1)-fl2(cr+1): a=1-2=-1, b=1-1=0, c=0-1=-1
    // normalizer per token: fl2(5+3)-fl2(3+3) = 3-2 = 1
    val df = Seq((1L, "a a b", "tgt"), (2L, "a c", "raw"),
      (3L, "", "raw")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.dsirWeights(df, $"doc_id", $"text",
        $"source" === "tgt")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((3L, 1L, 333L)))  // -1-1+0 + 3*1 = 1
    assert(got(2L) === ((2L, 0L, 0L)))    // -1-1 + 2*1 = 0
    assert(got(3L) === ((0L, 0L, 0L)))    // empty doc keeps its row
    // the target-domain doc outranks the raw doc — the signal DSIR
    // selects on
    assert(got(1L)._3 > got(2L)._3)
    // bigram features (ngram = 2, the paper's model): doc1 a_a a_b,
    // doc2 a_c; cr all 1, ct: a_a=1 a_b=1 a_c=0; V=3 Nr=3 Nt=2,
    // normalizer fl2(6)-fl2(5) = 0 per feature
    val got2 = TextAnalysis.dsirWeights(df, $"doc_id", $"text",
        $"source" === "tgt", ngram = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got2(1L) === ((2L, 0L, 0L)))     // (1-1)+(1-1)+0
    assert(got2(2L) === ((1L, -1L, -1000L))) // fl2(1)-fl2(2) = -1
    assert(got2(3L) === ((0L, 0L, 0L)))     // no bigrams -> 0 row kept
  }

  test("scoreTerciles: exact thirds on distinct scores; a boundary-" +
    "straddling tie group lands whole in the lower bucket") {
    // distinct scores 1..9 -> exact thirds
    val a = (1L to 9L).map(i => (i, "x", i)).toDF("id", "k", "s")
    val gotA = TextAnalysis.scoreTerciles(a, "k", "s")
      .select("id", "bucket").as[(Long, String)].collect().toMap
    assert((1L to 3L).forall(gotA(_) == "head"))
    assert((4L to 6L).forall(gotA(_) == "middle"))
    assert((7L to 9L).forall(gotA(_) == "tail"))
    // 5-way tie at the minimum (n=7): the tie group straddles the
    // n/3 boundary and lands WHOLE in head; the next score's
    // strictly-below count (5) already passes 2n/3, so middle is
    // empty — the documented generous-downward cut
    val b = (Seq.fill(5)(1L) ++ Seq(2L, 3L)).zipWithIndex
      .map { case (s, i) => (i.toLong, "x", s) }.toDF("id", "k", "s")
    val gotB = TextAnalysis.scoreTerciles(b, "k", "s")
      .select("s", "bucket").as[(Long, String)].collect()
    assert(gotB.filter(_._1 == 1L).forall(_._2 == "head"))
    assert(gotB.filter(_._1 >= 2L).forall(_._2 == "tail"))
    // head >= ceil(n/3) always
    assert(gotB.count(_._2 == "head") * 3 >= gotB.length)
  }

  test("integer-kernel property campaign: qlog8 exact-formula " +
      "replica, scoreTerciles vs a histogram-fold reference, and " +
      "dsirWeights vs a plain-Scala model on random inputs") {
    // round-17 extension of the r16 property method to the
    // TextAnalysis integer kernels: each is re-derived in Scala with
    // the documented arithmetic and compared EXACTLY on randomized
    // inputs with ties, NULLs, empties, and extreme magnitudes.
    var seed = 0x6A5D39EAE116586DL
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    // -- qlog8: exact formula replica on random + extreme magnitudes
    def qlog8Ref(x: Long): Long = {
      val b = 63 - java.lang.Long.numberOfLeadingZeros(x)
      val m = if (b >= 3) x >>> (b - 3) else x << (3 - b)
      8L * b + m - 8L
    }
    val mags = Seq.fill(200)(1L + (nxt(1 << 30).toLong << nxt(33))) ++
      Seq(1L, 2L, 7L, 8L, 11L, 12L, 95L, 96L, Long.MaxValue,
        Long.MaxValue - 1, (12L << 40) - 1, 12L << 40)
    val qGot = mags.map(x => math.min(x.abs.max(1L), Long.MaxValue))
      .distinct.toDF("x")
      .select($"x", TextAnalysis.qlog8($"x").as("q"))
      .as[(Long, Long)].collect()
    for ((x, q) <- qGot)
      assert(q === qlog8Ref(x), s"qlog8($x)")
    // -- scoreTerciles: full replica of the fold rule on random
    //    (key, score) data with NULL scores, a NULL key, heavy ties
    val trows = (0 until 160).map { i =>
      val k = if (nxt(11) == 0) null
        else s"k${nxt(4)}"
      val s = if (nxt(6) == 0) null
        else java.lang.Long.valueOf(nxt(5).toLong) // 5 values → ties
      (i.toLong, k, s)
    }
    val tdf = trows.toDF("id", "k", "s").repartition(7)
    val tGot = TextAnalysis.scoreTerciles(tdf, "k", "s")
      .select("id", "bucket").as[(Long, String)].collect().toMap
    def bucketRef(vals: Seq[Long], s: java.lang.Long): String = {
      if (s == null) return "tail"
      val n = vals.size.toLong
      val hist = vals.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      val ths = (1 to 2).map { i =>
        var run = 0L; var th = 0L
        for ((v, c) <- hist) { if (run * 3 < n * i) th = v; run += c }
        th
      }
      Seq("head", "middle", "tail")(ths.count(t => s > t))
    }
    val byKey = trows.groupBy(_._2)
    for ((id, k, s) <- trows) {
      val vals = byKey(k).flatMap(r => Option(r._3).map(_.toLong))
      assert(tGot(id) === bucketRef(vals, s),
        s"tercile id=$id k=$k s=$s vals=${vals.sorted}")
    }
    // -- dsirWeights: plain-Scala two-model replica, ngram 1 and 2,
    //    empty docs, duplicate tokens, truncating negative division
    val vocab = (0 until 6).map(i => s"w$i")
    val drows = (0 until 40).map { i =>
      val words = Seq.fill(nxt(7))(vocab(nxt(vocab.size)))
      (i.toLong, words.mkString(" "), nxt(3) == 0)
    }
    val ddf = drows.toDF("doc_id", "text", "tgt").repartition(5)
    def fl2(x: Long): Long =
      if (x <= 0) 0L else 63 - java.lang.Long.numberOfLeadingZeros(x)
    for (ng <- Seq(1, 2)) {
      def featsOf(text: String): Seq[String] = {
        val tk = text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
        if (ng == 1) tk
        else if (tk.size < 2) Seq.empty
        else tk.sliding(2).map(_.mkString("_")).toSeq
      }
      val occ = drows.flatMap { case (id2, tx, tg) =>
        featsOf(tx).map(t => (id2, t, tg)) }
      val cr = occ.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val ct = occ.groupBy(_._2).view
        .mapValues(_.count(_._3).toLong).toMap
      val (nr, nt, v) = (cr.values.sum, ct.values.sum, cr.size.toLong)
      val exp = drows.map { case (id2, tx, _) =>
        val fs = featsOf(tx)
        val bits = fs.map(t => fl2(ct(t) + 1) - fl2(cr(t) + 1) +
          (fl2(nr + v) - fl2(nt + v))).sum
        val nT = fs.size.toLong
        (id2, nT, bits, if (nT == 0) 0L else bits * 1000L / nT)
      }.toSet
      val got = TextAnalysis.dsirWeights(ddf, $"doc_id", $"text",
        $"tgt", ngram = ng)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === exp, s"dsirWeights diverged at ngram=$ng")
    }
  }

  test("scoreTerciles NULL score lands in tail, never head: an " +
    "unscored doc must not survive a keep-the-best-bucket cut " +
    "(equidepthBins alone bins a NULL score as 0)") {
    val df = Seq((1L, "x", Some(1L)), (2L, "x", Some(2L)),
      (3L, "x", Some(3L)), (4L, "x", None))
      .toDF("id", "k", "s")
    val got = TextAnalysis.scoreTerciles(df, "k", "s")
      .select("id", "bucket").as[(Long, String)].collect().toMap
    assert(got(4L) === "tail")
    // real scores still tercile among themselves (NULLs are out of
    // the histogram and the count)
    assert(got(1L) === "head" && got(2L) === "middle" &&
      got(3L) === "tail")
    // a key whose scores are ALL NULL keeps every row (tail), not
    // dropped — one bucket row per input doc, always
    val allNull = Seq((1L, "x", Some(5L)), (2L, "y", Option.empty[Long]),
      (3L, "y", Option.empty[Long])).toDF("id", "k", "s")
    val got2 = TextAnalysis.scoreTerciles(allNull, "k", "s")
      .select("id", "bucket").as[(Long, String)].collect().toMap
    assert(got2.size === 3)
    assert(got2(2L) === "tail" && got2(3L) === "tail")
  }

  test("ccnetBuckets: per-lang terciles, tie-atomic, monotone in " +
    "score, exact cut positions") {
    // Group sizes 1/2/4/8 put token counts 4/8/16/32 on DIFFERENT
    // power-of-2 rungs (floor-log2 would collapse same-rung counts to
    // one score — the first cut of this fixture did exactly that and
    // tested nothing). N = 4*22 = 88 total tokens, fl2(88) = 6, so a
    // group of g docs scores (6 - fl2(4g))*1000 millibits.
    val groups = Seq(("en", "e1", 1), ("en", "e2", 2), ("en", "e4", 4),
      ("en", "e8", 8), ("de", "d1", 1), ("de", "d2", 2), ("de", "d4", 4))
    val docs = groups.zipWithIndex.flatMap { case ((lang, tok, g), gi) =>
      (1 to g).map(j => (gi * 100L + j, Seq.fill(4)(tok).mkString(" "),
        lang))
    }.toDF("doc_id", "text", "lang")
    val got = TextAnalysis
      .ccnetBuckets(docs, $"doc_id", $"text", $"lang")
      .as[(Long, String, Long, String)].collect()
    assert(got.length === 22)               // every doc keeps a row
    // exact cuts from the strictly-below-count rule:
    // en n=15, scores asc 1000x8 (lt=0, head), 2000x4 (lt=8, middle),
    //   3000x2 (lt=12, tail), 4000x1 (lt=14, tail)
    // de n=7, scores asc 2000x4 (lt=0, head), 3000x2 (lt=4, middle),
    //   4000x1 (lt=6, tail)
    val byLangBucket = got.groupBy(r => (r._2, r._4))
      .view.mapValues(_.length).toMap
    assert(byLangBucket === Map(
      ("en", "head") -> 8, ("en", "middle") -> 4, ("en", "tail") -> 3,
      ("de", "head") -> 4, ("de", "middle") -> 2, ("de", "tail") -> 1))
    for ((_, rows) <- got.groupBy(_._2)) {
      // tie-atomic: one bucket per (lang, score)
      rows.groupBy(_._3).values.foreach(g =>
        assert(g.map(_._4).distinct.length === 1))
      // monotone: head scores <= middle scores <= tail scores
      val order = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
      val sorted = rows.sortBy(_._3).map(r => order(r._4))
      assert(sorted === sorted.sorted, s"buckets not monotone: $sorted")
    }
  }

  test("zorder16: bit-exact interleave in range, LOUD failure on " +
    "negative or >16-bit coordinates (the HilbertIndex contract)") {
    // in-range: the key is the standard Morton interleave
    val got = Seq((3L, 5L), (0L, 0L), (65535L, 65535L)).toDF("x", "y")
      .select(Layout.zorder16($"x", $"y")).as[Long].collect()
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(j => (((x >> j) & 1) << (2 * j)) |
        (((y >> j) & 1) << (2 * j + 1))).sum
    assert(got.toSeq === Seq(morton(3, 5), 0L, morton(65535, 65535)))
    // out of range: a negative x would contribute -1 terms and a
    // 17-bit y would silently drop its top bit — both must raise,
    // not emit a key that corrupts downstream pruning
    for ((x, y) <- Seq((-1L, 0L), (0L, 65536L))) {
      val e = intercept[Exception] {
        Seq((x, y)).toDF("x", "y")
          .select(Layout.zorder16($"x", $"y")).collect()
      }
      assert(e.getMessage.contains("zorder16"), s"($x,$y): $e")
    }
  }

  test("layout-key property campaign at coordinate extremes (r18): " +
    "hilbertD round-trips an independent spec-derived inverse at " +
    "bits=31 and bits=16 including corner/boundary indices, the " +
    "codegen kernel agrees at the extremes, guards fire exactly at " +
    "2^bits, and zorder16 matches an independent interleave on " +
    "random + boundary points") {
    import org.apache.spark.sql.graft.GraftHilbertUtil
    // the classical d -> (x, y) inverse (Hilbert curve conversion
    // algorithm as published, e.g. Warren's Hacker's Delight /
    // Wikipedia form) — written here from the spec, NOT from
    // GraftHilbertUtil, so the round-trip is two independent
    // derivations agreeing
    def d2xy(bits: Int, d: Long): (Long, Long) = {
      var (x, y) = (0L, 0L)
      var t = d
      var s = 1L
      while (s < (1L << bits)) {
        val rx = 1L & (t / 2)
        val ry = 1L & (t ^ rx)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx; y += s * ry
        t /= 4; s *= 2
      }
      (x, y)
    }
    for (bits <- Seq(16, 31)) {
      val dMax = (1L << (2 * bits)) - 1 // 4^bits - 1; 2^62-1 at 31
      val quadrant = 1L << (2 * (bits - 1))
      val rnd = new scala.util.Random(bits)
      val ds = Seq(0L, 1L, 2L, dMax, dMax - 1, quadrant - 1, quadrant,
        quadrant + 1, 2 * quadrant - 1, 2 * quadrant, 3 * quadrant,
        3 * quadrant - 1) ++
        Seq.fill(300)(math.abs(rnd.nextLong()) % (dMax + 1))
      for (d <- ds) {
        val (x, y) = d2xy(bits, d)
        assert(x >= 0 && x < (1L << bits) && y >= 0 && y < (1L << bits))
        assert(GraftHilbertUtil.hilbertD(bits, x, y) === d,
          s"bits=$bits d=$d -> ($x,$y)")
        if (d < dMax) { // unit-step across the extremes, via the inverse
          val (x2, y2) = d2xy(bits, d + 1)
          assert(math.abs(x2 - x) + math.abs(y2 - y) === 1,
            s"bits=$bits step $d->${d + 1}")
        }
      }
      // corners: the curve starts at the origin
      assert(GraftHilbertUtil.hilbertD(bits, 0, 0) === 0L)
      // guards fire EXACTLY at 2^bits, not one cell early
      val max = (1L << bits) - 1
      assert(GraftHilbertUtil.hilbertD(bits, max, max) >= 0)
      for ((bx, by) <- Seq((1L << bits, 0L), (0L, 1L << bits),
        (-1L, 0L), (0L, -1L))) {
        val e = intercept[IllegalArgumentException](
          GraftHilbertUtil.hilbertD(bits, bx, by))
        assert(e.getMessage.contains("clamp or rescale"),
          s"bits=$bits ($bx,$by)")
      }
    }
    // the codegen'd column kernel agrees with the driver loop at the
    // bits=31 extremes (the generated code multiplies s*s ~ 2^60 —
    // overflow there would only show at max bits)
    val pts31 = Seq((0L, 0L), ((1L << 31) - 1, (1L << 31) - 1),
      ((1L << 31) - 1, 0L), (0L, (1L << 31) - 1),
      (123456789L, 2100000000L))
    val gotCol = pts31.toDF("x", "y")
      .select(Layout.hilbert($"x", $"y", bits = 31)).as[Long].collect()
    assert(gotCol.toSeq ===
      pts31.map(p => GraftHilbertUtil.hilbertD(31, p._1, p._2)))
    // zorder16 vs an independently written interleave, random +
    // boundary points (the existing spec pins 3 points; this sweeps)
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(j => (((x >> j) & 1L) << (2 * j)) |
        (((y >> j) & 1L) << (2 * j + 1))).sum
    val rnd = new scala.util.Random(7)
    val zpts = Seq((0L, 65535L), (65535L, 0L), (32768L, 32767L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val gotZ = zpts.toDF("x", "y")
      .select(Layout.zorder16($"x", $"y")).as[Long].collect()
    assert(gotZ.toSeq === zpts.map(p => morton(p._1, p._2)))
  }

  test("hilbertD is a true Hilbert curve: bijective, unit-step, and " +
    "the column kernel matches the driver loop") {
    import org.apache.spark.sql.graft.GraftHilbertUtil
    val bits = 3
    val n = 1 << bits
    val cells = for { x <- 0 until n; y <- 0 until n }
      yield ((x, y), GraftHilbertUtil.hilbertD(bits, x, y))
    // bijective onto [0, n^2)
    assert(cells.map(_._2).sorted === (0L until (n.toLong * n)).toSeq)
    // unit-step: consecutive indices are grid-adjacent — the locality
    // property that distinguishes Hilbert from the Morton Z-curve
    cells.sortBy(_._2).map(_._1).sliding(2).foreach {
      case Seq((x1, y1), (x2, y2)) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
          s"jump between d-neighbors ($x1,$y1)->($x2,$y2)")
      case _ =>
    }
    // the codegen'd column kernel is the same function
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(200)((rnd.nextInt(256).toLong,
      rnd.nextInt(256).toLong))
    val got = pts.toDF("x", "y")
      .select(Layout.hilbert($"x", $"y", bits = 8)).as[Long].collect()
    assert(got.toSeq ===
      pts.map(p => GraftHilbertUtil.hilbertD(8, p._1, p._2)))
  }

  test("hilbert-clustered writes tighten per-file column spans — the " +
    "data-skipping claim, measured") {
    // 4096 points on a 64x64 grid, written as 8 files two ways: range-
    // clustered by the hilbert key vs round-robin. Row-group pruning
    // power is the per-file (max-min) span of each filter column; the
    // clustered layout must shrink the mean span on BOTH columns.
    val rnd = new scala.util.Random(5)
    val pts = Seq.fill(4096)((rnd.nextInt(64).toLong, rnd.nextInt(64).toLong))
      .toDF("x", "y")
    def meanSpan(dir: String): Double = {
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(((max("x") - min("x")) + (max("y") - min("y")))
          .cast("double").as("span"))
        .agg(avg("span")).as[Double].collect().head
      perFile
    }
    val base = java.nio.file.Files.createTempDirectory("hilbert_skip")
    try {
      val clustered = s"$base/clustered"
      val shuffled = s"$base/roundrobin"
      pts.withColumn("hk", Layout.hilbert($"x", $"y", bits = 6))
        .repartitionByRange(8, $"hk").drop("hk")
        .write.parquet(clustered)
      pts.repartition(8).write.parquet(shuffled)
      val (cs, ss) = (meanSpan(clustered), meanSpan(shuffled))
      assert(cs < ss / 2,
        s"hilbert clustering should at least halve the mean per-file " +
          s"span: clustered=$cs vs roundrobin=$ss")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", base.toString).!
    }
  }

  test("packSequences invariants: every chunk assigned once, offsets " +
    "within capacity, shard-local contiguity") {
    val rnd = new scala.util.Random(17)
    val docs = (1L to 40L).map(i =>
      (i, (0 until (1 + rnd.nextInt(30))).map(j => s"t${i}_$j")
        .mkString(" "))).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkTokens(docs, $"doc_id", $"text",
      window = 4, overlap = 1)
    val packed = TextAnalysis.packSequences(chunks, $"doc_id",
      $"chunk_idx", $"n_tokens", capacity = 10, shards = 4,
      salt = "inv:")
      .as[(Long, Int, Long, Long, Long, Long)].collect()
    val inChunks = chunks.select("doc_id", "chunk_idx")
      .as[(Long, Int)].collect().toSet
    // bijection with the chunk set
    assert(packed.map(p => (p._1, p._2)).toSet === inChunks)
    assert(packed.length === inChunks.size)
    packed.foreach { p =>
      assert(p._6 >= 0 && p._6 < 10, s"offset out of range: $p")
      assert(p._5 >= 0, s"negative seq id: $p")
    }
    // within a shard, walking chunks in (doc, idx) order reproduces
    // exactly the (seq_id, seq_offset) assignment via a running count
    packed.groupBy(_._4).values.foreach { shard =>
      var cum = 0L
      shard.sortBy(p => (p._1, p._2)).foreach { p =>
        assert(p._5 === cum / 10 && p._6 === cum % 10,
          s"non-contiguous assignment at $p")
        cum += p._3
      }
    }
  }

  test("temperatureSample flattens the head toward sqrt proportions; " +
    "reserved columns rejected") {
    // 800 'big' vs 50 'small': thinned counts should be ~ c·sqrt(N·n)
    val df = ((1 to 800).map(i => (i.toLong, "big")) ++
      (1001 to 1050).map(i => (i.toLong, "small")))
      .toDF("doc_id", "lang")
    val kept = Sampling.temperatureSample(df, $"doc_id", $"lang",
      budget = 0.2, salt = "t:")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val n = 850.0
    def expect(ns: Int): Double = 0.2 * math.sqrt(n / ns) * ns
    // salted-hash thinning is binomial-ish around rate·n: ±40% slack
    assert(math.abs(kept("big") - expect(800)) < expect(800) * 0.4)
    assert(math.abs(kept("small") - expect(50)) < expect(50) * 0.4)
    // the head:tail ratio flattens from 16:1 toward sqrt(16):1 = 4:1
    val ratio = kept("big").toDouble / kept("small")
    assert(ratio < 8.0, s"head not flattened: $ratio")
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(df.withColumn("__n", lit(1)),
        $"doc_id", $"lang", budget = 0.2, salt = "t:")
    }
  }

  test("retention: cohort = first-activity week, offsets exact") {
    val evs = Seq(
      (1L, ts("2024-01-01 10:00:00")), // Mon wk0 cohort
      (1L, ts("2024-01-09 10:00:00")), // wk1
      (1L, ts("2024-01-16 10:00:00")), // wk2
      (2L, ts("2024-01-02 10:00:00")), // wk0 cohort
      (2L, ts("2024-01-17 10:00:00")), // wk2
      (3L, ts("2024-01-10 10:00:00"))) // wk1 cohort only
      .toDF("user_id", "ts")
    val got = EventWindows.retention(evs, $"user_id", $"ts")
      .as[(java.sql.Timestamp, Long, Long)].collect()
      .map(r => (r._1.toString.take(10), r._2) -> r._3).toMap
    assert(got === Map(
      ("2024-01-01", 0L) -> 2L, ("2024-01-01", 1L) -> 1L,
      ("2024-01-01", 2L) -> 2L, ("2024-01-08", 0L) -> 1L))
  }

  test("funnel greedy-latest matching equals a backtracking " +
      "existential matcher on random event streams (the exactness " +
      "theorem, tested)") {
    // the operator claims greedy-latest is EXACT for the existential
    // pattern: an event completes the funnel iff SOME chain
    // step0 < step1 < ... < stepK exists (strict (ts, tie) order,
    // each adjacent gap <= within). The oracle is the O(n^2 * k)
    // dynamic program over the definition itself — random streams
    // with heavy timestamp ties stress the tie-order chaining.
    val rnd = new scala.util.Random(40)
    val steps = Seq("a", "b", "c")
    val types = Seq("a", "b", "c", "x")
    val events = Seq.tabulate(250) { i => (
      rnd.nextInt(4).toLong,
      new Timestamp(1700000000000L + rnd.nextInt(30) * 10000L),
      types(rnd.nextInt(types.size)),
      i.toLong)
    }
    val withinMs = 40000L
    // oracle per key: valid(0,e)=type==a; valid(i,e)= type==steps(i)
    // && exists e' strictly before with valid(i-1,e') and
    // e.ts <= e'.ts + within; prev_ts = max such e'.ts for the final
    val want = events.groupBy(_._1).flatMap { case (k, es) =>
      val ord = es.sortBy(e => (e._2.getTime, e._4))
      val valid = Array.fill(steps.size, ord.size)(false)
      for (i <- steps.indices; j <- ord.indices) {
        if (ord(j)._3 == steps(i))
          valid(i)(j) = i == 0 || (0 until j).exists(p =>
            valid(i - 1)(p) &&
              ord(j)._2.getTime <= ord(p)._2.getTime + withinMs)
      }
      ord.indices.filter(valid(steps.size - 1)).map { j =>
        val prev = (0 until j)
          .filter(p => valid(steps.size - 2)(p) &&
            ord(j)._2.getTime <= ord(p)._2.getTime + withinMs)
          .map(p => ord(p)._2.getTime).max
        (k, ord(j)._4) -> ((ord(j)._2.getTime, prev))
      }
    }
    for (parts <- Seq(1, 5)) {
      val df = events.toDF("user_id", "ts", "event_type", "event_id")
        .repartition(parts)
      val got = EventWindows.funnel(df, $"user_id", $"ts", $"event_id",
          $"event_type", steps, within = "40 seconds")
        .as[(Long, Long, Timestamp, Timestamp)].collect()
        .map(r => (r._1, r._2) -> ((r._3.getTime, r._4.getTime))).toMap
      assert(got.keySet === want.keySet,
        s"parts=$parts: completed-event sets differ (" +
          s"extra=${got.keySet -- want.keySet}, " +
          s"missing=${want.keySet -- got.keySet})")
      want.foreach { case (key, w) =>
        assert(got(key) === w, s"parts=$parts event=$key")
      }
    }
  }

  test("retention/funnel NULL fences: NULL-ts events emit no phantom " +
      "matrix bucket, and NULL-key events never chain into a false " +
      "conversion (anonymous rows are not one entity)") {
    val evs = Seq(
      (Some(1L), Some(ts("2024-01-01 10:00:00"))),
      (Some(1L), Option.empty[java.sql.Timestamp]), // NULL ts
      (Option.empty[Long], Some(ts("2024-01-02 10:00:00")))) // NULL user
      .toDF("user_id", "ts")
    val got = EventWindows.retention(evs, $"user_id", $"ts")
      .as[(java.sql.Timestamp, Long, Long)].collect()
    assert(got.toSeq === Seq((ts("2024-01-01 00:00:00"), 0L, 1L)))
    // three ANONYMOUS users' steps must not assemble into a funnel
    val f = Seq(
      (Option.empty[Long], ts("2024-01-01 10:00:00"), 1L, "signup"),
      (Option.empty[Long], ts("2024-01-01 10:05:00"), 2L, "click"),
      (Option.empty[Long], ts("2024-01-01 10:10:00"), 3L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(EventWindows.funnel(f, $"user_id", $"ts", $"event_id",
      $"event_type", Seq("signup", "click", "purchase"), "1 day")
      .isEmpty)
  }

  test("funnel: ordered chain within per-gap windows; wrong order, " +
    "missing steps and stale gaps all rejected") {
    val evs = Seq(
      // user 1: clean signup(h0) -> click(h1) -> purchase(h2): match
      (1L, ts("2024-01-01 00:00:00"), 1L, "signup"),
      (1L, ts("2024-01-01 01:00:00"), 2L, "click"),
      (1L, ts("2024-01-01 02:00:00"), 3L, "purchase"),
      // user 2: purchase BEFORE its click: no match
      (2L, ts("2024-01-01 00:00:00"), 4L, "signup"),
      (2L, ts("2024-01-01 02:00:00"), 5L, "purchase"),
      (2L, ts("2024-01-01 03:00:00"), 6L, "click"),
      // user 3: click with NO signup: no match
      (3L, ts("2024-01-01 01:00:00"), 7L, "click"),
      (3L, ts("2024-01-01 02:00:00"), 8L, "purchase"),
      // user 4: signup -> (26h) click: first gap too old, but a
      // SECOND signup revalidates the chain for the later purchase
      (4L, ts("2024-01-01 00:00:00"), 9L, "signup"),
      (4L, ts("2024-01-02 02:00:00"), 10L, "click"),
      (4L, ts("2024-01-02 01:00:00"), 11L, "signup"),
      (4L, ts("2024-01-02 03:00:00"), 12L, "purchase"),
      // user 5: purchase 26h after its click: last gap too old
      (5L, ts("2024-01-01 00:00:00"), 13L, "signup"),
      (5L, ts("2024-01-01 01:00:00"), 14L, "click"),
      (5L, ts("2024-01-02 03:30:00"), 15L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventWindows.funnel(evs, $"user_id", $"ts", $"event_id",
      $"event_type", steps = Seq("signup", "click", "purchase"),
      within = "1 day")
      .select("key", "tie").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L), (4L, 12L)))
  }

  test("funnel matches a brute-force exists-chain search on random " +
    "event streams") {
    // the greedy-latest window fold must equal the existential
    // pattern: purchase p matches iff SOME strictly-earlier click c
    // within T has SOME strictly-earlier signup within T of c
    val rnd = new scala.util.Random(91)
    val types = Seq("signup", "click", "purchase", "noise")
    val withinMs = 3600L * 1000 // 1 hour
    val evs = (0 until 240).map { i =>
      (rnd.nextInt(6).toLong,
        new Timestamp(ts("2024-01-01 00:00:00").getTime +
          rnd.nextInt(5 * 3600) * 1000L),
        i.toLong, types(rnd.nextInt(types.size)))
    }
    val got = EventWindows.funnel(
      evs.toDF("user_id", "ts", "event_id", "event_type"),
      $"user_id", $"ts", $"event_id", $"event_type",
      steps = Seq("signup", "click", "purchase"), within = "1 hour")
      .select("key", "tie").as[(Long, Long)].collect().toSet
    val byKey = evs.groupBy(_._1)
    val want = (for {
      (_, ks) <- byKey.toSeq
      sorted = ks.sortBy(e => (e._2.getTime, e._3))
      (p, pi) <- sorted.zipWithIndex if p._4 == "purchase"
      if sorted.take(pi).zipWithIndex.exists { case (c, ci) =>
        c._4 == "click" &&
          p._2.getTime - c._2.getTime <= withinMs &&
          p._2.getTime >= c._2.getTime &&
          sorted.take(ci).exists(s => s._4 == "signup" &&
            c._2.getTime - s._2.getTime <= withinMs &&
            c._2.getTime >= s._2.getTime)
      }
    } yield (p._1, p._3)).toSet
    assert(want.nonEmpty, "vacuous random instance")
    assert(got === want)
  }

  test("freqItems: MG guarantees hold across partition merges; " +
    "sketch never over-counts") {
    // skewed stream: 'a' x40, 'b' x20, then 30 singletons; n=90,
    // k=4 -> threshold n/5 = 18: heavy = {a, b}
    val stream = Seq.fill(40)("a") ++ Seq.fill(20)("b") ++
      (0 until 30).map(i => s"x$i")
    // scramble deterministically + spread over 7 partitions so the
    // merge path (not just reduce) is exercised
    val items = stream.sortBy(_.hashCode).toDF("item").repartition(7)
    val got = FreqItems.heavyHittersVerified(items, $"item", k = 4)
      .as[(String, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet === Set("a", "b"))
    assert(got("a") === ((40L, true, true)))
    assert(got("b") === ((20L, true, true)))
    // null items are skipped, not a map-key crash at shuffle time
    val withNulls = Seq("a", null, "b", null, "a").toDF("item")
      .repartition(3)
    val skN = withNulls.agg(FreqItems.sketch(4)($"item").as("sk"))
      .select(explode($"sk")).as[(String, Long)].collect().toMap
    assert(skN === Map("a" -> 2L, "b" -> 1L))
    // the raw sketch never over-counts ANY item it retains
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
    val sk = items.agg(FreqItems.sketch(4)($"item").as("sk"))
      .select(explode($"sk")).as[(String, Long)].collect()
    assert(sk.length <= 4)
    sk.foreach { case (i, est) =>
      assert(est <= exact(i), s"over-count for $i") }
  }

  test("tfIdfTopTerms: integer idf bits, rank by (score desc, term), " +
    "empty docs emit nothing") {
    // N=4 (floorlog2=2); df: a=2 (bits 2-1=1), b=2 (1), c=1 (2-0=2)
    val df = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b b b"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTopTerms(df, $"doc_id", $"text", k = 2)
      .as[(Long, String, Long, Long, Long, Int)].collect()
      .map(r => (r._1, r._6) -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got((1L, 1)) === (("a", 2L, 2L, 2L))) // tf2 x 1 bit
    assert(got((1L, 2)) === (("b", 1L, 2L, 1L)))
    assert(got((2L, 1)) === (("c", 1L, 1L, 2L))) // rare c outranks a
    assert(got((2L, 2)) === (("a", 1L, 2L, 1L)))
    assert(got((3L, 1)) === (("b", 4L, 2L, 4L)))
    assert(!got.keySet.exists(_._1 === 4L)) // zero-token doc: no rows
    assert(got.size === 5)
  }

  test("corpusReport: per-source docs/tokens/vocab/TTR/dup counts") {
    val df = Seq(
      ("s1", 1L, "x y"), ("s1", 2L, "x  y"), // normalize -> same fp
      ("s1", 3L, "z"), ("s2", 4L, "")).toDF("source", "doc_id", "text")
    val got = TextAnalysis.corpusReport(df, $"source", $"doc_id", $"text")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // s1: 3 docs, 5 tokens, 1 exact dup, vocab {x,y,z}, ttr 3000/5
    assert(got("s1") === ((3L, 5L, 1L, 3L, 600L)))
    // s2: one empty doc — zero tokens, zero vocab, ttr 0, no dup
    assert(got("s2") === ((1L, 0L, 0L, 0L, 0L)))
  }

  test("project: JL ±1 projection matches a hand fold; up-projection " +
    "is rejected") {
    val vec = Array(1.0f, 2.0f, 4.0f, 8.0f)
    val df = Seq((7L, vec.toSeq)).toDF("id", "vec")
      .select($"id", $"vec".cast("array<float>").as("vec"))
    val signs = Similarity.hyperplanes(2, 4)
    val want = signs.map(row =>
      row.zip(vec).foldLeft(0.0) { case (acc, (s, v)) =>
        acc + s.toDouble * v.toDouble })
    val rows = Similarity.project(df, $"id", $"vec", outDims = 2, dims = 4)
      .as[(Long, Double, Double)].collect()
    assert(rows.toSeq === Seq((7L, want(0), want(1))))
    intercept[IllegalArgumentException] {
      Similarity.project(df, $"id", $"vec", outDims = 8, dims = 4)
    }
  }

  test("buildVocab + encodeTokens: frequency-ranked ids, OOV -> 0, " +
    "position order survives shuffling") {
    // counts: b=4, a=3, c=2, z=1; minCount=2 drops z; vocabSize=2
    // keeps b(id 1), a(id 2); c and z encode as UNK 0
    val df = Seq((1L, "a b c b"), (2L, "b z a c a b"), (3L, ""))
      .toDF("doc_id", "text").repartition(5)
    val vocab = TextAnalysis.buildVocab(df, $"text",
      vocabSize = 2, minCount = 2)
    assert(vocab.as[(String, Long, Long)].collect().toSet ===
      Set(("b", 4L, 1L), ("a", 3L, 2L)))
    val got = TextAnalysis.encodeTokens(df, $"doc_id", $"text", vocab)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((4L, 1L, "2 1 0 1")))
    assert(got(2L) === ((6L, 2L, "1 0 2 0 2 1")))
    assert(got(3L) === ((0L, 0L, ""))) // empty doc keeps its row
  }

  test("bigramSurprisal: conditional integer bits; short docs keep " +
    "zero rows") {
    // corpus bigrams: doc1 = (a,b) (b,a) (a,b); doc2 = (a,c); doc3 none
    // c1: a->3 starts (log2=1), b->1 (0); c2: (a,b)=2 (1), (b,a)=1 (0),
    // (a,c)=1 (0)
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(df, $"doc_id", $"text")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc1: (a,b): 1-1=0; (b,a): 0-0=0; (a,b): 0 -> 0 bits / 3 bigrams
    assert(got(1L) === ((3L, 0L, 0L)))
    // doc2: (a,c): log2(3)-log2(1) = 1-0 = 1 bit -> 1000 millibits
    assert(got(2L) === ((1L, 1L, 1000L)))
    assert(got(3L) === ((0L, 0L, 0L))) // no bigrams, row survives
  }

  test("bm25TopK ranks the term-dense doc first; term-free docs carry " +
    "zero tf") {
    // same doc length everywhere, so saturation depends on tf alone:
    // more seed-term occurrences must strictly outrank fewer
    val docs = Seq(
      (1L, "data data data join hash pad pad pad"),
      (2L, "data join pad pad pad pad pad pad"),
      (3L, "pad pad pad pad pad pad pad pad"),
      (4L, "data data join join hash hash pad pad")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, $"doc_id", $"text",
      terms = Seq("data", "join", "hash"), k = 4)
      .orderBy("rnk")
      .select("doc_id", "tf0", "tf1", "tf2").as[(Long, Long, Long, Long)]
      .collect()
    assert(got.map(_._1).take(2).toSeq === Seq(4L, 1L)) // densest first
    assert(got.last._1 === 3L) // the term-free doc ranks last
    assert(got.last === ((3L, 0L, 0L, 0L)))
  }

  test("chunkTokens covers every token; consecutive chunks overlap " +
    "by exactly `overlap` except the tail") {
    val rnd = new scala.util.Random(37)
    // lengths around the window/stride boundaries: 1, w-1, w, w+1,
    // exactly 2 strides, and a long tail
    for (len <- Seq(1, 7, 8, 9, 12, 16, 17, 50)) {
      val words = (0 until len).map(i => s"w$i")
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val chunks = TextAnalysis.chunkTokens(df, $"doc_id", $"text",
        window = 8, overlap = 3)
        .orderBy("chunk_idx")
        .select("chunk_text", "n_tokens").as[(String, Long)].collect()
      val covered = chunks.flatMap(_._1.split(" ")).toSet
      assert(covered === words.toSet, s"len=$len missed tokens")
      chunks.foreach { case (t, n) =>
        assert(t.split(" ").length.toLong === n, s"len=$len bad count") }
      chunks.sliding(2).foreach {
        case Array((a, _), (b, _)) =>
          // stride 5: chunk i+1 starts 5 tokens after chunk i
          assert(b.split(" ").head === a.split(" ")(5), s"len=$len stride")
        case _ => ()
      }
    }
  }

  test("pqTopK is partitioning-invariant (fixed-point codebook math)") {
    // the centroid update sums 1e-6 fixed-point longs and the ADC
    // scores sum longs — neither depends on partition or reduce
    // order, so any repartitioning yields identical ranks
    val rnd = new scala.util.Random(31)
    val df = Seq.tabulate(20)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))).toDF("id", "vec")
    val a = Similarity.pqTopK(df.filter($"id" < 5), df, k = 3,
      m = 4, dims = 8, codebookK = 4)
      .as[(Long, Long, Long)].collect().toSet
    val b = Similarity.pqTopK(df.filter($"id" < 5).repartition(7),
      df.repartition(5), k = 3, m = 4, dims = 8, codebookK = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(a === b)
  }

  test("ivfPqTopK at nprobe = nlist equals plain pqTopK") {
    // full probing allows every (query, vector) pair, so the coarse
    // quantizer prunes nothing and the ADC ranking must be identical
    val rnd = new scala.util.Random(29)
    val df = Seq.tabulate(15)(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))).toDF("id", "vec")
    val cents = Similarity.seedCentroids(
      df.select(col("id"), col("vec")), nlist = 3)
    val full = Similarity.ivfPqTopK(df.filter($"id" < 4), df, cents,
      k = 3, nprobe = 3, m = 4, dims = 8, codebookK = 4)
      .as[(Long, Long, Long)].collect().toSet
    val plain = Similarity.pqTopK(df.filter($"id" < 4), df,
      k = 3, m = 4, dims = 8, codebookK = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(full === plain)
  }

  test("PQ ladder property: codebook, codes and integer ADC scores " +
      "match an in-memory replica at parameter extremes (random " +
      "vectors; d=1, single-subspace, codebookK=1, corpus<codebookK)") {
    // the round-17 extension of the r16 property campaign to the
    // quantization ladder: every stage of pqTrain → pqEncode → pqTopK
    // is re-derived in plain Scala with the documented arithmetic
    // (left-fold double l2/dot, floor(x·1e6) fixed-point sums,
    // (Σ/n)/1e6 means, tie-to-smaller-cid) and compared EXACTLY —
    // a silent integer/ordering bug anywhere in the ladder diverges.
    var seed = 0x0FEDCBA987654321L
    def nxt(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 40).toInt % 2000) / 1000.0 - 1.0
    }
    def dotD(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def l2D(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    val combos = Seq( // (m, dims, codebookK, n)
      (2, 4, 3, 24),  // duplicate SEED vectors → codeword tie-break
      (4, 4, 2, 24),  // d = 1 subspaces
      (1, 6, 4, 24),  // single subspace
      (3, 6, 1, 24),  // one codeword per subspace (rank always 0)
      (2, 4, 6, 4))   // corpus smaller than codebookK
    for ((m, dims, ck, n) <- combos) {
      val d = dims / m
      val raw = (0 until n).map(i =>
        (i.toLong, IndexedSeq.fill(dims)(nxt())))
      // id 2 duplicates id 1 (when big enough): identical seed
      // codewords must tie to the smaller cid in every assignment
      val rows = if (n > 6) raw.updated(2, (2L, raw(1)._2)) else raw
      val df = rows.map { case (i, v) => (i, v) }.toDF("id", "vec")
        .repartition(5)
      def sub(v: IndexedSeq[Double], j: Int) = v.slice(j * d, j * d + d)
      val seeds = rows.sortBy(_._1).take(ck)
      def assignTo(cents: Map[Int, Seq[(Long, IndexedSeq[Double])]],
                   j: Int, sv: IndexedSeq[Double]): Long =
        cents(j).minBy { case (cid, cv) => (l2D(sv, cv), cid) }._1
      val cents0: Map[Int, Seq[(Long, IndexedSeq[Double])]] =
        (0 until m).map(j =>
          j -> seeds.map { case (id, v) => (id, sub(v, j)) }).toMap
      val assigned = for ((id, v) <- rows; j <- 0 until m)
        yield (j, assignTo(cents0, j, sub(v, j)), sub(v, j))
      val cents1: Map[Int, Seq[(Long, IndexedSeq[Double])]] =
        assigned.groupBy(a => (a._1, a._2)).map { case ((j, cid), grp) =>
          val cv = (0 until d).map { i =>
            val s = grp.map(g => math.floor(g._3(i) * 1e6).toLong).sum
            (s.toDouble / grp.size) / 1e6
          }
          (j, cid, cv)
        }.toSeq.groupBy(_._1).map { case (j, s) =>
          j -> s.map(t => (t._2, t._3: IndexedSeq[Double])).sortBy(_._1)
        }
      val rankOf: Map[(Int, Long), Int] = cents1.flatMap {
        case (j, s) => s.zipWithIndex.map { case ((cid, _), r) =>
          ((j, cid), r) }
      }.toMap
      // 1. codebook
      val cb = Similarity.pqTrain(df, m, dims, ck)
      val gotCb = cb.collect().map(r => ((r.getInt(0), r.getLong(1)),
        (r.getSeq[Double](2).toIndexedSeq, r.getInt(3)))).toMap
      val expCb = cents1.flatMap { case (j, s) => s.map { case (cid, cv) =>
        ((j, cid), (cv, rankOf((j, cid)))) } }
      assert(gotCb === expCb, s"codebook diverged at m=$m dims=$dims k=$ck")
      // 2. codes
      val codes = Similarity.pqEncode(df, m, dims, ck, Some(cb))
      val gotCodes = codes.collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getInt(0), s.getInt(1))).toIndexedSeq).toMap
      def codeOf(v: IndexedSeq[Double]): IndexedSeq[(Int, Int)] =
        (0 until m).map { j =>
          (j, rankOf((j, assignTo(cents1, j, sub(v, j)))))
        }
      val expCodes = rows.map { case (id, v) => id -> codeOf(v) }.toMap
      assert(gotCodes === expCodes, s"codes diverged at m=$m dims=$dims k=$ck")
      // 3. integer ADC scores + top-k cut
      val got = Similarity.pqTopK(df.filter($"id" < 3), df, k = 5,
          m, dims, ck, Some(cb), Some(codes))
        .as[(Long, Long, Long)].collect().toSet
      // cents1 vectors keyed by (j, rank) for the table replica
      val cvByRank: Map[(Int, Int), IndexedSeq[Double]] =
        cents1.flatMap { case (j, s) => s.map { case (cid, cv) =>
          ((j, rankOf((j, cid))), cv) } }
      val exp = (for {
        (qid, qv) <- rows if qid < 3
        cand = rows.filter(_._1 != qid).map { case (cid2, cv2) =>
          val adc = expCodes(cid2).map { case (j, r) =>
            math.floor(dotD(sub(qv, j), cvByRank((j, r))) * 1e6).toLong
          }.sum
          (qid, cid2, adc)
        }
        row <- cand.sortBy(t => (-t._3, t._2)).take(5)
      } yield row).toSet
      assert(got === exp, s"ADC top-k diverged at m=$m dims=$dims k=$ck")
    }
  }

  test("bloomFilteredAnti equals the plain anti join, even when the " +
    "filter is saturated with false positives") {
    val rnd = new scala.util.Random(13)
    val hist = (0 until 60).map(i => s"h$i-${rnd.nextLong()}").toDF("fp")
    val batch = ((0 until 40).map(i => i.toLong -> s"b$i-${rnd.nextLong()}")
      ++ (0 until 20).map(i => (100L + i) -> s"h${i * 3}-x"))
      .toDF("id", "fp")
    // overlap: every 3rd history fp also appears in the batch
    val overlapping = batch.union(
      hist.limit(15).select(lit(999L).as("id"), col("fp")))
    val expected = overlapping.join(hist, Seq("fp"), "left_anti")
      .select("id", "fp").as[(Long, String)].collect().toSet
    // roomy filter (few false positives) and a deliberately tiny,
    // saturated one (64 bits for 60 values -> most probes collide):
    // the verify join must keep both exact
    for (mBits <- Seq(1 << 12, 64)) {
      val got = DedupOps.bloomFilteredAnti(
        overlapping, hist, "fp", mBits = mBits, k = 2)
        .select("id", "fp").as[(Long, String)].collect().toSet
      assert(got === expected, s"mismatch at mBits=$mBits")
    }
    // a NULL fp never equals anything, so the plain anti join KEEPS
    // it — the literal-fold probe must too (its predicate is
    // indeterminate on NULL and coalesces to not-contained)
    val withNull = overlapping.unionByName(
      Seq((777L, Option.empty[String])).toDF("id", "fp"))
    val gotNull = DedupOps.bloomFilteredAnti(withNull, hist, "fp", k = 2)
      .select("id").as[Long].collect().toSet
    assert(gotNull.contains(777L), "NULL-fp row must survive the anti")
    // a prebuilt filter probes at its OWN build parameters — a fold
    // at non-default (mBits, k) handed to a call that leaves the
    // arguments at their defaults must stay exact (the BloomWords
    // holder carries the family; the bare-array API this replaced
    // silently false-negatived here)
    val folded = DedupOps.bloomFoldWords(hist, col("fp"),
      mBits = 1 << 8, k = 2)
    val gotPre = DedupOps.bloomFilteredAnti(
      overlapping, hist, "fp", prebuilt = Some(folded))
      .select("id", "fp").as[(Long, String)].collect().toSet
    assert(gotPre === expected, "prebuilt filter at non-default " +
      "(mBits, k) must probe with its build family")
  }

  test("OrderedPairs kernel matches the transform/slice lambda form " +
      "on long and string lists, including empties and singletons") {
    import org.apache.spark.sql.graft.PairColumns
    val longs = Seq(
      (1L, Seq(1L, 3L, 7L, 9L)),
      (2L, Seq(5L)),
      (3L, Seq.empty[Long]),
      (4L, Seq(2L, 4L))).toDF("k", "ids")
    val kern = longs.select(col("k"),
      explode(PairColumns.ordered_pairs(col("ids"), "a", "b")).as("p"))
      .select(col("k"), col("p.a"), col("p.b"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val decl = longs.select(col("k"),
      graft.ext.DedupOps.orderedPairsDeclarative(col("ids"), "a", "b")
        .as("p"))
      .select(col("k"), col("p.a"), col("p.b"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(kern === decl)
    assert(kern.count(_._1 == 1L) === 6) // C(4,2)
    val strs = Seq((1L, Seq("aa", "bb", "cc"))).toDF("k", "ids")
    val ks = strs.select(
      explode(PairColumns.ordered_pairs(col("ids"), "a", "b")).as("p"))
      .select(col("p.a"), col("p.b"))
      .as[(String, String)].collect().sorted.toSeq
    assert(ks === Seq("aa" -> "bb", "aa" -> "cc", "bb" -> "cc"))
  }

  test("similarity guards: PQ dims fail-fast, IVF literal-path " +
      "mismatch raise, quantizeInt8 NULL-row poison, integral " +
      "centroid ids, hyperplane bounds") {
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb ++= Option(c.getMessage).getOrElse("")
        sb += '\n'; c = c.getCause }
      sb.toString
    }
    val ok = Seq((1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(2.0f)),
      (3L, Array.fill(8)(0.5f))).toDF("id", "vec")
    val bad = ok.unionByName(
      Seq((9L, Array.fill(4)(1.0f))).toDF("id", "vec"))
    // PQ: a width-mismatched vector raises with the expected width,
    // instead of truncated subvectors scoring a deflated-but-valid
    // rank through adcSum's coalesce(0)
    val ePq = intercept[Throwable] {
      Similarity.pqTopK(ok.limit(1), bad, k = 2, m = 2, dims = 8,
        codebookK = 2).collect()
    }
    assert(rootMsg(ePq).contains("expected a 8-dim vector"))
    // IVF literal path: the corpus-side mismatch raises (previously
    // every-cos-null structs resolved the argmax on the tie-break and
    // silently assigned the vector to the smallest-cid list)
    val eIvf = intercept[Throwable] {
      Similarity.ivfTopK(ok.limit(1), bad,
        Similarity.seedCentroids(ok, 2), k = 2, nprobe = 1).collect()
    }
    assert(rootMsg(eIvf).contains("expected a 8-dim vector"))
    // quantizeInt8: a NULL element poisons the ROW's outputs to NULL
    // (greatest/least skip nulls, so unguarded it coded null as 0)
    val withNullElem = Seq(
      (1L, Seq[java.lang.Float](1.0f, null, 2.0f)),
      (2L, Seq[java.lang.Float](1.0f, 2.0f, 3.0f)))
      .toDF("id", "vec")
    val qz = Similarity.quantizeInt8(withNullElem, $"id", $"vec",
        dims = 3)
      .orderBy("id").collect()
    assert(qz(0).isNullAt(1) && qz(0).isNullAt(2) && qz(0).isNullAt(3),
      "null-element row must poison codes/min/max to NULL")
    assert(!qz(1).isNullAt(1) && qz(1).getString(1).nonEmpty)
    // fractional centroid ids are rejected loudly — the literal fold
    // addresses lists by exact long id, so 1.2 and 1.7 would collide
    val eIds = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(ok, ok,
        Seq((1.2, Array.fill(8)(1.0f))).toDF("id", "vec"),
        k = 1, nprobe = 1)
    }
    assert(eIds.getMessage.contains("integral"))
    // hyperplane count is bounded to one long's worth of bucket bits
    intercept[IllegalArgumentException] { Similarity.hyperplanes(0, 4) }
    intercept[IllegalArgumentException] { Similarity.hyperplanes(64, 4) }
  }

  test("editDistancePairs: the maxBlock governor drops oversized " +
      "blocks whole and leaves bounded blocks exact") {
    // blocking keys have fixed cardinality, so block size grows with
    // the corpus — the cap is what keeps the O(block²) verify bounded
    // (the 100x smoke measured the uncapped blow-up at 466M pairs)
    val rows =
      (1 to 5).map(i => ("bA", "t1", i.toLong, s"name $i")) ++
        (1 to 7).map(i => ("bB", "t1", 100L + i, s"other $i"))
    val df = rows.toDF("brand", "typ", "id", "name")
    val capped = DedupOps.editDistancePairs(df, Seq("brand", "typ"),
      col("id"), col("name"), maxDist = 2, maxBlock = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // block bB (7 members > cap 6) emits NOTHING; block bA (5 ≤ 6)
    // is complete — identical to running the operator on bA alone
    val bounded = DedupOps.editDistancePairs(
      df.filter(col("brand") === "bA"), Seq("brand", "typ"),
      col("id"), col("name"), maxDist = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === bounded)
    assert(capped.size === 10) // C(5,2), every "name i" pair within 2
    assert(capped.forall { case (a, b) => a < 100 && b < 100 })
    // the audit twin names exactly what the governor excluded — the
    // no-silent-caps contract: same keys + same cap reproduce the
    // predicate, with member and suppressed-pair counts
    val audit = DedupOps.editDistanceOversizedBlocks(
      df, Seq("brand", "typ"), maxBlock = 6)
      .as[(String, String, Long, Long)].collect()
    assert(audit.toSeq === Seq(("bB", "t1", 7L, 21L))) // C(7,2) = 21
    // nothing over the cap -> empty audit, complete pairs
    assert(DedupOps.editDistanceOversizedBlocks(
      df, Seq("brand", "typ"), maxBlock = 7).isEmpty)
    // a NULL-key "block" is the JOIN's exclusion, not the governor's
    // (NULL keys never equi-join at any block size) — the audit must
    // not blame the cap for it
    val withNull = df.union(Seq.tabulate(9)(i =>
      (null.asInstanceOf[String], "t1", 200L + i, s"x $i"))
      .toDF("brand", "typ", "id", "name"))
    assert(DedupOps.editDistanceOversizedBlocks(
      withNull, Seq("brand", "typ"), maxBlock = 6)
      .as[(String, String, Long, Long)].collect().toSeq ===
      Seq(("bB", "t1", 7L, 21L)))
  }

  test("CountMin sketch properties on random data, and loud bounds " +
      "on degenerate depth/width") {
    import graft.ext.CountMin
    // never under-counts, over-counts bounded by the sketch size;
    // the table + estimate pair replays exactly under partitionings
    val rnd = new scala.util.Random(77)
    val items = Seq.fill(500)((rnd.nextGaussian().abs * 30).toLong)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    for (parts <- Seq(1, 6)) {
      val df = items.toDF("item").repartition(parts)
      val sk = CountMin.table(df, col("item"), depth = 3, width = 64)
      val probes = exact.keys.toSeq.toDF("item")
      val est = CountMin.estimate(sk, probes, col("item"),
          depth = 3, width = 64)
        .as[(Long, Long)].collect().toMap
      exact.foreach { case (item, n) =>
        assert(est(item) >= n, s"under-count on $item (parts=$parts)")
        assert(est(item) <= items.size,
          s"estimate exceeds the stream length on $item")
      }
      // an item the stream never carried estimates its collision
      // mass, never vanishes
      val missing = CountMin.estimate(sk, Seq(999999L).toDF("item"),
          col("item"), depth = 3, width = 64)
        .as[(Long, Long)].collect()
      assert(missing.length === 1 && missing.head._2 >= 0L)
    }
    // width 0 would make `% width` NULL buckets (silently zeroed
    // estimates); depth 0 would explode an empty seed array (probe
    // rows vanish) — both must fail at construction
    for ((d, w) <- Seq((0, 64), (3, 0), (65, 64))) {
      val e = intercept[IllegalArgumentException] {
        CountMin.table(items.toDF("item"), col("item"), d, w)
      }
      assert(e.getMessage.contains("count-min"), s"($d,$w): $e")
    }
  }

  test("BloomWordProbe kernel matches the declarative bucket " +
      "arithmetic and never false-negatives on members") {
    import graft.ext.{CountMin, PortableHash}
    import org.apache.spark.sql.graft.HashColumns
    // the no-false-negative contract is hash-family PARITY between
    // the dataflow build (bloomBits: CountMin.bucket over exploded
    // seeds) and the one-node probe kernel — pin them bit-for-bit
    val mBits = 1 << 10
    val k = 3
    val rnd = new scala.util.Random(7)
    val vals = (0 until 300).map(i => s"v$i-${rnd.nextLong()}")
    val members = vals.take(150).toDF("fp")
    val words = DedupOps.bloomFoldWords(members, col("fp"), mBits, k)
      .words
    val consts = CountMin.rowConsts(k).flatMap { case (a, b) =>
      Seq(a, a * a % CountMin.P, a * a % CountMin.P * a % CountMin.P, b)
    }.toArray
    val probe = HashColumns.bloom_word_probe(col("fp"), words, consts,
      k, mBits)
    // declarative replica of the probe over the same literal words
    val litWords = typedLit(words)
    val it = PortableHash.md5PrefixLong(col("fp"), 15)
    val declarative = (0 until k).map { j =>
      val pj = CountMin.bucket(lit(j), it, k, mBits)
      call_function("shiftright",
        element_at(litWords, shiftright(pj, 6).cast("int") + 1),
        pmod(pj, lit(64)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    val rows = vals.toDF("fp")
      .select(col("fp"), probe.as("kern"), declarative.as("decl"))
      .collect()
    rows.foreach { r =>
      assert(r.getBoolean(1) === r.getBoolean(2),
        s"kernel/declarative diverge on ${r.getString(0)}")
    }
    // every member must probe TRUE (false negatives are impossible)
    val memberHits = vals.take(150).toDF("fp").select(probe).collect()
    assert(memberHits.forall(_.getBoolean(0)), "false negative found")
  }

  test("decontaminate flags a doc copying a benchmark span, keeps " +
    "fresh docs, and never misses at the guarantee length") {
    val rnd = new scala.util.Random(43)
    def randDoc(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val benchSpan = randDoc(40) // >= window + k - 1 = 23 -> guaranteed
    val bench = Seq(100L -> (randDoc(60) + benchSpan + randDoc(60)))
      .toDF("doc_id", "text")
    val corpus = Seq(
      1L -> (randDoc(90) + benchSpan + randDoc(30)), // contaminated
      2L -> randDoc(200),                            // fresh
      3L -> randDoc(200)).toDF("doc_id", "text")
    val got = DedupOps.decontaminate(corpus, bench, $"doc_id", $"text",
      k = 16, window = 8, minShared = 1)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("substringDupPairs finds every planted span >= window + k - 1") {
    // winnowing guarantee (Schleimer et al. '03): a shared span of at
    // least window + k - 1 chars contains a full gram window, whose
    // min-hash fingerprint both docs then keep. k=16, window=8 -> any
    // planted span of 23+ chars MUST be detected, even at the exact
    // boundary length.
    val rnd = new scala.util.Random(41)
    def randDoc(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val span40 = randDoc(40)
    val span23 = randDoc(23) // exact guarantee boundary
    val docs = Seq(
      0L -> (randDoc(80) + span40 + randDoc(80)),
      1L -> (randDoc(150) + span40 + randDoc(10)),
      2L -> (span23 + randDoc(200)),
      3L -> (randDoc(120) + span23 + randDoc(60))) ++
      (4L to 11L).map(i => i -> randDoc(220))
    val df = docs.toDF("doc_id", "text")
    val pairs = DedupOps.substringDupPairs(df, $"doc_id", $"text",
      k = 16, window = 8, minShared = 1, maxDf = 64)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "40-char planted span missed")
    assert(pairs.contains((2L, 3L)), "23-char boundary span missed")
    // 16-char-gram collisions between independent random 220-char
    // lowercase docs are (26^-16-scale) impossible: no other pairs
    assert(pairs === Set((0L, 1L), (2L, 3L)))
  }

  test("capDocLength bounds per-row work: a 10 MB doc flows through " +
    "the curation stages capped at maxChars") {
    val giant = new String(Array.fill(10 * 1024 * 1024)('a'))
    val df = Seq(
      (1L, "en", "the quick brown fox and the lazy dog of the fens is here"),
      (2L, "en", giant)).toDF("doc_id", "lang", "text")
    val capped = TextAnalysis.capDocLength(df, "text", 20000)
    // the guard is the straggler bound: NO row past the cap, so every
    // downstream per-doc stage (tokenize/regex/shingle/winnow) does at
    // most O(maxChars) work per row in its task
    val byId = capped.select(col("doc_id"), length(col("text")),
      col("doc_truncated")).as[(Long, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(1L)._1 < 20000 && !byId(1L)._2)
    assert(byId(2L) === ((20000, true)))
    // the capped frame runs the full curation stage chain (the shape
    // curate_corpus uses) without a giant-doc task: work per row is
    // bounded by the cap, and results stay deterministic
    val curated = capped
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("__pred", TextAnalysis.langId(col("text")))
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("redacted_md5", md5(TextAnalysis.redactPii(col("text"))))
    assert(curated.count() === 2)
    // and the chunked winnowing pass sees only capped text: fps of the
    // truncated giant = fps of an explicitly truncated twin
    val fpsCapped = DedupOps.winnowingFingerprints(
      capped.filter(col("doc_id") === 2L), col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toSet
    val fpsTwin = DedupOps.winnowingFingerprints(
      Seq((2L, giant.substring(0, 20000))).toDF("doc_id", "text"),
      col("doc_id"), col("text")).as[(Long, Long)].collect().toSet
    assert(fpsCapped === fpsTwin && fpsCapped.nonEmpty)
  }

  test("winnowing kernel matches the positional polynomial reference") {
    // brute force the oracle's definition — per position, the direct
    // sum Σ cp(pos+j)·B^(k−1−j) mod P for both primes, then the
    // truncated-window min — and compare sets against the chunked
    // rolling-hash kernel
    import org.apache.spark.sql.graft.WinnowKernel._
    def refFps(s: String, k: Int, w: Int): Set[Long] = {
      val cps = s.codePoints().toArray
      val g = cps.length - k + 1
      if (g <= 0) return Set.empty
      val pw1 = powers(B1, P1, k); val pw2 = powers(B2, P2, k)
      val h = (0 until g).map { p =>
        val s1 = (0 until k).map(j => cps(p + j) * pw1(j)).sum % P1
        val s2 = (0 until k).map(j => cps(p + j) * pw2(j)).sum % P2
        s1 * P2 + s2
      }
      (0 until g).map(p => h.slice(p, math.min(p + w, g)).min).toSet
    }
    val rnd = new scala.util.Random(7)
    def randDoc(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // lengths spanning the edge cases: < k (empty), exactly k (one
    // gram), k + w - 1 (one full window), and multi-chunk sizes for
    // chunkChars = 64
    val docs = Seq(10, 15, 16, 23, 40, 63, 64, 65, 100, 200, 555)
      .zipWithIndex.map { case (n, i) => (i.toLong, randDoc(n)) }
    val df = docs.toDF("doc_id", "text")
    val got = DedupOps.winnowingFingerprints(df, $"doc_id", $"text",
      k = 16, window = 8, chunkChars = 64)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (d, fs) => d -> fs.map(_._2).toSet }
    val want = docs.map { case (d, t) => d -> refFps(t, 16, 8) }
      .filter(_._2.nonEmpty).toMap
    assert(got === want)
  }

  test("chunked winnowing equals unchunked at every chunk size") {
    val rnd = new scala.util.Random(11)
    def randDoc(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val df = (0L to 5L).map(i => (i, randDoc(300 + 97 * i.toInt)))
      .toDF("doc_id", "text")
    def fps(chunk: Int) = DedupOps.winnowingFingerprints(
      df, $"doc_id", $"text", k = 16, window = 8, chunkChars = chunk)
      .as[(Long, Long)].collect().toSet
    val whole = fps(1 << 20) // one chunk per doc: the unchunked baseline
    assert(fps(23) === whole)  // minimum sensible chunk (= w + k - 1)
    assert(fps(64) === whole)
    assert(fps(301) === whole) // boundary straddles mid-document
  }

  test("substringDupPairs finds a planted span straddling a chunk border") {
    // the guarantee must survive chunking: a 23-char shared span that
    // crosses the chunk boundary (chunkChars = 100 → border at char
    // 100) still yields a shared fingerprint, because each chunk reads
    // window + k − 2 lookahead chars past its own window starts
    val rnd = new scala.util.Random(17)
    def randDoc(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val span = randDoc(23)
    val docs = Seq(
      0L -> (randDoc(90) + span + randDoc(90)),  // span covers chars 91..113
      1L -> (randDoc(150) + span),
      2L -> randDoc(200))
    val pairs = DedupOps.substringDupPairs(docs.toDF("doc_id", "text"),
      $"doc_id", $"text", k = 16, window = 8, minShared = 1, maxDf = 64,
      chunkChars = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("rangeJoin fails LOUD on a sentinel-length interval (the " +
      "bucket sequence would exceed the per-row cap) and " +
      "asofJoinTolerance refuses negative/overflowing tolerances") {
    val points = Seq((1L, ts("2024-01-01 00:00:00")))
      .toDF("k", "ts")
    val sentinel = Seq((1L, ts("2024-01-01 00:00:00"),
      ts("9999-12-31 00:00:00"))).toDF("k", "s", "e")
    val ex = intercept[Exception] {
      EventWindows.rangeJoin(points, sentinel, "k", "ts", "s", "e",
        bucketSeconds = 60).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t => t.getMessage != null &&
      t.getMessage.contains("rangeJoin")), s"got: $ex")
    intercept[IllegalArgumentException] {
      EventWindows.asofJoinTolerance(points, points, "k", "ts",
        Nil, toleranceSeconds = -1L)
    }
    intercept[IllegalArgumentException] {
      EventWindows.asofJoinTolerance(points, points, "k", "ts",
        Nil, toleranceSeconds = Long.MaxValue / 1000L)
    }
  }

  test("rangeJoin matches the range predicate across bucket boundaries") {
    val points = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),  // == start -> in
      (1L, ts("2024-01-01 11:59:59"), 2L),  // inside, other bucket
      (1L, ts("2024-01-01 12:00:00"), 3L),  // == end -> out
      (2L, ts("2024-01-01 10:30:00"), 4L))  // other key -> out
      .toDF("k", "ts", "pid")
    val intervals = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")))
      .toDF("k", "s", "e")
    val got = EventWindows.rangeJoin(points, intervals, "k", "ts", "s", "e",
      bucketSeconds = 3600).select($"pid").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("asofJoinNative matches asofJoin on the literal fixture") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), 101L),
      (2L, ts("2024-01-01 09:00:00"), 102L))
      .toDF("user_id", "ts", "click_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 5.0),
      (1L, ts("2024-01-01 12:00:00"), 7.0),
      (2L, ts("2024-01-01 09:30:00"), 9.0))
      .toDF("user_id", "ts", "value")
    val got = EventWindows.asofJoinNative(left, right, "user_id", "ts",
      Seq("value"))
      .select($"click_id", $"asof_value").as[(Long, Option[Double])]
      .collect().toMap
    assert(got(100L) === Some(5.0))
    assert(got(101L) === Some(7.0))
    assert(got(102L) === None)
  }

  test("asofJoinNative equals the window form on random data, any partitioning") {
    val rnd = new scala.util.Random(7)
    val left = (1 to 400).map(_ =>
      (rnd.nextInt(20).toLong, ts("2024-01-01 00:00:00").getTime +
        rnd.nextInt(100000) * 1000L, rnd.nextLong()))
      .map { case (k, t, id) => (k, new Timestamp(t), id) }
      .toDF("user_id", "ts", "click_id")
    val right = (1 to 300).map(_ =>
      (rnd.nextInt(20).toLong, ts("2024-01-01 00:00:00").getTime +
        rnd.nextInt(100000) * 1000L, rnd.nextDouble()))
      .map { case (k, t, v) => (k, new Timestamp(t), v) }
      .toDF("user_id", "ts", "value")
      .groupBy("user_id", "ts").agg(max($"value").as("value")) // 1 per (k,ts)
    for (parts <- Seq(1, 3, 13)) {
      val l = left.repartition(parts)
      val r = right.repartition(parts)
      val win = EventWindows.asofJoin(l, r, "user_id", "ts", Seq("value"))
        .select($"user_id", $"ts", $"click_id", $"asof_ts", $"asof_value")
        .collect().map(_.toSeq).toSet
      val nat = EventWindows.asofJoinNative(l, r, "user_id", "ts", Seq("value"))
        .select($"user_id", $"ts", $"click_id", $"asof_ts", $"asof_value")
        .collect().map(_.toSeq).toSet
      assert(nat === win)
    }
  }

  test("VecDot: null on length mismatch; double arrays accepted") {
    val df = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
    assert(df.select(
      org.apache.spark.sql.graft.VectorColumns.vec_dot($"a", $"b"))
      .collect().head.isNullAt(0))
    val dd = Seq((Seq(1.5, 2.0), Seq(2.0, 3.0))).toDF("a", "b")
    val got = dd.select(
      org.apache.spark.sql.graft.VectorColumns.vec_dot($"a", $"b"),
      org.apache.spark.sql.graft.VectorColumns.vec_norm($"a"))
      .as[(Double, Double)].collect().head
    assert(got._1 === 1.5 * 2.0 + 2.0 * 3.0)
    assert(got._2 === math.sqrt(1.5 * 1.5 + 2.0 * 2.0))
  }

  test("asofJoinNative: string keys survive right-side advance, nulls never match") {
    val left = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1L),
      ("a", ts("2024-01-01 13:00:00"), 2L),  // carried over b-rows boundary
      ("b", ts("2024-01-01 13:00:00"), 3L),
      (null.asInstanceOf[String], ts("2024-01-01 13:00:00"), 4L))
      .toDF("k", "ts", "click_id")
    val right = Seq(
      ("a", ts("2024-01-01 09:00:00"), 1.0),
      ("b", ts("2024-01-01 09:30:00"), 2.0),
      (null.asInstanceOf[String], ts("2024-01-01 09:00:00"), 9.9))
      .toDF("k", "ts", "value")
    val got = EventWindows.asofJoinNative(left.coalesce(1),
      right.coalesce(1), "k", "ts", Seq("value"))
      .select($"click_id", $"asof_value").as[(Long, Option[Double])]
      .collect().toMap
    assert(got(1L) === Some(1.0))
    assert(got(2L) === Some(1.0)) // string key carried correctly
    assert(got(3L) === Some(2.0))
    assert(got(4L) === None)      // null key never matches
  }

  // -- PII redaction ---------------------------------------------------

  test("redactPii scrubs every pattern and piiCount counts them") {
    val df = Seq(
      "mail a@b.co and c.d+x@e-f.org then call +1-555-0199",
      "https://site.org/p/q and http://x.y/z",
      "no pii here").toDF("t")
    val got = df.select(
      TextAnalysis.redactPii($"t").as("r"),
      TextAnalysis.piiCount($"t", TextAnalysis.EmailRe).as("e"),
      TextAnalysis.piiCount($"t", TextAnalysis.PhoneRe).as("p"),
      TextAnalysis.piiCount($"t", TextAnalysis.UrlRe).as("u"))
      .as[(String, Int, Int, Int)].collect()
    assert(got(0) === ("mail <EMAIL> and <EMAIL> then call <PHONE>", 2, 1, 0))
    assert(got(1) === ("<URL> and <URL>", 0, 0, 2))
    assert(got(2) === ("no pii here", 0, 0, 0))
  }

  // -- Hash sampling ---------------------------------------------------

  test("stratifiedHashSample is deterministic and respects rate order") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "zz"))
      .toDF("id", "lang")
    val pick = Sampling.stratifiedHashSample(df, $"id", $"lang",
      Map("en" -> 10), defaultRate = 50, salt = "s:")
      .as[(Long, String)].collect().toSet
    val again = Sampling.stratifiedHashSample(df, $"id", $"lang",
      Map("en" -> 10), defaultRate = 50, salt = "s:")
      .as[(Long, String)].collect().toSet
    assert(pick === again) // exact reproducibility
    val en = pick.count(_._2 == "en"); val zz = pick.count(_._2 == "zz")
    // ~10% of 1000 vs ~50% of 1000 — generous bounds, no flakiness
    assert(en > 40 && en < 250 && zz > 350 && zz < 650 && en < zz)
  }

  // -- Count-min sketch ------------------------------------------------

  test("countMin never under-counts and is exact without collisions") {
    val df = (Seq.fill(5)(7L) ++ Seq.fill(3)(11L) ++ Seq(13L)).toDF("x")
    val sk = CountMin.table(df, $"x", depth = 3, width = 1024)
    val items = Seq(7L, 11L, 13L).toDF("item")
    val est = CountMin.estimate(sk, items, $"item", depth = 3, width = 1024)
      .as[(Long, Long)].collect().toMap
    // 3 distinct items in 1024 buckets: no collisions, estimates exact
    assert(est === Map(7L -> 5L, 11L -> 3L, 13L -> 1L))
    // an item the stream never carried estimates 0, not absent
    val missing = CountMin.estimate(sk, Seq(999L).toDF("item"), $"item",
      depth = 3, width = 1024).as[(Long, Long)].collect().toMap
    assert(missing === Map(999L -> 0L))
    // merging two sketches = summing cells = sketch of the union
    val skUnion = CountMin.table(df.union(df), $"x", 3, 1024)
    val merged = sk.union(sk).groupBy("__seed", "__b")
      .agg(sum($"n").as("n"))
    assert(merged.as[(Int, Long, Long)].collect().toSet ===
      skUnion.as[(Int, Long, Long)].collect().toSet)
  }

  // -- Fixed-size sampling ---------------------------------------------

  test("fixedSizeStratifiedSample returns exactly n per stratum") {
    val df = (0L until 500L).map(i => (i, if (i % 5 == 0) "s" else "b"))
      .toDF("id", "g")
    val got = Sampling.fixedSizeStratifiedSample(df, $"id", $"g",
      n = 30, salt = "t:").as[(Long, String)].collect()
    assert(got.count(_._2 == "s") === 30 && got.count(_._2 == "b") === 30)
    // a stratum smaller than n yields all its rows
    val tiny = Sampling.fixedSizeStratifiedSample(
      df.filter($"id" < 10), $"id", $"g", n = 30, salt = "t:")
      .as[(Long, String)].collect()
    assert(tiny.length === 10)
  }

  test("fixedSizeStratifiedSample drops NULL-id rows instead of " +
      "letting their NULL hash ranks fill the sample slots") {
    val withNulls = ((0L until 100L).map(i => (Some(i), "g")) ++
      (0 until 40).map(_ => (Option.empty[Long], "g")))
      .toDF("id", "g")
    val got = Sampling.fixedSizeStratifiedSample(
        withNulls, $"id", $"g", n = 25, salt = "n:")
      .as[(Option[Long], String)].collect()
    assert(got.length === 25 && got.forall(_._1.isDefined))
    // identical winners to the NULL-free input: NULLs never competed
    val clean = Sampling.fixedSizeStratifiedSample(
        withNulls.filter($"id".isNotNull), $"id", $"g", n = 25,
        salt = "n:").as[(Option[Long], String)].collect()
    assert(got.toSet === clean.toSet)
  }

  test("rate-thinned sampling treats a NULL stratum as first-class: " +
      "counted in the total, matched back by the null-safe join, " +
      "thinned at its own rate") {
    val df = ((1 to 300).map(i => (i.toLong, Some("big"))) ++
      (1001 to 1060).map(i => (i.toLong, Option.empty[String])))
      .toDF("doc_id", "lang")
    // budget high enough that every stratum's rate clamps to 1.0:
    // the output must be the WHOLE input — a plain equi-join on the
    // stratum would silently drop the 60 NULL-stratum rows here
    val all = Sampling.temperatureSample(df, $"doc_id", $"lang",
      budget = 3.0, salt = "ns:")
    assert(all.count() === 360L)
    // at a thinning budget the NULL stratum keeps ~rate·n of its OWN
    // rows, with the rate computed over the true 360-row total
    val kept = Sampling.temperatureSample(df, $"doc_id", $"lang",
        budget = 0.3, salt = "ns:")
      .groupBy($"lang").count().as[(Option[String], Long)]
      .collect().toMap
    val expNull = 0.3 * math.sqrt(360.0 / 60) * 60
    assert(kept.contains(None), "NULL stratum missing from output")
    assert(math.abs(kept(None) - expNull) < expNull * 0.5,
      s"null-stratum kept=${kept(None)} expected≈$expNull")
  }

  // -- K-means ---------------------------------------------------------

  test("kmeans seed cut is FILTER-then-limit (the round-14 decision, " +
      "mirrored by the emb_kmeans oracle): a zero-norm vector among " +
      "the k smallest ids yields k REAL seeds from the next ids, " +
      "never a reduced seed set; non-integral ids refuse loudly") {
    // ids 0..5; id 1 is a zero-norm failure artifact. The filtered
    // corpus's first 3 ids are {0,2,3} — k real seeds. (The IVF
    // family's seedCentroids deliberately cuts limit-first; each
    // family matches its own oracle.)
    val pts = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(1f, 1f)), (4L, Seq(0.9f, 0.1f)), (5L, Seq(0.1f, 0.9f)))
      .toDF("id", "v")
    val cents = Clustering.kmeansCentroids(pts, $"id", $"v", k = 3,
      iters = 1).as[(Long, Seq[Double])].collect().map(_._1).toSet
    assert(cents === Set(0L, 2L, 3L),
      s"seed ids should be filter-then-limit {0,2,3}, got $cents")
    // the assignment entry point trains the same model
    val labels = Clustering.kmeansAssign(pts, $"id", $"v", k = 3,
      iters = 1).as[(Long, Long)].collect().toMap
    assert(labels.values.toSet.subsetOf(Set(0L, 2L, 3L)))
    // the zero-norm POINT drops from assignments (no angle)
    assert(!labels.contains(1L))
    // non-integral ids refuse loudly (the -cid tie-break contract)
    val e = intercept[IllegalArgumentException] {
      Clustering.kmeansAssign(
        pts.select(concat(lit("d"), $"id").as("id"), $"v"),
        $"id", $"v", k = 2)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("kmeans, count-min, and sampling are partitioning-invariant") {
    // the reproducibility claims are about ORDER-independence: results
    // must be identical under an adversarial repartition
    val pts = (0L until 60L).map(i =>
      (i, Seq((i % 7).toFloat + 1f, (i % 3).toFloat, 1f))).toDF("id", "v")
    val a = Clustering.kmeansAssign(pts, $"id", $"v", k = 3, iters = 2)
      .as[(Long, Long)].collect().toMap
    val b = Clustering.kmeansAssign(pts.repartition(7), $"id", $"v",
      k = 3, iters = 2).as[(Long, Long)].collect().toMap
    assert(a === b)
    val xs = (0L until 500L).map(x => x % 37).toDF("x")
    val sk1 = CountMin.table(xs, $"x", 3, 64).as[(Int, Long, Long)]
      .collect().toSet
    val sk2 = CountMin.table(xs.repartition(11), $"x", 3, 64)
      .as[(Int, Long, Long)].collect().toSet
    assert(sk1 === sk2)
    val df = (0L until 300L).map(i => (i, "g")).toDF("id", "g")
    val s1 = Sampling.fixedSizeStratifiedSample(df, $"id", $"g", 25, "p:")
      .as[(Long, String)].collect().toSet
    val s2 = Sampling.fixedSizeStratifiedSample(df.repartition(13),
      $"id", $"g", 25, "p:").as[(Long, String)].collect().toSet
    assert(s1 === s2)
  }

  test("kmeansAssign separates two obvious blobs deterministically") {
    // two tight groups on orthogonal axes; ids 0 and 1 seed k=2
    val pts = Seq(
      (0L, Seq(1.0f, 0.0f, 0.05f)), (2L, Seq(0.9f, 0.1f, 0.0f)),
      (4L, Seq(1.0f, 0.05f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.05f)), (3L, Seq(0.1f, 0.9f, 0.0f)),
      (5L, Seq(0.0f, 1.0f, 0.1f))).toDF("id", "v")
    val got = Clustering.kmeansAssign(pts, $"id", $"v", k = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(0L) === 0L && got(2L) === 0L && got(4L) === 0L)
    assert(got(1L) === 1L && got(3L) === 1L && got(5L) === 1L)
    val again = Clustering.kmeansAssign(pts, $"id", $"v", k = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(again === got)
  }

  test("rrfFuse sums reciprocal-rank ppm, keeps per-list ranks, " +
    "ranks by (ppm desc, doc_id)") {
    // lex: docs 1,2,3 at ranks 1,2,3; vec: docs 3,4 at ranks 1,2.
    // k0 = 60 → contributions 1000000 div 61/62/63 and 61/62.
    val lex = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rnk")
    val vec = Seq((3L, 1), (4L, 2)).toDF("doc_id", "rnk")
    val got = Similarity.rrfFuse(Seq("lex" -> lex, "vec" -> vec),
      k0 = 60, k = 3)
      .select($"doc_id", $"lex_rnk", $"vec_rnk", $"rrf_ppm", $"rnk")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)), r.getLong(3), r.getInt(4)))
      .toSeq
    val c = (r: Int) => 1000000L / (60 + r)
    // doc 3 is in both lists → top; docs 1,2 lex-only; doc 4 is cut
    // at k = 3 because c(2) < c(1) (its vec-only ppm trails doc 1's)
    assert(got === Seq(
      (3L, Some(3), Some(1), c(3) + c(1), 1),
      (1L, Some(1), None, c(1), 2),
      (2L, Some(2), None, c(2), 3)))
  }

  test("rrfFuse ppm tie breaks toward the smaller doc_id") {
    val a = Seq((9L, 1), (4L, 2)).toDF("doc_id", "rnk")
    val b = Seq((4L, 1), (9L, 2)).toDF("doc_id", "rnk")
    val got = Similarity.rrfFuse(Seq("a" -> a, "b" -> b), 60, 2)
      .select($"doc_id", $"rnk").as[(Long, Int)].collect().toSeq
    assert(got === Seq((4L, 1), (9L, 2)))
  }

  test("nfcNormalize composes decomposed sequences, passes NFC text " +
    "through, keeps nulls, and registers for SQL") {
    val df = Seq(
      (1L, "éclair"),          // decomposed e + U+0301
      (2L, "éclair"),           // already composed
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String]),
      (5L, "à et ô"))    // two decomposed pairs
      .toDF("id", "t")
    val got = df.select($"id",
      TextAnalysis.nfcNormalize($"t").as("n"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "éclair")
    assert(got(2L) === "éclair")
    assert(got(3L) === "plain ascii")
    assert(got(4L) === null)
    assert(got(5L) === "à et ô")
    // SQL surface via the imperative registry
    org.apache.spark.sql.graft.VectorColumns.register(spark)
    df.createOrReplaceTempView("nfc_in")
    val viaSql = spark.sql(
      "SELECT id, nfc_normalize(t) FROM nfc_in WHERE id = 1")
      .as[(Long, String)].collect().head
    assert(viaSql === ((1L, "éclair")))
  }

  test("rrfFuse raises on a null or non-positive rank instead of " +
    "silently mis-scoring the fusion") {
    val a = Seq((1L, Some(1)), (2L, None)).toDF("doc_id", "rnk")
    val b = Seq((1L, 1)).toDF("doc_id", "rnk")
    val e = intercept[Exception] {
      Similarity.rrfFuse(Seq("a" -> a, "b" -> b), 60, 2).collect()
    }
    assert(e.getMessage.contains("null/non-positive rank"))
    val z = Seq((1L, 0)).toDF("doc_id", "rnk")
    val e2 = intercept[Exception] {
      Similarity.rrfFuse(Seq("a" -> z, "b" -> b), 60, 2).collect()
    }
    assert(e2.getMessage.contains("null/non-positive rank"))
    // a doc listed TWICE in one list would double-count its
    // reciprocal contributions while the rank column reports one —
    // malformed the same way, same loud stance
    val dup = Seq((1L, 3), (1L, 7), (2L, 1)).toDF("doc_id", "rnk")
    val e3 = intercept[Exception] {
      Similarity.rrfFuse(Seq("a" -> dup, "b" -> b), 60, 3).collect()
    }
    assert(e3.getMessage.contains("more than once"), e3.getMessage)
  }

  test("kmeans survives a zero-norm vector among the seeds: the " +
      "degenerate centroid drops instead of NaN-capturing the corpus") {
    // id 0 is a failed embedding (all zeros) and lands in the k=2
    // seed set; without the drop every point's cosine against it is
    // NaN, which out-sorts every real cosine — one giant cluster
    val pts = Seq(
      (0L, Seq(0f, 0f, 0f)),
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(0.1f, 0.9f, 0f)))
      .toDF("id", "v")
    val got = Clustering.kmeansAssign(pts, $"id", $"v", k = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    // ids 1,2 and 3,4 must land in DIFFERENT clusters (the x-axis
    // and y-axis blobs) — a NaN collapse would put all in one
    assert(got(1L) === got(2L) && got(3L) === got(4L))
    assert(got(1L) !== got(3L), s"collapsed to one cluster: $got")
  }

  test("staged kmeans (kmeansCentroids + kmeansAssignWith) is " +
      "bit-identical to kmeansAssign with a zero-norm point present") {
    // the zero-norm row must change NEITHER the seed cut (first-k by
    // id over the FILTERED corpus) NOR the emitted label set in the
    // staged path — round-14 ADVICE: the two entry points previously
    // diverged on exactly this input
    val pts = Seq(
      (0L, Seq(0f, 0f, 0f)),
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(0.1f, 0.9f, 0f)))
      .toDF("id", "v")
    val direct = Clustering.kmeansAssign(pts, $"id", $"v", k = 2,
      iters = 2).as[(Long, Long)].collect().toMap
    val cent = Clustering.kmeansCentroids(pts, $"id", $"v", k = 2,
      iters = 2)
    val staged = Clustering.kmeansAssignWith(pts, $"id", $"v", cent)
      .as[(Long, Long)].collect().toMap
    assert(staged === direct)
    assert(!staged.contains(0L), "zero-norm point must emit no label")
  }

  test("kmeansAssignWith / silhouetteWith reject a non-integral " +
      "centroid id at construction (the negated tie-break would " +
      "cast it to NULL mid-job)") {
    // round-15 ADVICE: only the POINTS' id was validated — a string
    // cid in the caller-supplied centroid table still hit the exact
    // failure the guard documents (NULL ties under non-ANSI, a
    // mid-job throw under ANSI)
    val pts = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "v")
    val badCent = Seq(("a", Seq(1f, 0f)), ("b", Seq(0f, 1f)))
      .toDF("cid", "cv")
    val e1 = intercept[IllegalArgumentException] {
      Clustering.kmeansAssignWith(pts, $"id", $"v", badCent)
    }
    assert(e1.getMessage.contains("centroid"))
    val e2 = intercept[IllegalArgumentException] {
      Clustering.silhouetteWith(pts, $"id", $"v", badCent)
    }
    assert(e2.getMessage.contains("centroid"))
  }

  test("benfordProfile: int columns don't wrap, and absent digits " +
      "report dev_ppm = benford_ppm instead of vanishing") {
    import graft.ext.Profiling
    // IntegerType values ≥ 2148 would wrap int*1000000 and corrupt
    // the leading digit; all values here start with 5
    val ints = Seq(5000, 5200, 59999, 512345).toDF("v")
      .select($"v".cast("int").as("v"))
    val got = Profiling.benfordProfile(ints, $"v")
      .select($"digit", $"n_obs", $"dev_ppm")
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got.keySet === (1 to 9).toSet) // every digit reports
    assert(got(5)._1 === 4L)
    // digit 9 never observed: its deviation IS the full expectation
    assert(got(9) === ((0L, 45757L)))
    assert(got(7)._1 === 0L) // no wrap artifacts
  }
}
