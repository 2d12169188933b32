package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext._
import graft.ops.Dedup
import graft.sources.Tables
import graft.queries.ExtensionSupport._

/** Corpus-curation query surface: sampling, mixing, splits,
  * sketches, sequence packing and end-to-end curation chains, each
  * mirrored by a DuckDB oracle.
  *
  * Split from the one-file registry by family (round 9); entries and
  * oracle SQL are byte-identical to the pre-split registry.
  */
private[queries] object CurateQueries {

  /** The census the lossless round-trip queries (`src_jsonl_roundtrip`,
    * `src_orc_roundtrip`, `src_jsonl_zst_roundtrip`,
    * `src_avro_roundtrip`) take of the corpus they read back: per
    * (source, lang), the document count, char and length sums and an
    * md5-prefix content checksum. Their oracle, [[RoundtripCensusSql]],
    * takes the same census straight off the parquet.
    */
  private def roundtripCensus(read: DataFrame): DataFrame =
    read.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        sum(PortableHash.md5PrefixLong(col("text"), 14))
          .as("text_checksum"))

  private val RoundtripCensusSql =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
      |  CAST(sum(CAST('0x' || substr(md5(text), 1, 14) AS BIGINT))
      |    AS BIGINT) AS text_checksum
      |FROM documents GROUP BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic stratified downsampling: membership from a salted
    // id hash, so re-runs, repartitions, and external engines agree.
    // Source-mix resampling toward a target recipe: src0 is clamped
    // (under-represented vs its 0.2 share -> keep all), src2 and the
    // default thin toward their shares.
    "sample_domain_mix" -> { (s, dir) =>
      Sampling.domainMixSample(docs(s, dir), col("doc_id"), col("source"),
        targetShares = Seq("src0" -> 0.2, "src1" -> 0.1, "src2" -> 0.02),
        defaultShare = 0.01, salt = "graft-mix:")
        .select("doc_id", "source")
    },


    "sample_hash_stratified" -> { (s, dir) =>
      Sampling.stratifiedHashSample(docs(s, dir), col("doc_id"),
        col("lang"),
        rates = Map("en" -> 10, "de" -> 25, "fr" -> 40),
        defaultRate = 60, salt = "graft-sample:")
        .select("doc_id", "lang")
    },


    // Reproducible contrastive negatives: each anchor draws its k=3
    // hash-ring neighbors within its salted bucket — any engine (and
    // the oracle) re-derives the identical draw, unlike a random
    // sampler. One bucket-keyed exchange + a co-partitioned
    // position join.
    "sample_negatives" -> { (s, dir) =>
      Sampling.contrastiveNegatives(docs(s, dir), col("doc_id"),
        k = 3, buckets = 16, salt = "graft-neg:")
    },


    // Token-budget mixture plan: 50/30/15% of a 100k-token budget
    // across the three named sources as per-doc repeat counts —
    // whole epochs where the share exceeds the corpus, a salted-hash
    // lottery for the fractional remainder; reproducible on any
    // engine, unlike an RNG mix.
    "sample_token_budget" -> { (s, dir) =>
      Sampling.tokenBudgetMix(docs(s, dir), col("doc_id"),
        col("source"), TextAnalysis.tokenCount(col("text")),
        weightsPpm = Seq("src0" -> 500000L, "src1" -> 300000L,
          "src2" -> 150000L),
        budgetTokens = 100000L, salt = "graft-budget:")
    },


    // Temperature flattening (α = 1/2, budget c = 0.1) over the
    // skewed lang column: surviving counts ∝ sqrt(n_lang), the
    // mT5-style head-flattening mix, fully bit-portable (no
    // normalizing float sum).
    "sample_temperature" -> { (s, dir) =>
      Sampling.temperatureSample(docs(s, dir), col("doc_id"),
        col("lang"), budget = 0.1, salt = "graft-temp:")
        .select("doc_id", "lang")
    },


    // The flagship curation pipeline, composed end to end in ONE
    // declarative plan: giant-doc length cap → language-ID
    // confirmation → quality gate → exact dedup (first doc per
    // normalized fingerprint) → salted-hash downsample → PII-scrubbed
    // output. Narrow ops fuse into one codegen stage; the only shuffle
    // is the dedup window — at 100 TB each stage drops rows BEFORE the
    // next pays for them, and the scrub runs on the small survivor
    // set. The 20k-char cap bounds every per-doc stage's work per row
    // (the skew guard; no-op on this corpus, mirrored in the oracle).
    "curate_corpus" -> { (s, dir) =>
      val capped = TextAnalysis.capDocLength(docs(s, dir), "text", 20000)
      val scored = capped.select(col("doc_id"), col("lang"),
        col("text"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("__pred"),
        TextAnalysis.fingerprint(col("text")).as("__fp"))
      val kept = scored
        .filter(col("__pred") === col("lang") && col("quality") >= 0.45)
      DedupOps.keepFirstPerKey(kept, col("__fp"), col("doc_id"))
        .filter(Sampling.hashBucket(col("doc_id"), "graft-sample:") < 50)
        .select(col("doc_id"), col("lang"), col("quality"),
          md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"))
    },


    // the WEB curation flagship — the Common-Crawl WET pipeline end
    // to end through REAL machinery: the corpus wraps into HTML and
    // stages as per-record-gzip WARC once, reads back through the
    // distributed record parser, strips boilerplate via the
    // from-scratch tokenizer, gates on extracted length, and removes
    // exact duplicates (min-id survivor with the dup census). The
    // oracle rebuilds the expected extraction from raw text and
    // replays gate + dedup.
    "curate_web" -> { (s, dir) =>
      import graft.sources.WarcSource
      val esc = expr("replace(replace(replace(text, '&', '&amp;'), " +
        "'<', '&lt;'), '>', '&gt;')")
      // constant boilerplate around the payload — per-doc markup
      // would make every extraction unique and neuter the dedup leg
      val html = concat(
        lit("<html><head><title>t</title><style>p{color:red}</style>" +
          "</head><body><!-- <p>x</p> --><p>"),
        esc,
        lit("</p><script>s = \"</p>\";</script><p>tail x</p>" +
          "</body></html>"))
      // every run of three docs publishes the SAME source text (the
      // mirror/repost shape), so the dedup leg has real work: groups
      // of up to 3 collapse to their min-id survivor
      val d = docs(s, dir)
      val tripled = d.select(col("doc_id"),
          (col("doc_id") - pmod(col("doc_id"), lit(3))).as("__src"))
        .join(d.select(col("doc_id").as("__sid"), col("text")),
          col("__src") === col("__sid"))
        .select(col("doc_id"), col("text"))
      // SHARD the staged WARC (round 19, guide §6): stageResponses
      // writes one .warc.gz per input partition, and the single-row-
      // group corpus scan is ONE partition — an unsplittable gzip
      // that serializes the whole record-parse onto one task every
      // rep. A deterministic keyed repartition (20× more key values
      // than partitions, §2.5) stages N member-files instead, so the
      // binaryFile scan parallelizes the parse. Real WARC corpora
      // ship sharded for exactly this reason.
      val shards = math.max(2,
        s.sparkContext.defaultParallelism / 4)
      val path = WarcSource.stageResponses(
        tripled.select(
          concat(lit("urn:doc:"), col("doc_id")).as("uri"),
          lit("2024-01-02T03:04:05Z").as("date"), html.as("text"))
          .repartition(shards, pmod(col("uri").substr(lit(9), lit(30))
            .cast("long"), lit(shards * 20L))),
        "target/warc_web", s"${dir.split('/').last}_web3",
        Tables.fingerprint(s"$dir/documents.parquet"))
      val extracted = WarcSource.warcResponses(s, path)
        .select(substring(col("target_uri"), 9, 30).cast("long")
          .as("doc_id"),
          HtmlText.extract(col("text")).as("__x"))
        .filter(length(col("__x")) >= 40) // boilerplate-only drops
      extracted
        .groupBy(md5(col("__x")).as("__fp"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_dups"),
          min(length(col("__x"))).cast("long").as("n_chars"))
        .select(col("doc_id"), col("n_dups"), col("n_chars"))
    },

    // Quality-weighted deterministic sampling: a doc's retention
    // probability IS its quality score (hash bucket < quality·100) —
    // the curation policy "keep good text more often", reproducible
    // because the coin flip is a salted id hash, not an RNG.
    "sample_weighted_quality" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(Sampling.hashBucket(col("doc_id"), "graft-wq:") <
          floor(col("quality") * 100).cast("long"))
        .select("doc_id", "lang", "quality")
    },


    // Fixed-size deterministic sample: exactly 20 docs per language,
    // chosen by smallest salted hash rank — reproducible everywhere.
    "sample_fixed_stratified" -> { (s, dir) =>
      Sampling.fixedSizeStratifiedSample(docs(s, dir), col("doc_id"),
        col("lang"), n = 20, salt = "graft-fix:")
        .select("doc_id", "lang")
    },


    // Count-min sketch as dataflow: cell table from one aggregation,
    // top-10 heavy hitters probed against it. cms_n ≥ exact_n always
    // (the sketch never under-counts); collisions make some rows over.
    "sketch_countmin" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val sk = CountMin.table(li, col("l_partkey"), depth = 3, width = 1024)
      val exact = li.groupBy(col("l_partkey").as("item"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("item")).limit(10)
      CountMin.estimate(sk, exact, col("item"), depth = 3, width = 1024)
        .withColumn("never_under", col("cms_n") >= col("exact_n"))
    },


    // Chunks → training sequences: shard-parallel concat-and-cut
    // packing into 256-token sequences (8 shards, salted doc-id hash).
    "pack_sequences" -> { (s, dir) =>
      val chunks = TextAnalysis.chunkTokens(docs(s, dir), col("doc_id"),
        col("text"), window = 32, overlap = 8)
      TextAnalysis.packSequences(chunks, col("doc_id"), col("chunk_idx"),
        col("n_tokens"), capacity = 256, shards = 8, salt = "graft-pack:")
    },


    // Leakage-guarded train/val/test split: the SOURCE hash (not the
    // doc id) picks the split, so same-domain near-dups never straddle
    // train and eval. 10% val, 10% test per-mille thresholds.
    "split_assign" -> { (s, dir) =>
      Sampling.splitAssign(docs(s, dir), col("source"), "graft-split:",
        valPerMille = 100, testPerMille = 100)
        .select("doc_id", "source", "split")
    },


    // Temporal split with an embargo gap — the leakage-correct split
    // for time-ordered data: test strictly AFTER train with a 2-day
    // buffer discarded between them (features over windows straddling
    // the cut bleed the future into training otherwise)
    "split_temporal" -> { (s, dir) =>
      Sampling.splitTemporal(t(s, dir, "events"),
          col("ts"), lit("2024-01-20").cast("timestamp"),
          expr("INTERVAL 2 DAYS"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("id_checksum"))
    },

    // The DSIR use-case end-to-end: keep the top-third most
    // target-domain-like docs per language — BIGRAM-feature
    // importance weights (the paper's hashed-bigram models; unigram
    // weights quantize to a 95%-tie mode on this corpus, which would
    // make the cut trivially keep everything) fed through the
    // bounded-histogram tercile cut on the NEGATED score (head =
    // lowest, so negation selects the highest weights). The cut
    // never splits a tie group, so the guarantee is "at least a
    // third", generous in the keep direction.
    "curate_domain" -> { (s, dir) =>
      // the score table is the memoized dsir_domain_scores stage: the
      // exact tercile cut consumes it twice (histogram + probe), and
      // a stage read per consumption replaces a bigram-DSIR replay
      val wts = dsirDomainScores(s, dir)
        .withColumn("__negw", -col("mean_millibits"))
      TextAnalysis.scoreTerciles(wts, "lang", "__negw")
        .filter(col("bucket") === "head")
        .select(col("doc_id"), col("lang"), col("mean_millibits"))
    },


    // End-to-end pretraining prep in ONE declarative plan — the
    // flagship composition of the curation surface: giant-doc cap →
    // language gate → Gopher repetition filter → leakage-guarded
    // train split → context-length chunking → sequence packing.
    // Catalyst fuses the doc-level stages into one pass; the only
    // exchanges are the repetition aggregation and the pack window.
    "curate_pretrain" -> { (s, dir) =>
      val capped = TextAnalysis.capDocLength(docs(s, dir), "text", 2000)
      // the repetition gate is ONE map-side boolean scalar (both
      // k-gram censuses fold per row inside codegen) — no metrics
      // table, no join back to the doc spine; keep ∩ en is just two
      // fused filters, so the whole prefix up to chunking is one
      // narrow stage
      val en = capped
        .filter(TextAnalysis.repetitionKeep(col("text")) &&
          TextAnalysis.langId(col("text")) === "en")
      val train = Sampling.splitAssign(en,
          col("source"), "graft-split:",
          valPerMille = 100, testPerMille = 100)
        .filter(col("split") === "train")
      val chunks = TextAnalysis.chunkTokens(train, col("doc_id"),
        col("text"), window = 32, overlap = 8)
      TextAnalysis.packSequences(chunks, col("doc_id"), col("chunk_idx"),
        col("n_tokens"), capacity = 256, shards = 8, salt = "graft-pack:")
    },


    // Misra–Gries frequent-items sketch over the token-initial stream
    // (19 distinct, genuinely skewed): capacity 12 < distinct forces
    // evictions; the oracle checks the exact heavy-hitter set plus the
    // theorem-guaranteed booleans (present, error ≤ n/(k+1)).
    "sketch_freqitems" -> { (s, dir) =>
      val items = docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("__t"))
        .filter(col("__t") =!= "")
        .select(substring(col("__t"), 1, 1).as("item"))
      FreqItems.heavyHittersVerified(items, col("item"), k = 12)
    },


    // Per-source corpus datasheet: doc/token volume, vocabulary,
    // integer type-token ratio, exact-dup count — the data-card
    // report a curated corpus ships with.
    "corpus_report" -> { (s, dir) =>
      TextAnalysis.corpusReport(docs(s, dir), col("source"),
        col("doc_id"), col("text"))
    },


    // JSONL ingestion round-trip: stage the documents corpus as
    // JSON-Lines once (fingerprint-keyed), read it back through the
    // explicit-schema FAILFAST reader (graft.sources.JsonlSource —
    // never an inference pass), and prove content survives with a
    // per-(source, lang) census carrying an md5-prefix content
    // checksum. Oracle = the same census straight off the parquet.
    "src_jsonl_roundtrip" -> { (s, dir) =>
      val d = docs(s, dir)
      val path = graft.sources.JsonlSource.stage(d, "target/jsonl",
        s"${dir.split('/').last}_documents",
        Tables.fingerprint(s"$dir/documents.parquet"))
      roundtripCensus(graft.sources.JsonlSource.read(s, path, d.schema))
    },

    // ORC round-trip: the columnar sibling of the JSONL one — write
    // the corpus as ORC once (fingerprint-keyed), read it back
    // through the schema-drift-guarded reader, same census vs the
    // parquet ground truth
    "src_orc_roundtrip" -> { (s, dir) =>
      val d = docs(s, dir)
      val path = graft.sources.OrcSource.stage(d, "target/orc",
        s"${dir.split('/').last}_documents",
        Tables.fingerprint(s"$dir/documents.parquet"))
      roundtripCensus(graft.sources.OrcSource.read(s, path, d.schema))
    },


    // Compressed-shard JSONL round-trip: the corpus DISTRIBUTION
    // format (Dolma/RedPajama-v2 ship .json.zst, The Pile .jsonl.zst)
    // — stage zstd shards once, read back through the magic-dispatch
    // decompress + declared-schema FAILFAST parse, same census
    "src_jsonl_zst_roundtrip" -> { (s, dir) =>
      val d = docs(s, dir)
      val path = graft.sources.JsonlSource.stageZst(d, "target/jsonl_zst",
        s"${dir.split('/').last}_documents",
        Tables.fingerprint(s"$dir/documents.parquet"))
      roundtripCensus(
        graft.sources.JsonlSource.readCompressed(s, path, d.schema))
    },

    // Avro round-trip: the ROW-oriented interchange sibling (Kafka /
    // schema-registry pipelines) — write the corpus as from-scratch
    // Avro object container files once (fingerprint-keyed), read it
    // back through the per-file drift-guarded decoder, same census
    // vs the parquet ground truth
    "src_avro_roundtrip" -> { (s, dir) =>
      val d = docs(s, dir)
      val path = graft.sources.AvroSource.stage(d, "target/avro",
        s"${dir.split('/').last}_documents",
        Tables.fingerprint(s"$dir/documents.parquet"))
      roundtripCensus(graft.sources.AvroSource.read(s, path, d.schema))
    },

    // WARC ingestion round-trip: stage the corpus as per-record-gzip
    // WARC response archives once (fingerprint-keyed, distributed
    // part-per-task write), read it back through the distributed
    // record parser + HTTP-head strip, and prove content survives
    // with an id/byte/checksum census. The oracle censuses the
    // parquet directly — a mangled header, a broken gzip member, or
    // a lost record breaks a sum.
    "src_warc_roundtrip" -> { (s, dir) =>
      import graft.sources.WarcSource
      val d = docs(s, dir)
      val path = WarcSource.stageResponses(
        d.select(concat(lit("urn:doc:"), col("doc_id")).as("uri"),
          lit("2024-01-02T03:04:05Z").as("date"), col("text")),
        "target/warc", s"${dir.split('/').last}_documents",
        Tables.fingerprint(s"$dir/documents.parquet"))
      WarcSource.warcResponses(s, path)
        .select(substring(col("target_uri"), 9, 30).cast("long")
          .as("doc_id"), col("text"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(octet_length(col("text")).cast("long")).as("sum_bytes"),
          bit_xor(PortableHash.md5PrefixLong(col("text"), 14))
            .as("text_checksum"))
    },


    // Value-distribution histogram: fixed-width buckets over the
    // events value column (floor math, exact in both engines).
    "agg_histogram" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,2)")).cast("double")
            .as("sum_value"))
    },
  )

  val oracleSql: Map[String, String] = Map(

    // parquet-side census (never sees the WARC); DuckDB strlen =
    // UTF-8 bytes = Spark octet_length; the checksum folds with XOR
    // (order-free, overflow-free where a 56-bit sum would wrap)
    "src_warc_roundtrip" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
        |  bit_xor(CAST('0x' || substr(md5(text), 1, 14) AS BIGINT))
        |    AS text_checksum
        |FROM documents""".stripMargin,


    // the oracle never sees the JSONL — it censuses the parquet
    // directly, so any loss in the write/read cycle (a mangled
    // escape, a truncated line, a mistyped field) breaks the
    // checksum or counts
    "src_jsonl_roundtrip" ->
      RoundtripCensusSql,


    // identical census: the round-trip must be lossless, so the
    // oracle never reads the ORC at all
    "src_orc_roundtrip" ->
      RoundtripCensusSql,


    // the WET pipeline replayed from raw text: expected extraction,
    // length gate, exact-dup group with min-id survivor + census.
    // Dup groups form on the EXACT expected string (r18 audit), not
    // its md5 — the Spark side's md5 grouping must match hashing-free
    // ground truth, so a digest bug fails parity instead of mirroring
    "curate_web" ->
      """WITH t3 AS (SELECT a.doc_id, b.text
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id - a.doc_id % 3),
        |x AS (SELECT doc_id,
        |    trim(regexp_replace(text, '[ \t\n\r\x0B\f]+', ' ', 'g'))
        |      AS body
        |  FROM t3),
        |e AS (SELECT doc_id,
        |    't' || chr(10)
        |      || CASE WHEN body = '' THEN ''
        |              ELSE body || chr(10) END
        |      || 'tail x' AS expected
        |  FROM x),
        |k AS (SELECT * FROM e WHERE length(expected) >= 40)
        |SELECT min(doc_id) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_dups,
        |  CAST(min(length(expected)) AS BIGINT) AS n_chars
        |FROM k GROUP BY expected""".stripMargin,

    // identical census: the zstd shards must be lossless too
    "src_jsonl_zst_roundtrip" ->
      RoundtripCensusSql,

    // identical census again: the Avro round-trip must be lossless,
    // so the oracle never reads the Avro at all
    "src_avro_roundtrip" ->
      RoundtripCensusSql,

    // same chunk arithmetic as text_chunk; shard = 7-hex salted hash
    // % 8, cumulative token count per shard in (doc_id, chunk_idx)
    // order, sequences cut every 256 tokens. `//` (floor) and Spark's
    // `div` (truncate) agree because the cumsum is non-negative.
    "pack_sequences" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |c AS (SELECT doc_id, CAST(i.i AS INT) AS chunk_idx,
         |        least(CAST(32 AS BIGINT), len(toks) - i.i*24) AS n_tokens
         |      FROM d, LATERAL (SELECT unnest(range(0,
         |        CAST(floor(CAST(greatest(len(toks) - 8 - 1, 0) AS DOUBLE) / 24.0) AS BIGINT) + 1)) AS i) i
         |      WHERE len(toks) >= 1
         |        AND NOT (len(toks) = 1 AND toks[1] = '')),
         |s AS (SELECT *, CAST('0x' || substr(md5('graft-pack:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 8 AS shard
         |      FROM c),
         |cum AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard
         |          ORDER BY doc_id, chunk_idx
         |          ROWS UNBOUNDED PRECEDING) - n_tokens AS cumb
         |        FROM s)
         |SELECT doc_id, chunk_idx, n_tokens, shard,
         |  CAST(cumb // 256 AS BIGINT) AS seq_id,
         |  CAST(cumb % 256 AS BIGINT) AS seq_offset
         |FROM cum""".stripMargin,


    "split_temporal" ->
      """WITH e AS (SELECT event_id, make_timestamp(epoch_us(ts)) AS ts
        |  FROM events)
        |SELECT CASE
        |    WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 'test'
        |    WHEN ts < TIMESTAMP '2024-01-18 00:00:00' THEN 'train'
        |    ELSE 'embargo' END AS split,
        |  count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_checksum
        |FROM e GROUP BY 1""".stripMargin,

    "split_assign" ->
      """SELECT doc_id, source,
        |  CASE WHEN CAST('0x' || substr(md5('graft-split:' || source), 1, 7) AS BIGINT) % 1000 < 100 THEN 'test'
        |       WHEN CAST('0x' || substr(md5('graft-split:' || source), 1, 7) AS BIGINT) % 1000 < 200 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM documents""".stripMargin,


    // DSIR CTEs with BIGRAM features (the '_'-joined shingle form,
    // identical to curate_pretrain's bigram SQL), then the tercile
    // cut over the negated weight, filtered to the kept third
    "curate_domain" ->
      s"""WITH d AS (SELECT doc_id, source = 'src0' AS tgt,
         |             $tokensSql AS toks FROM documents),
         |tok AS (SELECT doc_id, tgt, unnest(CASE WHEN len(toks) >= 2
         |          THEN list_transform(range(1, len(toks)),
         |                 i -> toks[i] || '_' || toks[i+1]) ELSE [] END) AS t
         |        FROM d),
         |cnt AS (SELECT t, count(*) AS cr,
         |          CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |        FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
         |          CAST(sum(ct) AS BIGINT) AS nt,
         |          CAST(count(*) AS BIGINT) AS v FROM cnt),
         |sc AS (SELECT doc_id, count(*) AS n_tokens,
         |         CAST(sum((length(bin(ct + 1)) - 1)
         |             - (length(bin(cr + 1)) - 1)
         |             + ((length(bin(nr + v)) - 1)
         |               - (length(bin(nt + v)) - 1))) AS BIGINT)
         |           AS dsir_bits
         |       FROM tok JOIN cnt USING (t) CROSS JOIN tot GROUP BY 1),
         |scored AS (SELECT d0.doc_id, d0.lang,
         |    coalesce((dsir_bits * 1000) // n_tokens, 0) AS mean_millibits,
         |    -coalesce((dsir_bits * 1000) // n_tokens, 0) AS negw
         |  FROM documents d0 LEFT JOIN sc USING (doc_id)),
         |hist AS (SELECT lang, negw, count(*) AS c
         |         FROM scored GROUP BY 1, 2),
         |cum AS (SELECT lang, negw,
         |    coalesce(CAST(sum(c) OVER (PARTITION BY lang ORDER BY negw
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS lt
         |  FROM hist),
         |ln AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |       FROM scored GROUP BY 1),
         |b AS (SELECT cum.lang, cum.negw,
         |    CASE WHEN lt * 3 < n THEN 'head'
         |         WHEN lt * 3 < 2 * n THEN 'middle'
         |         ELSE 'tail' END AS bucket
         |  FROM cum JOIN ln USING (lang))
         |SELECT scored.doc_id, scored.lang, scored.mean_millibits
         |FROM scored JOIN b USING (lang, negw) WHERE bucket = 'head'""".stripMargin,


    // the full curation chain as one SQL: cap -> langid -> repetition
    // keep -> train-split hash -> chunk arithmetic -> pack window,
    // every fragment identical to its standalone query's oracle
    "curate_pretrain" -> {
      val en = langScoreSql(Seq("the", "and", "of", "is"))
      val de = langScoreSql(Seq("der", "die", "und", "ist"))
      val fr = langScoreSql(Seq("le", "la", "et", "est"))
      val es = langScoreSql(Seq("el", "los", "y", "es"))
      s"""WITH capped AS (SELECT doc_id, source, substr(text, 1, 2000) AS text
         |                FROM documents),
         |d AS (SELECT doc_id, source, text, $tokensSql AS toks FROM capped),
         |eng AS (SELECT doc_id, source, toks FROM d
         |        WHERE CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
         |                   WHEN $de >= $fr AND $de >= $es THEN 'de'
         |                   WHEN $fr >= $es THEN 'fr' ELSE 'es' END = 'en'),
         |b AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |        THEN list_transform(range(1, len(toks)),
         |               i -> toks[i] || '_' || toks[i+1]) ELSE [] END) AS g
         |      FROM eng),
         |t AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
         |        THEN list_transform(range(1, len(toks) - 1),
         |               i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]) ELSE [] END) AS g
         |      FROM eng),
         |b2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2,
         |         count(*) AS d2, CAST(max(c) AS BIGINT) AS top2
         |       FROM (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2)
         |       GROUP BY 1),
         |t3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3, count(*) AS d3
         |       FROM (SELECT doc_id, g, count(*) AS c FROM t GROUP BY 1, 2)
         |       GROUP BY 1),
         |rep AS (SELECT eng.doc_id FROM eng
         |        LEFT JOIN b2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
         |        WHERE coalesce(CAST(n2 - d2 AS DOUBLE) / CAST(n2 AS DOUBLE), 0.0) <= 0.2
         |          AND coalesce(CAST(n3 - d3 AS DOUBLE) / CAST(n3 AS DOUBLE), 0.0) <= 0.18
         |          AND (coalesce(n2, 0) < 20
         |               OR coalesce(CAST(top2 AS DOUBLE) / CAST(n2 AS DOUBLE), 0.0) <= 0.2)),
         |tr AS (SELECT eng.doc_id, eng.toks FROM eng JOIN rep USING (doc_id)
         |       WHERE CAST('0x' || substr(md5('graft-split:' || source), 1, 7) AS BIGINT) % 1000 >= 200),
         |c AS (SELECT doc_id, CAST(i.i AS INT) AS chunk_idx,
         |        least(CAST(32 AS BIGINT), len(toks) - i.i*24) AS n_tokens
         |      FROM tr, LATERAL (SELECT unnest(range(0,
         |        CAST(floor(CAST(greatest(len(toks) - 8 - 1, 0) AS DOUBLE) / 24.0) AS BIGINT) + 1)) AS i) i
         |      WHERE len(toks) >= 1
         |        AND NOT (len(toks) = 1 AND toks[1] = '')),
         |s AS (SELECT *, CAST('0x' || substr(md5('graft-pack:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 8 AS shard
         |      FROM c),
         |cum AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard
         |          ORDER BY doc_id, chunk_idx
         |          ROWS UNBOUNDED PRECEDING) - n_tokens AS cumb
         |        FROM s)
         |SELECT doc_id, chunk_idx, n_tokens, shard,
         |  CAST(cumb // 256 AS BIGINT) AS seq_id,
         |  CAST(cumb % 256 AS BIGINT) AS seq_offset
         |FROM cum""".stripMargin
    },


    // the sketch side cannot appear in SQL (content is merge-order
    // dependent); the oracle pins the exact heavy set — every item
    // with count·13 > n — and the booleans the MG theorems force true
    "sketch_freqitems" ->
      s"""WITH tok AS (SELECT substr(t, 1, 1) AS item FROM
         |  (SELECT doc_id, unnest($tokensSql) AS t FROM documents)
         |  WHERE t <> ''),
         |ex AS (SELECT item, count(*) AS exact_n FROM tok GROUP BY 1),
         |n AS (SELECT CAST(sum(exact_n) AS BIGINT) AS nn FROM ex)
         |SELECT item, exact_n, true AS in_sketch, true AS within_bound
         |FROM ex, n WHERE exact_n * 13 > nn""".stripMargin,


    // dup census counts DISTINCT whitespace-normal forms directly
    // (r18 audit) — the Spark side's md5 fingerprinting must agree
    // with hashing-free ground truth; TTR is integer millis, exact
    // division
    "corpus_report" ->
      s"""WITH d AS (SELECT source, text,
         |             list_filter($tokensSql, t -> t <> '') AS toks
         |           FROM documents),
         |doc AS (SELECT source, count(*) AS n_docs,
         |          coalesce(CAST(sum(len(toks)) AS BIGINT), 0)
         |            AS n_tokens,
         |          count(text) - count(DISTINCT regexp_replace(
         |            lower(trim(text)), '\\s+', ' ', 'g')) AS n_dup_docs
         |        FROM d GROUP BY 1),
         |voc AS (SELECT source, count(DISTINCT t) AS vocab
         |        FROM (SELECT source, unnest(toks) AS t FROM d) GROUP BY 1)
         |SELECT source, n_docs, n_tokens, n_dup_docs,
         |  coalesce(vocab, 0) AS vocab,
         |  coalesce((vocab * 1000) // n_tokens, 0) AS ttr_millis
         |FROM doc LEFT JOIN voc USING (source)""".stripMargin,


    // shares/default/salt mirror the Spark call; rate arithmetic is
    // (CASE share) * total / n left-to-right, clamped, floored at 1e-6
    // divide -> sqrt -> multiply on exact integers: every step
    // correctly rounded, identical on both engines; 15 hex chars =
    // the 60-bit hash the Spark side thins with (bias ~4e-13)
    "sample_temperature" ->
      """WITH c AS (SELECT lang AS st, count(*) AS n FROM documents
        |       WHERE doc_id IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN c ON c.st IS NOT DISTINCT FROM d.lang CROSS JOIN tot
        |WHERE CAST('0x' || substr(md5('graft-temp:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
        |  < CAST(floor(least(1.0,
        |      0.1 * sqrt(CAST(total AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0) AS BIGINT)""".stripMargin,


    "sample_domain_mix" ->
      """WITH c AS (SELECT source AS st, count(*) AS n FROM documents
        |       WHERE doc_id IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN c ON c.st IS NOT DISTINCT FROM d.source CROSS JOIN tot
        |WHERE CAST('0x' || substr(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
        |  < CAST(floor(least(1.0,
        |      CASE d.source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.1
        |                    WHEN 'src2' THEN 0.02 ELSE 0.01 END
        |      * CAST(total AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)""".stripMargin,


    "sample_hash_stratified" ->
      """SELECT doc_id, lang
        |FROM documents
        |WHERE CAST('0x' || substr(md5('graft-sample:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100
        |  < CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 25 WHEN 'fr' THEN 40 ELSE 60 END""".stripMargin,


    // identical integer plan arithmetic (ppm shares, truncating //,
    // remainder scaled in HUGEINT) and the same salted 60-bit lottery
    "sample_token_budget" ->
      (s"""WITH d AS (SELECT doc_id, source,
         |        CAST(len($tokensSql) AS BIGINT) AS n_tokens
         |      FROM documents WHERE doc_id IS NOT NULL),
         |a AS (SELECT source, sum(n_tokens) AS avail FROM d GROUP BY 1),
         |w(source, wppm) AS (VALUES ('src0', 500000), ('src1', 300000),
         |                           ('src2', 150000)),
         |e AS (SELECT a.source,
         |        ((CAST(100000 AS HUGEINT) * wppm) // 1000000)
         |          // avail AS epochs,
         |        ((((CAST(100000 AS HUGEINT) * wppm) // 1000000)
         |          % avail) * 1000000) // avail AS frac_ppm
         |      FROM a JOIN w USING (source)),
         |r AS (SELECT d.doc_id AS id, d.source, d.n_tokens,
         |        CAST(epochs + CASE WHEN
         |          CAST('0x' || substr(md5('graft-budget:' ||
         |            CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |            % 1000000 < frac_ppm THEN 1 ELSE 0 END AS BIGINT)
         |          AS n_repeat
         |      FROM d JOIN e USING (source))
         |SELECT id, source, n_tokens, n_repeat FROM r
         |WHERE n_repeat >= 1""".stripMargin),


    // identical ring construction: same salted 60-bit rank, same
    // 7-hex-digit bucket hash, row_number over (h, id)
    "sample_negatives" ->
      """WITH base AS (SELECT doc_id,
        |    CAST('0x' || substr(md5('graft-neg:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
        |    CAST('0x' || substr(md5('graft-neg:bkt:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 16 AS b
        |  FROM documents),
        |ring AS (SELECT doc_id, b,
        |    row_number() OVER (PARTITION BY b ORDER BY h, doc_id) AS pos,
        |    count(*) OVER (PARTITION BY b) AS n
        |  FROM base),
        |a AS (SELECT ring.*, u.j FROM ring,
        |      LATERAL (SELECT unnest(range(1, least(3, n - 1) + 1)) AS j) u
        |      WHERE n >= 2)
        |SELECT a.doc_id AS anchor_id, a.j,
        |  p.doc_id AS neg_id
        |FROM a JOIN ring p
        |  ON p.b = a.b AND p.pos = (a.pos - 1 + a.j) % a.n + 1
        |WHERE p.doc_id <> a.doc_id"""
        .stripMargin,


    // dedup partitions on the exact whitespace-normal form (r18
    // audit), not its md5 — the Spark side's md5-fingerprint keying
    // must match hashing-free ground truth
    "curate_corpus" -> {
      val en = langScoreSql(Seq("the", "and", "of", "is"))
      val de = langScoreSql(Seq("der", "die", "und", "ist"))
      val fr = langScoreSql(Seq("le", "la", "et", "est"))
      val es = langScoreSql(Seq("el", "los", "y", "es"))
      s"""WITH capped AS (SELECT doc_id, lang, substr(text, 1, 20000) AS text
        |           FROM documents),
        |d AS (SELECT doc_id, lang, text, $tokensSql AS toks FROM capped),
        |scored AS (
        |  SELECT doc_id, lang, text,
        |    $qualitySql AS quality,
        |    CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
        |         WHEN $de >= $fr AND $de >= $es THEN 'de'
        |         WHEN $fr >= $es THEN 'fr' ELSE 'es' END AS pred,
        |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS fp
        |  FROM d),
        |kept AS (SELECT * FROM scored WHERE pred = lang AND quality >= 0.45),
        |ded AS (SELECT * FROM kept
        |        QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
        |SELECT doc_id, lang, quality,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\\+1-555-[0-9]{4}', '<PHONE>', 'g'),
        |    'https?://[A-Za-z0-9./_-]+', '<URL>', 'g')) AS redacted_md5
        |FROM ded
        |WHERE CAST('0x' || substr(md5('graft-sample:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 50""".stripMargin
    },


    "sample_weighted_quality" ->
      (s"""WITH d AS (SELECT doc_id, lang, text, $tokensSql AS toks FROM documents),
        |q AS (SELECT doc_id, lang, $qualitySql AS quality
        |FROM d)
        |SELECT doc_id, lang, quality FROM q
        |WHERE CAST('0x' || substr(md5('graft-wq:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100
        |  < CAST(floor(quality * 100) AS BIGINT)""".stripMargin),


    // WHERE doc_id IS NOT NULL mirrors the Spark side's NULL-id drop
    // (a NULL id has no deterministic hash rank)
    "sample_fixed_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id IS NOT NULL
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY CAST('0x' || substr(md5('graft-fix:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |           doc_id) <= 20""".stripMargin,


    // Carter–Wegman bucket ((a·x + b) mod 2^31−1) mod width, written
    // identically to CountMin.bucket — integer-only, no digest. The
    // per-row (a, b) literals below are CountMin.rowConsts(3)
    // (splitmix64 of the row index), interpolated so both engines hash
    // with the same genuinely independent rows.
    "sketch_countmin" -> {
      val P = graft.ext.CountMin.P
      val consts = graft.ext.CountMin.rowConsts(3)
        .zipWithIndex
        .map { case ((a, b), j) =>
          s"($j, $a, ${a * a % P}, ${a * a % P * a % P}, $b)" }
        .mkString(", ")
      // the same base-2^31 digit polynomial as CountMin.bucket —
      // a plain a*(x%p)+b family would collide x and x+p everywhere
      s"""WITH consts(seed, a, a2, a3, b) AS (VALUES $consts),
        |cells AS (
        |  SELECT c.seed,
        |    ((c.a * (l_partkey & 2147483647) % 2147483647
        |      + c.a2 * ((l_partkey >> 31) & 2147483647) % 2147483647
        |      + c.a3 * (l_partkey >> 62) % 2147483647
        |      + c.b) % 2147483647) % 1024 AS bkt,
        |    count(*) AS n
        |  FROM lineitem CROSS JOIN consts c
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT l_partkey AS item, count(*) AS exact_n
        |  FROM lineitem GROUP BY 1
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, l_partkey) <= 10),
        |est AS (
        |  SELECT e.item, e.exact_n, min(cl.n) AS cms_n
        |  FROM exact e CROSS JOIN consts c
        |  JOIN cells cl ON cl.seed = c.seed
        |    AND cl.bkt = ((c.a * (e.item & 2147483647) % 2147483647
        |      + c.a2 * ((e.item >> 31) & 2147483647) % 2147483647
        |      + c.a3 * (e.item >> 62) % 2147483647
        |      + c.b) % 2147483647) % 1024
        |  GROUP BY 1, 2)
        |SELECT item, exact_n, cms_n, cms_n >= exact_n AS never_under FROM est""".stripMargin
    },


    "agg_histogram" ->
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
  )
}
