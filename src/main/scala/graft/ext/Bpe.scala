package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge induction (Sennrich/Haddow/Birch, ACL'16 —
  * the subword tokenizer-training algorithm every LLM pipeline runs):
  * the corpus-scale work (word counting) happens exactly once, and the
  * k merge rounds run over the capped word table ([[train]]), not k
  * passes over the corpus.
  *
  * THE representation trick makes the whole loop engine-portable: a
  * word's symbol sequence is kept as a DELIMITED STRING — every symbol
  * wrapped in pipes, `low` → `|l||o||w|` — so applying merge (A, B) is
  * a plain leftmost non-overlapping `replace(str, "|A||B|", "|AB|")`:
  *
  *   - greedy left-to-right semantics match BPE's scan exactly
  *     (`|a||a||a||a||a|` --(a,a)--> `|aa||aa||a|`, never
  *     `|aa||a||aa|`), because each symbol's wrapper is self-contained
  *     and adjacent occurrences share no characters;
  *   - a pattern can never match across a symbol boundary
  *     (`|xa||b|` does not contain `|a||b|`) or across a word
  *     boundary (words join with a space in [[encode]]);
  *   - Spark's `replace` and DuckDB's `replace` share these exact
  *     semantics, so the oracle replays the identical induction.
  *
  * Symbols never contain `|` — ENFORCED in [[encode]] (a pipe-bearing
  * document raises with its id rather than silently losing its pipes
  * in [[decode]]); a corpus with literal pipes needs escaping or a
  * rarer sentinel before training.
  *
  * The per-round top pair is the (count, pair-bytes) maximum —
  * deterministic on any engine, both orders bytewise. The merge
  * decision is inherently sequential (merge r changes the pair counts
  * merge r+1 sees), so the rounds chain.
  */
object Bpe {

  /** `low` → `|l||o||w|` — one wrapped symbol per character. DOTALL
    * ((?s)): bare `.` skips line terminators (U+2028/U+2029/U+0085),
    * which are NOT in `\s` and so survive the word split — an
    * unwrapped character between symbols would parse as a composite
    * symbol containing pipes, breaking the every-symbol-wrapped
    * invariant train/encode parse by.
    */
  def symbolize(word: Column): Column =
    regexp_replace(word, "(?s)(.)", "|$1|")

  /** The corpus word table the induction runs on: one row per
    * DISTINCT word with its corpus count and symbolized form, capped
    * at the `maxWords` most frequent (count desc, word — the cap is a
    * TakeOrderedAndProject, bounded per task at any corpus size).
    * Real trainers cap the same way: the pair-count tail below the
    * cap cannot win a merge round that matters.
    */
  def wordCounts(docs: DataFrame, text: Column, maxWords: Int): DataFrame =
    docs.select(explode(split(trim(text), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1)).as("__wc"))
      .orderBy(col("__wc").desc, col("__w"))
      .limit(maxWords)
      .select(col("__wc"), symbolize(col("__w")).as("__str"))

  /** Unsigned-byte (UTF-8) string comparison — Spark's binary string
    * collation, NOT Java's UTF-16 `compareTo` (they diverge above the
    * BMP; same trap the components endgame fixed).
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Induce the first `k` BPE merges over the corpus. Output: one row
    * per merge — (rank, left, right, merged, n), rank 1 = first merge,
    * n = the pair's corpus-weighted count AT ITS MERGE ROUND (counts
    * shift as earlier merges rewrite the words). Fewer than k rows
    * come back iff the capped word table runs out of adjacent pairs.
    *
    * The corpus-scale work (word counting + frequency cap) is ONE
    * distributed pass; the merge induction itself runs on the DRIVER
    * over the collected ≤ `maxWords`-row table — the bounded-endgame
    * move (cf. connectedComponents' union-find threshold), and how
    * real tokenizer trainers work: SentencePiece/HF collect word
    * counts, then iterate in memory. A distributed round per merge
    * was measured pure scheduling overhead (k TakeOrdered jobs over a
    * 512-row table); the local loop is semantically IDENTICAL — Java
    * `String.replace` shares Spark/DuckDB's leftmost non-overlapping
    * literal semantics, and the per-round winner maximizes (count,
    * then smallest pattern in UTF-8 byte order).
    */
  def train(docs: DataFrame, text: Column, k: Int,
            maxWords: Int = 512): DataFrame = {
    require(k >= 1 && k <= 32,
      "the oracle replays one unrolled CTE per merge — keep k small")
    require(maxWords <= (1 << 16),
      "the merge loop collects the capped word table to the driver")
    val spark = docs.sparkSession
    var words = wordCounts(docs, text, maxWords)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      // corpus-weighted adjacent-pair counts of the current word table
      val counts = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), Long]
      for ((wc, str) <- words) {
        val syms = str.stripPrefix("|").stripSuffix("|").split("\\|\\|", -1)
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + wc
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // max count, ties to the smallest "|A||B|" pattern bytewise —
        // the same (n DESC, __pat ASC) order the oracle's CTE uses
        val ((l, rr), n) = counts.reduceLeft { (a, b) =>
          val pa = s"|${a._1._1}||${a._1._2}|"
          val pb = s"|${b._1._1}||${b._1._2}|"
          if (b._2 > a._2 || (b._2 == a._2 && utf8Lt(pb, pa))) b else a
        }
        out += ((r, l, rr, l + rr, n))
        val pat = s"|$l||$rr|"
        val rep = s"|$l$rr|"
        words = words.map { case (wc, s) => (wc, s.replace(pat, rep)) }
        r += 1
      }
    }
    spark.createDataFrame(out.result())
      .toDF("rank", "left", "right", "merged", "n")
  }

  /** Segment text with an induced merge table: every word symbolized
    * and each merge applied in rank order — the encode half of the
    * tokenizer, consuming [[train]]'s output. Words join with a
    * space, so no merge can cross a word boundary. The merge fold is
    * an `aggregate` over the rank-sorted merge list (one broadcast
    * row carrying the whole table — merges are k rows by
    * construction).
    *
    * Output: (id, bpe — the segmented delimited string, n_pieces).
    */
  def encode(docs: DataFrame, id: Column, text: Column,
             merges: DataFrame): DataFrame = {
    val packed = merges.agg(
      array_sort(collect_list(struct(col("rank"),
        concat(lit("|"), col("left"), lit("||"), col("right"), lit("|"))
          .as("pat"),
        concat(lit("|"), col("left"), col("right"), lit("|"))
          .as("rep")))).as("__m"))
    // the '|' sentinel precondition is ENFORCED, not assumed: a
    // document carrying a literal pipe would collide with the symbol
    // delimiters and decode() would silently delete its pipes — fail
    // loudly at encode time instead (the corpus needs escaping or a
    // rarer sentinel first)
    val guarded = when(text.contains("|"),
      raise_error(concat(
        lit("Bpe.encode: input contains the '|' sentinel (id="),
        id.cast("string"),
        lit("); escape pipes or re-train with a rarer sentinel"))))
      .otherwise(text)
    val sym = concat_ws(" ",
      transform(split(trim(guarded), "\\s+"),
        w => when(w === "", w).otherwise(symbolize(w))))
    docs.select(id.as("id"), sym.as("__s"))
      .crossJoin(broadcast(packed))
      .select(col("id"),
        aggregate(col("__m"), col("__s"), (acc, m) =>
          call_function("replace", acc, m.getField("pat"),
            m.getField("rep"))).as("bpe"))
      .withColumn("n_pieces",
        ((length(col("bpe")) -
          length(call_function("replace", col("bpe"), lit("|"), lit(""))))
          / 2).cast("long"))
  }

  /** The inverse of [[encode]]: strip every symbol delimiter. Because
    * merges only ever concatenate adjacent in-word symbols and never
    * touch the space joining words, deleting the `|` sentinels
    * recovers exactly the whitespace-normalized input
    * (`trim` + single-space joins) — for ANY merge table, including
    * an empty one. A pure map (no shuffle), and the roundtrip
    * decode(encode(t)) = normalize(t) is the lossless-tokenizer
    * property the `text_decode_roundtrip` query proves corpus-wide
    * against an oracle that never runs BPE at all.
    */
  def decode(encoded: Column): Column =
    call_function("replace", encoded, lit("|"), lit(""))
}
