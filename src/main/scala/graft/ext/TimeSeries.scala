package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series shaping over event tables: grid resampling with
  * gap-fill (the telemetry downsampling every monitoring/feature
  * pipeline runs before joining signals on a common clock) and
  * exponentially-weighted state folds.
  *
  * Scale shape: everything partitions on the series key. The grid is
  * generated per key from its own [min, max] span (never a global
  * calendar cross-join), the gap-fill is one keyed window, and the
  * EWMA folds a per-key sorted array behind an ENFORCED per-key
  * event cap (see [[ewmaFixed]]) — the one sequential recursion in
  * the library fails loudly on a key too hot for its buffer instead
  * of OOMing a task.
  */
object TimeSeries {

  /** Resample events to a fixed `slotSeconds` grid per key, carrying
    * the last observation forward across empty slots (LOCF).
    *
    * Phase 1 aggregates events into their slot INDEX (max over the
    * slot — deterministic under any fold order, unlike a float sum).
    * Phase 2 is one keyed window over the sparse observations
    * computing, per observation, the carried value (`last` ignoring
    * NULLs) and its segment's exclusive upper bound (`lead` of the
    * next slot index). Phase 3 EXPLODES each observation's segment
    * [slot, next slot) into grid rows map-side — the union of the
    * segments is exactly the per-key [min, max] span, so no grid
    * table, no span aggregation, and no grid⋈observations join ever
    * materializes. (The historical join-based plan scanned the event
    * table twice, broadcast the full observation table, and sorted
    * the DENSE grid for its gap-fill window; this shape sorts only
    * the sparse observations and generates the dense rows after the
    * window — measured 2.5× faster at bench scale with the identical
    * result, and the key-NULL-safety that previously needed `<=>`
    * join keys is native: a NULL key is just a window partition.)
    *
    * ONE shuffle by default: the events repartition BY KEY up front
    * satisfies both the slot aggregation's clustering (key ⊂
    * (key, slot)) and the window's, so the agg, the sort, the window
    * and the segment explode all fuse into the single post-exchange
    * stage (the two-exchange groupBy-then-window shape paid a second
    * barrier to shuffle the aggregated slots again — measured 1.6×
    * slower at bench scale for zero byte savings at its ~1:1 combine
    * ratio). The explode is narrow and PER-OBSERVATION, so a
    * years-long gap distributes across the tasks holding its
    * bounding observations rather than serializing into a per-key
    * span task.
    *
    * @param events columns `key`, `ts` (timestamp), `value` (double)
    */
  def resampleLocf(events: DataFrame, slotSeconds: Long): DataFrame = {
    require(slotSeconds >= 1, "slotSeconds must be positive")
    // FLOOR division everywhere an index is computed (`div` truncates
    // toward zero): a pre-1970 timestamp must bucket to the slot AT OR
    // BEFORE it (floor), and chunk indices must partition the integers
    // exactly — with truncation, a negative span straddling 0 maps
    // chunks -1 and 0 onto overlapping slot ranges (sequence(0, -100)
    // even DESCENDS) and silently drops the slots below the lowest
    // chunk boundary. fdiv(a, d) = floor(a / d) for d > 0.
    // floor from MICROS, not unix_timestamp(ts): the seconds
    // intermediate itself TRUNCATES sub-second negatives toward zero
    // (1969-12-31T23:59:59.4 → 0) before fdiv ever runs, bucketing a
    // pre-1970 event into the slot AFTER it — the same trap ohlcBars
    // documents; the oracle floors from epoch_us, so this is also the
    // only form both engines agree on
    require(slotSeconds <= Long.MaxValue / 1000000L,
      "slotSeconds overflows the micros slot width")
    val indexed = events
      .select(col("key"),
        expr(fdiv("unix_micros(ts)", slotSeconds * 1000000L)).as("__i"),
        col("value"))
      // NULL-ts events have no slot and are ignored — EXPLICITLY,
      // before the window: the join-based shape dropped them for
      // free (a NULL slot matches nothing), but here an unfiltered
      // (key, NULL) row would sort FIRST in the keyed window and
      // leak its value into the next real observation's carry
      .filter(col("__i").isNotNull)
    val slotted = indexed.repartition(col("key"))
      .groupBy("key", "__i").agg(max("value").as("v"))
    // ONE window spec serves both functions (one sort, one Window
    // exec). The carried value is `last` IGNORING NULLs — an
    // all-NULL-value slot is a real observation row (observed only at
    // its own slot) whose segment still carries the PREVIOUS non-NULL
    // value, exactly as the join-based gap-fill read it.
    val wk = Window.partitionBy("key").orderBy("__i")
    val seg = slotted.select(col("key"), col("__i"), col("v"),
      last(col("v"), ignoreNulls = true)
        .over(wk.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("__carry"),
      coalesce(lead(col("__i"), 1).over(wk) - 1, col("__i")).as("__hi"))
    // Segment explode is TWO-LEVEL: slot indices are generated per
    // 4096-slot chunk, never as one per-segment array — a single
    // `sequence(lo, hi)` materializes the whole gap in one task's
    // memory, and a years-long gap at second granularity is a 10⁸-
    // element array (an OOM hiding behind an innocent-looking
    // explode). Chunking bounds every array at 4096 elements while
    // producing the identical slot set.
    val k = 4096L
    seg
      .select(col("key"), col("__i"), col("v"), col("__carry"),
        col("__hi"),
        explode(expr(
          s"sequence(${fdiv("__i", k)}, ${fdiv("__hi", k)})"))
          .as("__chunk"))
      .select(col("key"), col("__i"), col("v"), col("__carry"),
        explode(expr(
          s"""sequence(greatest(__chunk * $k, __i),
                       least(__chunk * $k + ${k - 1}, __hi))"""))
          .as("__n"))
      .select(col("key"),
        timestamp_seconds(col("__n") * slotSeconds).as("slot"),
        col("__carry").as("v_locf"),
        (col("__n") === col("__i") && col("v").isNotNull).as("observed"))
  }

  /** Per-key EWMA with α = 1/2 in integer micro-units: the recursion
    * y ← (y + x) div 2 over the key's events in (ts, tie) order.
    * Integer fixed point makes the fold bit-exact on any engine
    * (float EWMA differs in the last ulp). Division semantics are
    * TRUNCATION toward zero for any sign of the accumulator — the
    * shared behavior of Spark `div`, Scala `Long./` (the
    * [[graft.streaming.StreamOps.ewmaStream]] twin), and DuckDB 1.0
    * `//` (verified: -3 // 2 = -1), so negative values keep all three
    * engines bit-identical; α = 1/2 keeps it a single
    * add-shift per step. Sequential recursions have no closed window
    * form AND no merge-safe partial state (truncation at every step
    * means even the tail influence never provably vanishes — a ±1
    * accumulator difference can persist forever — so a windowed or
    * mergeable rewrite would change results), leaving the sorted
    * per-key array fold as the exact form; `tie` must make (ts, tie)
    * a total order per key or the collect order is nondeterministic.
    *
    * The per-key buffer is therefore BOUNDED EXPLICITLY:
    * `maxEventsPerKey` (default 2²²) is enforced by a count probe
    * joined BEFORE the collect, so a hot key fails loudly on its
    * first row — in the scan-join stage, before any row-list buffer
    * accumulates — instead of OOMing a task at 100× scale. The probe
    * is one map-side-combinable count on the same key (the
    * [[linearTrendMicro]] min-probe shape): its exchange
    * co-partitions with the fold's groupBy, and its state is one
    * long per key. Keys whose history exceeds the cap need chunked
    * pre-aggregation or the streaming twin's O(1) incremental state
    * — semantics the batch fold cannot reproduce exactly, so it
    * refuses rather than approximates.
    *
    * NULL-ts and NULL-value events DO NOT PARTICIPATE (filtered
    * before the fold, like [[resampleLocf]]'s NULL-ts policy and the
    * PERCENTILE_DISC-ignores-NULLs contract of the profiling
    * family): an unfiltered NULL value would silently poison the
    * whole fold to NULL ((acc + NULL) div 2) while n_events still
    * counted the row — the exact quiet corruption this file's
    * exact-or-loud discipline forbids — and a NULL ts sorts FIRST in
    * Spark's struct order but LAST in an engine with NULLS LAST
    * default, making the fold seed engine-dependent. n_events counts
    * participating events only.
    *
    * Returns (key, n_events, ewma_micros).
    */
  def ewmaFixed(events: DataFrame, tie: Column,
                maxEventsPerKey: Int = 1 << 22): DataFrame = {
    require(maxEventsPerKey >= 1, "maxEventsPerKey must be positive")
    val base = events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("key"),
        struct(unix_micros(col("ts")).as("t"), tie.as("tb"),
          microValue.as("v")).as("e"))
    val counts = base.groupBy("key").agg(count(lit(1)).as("__n"))
      .withColumnRenamed("key", "__ck")
    base.join(counts, col("key") <=> col("__ck"))
      .select(col("key"),
        when(col("__n") > maxEventsPerKey,
          raise_error(concat(
            lit("TimeSeries.ewmaFixed: key "), col("key").cast("string"),
            lit(s" has "), col("__n").cast("string"),
            lit(s" events, over the $maxEventsPerKey-event per-key " +
              "buffer cap; pre-aggregate or use the streaming twin"))))
          .otherwise(col("e")).as("e"))
      .groupBy("key")
      .agg(sort_array(collect_list(col("e"))).as("es"))
      // Round 20: the recursion moved into the native
      // [[org.apache.spark.sql.graft.EwmaFold]] kernel — the SQL form
      // (slice + transform + ArrayAggregate) interpreted three
      // CodegenFallback lambdas per element per key; the kernel is
      // the identical seed-then-halve recursion (Java `/` IS the
      // truncate-toward-zero division documented above) in one
      // compiled pass over the sorted struct array. HistMedMadSpec
      // pins it row-identical to the old fold.
      .select(col("key"), size(col("es")).cast("long").as("n_events"),
        org.apache.spark.sql.graft.HistFoldColumns
          .ewma_fold(col("es"), vOrdinal = 2).as("ewma_micros"))
  }

  /** OHLC downsampling: per-(key, bucket) open/high/low/close bars in
    * integer micro-units — the classic time-series compaction
    * (metrics rollup, candlestick bars, telemetry archival).
    *
    * ONE aggregation, fully partial-agg friendly: `min_by`/`max_by`
    * over the per-key total order (event micros, `tie`) pick
    * open/close deterministically even when timestamps tie, and
    * micro-unit longs make high/low/volume bit-exact on any engine
    * (a float volume sum is fold-order-dependent). The shuffle
    * carries one combined row per (key, bucket) per map task
    * regardless of input size — the 100 TB shape: reducing 10¹²
    * events to per-hour bars costs exactly one exchange keyed by
    * (key, bucket), no window, no sort.
    *
    * Bucket starts FLOOR to the bar at-or-before the event (`fdiv`,
    * not `div`): pre-1970 timestamps must not round toward zero into
    * the bar AFTER them.
    *
    * @param events columns `key`, `ts` (timestamp), `value` (double)
    * @param tie    column making (ts, tie) a per-key total order
    *               (an event id); without it open/close on tied
    *               timestamps are nondeterministic
    */
  def ohlcBars(events: DataFrame, bucketSeconds: Long,
               tie: Column): DataFrame = {
    require(bucketSeconds >= 1 &&
      bucketSeconds <= Long.MaxValue / 1000000L,
      s"bucketSeconds ($bucketSeconds) must be in [1, Long.MaxValue/1e6]" +
        " — the micros bucket width must not overflow")
    // Floor straight from micros — a seconds intermediate would
    // TRUNCATE sub-second negatives toward zero before the bucket
    // floor even runs.
    val bucketMicros = bucketSeconds * 1000000L
    // NULL-ts/NULL-value events do not participate (the
    // ewmaFixed/resampleLocf policy): a NULL ts would emit a
    // NULL-bucket bar whose open/close read NULL (min_by/max_by
    // skip the NULL packed order) while high/low/volume stay real
    // — a half-populated row no engine agrees on — and a NULL
    // value would poison volume_micros relative to n
    requireIntegralTie(
      events
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .withColumn("__tie", tie), "TimeSeries.ohlcBars")
      .select(col("key"),
        timestamp_micros(
          expr(fdiv("unix_micros(ts)", bucketMicros))
            * bucketMicros).as("bucket"),
        microValue.as("__v"),
        packedTsTieOrder.as("__o"))
      .groupBy("key", "bucket")
      .agg(ohlcAggs.head, ohlcAggs.tail: _*)
  }

  /** Per-key ordinary-least-squares trend of `value` over time — the
    * drift detector every metrics pipeline runs (is this series
    * rising, and how fast?). slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²) in
    * centi-units per second, emitted as micro-slope
    * ⌊slope·10⁶⌋ — DETERMINISTIC by the [[graft.ops.Relational
    * .corrPpm]] contract: every accumulated quantity is exact (x in
    * seconds re-based to the key's own min, y in centi-unit longs,
    * the five sums in decimal(38,0) — associative, map-side
    * combinable, never a float fold), and the finish is ONE fixed
    * IEEE divide over identical exact values, bit-identical on any
    * engine and any partitioning. Re-basing x (slope is shift-
    * invariant) keeps nΣxx small enough that the decimal→double
    * finishing casts are exact for any realistic span, where raw
    * epoch seconds squared would shed low bits.
    *
    * Scale shape: TWO hash aggregations on the SAME key (the min-x
    * probe, then the moment fold) plus one equi-join between them —
    * co-partitioned, so one logical exchange; no window, no collect,
    * a hot key costs one combined moment row per map task. NULL keys
    * are first-class (`<=>`, the [[Profiling]] contract).
    *
    * Returns (key, n, slope_micro, mean_centi); slope_micro is NULL
    * when the key has no x-variance (single instant), mean_centi is
    * Σy div n (truncation toward zero — the shared Spark `div` /
    * DuckDB 1.0 `//` semantics, verified on negatives).
    *
    * @param events columns `key`, `ts` (timestamp), `value` (double)
    */
  def linearTrendMicro(events: DataFrame): DataFrame = {
    // rows with a NULL ts or value drop BEFORE the moments: count()
    // would tally them while the sums skip them, so n and the moments
    // would describe DIFFERENT row sets — measured on a 3-point
    // series with one NULL value, the slope SIGN flips. The oracle
    // carries the same predicate.
    val base = events.select(col("key"),
      unix_micros(col("ts")).as("__xm"),
      expr("cast(floor(value * 100) as bigint)").as("__y"))
      .filter(col("__xm").isNotNull && col("__y").isNotNull)
    val xmin = base.groupBy("key").agg(min("__xm").as("__x0"))
      .withColumnRenamed("key", "__k")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val agged = base.join(xmin, col("key") <=> col("__k"))
      // seconds, floored from micros relative to the key's own min —
      // nonnegative by construction, so plain div IS floor here
      .select(col("key"),
        expr("(__xm - __x0) div 1000000L").as("__x"), col("__y"))
      .groupBy("key")
      .agg(count(lit(1)).as("n"),
        sum(d(col("__x"))).as("__sx"),
        sum(d(col("__y"))).as("__sy"),
        sum(d(col("__x")) * d(col("__y"))).as("__sxy"),
        sum(d(col("__x")) * d(col("__x"))).as("__sxx"))
    val nD = d(col("n"))
    val num = nD * col("__sxy") - col("__sx") * col("__sy")
    val den = nD * col("__sxx") - col("__sx") * col("__sx")
    // exact-or-loud (the acf1/cusumChangepoint discipline): past
    // decimal(38,0) the n-scaled moment products return NULL under
    // non-ANSI semantics, and when(den > 0, ...) would quietly emit
    // the SAME NULL slope the zero-variance case documents — a key
    // with x·y products near the decimal ceiling would silently read
    // as "no trend". n ≥ 1 in every group (base is NULL-filtered),
    // so a NULL den/num IS an overflow, never a legitimate value.
    agged.select(col("key"), col("n"),
      when(den.isNull || num.isNull,
        raise_error(concat(
          lit("TimeSeries.linearTrendMicro: key "),
          col("key").cast("string"),
          lit(" has moment products past decimal(38,0); " +
            "pre-aggregate or rescale the series"))))
        .when(den > 0,
          floor(num.cast("double") / den.cast("double") * 1000000.0)
            .cast("long")).as("slope_micro"),
      expr("__sy div cast(n as decimal(38,0))").cast("long")
        .as("mean_centi"))
  }

  /** Exponentially-decayed per-key event score as of `asOf` — the
    * trending/recency ranking primitive (feeds "hot items",
    * recency-weighted user activity, freshness-aware retrieval).
    * Each event contributes 10⁶ >> age_days (half-life = one day),
    * EXACT integer weights: a float exp() decay is engine- and
    * fold-order-dependent, a right shift is not. Ages cap at 62
    * explicitly because a JVM long shift takes the count mod 64
    * (10⁶ >> 64 would silently be 10⁶ again — the resurrection bug —
    * while other engines return 0); events after `asOf` are excluded
    * (negative shifts are the same trap mirrored).
    *
    * ONE hash aggregation, map-side combinable — the same 100 TB
    * shape as any groupBy sum; no window, no sort.
    *
    * @param events columns `key`, `ts` (timestamp)
    */
  def decayScore(events: DataFrame, asOf: String): DataFrame = {
    // parse the cutoff ONCE, loudly, driver-side: the previous shape
    // parsed it twice through two mechanisms (lit().cast("date") in
    // the filter — silently NULL on a malformed string under
    // non-ANSI, filtering every row — and a date'...' literal
    // spliced as raw SQL text, where a quote breaks the generated
    // statement). One validated literal feeds both uses.
    val asOfDate = lit(try java.sql.Date.valueOf(asOf)
      catch { case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"TimeSeries.decayScore: asOf '$asOf' is not a yyyy-MM-dd date")
      })
    events
      .filter(to_date(col("ts")) <= asOfDate)
      .select(col("key"),
        call_function("shiftright", lit(1000000L),
          least(datediff(asOfDate, to_date(col("ts"))), lit(62))
            .cast("int")).as("__w"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_events"),
        sum("__w").as("decay_score"))
  }

  /** floor(value·10⁶) as a long — the house double→fixed-point form. */
  private[graft] def microValue: Column =
    expr("cast(floor(value * 1000000) as bigint)")

  /** The (`ts`, `__tie`) total order packed into ONE Decimal(38,0):
    * micros·2⁶⁴ + (tie + 2⁶³). A struct ordering would force the
    * whole aggregation to SortAggregate (struct buffers aren't
    * hash-agg mutable), adding a per-partition sort on both sides
    * of the exchange; the fixed-width decimal keeps min_by/max_by
    * in HashAggregate (and in the streaming state store). The
    * multiplier must be ≥ the FULL width of the shifted-tie range:
    * the shifted tie lies in [0, 2⁶⁴), so a 10¹⁹ radix
    * (10¹⁹ < 2⁶⁴ ≈ 1.845·10¹⁹) would let a same-micros tie above
    * 10¹⁹ outrank the NEXT microsecond — an earlier event winning
    * max_by (the close) whenever same-bucket ties differ by more
    * than 10¹⁹, routine for hash-style 64-bit tie ids. With 2⁶⁴ the
    * encoding is strictly monotone in (micros, tie) for ANY long
    * tie, and exact: |micros| ≤ 3.3·10¹⁷ (Spark's timestamp range)
    * so |product| ≤ 6.2·10³⁶ and the total < 10³⁸. Shared by
    * [[ohlcBars]] and its streaming twin
    * ([[graft.streaming.StreamOps.ohlcStream]]): one ordering
    * definition, two runtimes.
    */
  /** Loud type gate for [[packedTsTieOrder]] users: the packed
    * encoding CASTS `__tie` to decimal, so a non-integral tie (a
    * string code, say) would either go NULL under non-ANSI casts —
    * min_by/max_by skipping every row — or order numerically while a
    * window on the same frame orders lexicographically ('10' < '9'),
    * silently disagreeing about which event is first. The historical
    * struct ordering accepted any type, so callers migrating to the
    * packed form must refuse what it cannot represent.
    */
  private[graft] def requireIntegralTie(df: DataFrame,
                                        what: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = df.schema("__tie").dataType
    require(dt == ByteType || dt == ShortType || dt == IntegerType ||
        dt == LongType,
      s"$what: the tie column must be an integral type (it packs " +
        s"into the (ts, tie) decimal order), got $dt — use an event " +
        "id, not a string code")
    df
  }

  /* STATE-FORMAT NOTE: the radix below is part of the streaming
   * state encoding ([[graft.streaming.StreamOps.ohlcStream]] stores
   * packed orders in its min_by/max_by buffers). Changing it
   * invalidates in-flight streaming checkpoints: old-radix values in
   * the store are not order-comparable with new-radix values from
   * fresh events, so restarted queries must start from a fresh
   * checkpoint dir. */
  private[graft] def packedTsTieOrder: Column = expr(
    """cast(unix_micros(ts) as decimal(38,0))
      |  * cast(18446744073709551616 as decimal(38,0))
      |  + (cast(__tie as decimal(38,0))
      |     + cast(9223372036854775808 as decimal(38,0)))""".stripMargin)

  /** CUSUM CHANGEPOINT detection per key — the single-changepoint
    * monitoring primitive (Page 1954's cumulative-sum shape): the
    * split k maximizing |Σ_{i≤k}(v_i − mean)| locates the largest
    * level shift in the key's series. Computed EXACTLY with no mean
    * division: the scaled statistic S_k = n·prefix_k − k·total equals
    * n·Σ_{i≤k}(v_i − mean), so the argmax is identical and every
    * quantity is integer (values in micro-unit longs, sums in
    * decimal(38,0) — bit-identical cross-engine, the ts_trend
    * discipline). One keyed window pass (ordered by (ts, tie), both
    * frames partitioned — never an unpartitioned window) + one hash
    * aggregate. Returns (key, n_events, cp_k, max_abs_scaled): the
    * 1-based split index (ties toward the EARLIEST k) and |S| at it;
    * single-event keys have no split and emit nothing.
    * max_abs_scaled is returned as BIGINT — |S| ≤ n²·max|v_micro|,
    * within long range for any per-key series below ~300M rows at
    * the fixture's value scale.
    */
  def cusumChangepoint(events: DataFrame, tie: Column): DataFrame = {
    // NULL-value/NULL-ts rows drop before numbering: row_number would
    // count them into __k/__n while the prefix sums skip them, so
    // S_k != n*sum(v - mean) at k and cp_k would point at a SHIFTED
    // split index. Same predicate in the oracle.
    val base = events.select(col("key"), col("ts"), tie.as("__tie"),
      microValue.cast("decimal(38,0)").as("__v"))
      .filter(col("ts").isNotNull && col("__v").isNotNull)
    val ordered = Window.partitionBy("key")
      .orderBy(col("ts"), col("__tie"))
    val whole = Window.partitionBy("key")
    base
      .withColumn("__k", row_number().over(ordered))
      .withColumn("__prefix", sum(col("__v")).over(ordered))
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__total", sum(col("__v")).over(whole))
      .filter(col("__k") < col("__n")) // splits leave both sides non-empty
      .withColumn("__s",
        abs(col("__prefix") * col("__n") - col("__total") * col("__k")))
      // (Round 20: a graph_lpa-style packed argmax — s·2³² + (2³²−k)
      // in decimal(38,0), replacing this struct max_by with a plain
      // max — was A/B measured and REVERTED: interleaved probes read
      // 0.84/0.85 s packed vs 0.52/0.68 s struct. The struct
      // SortAggregate pays NO sort here (the windows above leave the
      // stream key-sorted and the groupBy reuses that order), while
      // the pack pays a >18-digit Decimal multiply-add PER INPUT ROW
      // — BigDecimal arithmetic, not a long. The lpa/span packs won
      // because their payloads were longs packed into a decimal
      // once per row AND their aggregates otherwise re-sorted; here
      // neither holds.)
      .groupBy(col("key"))
      .agg(max(col("__n")).as("n_events"),
        max_by(col("__k"), struct(col("__s"), -col("__k"))).as("cp_k"),
        max(col("__s")).as("__smax"))
      // fail LOUD past the long range (ewmaFixed's discipline): under
      // non-ANSI semantics the decimal→long cast of an overflowing
      // |S| returns NULL, so the row would arrive with a confident
      // cp_k and a silently missing magnitude — downstream
      // thresholds would treat the LARGEST shifts as absent
      .select(col("key"), col("n_events"), col("cp_k"),
        when(col("__smax") > lit(Long.MaxValue).cast("decimal(38,0)"),
          raise_error(concat(
            lit("TimeSeries.cusumChangepoint: key "),
            col("key").cast("string"),
            lit(" has |S| past the long range (~3e8 micro-unit "),
            lit("events per key); pre-aggregate or rescale"))))
          .otherwise(col("__smax").cast("long")).as("max_abs_scaled"))
  }

  /** LAG-1 AUTOCORRELATION per key — the seasonality/persistence
    * diagnostic (is this series noise or does it remember itself?).
    * Exact-moments discipline like the OLS trend: with values in
    * micro-unit longs and S = Σx, the mean never materializes —
    * multiplying the centered sums by n² gives
    *   num = n²·Σ x_t·x_{t+1} − n·S·(2S − x_0 − x_{n−1}) + (n−1)·S²
    *   den = n²·Σ x² − n·S²
    * both exact decimal(38,0), and r1_ppm = floor(10⁶·num/den) costs
    * ONE IEEE divide — bit-identical cross-engine. One keyed window
    * pass (lag over the (ts, tie) order) + one hash aggregate; keys
    * with n < 2 or zero variance emit NULL r1_ppm (undefined, not 0 —
    * a constant series has no correlation to report).
    */
  def acf1(events: DataFrame, tie: Column): DataFrame = {
    // same phantom-row guard as linearTrendMicro/cusumChangepoint:
    // n must describe the rows the moments actually summed
    val base = requireIntegralTie(
      events.select(col("key"), col("ts"), tie.as("__tie"),
          microValue.cast("decimal(38,0)").as("__v"))
        .filter(col("ts").isNotNull && col("__v").isNotNull),
      "TimeSeries.acf1")
    val ordered = Window.partitionBy("key")
      .orderBy(col("ts"), col("__tie"))
    base
      .withColumn("__prev", lag(col("__v"), 1).over(ordered))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__v")).as("__s"),
        sum(col("__v") * col("__v")).as("__s2"),
        sum(col("__v") * col("__prev")).as("__sxy"),
        // packed (ts, tie) order, NOT struct(ts, __tie): a struct
        // ordering buffer is not UnsafeRow-mutable, which demotes
        // this WHOLE aggregate (the four sums included) out of
        // codegen HashAggregate — the exact trap packedTsTieOrder
        // was built for in ohlcBars; one ordering definition serves
        // both
        min_by(col("__v"), packedTsTieOrder).as("__x0"),
        max_by(col("__v"), packedTsTieOrder).as("__xn"))
      .withColumn("__den",
        col("__n") * col("__n") * col("__s2")
          - col("__n") * col("__s") * col("__s"))
      // exact-or-loud (the cusumChangepoint discipline): past
      // decimal(38,0) the n²-scaled moment products return NULL
      // under non-ANSI semantics — indistinguishable from the
      // documented zero-variance NULL, so a hot autocorrelated key
      // would silently read as "no correlation". __s is non-null
      // iff the key has any non-null value, so a NULL __den beside a
      // non-null __s IS an overflow (of __s2, __sxy, or the products)
      .withColumn("__den",
        when(col("__s").isNotNull && col("__den").isNull,
          raise_error(concat(
            lit("TimeSeries.acf1: key "), col("key").cast("string"),
            lit(" has n²-scaled moments past decimal(38,0); " +
              "pre-aggregate or rescale the series"))))
          .otherwise(col("__den")))
      // the NUMERATOR gets the same exact-or-loud guard: its middle
      // term n*S*(2S - x0 - xn) is ~2x the magnitude of den's largest
      // intermediate, so there is a real band where num overflows
      // decimal(38,0) to NULL while den survives — without this, the
      // guarded den would pass and r1_ppm would still emit the silent
      // "no correlation" NULL the den guard exists to prevent. A
      // LEGITIMATE NULL num (n = 1: __sxy aggregates no lag pairs)
      // always comes with den = 0, which the first branch handles.
      .withColumn("__num",
        col("__n") * col("__n") * col("__sxy")
          - col("__n") * col("__s") *
            (col("__s") * 2 - col("__x0") - col("__xn"))
          + (col("__n") - 1) * col("__s") * col("__s"))
      .select(col("key"), col("__n").as("n_events"),
        when(col("__den") === 0, lit(null))
          .when(col("__num").isNull && col("__s").isNotNull,
            raise_error(concat(
              lit("TimeSeries.acf1: key "), col("key").cast("string"),
              lit(" has an n²-scaled numerator past decimal(38,0); " +
                "pre-aggregate or rescale the series"))))
          .otherwise(
            floor(col("__num").cast("double") /
              col("__den").cast("double")
              * 1000000.0).cast("long")).as("r1_ppm"))
  }

  /** SQL text of floor division `floor(a / d)` for d > 0 — `div`
    * truncates toward zero, which mis-buckets negative (pre-1970)
    * operands; ONE definition shared by resampleLocf and ohlcBars so
    * the floor-vs-truncate subtlety cannot drift between them.
    */
  private def fdiv(a: String, d: Long): String =
    s"(($a) div $d - (case when ($a) % $d < 0 then 1 else 0 end))"

  /** The six OHLC aggregates over (`__v`, `__o`) — the shared
    * batch/streaming aggregation list.
    */
  private[graft] def ohlcAggs: Seq[Column] = Seq(
    min_by(col("__v"), col("__o")).as("open_micros"),
    max(col("__v")).as("high_micros"),
    min(col("__v")).as("low_micros"),
    max_by(col("__v"), col("__o")).as("close_micros"),
    sum(col("__v")).as("volume_micros"),
    count(lit(1)).as("n"))
}
