package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AdcColumns, NearestColumns, VectorColumns}
import org.apache.spark.sql.types._

/** Focused spec for the round-19 native nearest-candidate kernels
  * (VecArgmaxCos / VecArgminL2) — the in-row replacements for the
  * broadcast-expansion `crossJoin + min_by/max_by(cid, struct(...))`
  * argmax shape. Pins the exact aggregate semantics the kernels
  * replicate: the metric fold arithmetic, the (metric, cid) tie
  * order, the struct-ordering NULL tier (a null-metric candidate was
  * never IGNORED by min_by/max_by — a struct with a null field is
  * not a null ordering — it just sorts FIRST), and eval/codegen
  * agreement.
  */
class NearestKernelSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def centsDf(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("__cid", LongType, nullable = false),
      StructField("__cv", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))),
      schema)
  }

  private def ptsDf(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))),
      schema)
  }

  /** The reference semantics: the old aggregation's argmax, computed
    * with the identical double arithmetic (left-to-right folds,
    * dot/(pn·cn)), the SQL double ordering ladder, and the
    * struct-ordering null tier.
    */
  private def cmpD(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1 else if (x == y) 0
    else java.lang.Double.compare(x, y)

  private def refArgmaxCos(v: Seq[Double],
                           cents: Seq[(Long, Seq[Double])]): Option[Long] = {
    val pn = math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
    var best: Option[(Double, Long)] = None
    var nullBest: Option[Long] = None
    cents.foreach { case (cid, cv) =>
      if (cv.length != v.length) {
        if (nullBest.forall(cid < _)) nullBest = Some(cid)
      } else {
        val cn = math.sqrt(cv.foldLeft(0.0)((s, x) => s + x * x))
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i) * cv(i); i += 1 }
        val cos = dot / (pn * cn)
        val better = best match {
          case None => true
          case Some((b, bc)) =>
            val c = cmpD(cos, b); c > 0 || (c == 0 && cid < bc)
        }
        if (better) best = Some((cos, cid))
      }
    }
    best.map(_._2).orElse(nullBest)
  }

  private def refArgminL2(sv: Seq[Double],
                          cents: Seq[(Long, Seq[Double])]): Option[Long] = {
    var best: Option[(Double, Long)] = None
    var nullBest: Option[Long] = None
    cents.foreach { case (cid, cv) =>
      if (cv.length != sv.length) {
        if (nullBest.forall(cid < _)) nullBest = Some(cid)
      } else {
        var s = 0.0
        var i = 0
        while (i < sv.length) {
          val d = sv(i) - cv(i); s += d * d; i += 1
        }
        val better = best match {
          case None => true
          case Some((b, bc)) =>
            val c = cmpD(s, b); c < 0 || (c == 0 && cid < bc)
        }
        if (better) best = Some((s, cid))
      }
    }
    // in a MINIMUM the null metric sorts FIRST: it dominates
    nullBest.orElse(best.map(_._2))
  }

  private def runArgmaxCos(pts: Seq[(Long, Seq[Double])],
                           cents: Seq[(Long, Seq[Double])])
      : Map[Long, Option[Long]] = {
    val cb = centsDf(cents)
      .withColumn("__cn",
        VectorColumns.vec_norm(col("__cv")))
      .agg(collect_list(struct(col("__cid"), col("__cv"), col("__cn")))
        .as("__cb"))
    ptsDf(pts)
      .withColumn("__pn",
        VectorColumns.vec_norm(col("vec")))
      .crossJoin(broadcast(cb))
      .select(col("id"),
        NearestColumns.vec_argmax_cos(col("vec"), col("__pn"), col("__cb"))
          .as("cid"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
  }

  private def runArgminL2(pts: Seq[(Long, Seq[Double])],
                          cents: Seq[(Long, Seq[Double])])
      : Map[Long, Option[Long]] = {
    val cb = centsDf(cents)
      .agg(collect_list(struct(col("__cid"), col("__cv"))).as("__cb"))
    ptsDf(pts)
      .crossJoin(broadcast(cb))
      .select(col("id"),
        NearestColumns.vec_argmin_l2(col("vec"), col("__cb")).as("cid"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
  }

  private val rng = new scala.util.Random(20260819L)
  private def randVec(d: Int): Seq[Double] =
    Seq.fill(d)(rng.nextDouble() * 2 - 1)

  test("vec_argmax_cos matches the max_by(cid, struct(cos, -cid)) " +
      "reference on random vectors, engineered exact ties, and a " +
      "mismatched-dims candidate (the struct-ordering null tier)") {
    val sharedVec = randVec(8) // duplicate centroid vector → exact tie
    val cents = Seq(
      (15L, sharedVec), (12L, sharedVec), // tie pair: 12 must win ties
      (11L, randVec(5)), // dims mismatch → null-metric tier
      (10L, randVec(8)), (14L, randVec(8)), (13L, randVec(8)))
    val pts = (1L to 60L).map(i => (i, randVec(8))) ++
      // a point EQUAL to the shared centroid vector: cos exactly 1.0
      // against both 12 and 15 — the tie-break must pick 12
      Seq((100L, sharedVec))
    val got = runArgmaxCos(pts, cents)
    pts.foreach { case (id, v) =>
      assert(got(id) === refArgmaxCos(v, cents), s"point $id")
    }
    assert(got(100L) === Some(12L))
  }

  test("vec_argmax_cos: only mismatched-dims candidates -> smallest " +
      "cid wins (never NULL); empty candidate set -> no assignment") {
    val cents = Seq((7L, randVec(3)), (5L, randVec(4)))
    val got = runArgmaxCos(Seq((1L, randVec(8))), cents)
    assert(got(1L) === Some(5L))
  }

  test("vec_argmin_l2 matches the min_by(cid, struct(l2, cid)) " +
      "reference, including the null-tier DOMINANCE in a minimum " +
      "(null sorts first) and exact-tie cid order") {
    val sharedVec = randVec(4)
    val cents = Seq(
      (9L, sharedVec), (3L, sharedVec), // exact tie: 3 wins
      (6L, randVec(4)), (8L, randVec(4)))
    val pts = (1L to 60L).map(i => (i, randVec(4)))
    val got = runArgminL2(pts, cents)
    pts.foreach { case (id, sv) =>
      assert(got(id) === refArgminL2(sv, cents), s"point $id")
    }
    // with a mismatched candidate present, it DOMINATES the min —
    // the (null, cid) struct sorts before every (real, cid)
    val centsN = cents :+ (4L, randVec(2)) :+ (2L, randVec(3))
    val gotN = runArgminL2(pts.take(5), centsN)
    pts.take(5).foreach { case (id, _) => assert(gotN(id) === Some(2L)) }
  }

  test("kernels are row-identical to the old crossJoin + " +
      "max_by/min_by(struct(...)) aggregates they replaced, on random " +
      "inputs including exact ties and mismatched-dims candidates " +
      "(ADVICE r19: pin against the REAL aggregate, not only the " +
      "hand-rolled reference)") {
    import VectorColumns._
    // engineered corners: a duplicate centroid vector (exact metric
    // tie) and two mismatched-dims candidates (null-metric tier)
    val sharedVec = randVec(6)
    val cents = Seq(
      (21L, sharedVec), (17L, sharedVec),
      (19L, randVec(4)), (16L, randVec(9)),
      (18L, randVec(6)), (15L, randVec(6)), (20L, randVec(6)))
    val pts = (1L to 80L).map(i => (i, randVec(6))) ++
      Seq((200L, sharedVec)) // exact cos-1.0 tie against 17 and 21
    def collectMap(df: org.apache.spark.sql.DataFrame)
        : Map[Long, Option[Long]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // the OLD argmax-cos form: broadcast-expansion + max_by over
    // struct(cos, -cid)
    val centsWithN = centsDf(cents)
      .withColumn("__cn", vec_norm(col("__cv")))
    val oldCos = collectMap(ptsDf(pts)
      .withColumn("__pn", vec_norm(col("vec")))
      .crossJoin(broadcast(centsWithN))
      .withColumn("__cos",
        vec_dot(col("vec"), col("__cv")) / (col("__pn") * col("__cn")))
      .groupBy("id")
      .agg(expr("max_by(__cid, struct(__cos, -__cid))").as("cid")))
    assert(oldCos === runArgmaxCos(pts, cents))
    assert(oldCos(200L) === Some(17L)) // the tie goes to the smaller cid
    // the OLD argmin-L2 form: min_by over struct(l2, cid). A
    // mismatched-dims candidate nulls the metric and DOMINATES the
    // minimum, so run both with and without those candidates.
    val centsOk = cents.filter(_._2.length == 6)
    for (cs <- Seq(cents, centsOk)) {
      val oldL2 = collectMap(ptsDf(pts)
        .crossJoin(broadcast(centsDf(cs)))
        .withColumn("__l2", vec_l2sq(col("vec"), col("__cv")))
        .groupBy("id")
        .agg(expr("min_by(__cid, struct(__l2, __cid))").as("cid")))
      assert(oldL2 === runArgminL2(pts, cs))
    }
  }

  /** `body` run through interpreted eval only: no whole-stage
    * codegen and the NO_CODEGEN expression factory.
    */
  private def interpreted[T](body: => T): T = {
    val conf = spark.conf
    val before = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    val beforeWs = conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      conf.set("spark.sql.codegen.wholeStage", "false")
      body
    } finally {
      conf.set("spark.sql.codegen.factoryMode", before)
      conf.set("spark.sql.codegen.wholeStage", beforeWs)
    }
  }

  /** `df()` collected once through generated code and once
    * [[interpreted]]; rows sorted by their first (id) column, doubles
    * as their bits.
    */
  private def bothPaths(df: () => DataFrame)
      : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    def run(): Seq[Seq[Any]] = df().collect().toSeq
      .map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      })
      .sortBy(_.head.asInstanceOf[Long])
    (run(), interpreted(run()))
  }

  private def rowsDf(rows: Seq[Row], fields: StructField*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(StructField("id", LongType, nullable = false) +: fields))

  private def floats(xs: Any*): Seq[java.lang.Float] = xs.map {
    case null => null
    case x: Double => java.lang.Float.valueOf(x.toFloat)
    case x: Int => java.lang.Float.valueOf(x.toFloat)
  }
  private def randFloats(d: Int): Seq[java.lang.Float] =
    floats(randVec(d): _*)

  test("kernels agree between codegen and interpreted eval") {
    val cents = Seq((1L, randVec(8)), (2L, randVec(8)), (3L, randVec(5)))
    val pts = (1L to 20L).map(i => (i, randVec(8)))
    val viaCodegen = runArgmaxCos(pts, cents)
    val viaCodegenL2 = runArgminL2(pts, cents)
    interpreted {
      assert(runArgmaxCos(pts, cents) === viaCodegen)
      assert(runArgminL2(pts, cents) === viaCodegenL2)
    }

    // vec_dot / vec_l2sq / vec_norm over float and double elements,
    // containsNull = true (the per-element probes live) and false:
    // a NULL element, a length mismatch, empty vectors, a NULL vector
    val vecRows =
      Seq(
        Row(1L, floats(1, 2, 3), floats(4, 5, 6),
          Seq(0.5, -1.25, 2.0), floats(1, 2, 3)),
        Row(2L, floats(1, null, 3), floats(4, 5, 6),
          Seq(1.0, null, 2.0), floats(7, 8, 9)),
        Row(3L, floats(1, 2), floats(4, 5, 6), Seq(1.0, 2.0), floats(1, 2)),
        Row(4L, floats(), floats(), Seq(), floats()),
        Row(5L, null, floats(1), null, floats(1))) ++
      (6L to 25L).map(i => Row(i, randFloats(8), randFloats(8),
        randVec(8), randFloats(8)))
    val (vecGen, vecInt) = bothPaths(() => rowsDf(vecRows,
        StructField("fa", ArrayType(FloatType, containsNull = true)),
        StructField("fb", ArrayType(FloatType, containsNull = true)),
        StructField("da", ArrayType(DoubleType, containsNull = true)),
        StructField("fn", ArrayType(FloatType, containsNull = false)))
      .select(col("id"),
        VectorColumns.vec_dot(col("fa"), col("fb")),
        VectorColumns.vec_dot(col("fa"), col("da")),
        VectorColumns.vec_dot(col("da"), col("da")),
        VectorColumns.vec_dot(col("fn"), col("fn")),
        VectorColumns.vec_l2sq(col("fa"), col("fb")),
        VectorColumns.vec_l2sq(col("da"), col("fa")),
        VectorColumns.vec_l2sq(col("fn"), col("fa")),
        VectorColumns.vec_norm(col("fa")),
        VectorColumns.vec_norm(col("da")),
        VectorColumns.vec_norm(col("fn"))))
    assert(vecInt === vecGen)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    assert(vecGen(0).slice(1, 2) === Seq(bits(32.0)))
    assert(vecGen(1).slice(1, 4) === Seq(null, null, null)) // NULL elem
    assert(vecGen(2)(1) === null) // length mismatch
    assert(vecGen(3).tail.forall(_ == bits(0.0))) // empty vectors

    // argmax / argmin: an empty candidate array, a null cid (ignored
    // even where its vector would win), a NULL element in the point
    // or a candidate, a length mismatch, a NULL cn, exact ties, float
    // candidates with long cids and double ones with int cids
    val tieVec = randFloats(4)
    def cand(cid: java.lang.Long, cv: Seq[java.lang.Float]): Row =
      Row(cid, cv, if (cv == null || cv.contains(null)) null
        else java.lang.Double.valueOf(
          math.sqrt(cv.map(x => x.toDouble * x.toDouble).sum)))
    def randCands(n: Int): Seq[Row] =
      (1 to n).map(c => cand(java.lang.Long.valueOf(10L + c), randFloats(4)))
    val nearRows = Seq(
      Row(1L, randFloats(4), randCands(5)),
      Row(2L, randFloats(4), Seq()),
      Row(3L, tieVec, Seq(cand(null, tieVec)) ++ randCands(2)),
      Row(4L, floats(0.5, null, 1, 2), randCands(3)),
      Row(5L, randFloats(4), Seq(
        cand(7L, floats(1, null, 1, 1)), cand(8L, randFloats(3)),
        Row(9L, randFloats(4), null)) ++ randCands(2)),
      Row(6L, randFloats(4), Seq(cand(31L, randFloats(3)),
        cand(30L, randFloats(5)))),
      Row(7L, tieVec, Seq(cand(21L, tieVec), cand(20L, tieVec)) ++
        randCands(2))) ++
      (8L to 30L).map(i => Row(i, randFloats(4),
        randCands(1 + (i % 6).toInt)))
    val candType = ArrayType(StructType(Seq(
      StructField("cid", LongType),
      StructField("cv", ArrayType(FloatType, containsNull = true)),
      StructField("cn", DoubleType))), containsNull = true)
    val (nearGen, nearInt) = bothPaths(() => rowsDf(nearRows,
        StructField("v", ArrayType(FloatType, containsNull = true)),
        StructField("cands", candType))
      .withColumn("l2cands", transform(col("cands"), c => struct(
        c("cid").cast("int").as("cid"),
        c("cv").cast("array<double>").as("cv"))))
      .select(col("id"),
        NearestColumns.vec_argmax_cos(col("v"),
          coalesce(VectorColumns.vec_norm(col("v")), lit(1.0)),
          col("cands")),
        NearestColumns.vec_argmin_l2(col("v"), col("l2cands"))))
    assert(nearInt === nearGen)
    assert(nearGen(1) === Seq(2L, null, null)) // no candidate
    // the null-cid twin of the point is skipped, not read as cid 0
    assert(Seq(11L, 12L).contains(nearGen(2)(1)))
    assert(Seq(11, 12).contains(nearGen(2)(2)))
    assert(nearGen(3) === Seq(4L, 11L, 11)) // NULL point element
    assert(nearGen(4)(2) === 7) // the null tier leads the argmin
    assert(nearGen(5) === Seq(6L, 30L, 30)) // only mismatches
    assert(nearGen(6) === Seq(7L, 20L, 20)) // exact tie → smaller cid

    // adc_sum_flat: NULL code entries, NULL j/r fields, NULL table
    // cells, empty codes, NULL codes
    def code(j: Integer, r: Integer): Row = Row(j, r)
    val tbl = (0 until 12).map(i => java.lang.Long.valueOf(i.toLong))
    val adcRows = Seq(
      Row(1L, Seq(code(0, 1), code(1, 2), code(2, 3)), tbl),
      Row(2L, Seq(code(0, 1), null, code(null, 2), code(2, null),
        code(2, 3)), tbl.updated(11, null)),
      Row(3L, Seq(), tbl),
      Row(4L, null, tbl)) ++
      (5L to 20L).map(i => Row(i,
        (0 until 3).map(j => code(j, rng.nextInt(4))), tbl))
    val (adcGen, adcInt) = bothPaths(() => rowsDf(adcRows,
        StructField("codes", ArrayType(StructType(Seq(
          StructField("j", IntegerType), StructField("r", IntegerType))),
          containsNull = true)),
        StructField("tbl", ArrayType(LongType, containsNull = true)))
      .select(col("id"),
        AdcColumns.adc_sum_flat(col("codes"), col("tbl"), 4)))
    assert(adcInt === adcGen)
    assert(adcGen.take(4) === Seq(Seq(1L, 18L), Seq(2L, 1L), Seq(3L, 0L),
      Seq(4L, null)))
  }
}
