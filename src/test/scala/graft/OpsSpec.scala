package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.ops._

/** Per-operator unit + property tests over tiny literal frames
  * (SURVEY §5: F14 truncation invariants, F1 depth, F4 codomain,
  * R2 last-wins determinism under repartitioning).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // -- F14 truncation properties ------------------------------------

  test("truncate: len(out) <= n and out isPrefixOf in") {
    val strs = Gen.listOfN(40, Gen.asciiPrintableStr).sample.get
    val df = strs.toDF("s")
    val rows = df.select($"s", Guards.truncate($"s", 10).as("t"))
      .collect()
    rows.foreach { r =>
      val (s, t) = (r.getString(0), r.getString(1))
      assert(t.length <= 10)
      assert(s.startsWith(t))
      if (s.length <= 10) assert(t === s)
    }
  }

  test("truncate is a no-op on null") {
    val df = Seq[Option[String]](None, Some("abc")).toDF("s")
    val got = df.select(Guards.truncate($"s", 2)).as[Option[String]]
      .collect().toSet
    assert(got === Set(None, Some("ab")))
  }

  // -- F1 depth -------------------------------------------------------

  test("depth = number of dots + 3 (reference :192)") {
    val paths = (0 to 20).map(n => List.fill(n + 1)("LP1").mkString("."))
    val got = paths.toDF("p").select($"p", Hierarchy.depth($"p"))
      .as[(String, Int)].collect().toMap
    paths.foreach(p => assert(got(p) === p.count(_ == '.') + 3))
  }

  // -- F4 codomain ----------------------------------------------------

  test("visualAttributes codomain is {LA,LI,FAE,FIE,MAE,MIE}") {
    val cases = for {
      cnt <- Seq(null, java.lang.Long.valueOf(1L), java.lang.Long.valueOf(5L))
      st <- Seq("ACTIVE", "DEPRECATED", "TRIAL")
    } yield (cnt, st)
    val df = cases.map { case (c, s) => (Option(c).map(_.longValue), s) }
      .toDF("cnt", "status")
    val got = df.select(Flags.visualAttributes($"cnt", $"status"))
      .as[String].collect().toSet
    assert(got === Set("LA", "LI", "FAE", "FIE", "MAE", "MIE"))
  }

  // -- R2 last-wins determinism ---------------------------------------

  test("lastWins picks max-seq row regardless of partitioning") {
    val rows = (1 to 500).map(i => (s"k${i % 37}", i.toLong, s"v$i"))
    val expected = rows.groupBy(_._1).map { case (k, g) =>
      k -> g.maxBy(_._2)._3
    }
    for (parts <- Seq(1, 3, 16)) {
      val df = rows.toDF("k", "seq", "v").repartition(parts)
      val got = Dedup.lastWins(df, Seq("k"), $"seq", Seq("v"))
        .as[(String, String)].collect().toMap
      assert(got === expected)
    }
  }

  // -- XML escaping ----------------------------------------------------

  test("xmlEscape matches ElementTree text escaping") {
    val got = Seq("a&b<c>d", "&&", "plain").toDF("s")
      .select(XmlRender.xmlEscape($"s")).as[String].collect()
    assert(got.toSeq === Seq("a&amp;b&lt;c&gt;d", "&amp;&amp;", "plain"))
  }

  test("element renders null as None (python str(None) parity)") {
    val got = Seq[Option[String]](None).toDF("s")
      .select(XmlRender.element("T", $"s")).as[String].collect().head
    assert(got === "<T>None</T>")
  }

  // -- F12 parent path -------------------------------------------------

  test("parentPath strips exactly the last backslash segment") {
    val got = Seq("\\a\\b\\c", "\\only").toDF("p")
      .select(Hierarchy.parentPath($"p")).as[String].collect()
    assert(got.toSeq === Seq("\\a\\b", ""))
  }

  // -- R5 guard typing ---------------------------------------------------

  test("nonNullNonEmpty keeps non-empty strings only") {
    val df = Seq(("a", "x"), ("", "y"), (null, "z")).toDF("s", "t")
    val got = Guards.nonNullNonEmpty(df, Seq("s")).as[(String, String)]
      .collect()
    assert(got.toSeq === Seq(("a", "x")))
  }

  // -- F3 naming ---------------------------------------------------------

  test("conditionalName: LP branch vs colon-concat with nan token") {
    val df = Seq(
      ("LP1", "text", "c", null.asInstanceOf[String]),
      ("200-2", "text", "c", null.asInstanceOf[String]))
      .toDF("code", "codeText", "p1", "p2")
    val got = df.select(Naming.conditionalName(
      $"code", $"codeText", Seq($"p1", $"p2")).as("n")).as[String].collect()
    assert(got.toSeq === Seq("text", "c:nan"))
  }

  // -- Typed Aggregator top-k -----------------------------------------

  test("TopKAggregator matches window top-k under any partitioning") {
    val rows = (1 to 300).map(i => ((i % 7).toLong, i * 37 % 100 / 1.0, i.toLong))
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sortBy(r => (-r._1, r._2)).take(3)
    }
    for (parts <- Seq(1, 4, 16)) {
      val df = rows.toDF("g", "score", "id").repartition(parts)
      val topk = TopKAggregator.topK(3)
      val got = df.groupBy($"g").agg(topk($"score", $"id").as("tk"))
        .as[(Long, Seq[(Double, Long)])].collect().toMap
      assert(got === expected)
    }
  }

  test("saltedJoin returns exactly the plain join result") {
    val large = (1 to 500).map(i => (i.toLong % 5, i)).toDF("k", "v")
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "name")
    val plain = large.join(small, Seq("k")).select($"k", $"v", $"name")
      .as[(Long, Int, String)].collect().sorted
    val salted = Relational.saltedJoin(large, small, "k", salts = 8)
      .select($"k", $"v", $"name").as[(Long, Int, String)].collect().sorted
    assert(salted.toSeq === plain.toSeq)
  }

  test("mergeUpsert: update, insert, keep, delete, and absent-key " +
      "delete no-op") {
    val target = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("key", "payload")
    val changes = Seq(
      (1L, "upsert", 11.0),  // matched update
      (3L, "delete", 0.0),   // matched delete
      (4L, "upsert", 44.0),  // unmatched insert
      (5L, "delete", 0.0))   // absent-key delete: no-op
      .toDF("key", "op", "payload")
    val got = Relational.mergeUpsert(target, changes)
      .as[(Long, Double, String)].collect().toSet
    assert(got === Set(
      (1L, 11.0, "updated"),
      (2L, 20.0, "kept"),
      (4L, 44.0, "inserted")))
  }

  test("patchApply: per-column LWW — different columns won by " +
      "different patches, all-null patches mark but don't change, " +
      "inserts keep untouched columns null, untouched rows keep") {
    val target = Seq((1L, Some(10L), Some("a")),
      (2L, Some(20L), Some("b")), (3L, Some(30L), Some("c")))
      .toDF("key", "bal", "seg")
    val patches = Seq(
      // key 1: bal set by seq 5, seg by seq 3 — DIFFERENT winners;
      // the later seq-9 patch touches nothing and must change nothing
      (1L, 3L, None, Some("x")),
      (1L, 5L, Some(111L), None),
      (1L, 9L, None, None),
      // key 2: only an all-null patch — values kept, action patched
      (2L, 1L, None, None),
      // key 7: insert; seg never patched stays null
      (7L, 2L, Some(777L), None),
      (7L, 4L, Some(778L), None)) // later seq wins within the column
      .toDF("key", "seq", "bal", "seg")
    val got = Relational.patchApply(target, patches, "key", "seq",
      Seq("bal", "seg"))
      .as[(Long, Option[Long], Option[String], String)].collect().toSet
    assert(got === Set(
      (1L, Some(111L), Some("x"), "patched"),
      (2L, Some(20L), Some("b"), "patched"),
      (3L, Some(30L), Some("c"), "kept"),
      (7L, Some(778L), None, "inserted")))
  }

  test("patchApply: duplicate seqs break to the GREATER value — the " +
      "LWW-register tie rule, invariant under repartitioning") {
    val target = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("key", "bal")
    // each key carries a tied pair in opposite input orders: a bare
    // max-by-seq would keep whichever row a partial aggregate met
    // first, so the winner would flip with the partitioning
    val patches = Seq(
      (1L, 5L, Some(200L)), (1L, 5L, Some(100L)),
      (2L, 3L, Some(7L)), (2L, 3L, Some(9L)))
      .toDF("key", "seq", "bal")
    for (parts <- Seq(1, 7)) {
      val got = Relational.patchApply(
          target, patches.repartition(parts), "key", "seq", Seq("bal"))
        .select("key", "bal").as[(Long, Option[Long])].collect().toSet
      assert(got === Set((1L, Some(200L)), (2L, Some(9L))),
        s"parts=$parts")
    }
  }

  test("mergeUpsert tracks presence, not payload nullability: a NULL-" +
      "payload upsert SETS null, and a null-payload target row still " +
      "reconciles as updated") {
    val target = Seq((1L, Some(10.0)), (2L, None))
      .toDF("key", "payload")
    val changes = Seq(
      (1L, "upsert", None),        // null payload must LAND, not revert
      (2L, "upsert", Some(22.0)))  // matched despite null stored payload
      .toDF("key", "op", "payload")
    val got = Relational.mergeUpsert(target, changes)
      .as[(Long, Option[Double], String)].collect().toSet
    assert(got === Set(
      (1L, None, "updated"),
      (2L, Some(22.0), "updated")))
  }

  test("mergeUpsert: a change row with NULL or unknown op raises — " +
      "malformed CDC input must fail the merge, not be 'kept' " +
      "(matched) or inserted as a null-payload phantom (unmatched)") {
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    val target = Seq((1L, 10.0)).toDF("key", "payload")
    // matched (key 1) and unmatched (key 2) malformed rows both raise
    for (badKey <- Seq(1L, 2L); badOp <- Seq(null, "update")) {
      val changes = Seq((badKey, badOp, 99.0)).toDF("key", "op", "payload")
      val e = intercept[Exception] {
        Relational.mergeUpsert(target, changes).collect()
      }
      assert(chain(e).contains("invalid op"), s"got: ${chain(e)}")
    }
    // and a well-formed merge still passes through untouched
    val ok = Relational.mergeUpsert(target,
      Seq((1L, "upsert", 11.0)).toDF("key", "op", "payload"))
      .as[(Long, Double, String)].collect().toSet
    assert(ok === Set((1L, 11.0, "updated")))
  }

  test("corrPpm: exact ±1000000 on perfect linear data, NULL on " +
    "zero variance") {
    val df = Seq(
      ("p", 1.0, 2.0), ("p", 2.0, 4.0), ("p", 3.0, 6.0),
      ("m", 1.0, -2.0), ("m", 2.0, -4.0), ("m", 3.0, -6.0),
      ("z", 5.0, 1.0), ("z", 5.0, 9.0))
      .toDF("g", "x", "y")
    val got = Relational.corrPpm(df, Seq("g"), $"x", $"y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // y = 2x → corr = 1 mathematically, but √60000·√240000 rounds one
    // ulp ABOVE 120000, so the ratio sits just under 1 and the floor
    // lands at 999999 (and at −1000000 on the mirrored slope) — the
    // DETERMINISTIC value both engines agree on, which is the
    // operator's whole contract (built-in corr wouldn't even
    // reproduce run-to-run)
    assert(got("p") === Some(999999L))
    assert(got("m") === Some(-1000000L))
    assert(got("z") === None)
  }

  test("snapshotDiff: added/removed/changed, null-safe per-column " +
    "compare, unchanged rows dropped") {
    val v1 = Seq[(Long, Option[Double], String)](
      (1L, Some(10.0), "A"), // unchanged
      (2L, Some(20.0), "B"), // price changes
      (3L, None, "C"),       // NULL -> value = changed
      (4L, None, "D"),       // NULL -> NULL = unchanged
      (5L, Some(50.0), "E")  // removed
    ).toDF("k", "price", "st")
    val v2 = Seq[(Long, Option[Double], String)](
      (1L, Some(10.0), "A"),
      (2L, Some(21.0), "B"),
      (3L, Some(30.0), "C"),
      (4L, None, "D"),
      (6L, Some(60.0), "F")  // added
    ).toDF("k", "price", "st")
    val got = Relational.snapshotDiff(v1, v2, Seq("k"),
      Seq("price", "st"))
      .select($"k", $"action").as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "changed", 3L -> "changed",
      5L -> "removed", 6L -> "added"))
    // old/new columns carry both sides for the changed row
    val row2 = Relational.snapshotDiff(v1, v2, Seq("k"),
      Seq("price", "st")).filter($"k" === 2L)
      .select($"old_price", $"new_price").as[(Double, Double)]
      .collect().head
    assert(row2 === ((20.0, 21.0)))
  }

  test("rollupPartials + mergeRollups reproduce the full rescan " +
    "exactly: overlapping keys, null values, delta-only keys") {
    // key 1 and 2 straddle the cut (the merge must combine), key 3 is
    // base-only, key 4 delta-only with only a NULL value
    val baseRows = Seq[(Long, Option[Long])](
      (1L, Some(5L)), (1L, None), // nulls don't count
      (2L, Some(-4L)), (3L, Some(7L)))
    val deltaRows = Seq[(Long, Option[Long])](
      (1L, Some(9L)), (2L, Some(6L)), (4L, None))
    val all = (baseRows ++ deltaRows).toDF("k", "v")
    val base = baseRows.toDF("k", "v")
    val delta = deltaRows.toDF("k", "v")
    def roll(df: org.apache.spark.sql.DataFrame) =
      Relational.rollupPartials(df, Seq("k"), $"v")
    val merged = Relational.mergeRollups(
        Seq(roll(base), roll(delta)), Seq("k"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4))))).toMap
    val full = roll(all)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4))))).toMap
    assert(merged === full)
    assert(merged(1L) === ((2L, Some(14L), Some(5L), Some(9L))))
    assert(merged(4L) === ((0L, None, None, None)))
  }

  test("mergeUpsert replays MERGE INTO semantics on random data " +
    "under partitionings") {
    val rnd = new scala.util.Random(11235)
    val target = (0L until 40L).flatMap(k =>
      if (rnd.nextInt(4) == 0) None
      else Some((k, Option(rnd.nextInt(100).toLong)
        .filter(_ => rnd.nextInt(6) != 0))))
    val changes = (0L until 60L).flatMap(k =>
      if (rnd.nextInt(3) == 0) None
      else Some((k, if (rnd.nextInt(4) == 0) "delete" else "upsert",
        Option(rnd.nextInt(100).toLong)
          .filter(_ => rnd.nextInt(6) != 0))))
    val tMap = target.toMap
    val cMap = changes.map(c => c._1 -> ((c._2, c._3))).toMap
    val want = (tMap.keySet ++ cMap.keySet).flatMap { k =>
      cMap.get(k) match {
        case Some(("delete", _)) => None // matched or absent: dropped
        case Some(("upsert", p)) =>
          Some(k -> ((p, if (tMap.contains(k)) "updated" else "inserted")))
        case None => Some(k -> ((tMap(k), "kept")))
        case _ => None
      }
    }.toMap
    for (parts <- Seq(1, 5)) {
      val got = Relational.mergeUpsert(
          target.toDF("key", "payload").repartition(parts),
          changes.toDF("key", "op", "payload").repartition(parts))
        .as[(Long, Option[Long], String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === want, s"parts=$parts")
    }
    // malformed op raises at execution, never silently no-ops
    val e = intercept[Exception] {
      Relational.mergeUpsert(
        target.toDF("key", "payload"),
        Seq((1L, "replace", Option(2L))).toDF("key", "op", "payload"))
        .collect()
    }
    assert(e.getMessage.contains("invalid op"))
  }

  test("rollup merge associativity and patchApply LWW hold on random " +
    "data under arbitrary slicings and partitionings") {
    val rnd = new scala.util.Random(2718)
    // --- mergeRollups: ANY slicing of the rows into partials must
    // reproduce the full rescan bit-for-bit (the incremental-view
    // refresh claim, here stressed with random slice boundaries,
    // negative values, and null-heavy keys)
    val rows = Seq.fill(400)((rnd.nextInt(20).toLong,
      if (rnd.nextInt(6) == 0) None
      else Some((rnd.nextInt(2001) - 1000).toLong)))
    def roll(rs: Seq[(Long, Option[Long])], parts: Int) =
      Relational.rollupPartials(
        rs.toDF("k", "v").repartition(parts), Seq("k"), $"v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4))))).toMap
    val full = snap(roll(rows, 1))
    for (nSlices <- Seq(2, 5); parts <- Seq(1, 4)) {
      val slices = rows.zipWithIndex
        .groupBy(_._2 % nSlices).values.map(_.map(_._1)).toSeq
      val merged = snap(Relational.mergeRollups(
        slices.map(s => roll(s, parts)), Seq("k")))
      assert(merged === full, s"nSlices=$nSlices parts=$parts")
    }
    // --- patchApply: per-column LWW vs an in-memory replay —
    // random sparse patches with unique seqs, keys on both sides
    val target = Seq.tabulate(30)(i => (i.toLong,
      Option(rnd.nextInt(100).toLong).filter(_ => rnd.nextInt(8) != 0),
      Option(s"s${rnd.nextInt(5)}").filter(_ => rnd.nextInt(8) != 0)))
    val patches = Seq.tabulate(200)(i => (
      rnd.nextInt(40).toLong, // keys 30..39 are inserts
      i.toLong,               // unique seq
      Option(rnd.nextInt(100).toLong).filter(_ => rnd.nextInt(3) != 0),
      Option(s"p${rnd.nextInt(5)}").filter(_ => rnd.nextInt(3) != 0)))
    val tMap = target.map(t => t._1 -> ((t._2, t._3))).toMap
    val pByKey = patches.groupBy(_._1)
    def lww[A](ps: Seq[(Long, Long, Option[A])]): Option[A] =
      ps.filter(_._3.nonEmpty).sortBy(_._2).lastOption.flatMap(_._3)
    for (parts <- Seq(1, 5)) {
      val got = Relational.patchApply(
          target.toDF("key", "bal", "seg").repartition(parts),
          patches.toDF("key", "seq", "bal", "seg").repartition(parts),
          "key", "seq", Seq("bal", "seg"))
        .as[(Long, Option[Long], Option[String], String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      (tMap.keySet ++ pByKey.keySet).foreach { k =>
        val (tb, ts) = tMap.getOrElse(k, (None, None))
        val want = pByKey.get(k) match {
          case None => (tb, ts, "kept")
          case Some(ps) =>
            val wb = lww(ps.map(p => (p._1, p._2, p._3))).orElse(tb)
            val ws = lww(ps.map(p => (p._1, p._2, p._4))).orElse(ts)
            (wb, ws, if (tMap.contains(k)) "patched" else "inserted")
        }
        assert(got(k) === want, s"parts=$parts key=$k")
      }
    }
  }
}
