package graft

import graft.operators.{IncrementalAgg, Snapshot}
import graft.operators.IncrementalAgg.DimFeed
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: the CDF payload semantics and
  * delta algebra cases q185's fixture can't exercise (group migration,
  * zero-count removal, malformed feeds).
  */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  test("changeDataFeed emits CDF row types with the right payload side") {
    val old = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "g", "v")
    val neu = Seq((2L, "a", 25L), (3L, "b", 30L), (4L, "c", 40L))
      .toDF("k", "g", "v")
    val cdf = Snapshot.changeDataFeed(old, neu, "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSet
    assert(cdf === Set(
      (1L, "a", 10L, "delete"),            // old payload
      (2L, "a", 20L, "update_preimage"),   // old payload
      (2L, "a", 25L, "update_postimage"),  // new payload
      (4L, "c", 40L, "insert")))           // new payload; key 3 unchanged → absent
  }

  test("refresh equals recompute, including group migration and group death") {
    // old: g=a {k1:10, k2:20}, g=b {k3:30}
    // new: k1 deleted (a loses a row), k2 MIGRATES a→b with v=21,
    //      k4 inserted into c → group a must DIE (count 0), b gains
    val old = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "g", "v")
    val neu = Seq((2L, "b", 21L), (3L, "b", 30L), (4L, "c", 40L))
      .toDF("k", "g", "v")
    val prev = old.groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("v"))
    val got = IncrementalAgg.refreshSumCount(prev,
        Snapshot.changeDataFeed(old, neu, "k"), Seq("g"), "n", Seq("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = neu.groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === want)
    assert(!got.contains("a"), "a zero-count group must leave the state")
  }

  test("repeated refresh composes: v1→v2→v3 equals direct v3 aggregate") {
    val v1 = Seq((1L, "x", 1L), (2L, "x", 2L)).toDF("k", "g", "v")
    val v2 = Seq((1L, "x", 5L), (2L, "x", 2L), (3L, "y", 7L)).toDF("k", "g", "v")
    val v3 = Seq((2L, "y", 2L), (3L, "y", 7L)).toDF("k", "g", "v")
    var state = v1.groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("v"))
    state = IncrementalAgg.refreshSumCount(state,
      Snapshot.changeDataFeed(v1, v2, "k"), Seq("g"), "n", Seq("v"))
    state = IncrementalAgg.refreshSumCount(state,
      Snapshot.changeDataFeed(v2, v3, "k"), Seq("g"), "n", Seq("v"))
    val got = state.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map("y" -> ((2L, 9L))))
  }

  test("TxTable.changeDataFeed across versions feeds incremental refresh on a delta table") {
    import graft.streaming.TxTable
    val path = java.nio.file.Files.createTempDirectory("graft-cdf-tx").toString
    def batch(rows: (String, String, String, Double)*) =
      rows.map { case (srv, tag, t, v) => (srv, tag, v, ts(t), ts(t)) }
        .toDF("serverName", "tag", "doubleValue", "serverTimestamp", "sourceTimestamp")

    // v1: three tags on one server
    val v1 = TxTable.upsertDelta(spark, batch(
      ("s1", "a", "2024-01-01 00:00:01", 10.0),
      ("s1", "b", "2024-01-01 00:00:01", 20.0),
      ("s1", "c", "2024-01-01 00:00:01", 30.0)), path)
    // v2: a updated (superseding delta), d inserted — b, c untouched
    val v2 = TxTable.upsertDelta(spark, batch(
      ("s1", "a", "2024-01-01 00:00:05", 11.5),
      ("s1", "d", "2024-01-01 00:00:05", 40.0)), path)

    val cdf = TxTable.changeDataFeed(spark, path, v1, v2, "tag",
      compareCols = Seq("doubleValue"))
    val got = cdf.select("tag", "doubleValue", "change_type")
      .as[(String, Double, String)].collect().toSet
    assert(got === Set(
      ("a", 10.0, "update_preimage"), ("a", 11.5, "update_postimage"),
      ("d", 40.0, "insert")),
      "merged views must hide superseded delta rows from the feed")

    // compose: maintain a per-server (count, sum) state v1 → v2 and
    // match a from-scratch aggregate over the v2 merged view.
    // doubleValue sums are fine HERE (single partition, tiny) — q185
    // demonstrates the decimal contract.
    val prev = TxTable.readMergedAt(spark, path, v1).get
      .groupBy("serverName")
      .agg(count(lit(1)).as("n"), sum("doubleValue").as("doubleValue"))
    val refreshed = IncrementalAgg.refreshSumCount(prev,
        TxTable.changeDataFeed(spark, path, v1, v2, "tag",
          compareCols = Seq("serverName", "doubleValue")),
        Seq("serverName"), "n", Seq("doubleValue"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(refreshed === Set(("s1", 4L, 10.0 + 20.0 + 30.0 + 40.0 + 1.5)))

    // a version diffed against itself is an empty feed (no false changes)
    assert(TxTable.changeDataFeed(spark, path, v2, v2, "tag",
      compareCols = Seq("doubleValue")).isEmpty)
  }

  private type DF = org.apache.spark.sql.DataFrame

  /** γ_seg(l ⋈ r) on `cust` for join type `how`, in the state schema the
    * refresher maintains: views with a preserved right side (right/full)
    * carry the `v_nn` non-null counter beside the sum.
    */
  private def joinAgg(l: DF, r: DF, how: String): DF = {
    val g = l.join(r, Seq("cust"), how).groupBy("seg")
    if (how == "right" || how == "full")
      g.agg(count(lit(1)).as("n"), sum("v").as("v"), count(col("v")).as("v_nn"))
    else g.agg(count(lit(1)).as("n"), sum("v").as("v"))
  }

  /** seg -> (n, SQL sum of v): the sum is None when no v is non-null. */
  private def present(d: DF): Map[Option[String], (Long, Option[Long])] = {
    val v = if (d.columns.contains("v_nn")) when(col("v_nn") > 0, col("v")) else col("v")
    d.select(col("seg"), col("n"), v).collect().map(r => Option(r.getString(0)) ->
      ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
  }

  /** The one-dimension refresh of [[joinAgg]]'s view from (L, R) to (L′, R′). */
  private def refreshJoin(ol: DF, nl: DF, or_ : DF, nr: DF, how: String): DF =
    IncrementalAgg.refreshJoinSumCount(joinAgg(ol, or_, how),
      Snapshot.changeDataFeed(ol, nl, "k", Seq("cust", "v")), ol, nl,
      Seq(DimFeed(Snapshot.changeDataFeed(or_, nr, "cust", Seq("seg")),
        or_, nr, "cust", "cust")), how, Seq("seg"), "n", Seq("v"))

  test("refreshJoinSumCount: maintained join view == recompute across both feeds") {
    // L = orders(k, cust, v); R = customers(cust, seg). Changes exercise
    // every cross term of ΔL⋈R′ + L⋈ΔR: a left insert whose customer
    // MOVED segment, a left delete, a left reprice, a right delete that
    // must cascade its orders out of the view, a right segment move that
    // must shift existing weight, and a brand-new group ('m') appearing.
    val oldL = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L),
      (4L, 30L, 400L), (5L, 30L, 500L)).toDF("k", "cust", "v")
    val newL = Seq((1L, 10L, 101L), (3L, 20L, 300L),  // k2 deleted, k1 repriced
      (4L, 30L, 400L), (5L, 30L, 500L),
      (6L, 20L, 600L)).toDF("k", "cust", "v")         // k6 inserted (cust 20)
    val oldR = Seq((10L, "a"), (20L, "a"), (30L, "b")).toDF("cust", "seg")
    val newR = Seq((10L, "a"), (20L, "m")).toDF("cust", "seg") // 20 moves a→m, 30 deleted
    val got = present(refreshJoin(oldL, newL, oldR, newR, "inner"))
    val want = present(joinAgg(newL, newR, "inner"))
    assert(got === want)
    assert(want === Map(Some("a") -> ((1L, Some(101L))), Some("m") -> ((2L, Some(900L)))),
      "fixture must exercise cascade-delete (b gone) and group birth (m)")
  }

  test("refreshJoinSumCount: repeated refresh composes across both sides") {
    val l1 = Seq((1L, 10L, 5L)).toDF("k", "cust", "v")
    val l2 = Seq((1L, 10L, 5L), (2L, 20L, 7L)).toDF("k", "cust", "v")
    val l3 = Seq((2L, 20L, 9L)).toDF("k", "cust", "v")
    val r1 = Seq((10L, "x")).toDF("cust", "seg")
    val r2 = Seq((10L, "x"), (20L, "y")).toDF("cust", "seg")
    val r3 = Seq((20L, "x")).toDF("cust", "seg")
    def step(state: DF, ol: DF, nl: DF, or_ : DF, nr: DF) =
      IncrementalAgg.refreshJoinSumCount(state,
        Snapshot.changeDataFeed(ol, nl, "k", Seq("cust", "v")), ol, nl,
        Seq(DimFeed(Snapshot.changeDataFeed(or_, nr, "cust", Seq("seg")),
          or_, nr, "cust", "cust")), "inner", Seq("seg"), "n", Seq("v"))
    val state = step(step(joinAgg(l1, r1, "inner"), l1, l2, r1, r2), l2, l3, r2, r3)
    assert(present(state) === Map(Some("x") -> ((1L, Some(9L)))))
  }

  // the algebra's edge cases are combinatorial (which side changed,
  // insert vs delete vs update, key present on the other side or not,
  // group births/deaths, null-padded groups) — a seeded random sweep
  // per join type covers combinations no hand fixture enumerates. 10
  // trials per join type, each a fresh (L, R, ΔL, ΔR), checked against
  // L′.join(R′, how) recomputed. Columns: join type, seed, fact keys,
  // P(fact row), customers, P(customer row).
  for ((how, seed, nKeys, pL, nCust, pR) <- Seq(
      ("inner", 101, 40, 0.7, 6, 0.8),
      ("left", 307, 40, 0.7, 8, 0.6),
      ("full", 409, 30, 0.6, 9, 0.55),
      ("right", 811, 30, 0.6, 9, 0.55))) {
    val label = if (how == "inner") "refreshJoinSumCount" else s"refreshJoinSumCount $how"
    test(s"$label: maintained == recompute under seeded random churn") {
      val rnd = new scala.util.Random(seed)
      for (trial <- 1 to 10) {
        def randL() = (1 to nKeys).flatMap { k =>
          if (rnd.nextDouble() < pL)
            Some((k.toLong, (rnd.nextInt(nCust) + 1).toLong, rnd.nextInt(100).toLong))
          else None
        }
        def randR() = (1 to nCust).flatMap { c =>
          if (rnd.nextDouble() < pR) Some((c.toLong, s"g${rnd.nextInt(4)}"))
          else None
        }
        val (ol, nl) = (randL(), randL())
        val (or_, nr) = (randR(), randR())
        val olD = ol.toDF("k", "cust", "v"); val nlD = nl.toDF("k", "cust", "v")
        val orD = or_.toDF("cust", "seg"); val nrD = nr.toDF("cust", "seg")
        assert(present(refreshJoin(olD, nlD, orD, nrD, how)) ===
          present(joinAgg(nlD, nrD, how)),
          s"$how trial $trial: L $ol -> $nl; R ${or_} -> $nr")
      }
    }
  }

  /** F(k, cust, v) ⋈ D1(cust, nk) ⋈ D2(nk, name), grouped by name. */
  private def starAgg(f: DF, d1: DF, d2: DF): DF =
    f.join(d1, Seq("cust")).join(d2, Seq("nk"))
      .groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("v"))

  private def refreshStar(of: DF, nf: DF, od1: DF, nd1: DF, od2: DF, nd2: DF) =
    IncrementalAgg.refreshJoinSumCount(starAgg(of, od1, od2),
        Snapshot.changeDataFeed(of, nf, "k", Seq("cust", "v")), of, nf,
        Seq(
          DimFeed(Snapshot.changeDataFeed(od1, nd1, "cust", Seq("nk")),
            od1, nd1, "cust", "cust"),
          DimFeed(Snapshot.changeDataFeed(od2, nd2, "nk", Seq("name")),
            od2, nd2, "nk", "nk")),
        "inner", Seq("name"), "n", Seq("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("refreshJoinSumCount inner: snowflake chain == recompute under churn in all three inputs") {
    // fact churn, a customer reassigned to another nation (weight moves
    // via the D1 term), a nation RENAMED (the group key changes under
    // the view — weight moves via the D2 term over OLD fact and OLD
    // customers), and a customer delete cascading its orders out.
    val oldF = Seq((1L, 10L, 5L), (2L, 10L, 7L), (3L, 20L, 11L),
      (4L, 30L, 13L)).toDF("k", "cust", "v")
    val newF = Seq((1L, 10L, 5L), (3L, 20L, 11L),      // k2 deleted
      (4L, 30L, 17L), (5L, 20L, 19L)).toDF("k", "cust", "v") // k4 revalued, k5 new
    val oldD1 = Seq((10L, 100L), (20L, 100L), (30L, 200L)).toDF("cust", "nk")
    val newD1 = Seq((10L, 200L), (20L, 100L)).toDF("cust", "nk") // 10 moves, 30 deleted
    val oldD2 = Seq((100L, "alpha"), (200L, "beta")).toDF("nk", "name")
    val newD2 = Seq((100L, "alpha2"), (200L, "beta")).toDF("nk", "name") // rename
    val got = refreshStar(oldF, newF, oldD1, newD1, oldD2, newD2)
    val want = starAgg(newF, newD1, newD2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === want)
    // the fixture exercises what it claims: alpha renamed away, beta
    // gained customer 10's surviving order, customer 30's orders gone
    assert(!want.contains("alpha") && want.contains("alpha2") &&
      want.contains("beta"), want.toString)
  }

  test("refreshJoinSumCount inner: maintained == recompute under seeded random 3-level churn") {
    val rnd = new scala.util.Random(211)
    for (trial <- 1 to 8) {
      def randF() = (1 to 30).flatMap { k =>
        if (rnd.nextDouble() < 0.7)
          Some((k.toLong, (rnd.nextInt(5) + 1).toLong, rnd.nextInt(50).toLong))
        else None
      }
      def randD1() = (1 to 5).flatMap { c =>
        if (rnd.nextDouble() < 0.85) Some((c.toLong, (rnd.nextInt(3) + 1).toLong))
        else None
      }
      def randD2() = (1 to 3).flatMap { n =>
        if (rnd.nextDouble() < 0.9) Some((n.toLong, s"n${rnd.nextInt(4)}"))
        else None
      }
      val (of, nf) = (randF(), randF())
      val (od1, nd1) = (randD1(), randD1())
      val (od2, nd2) = (randD2(), randD2())
      val ofD = of.toDF("k", "cust", "v"); val nfD = nf.toDF("k", "cust", "v")
      val od1D = od1.toDF("cust", "nk"); val nd1D = nd1.toDF("cust", "nk")
      val od2D = od2.toDF("nk", "name"); val nd2D = nd2.toDF("nk", "name")
      val got = refreshStar(ofD, nfD, od1D, nd1D, od2D, nd2D)
      val want = starAgg(nfD, nd1D, nd2D)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === want,
        s"trial $trial: F $of -> $nf; D1 $od1 -> $nd1; D2 $od2 -> $nd2")
    }
  }

  test("refreshJoinSumCount left: null group births, deaths, and migrations == recompute") {
    // oldR matches every left key but 40; churn then deletes cust 30
    // entirely (its rows must MIGRATE to the null group), births cust 40
    // (whose rows must LEAVE it), and deletes a left row that lived in
    // the null group at old state — every movement the telescoping claims.
    val oldL = Seq((1L, 10L, 5L), (2L, 30L, 7L), (3L, 30L, 11L),
      (4L, 40L, 13L)).toDF("k", "cust", "v")
    val newL = Seq((1L, 10L, 5L), (2L, 30L, 7L), (3L, 30L, 11L),
      (5L, 40L, 17L)).toDF("k", "cust", "v") // k4 (anti at old) deleted, k5 new
    val oldR = Seq((10L, "a"), (30L, "b")).toDF("cust", "seg") // 40 unmatched
    val newR = Seq((10L, "a"), (40L, "c")).toDF("cust", "seg") // 30 dies, 40 born
    val got = present(refreshJoin(oldL, newL, oldR, newR, "left"))
    val want = present(joinAgg(newL, newR, "left"))
    assert(got === want)
    assert(want(None) === ((2L, Some(18L))), // cust 30's two rows, null group
      s"cust-30 rows must migrate to the null group: $want")
    assert(want(Some("c")) === ((1L, Some(17L))), "born key's row must leave the null group")
  }

  test("refreshJoinSumCount full: both anti directions, null-sum groups == recompute") {
    // right-anti movements the left-anti terms never see: an unmatched R
    // row renamed (group c→c2 with NULL measures), an unmatched R row
    // deleted, an L row arriving for a key R just dropped (lands
    // left-anti), and SQL's sum-of-all-null = NULL restored from the
    // maintained non-null counter.
    val oldL = Seq((1L, 10L, 5L)).toDF("k", "cust", "v")
    val newL = Seq((1L, 10L, 5L), (2L, 20L, 7L)).toDF("k", "cust", "v")
    val oldR = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("cust", "seg")
    val newR = Seq((10L, "a"), (30L, "c2"), (40L, "d")).toDF("cust", "seg")
    val got = present(refreshJoin(oldL, newL, oldR, newR, "full"))
    val want = present(joinAgg(newL, newR, "full"))
    assert(got === want)
    assert(want === Map(
      Some("a") -> ((1L, Some(5L))),
      None -> ((1L, Some(7L))),      // cust 20's new order: left-anti
      Some("c2") -> ((1L, None)),    // renamed orphan R row, NULL sum
      Some("d") -> ((1L, None))),    // born orphan R row
      want.toString)
  }

  test("refreshJoinSumCount right: orphan R rows count with NULL sums == recompute") {
    // the right-outer view: R rows are always preserved; L rows only
    // when matched. cust 20's order arrives for a key R dropped — it
    // must VANISH from the view (no left-anti terms here), and orphan R
    // rows rename/born with NULL sums via the maintained counter.
    val oldL = Seq((1L, 10L, 5L)).toDF("k", "cust", "v")
    val newL = Seq((1L, 10L, 5L), (2L, 20L, 7L)).toDF("k", "cust", "v")
    val oldR = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("cust", "seg")
    val newR = Seq((10L, "a"), (30L, "c2"), (40L, "d")).toDF("cust", "seg")
    val got = present(refreshJoin(oldL, newL, oldR, newR, "right"))
    val want = present(joinAgg(newL, newR, "right"))
    assert(got === want)
    assert(want === Map(
      Some("a") -> ((1L, Some(5L))),
      Some("c2") -> ((1L, None)),
      Some("d") -> ((1L, None))), want.toString)
  }

  test("refreshJoinSumCount: zero dims, outer chains, bad join types, fan-out refused") {
    val f = Seq((1L, 10L, 5L)).toDF("k", "cust", "v")
    val d1 = Seq((10L, 100L)).toDF("cust", "nk")
    val prev = f.join(d1, Seq("cust"))
      .groupBy("nk").agg(count(lit(1)).as("n"), sum("v").as("v"))
    val dim = DimFeed(Snapshot.changeDataFeed(d1, d1, "cust", Seq("nk")),
      d1, d1, "cust", "cust")
    def refused(dims: Seq[DimFeed], how: String, group: String = "nk",
        measure: String = "v") = intercept[IllegalArgumentException](
      IncrementalAgg.refreshJoinSumCount(prev,
        Snapshot.changeDataFeed(f, f, "k", Seq("cust", "v")), f, f, dims, how,
        Seq(group), "n", Seq(measure))).getMessage
    assert(refused(Nil, "inner").contains("at least one dimension"))
    // an outer view takes exactly one dimension; join types are spelled out
    assert(refused(Seq(dim, dim), "left").contains("exactly one dimension"))
    assert(refused(Seq(dim), "outer").contains("join type"))
    // a dimension-carried measure multiplies by join fan-out
    assert(refused(Seq(dim), "inner", group = "cust", measure = "nk")
      .contains("fan-out"))
  }

  test("refreshJoinSumCount: a snapshot carrying change_type is refused") {
    val l = Seq((1L, 10L, 5L)).toDF("k", "cust", "v")
    val r = Seq((10L, "x")).toDF("cust", "seg")
    val bad = r.withColumn("change_type", lit("insert"))
    val e = intercept[IllegalArgumentException](
      IncrementalAgg.refreshJoinSumCount(joinAgg(l, r, "inner"),
        Snapshot.changeDataFeed(l, l, "k", Seq("cust", "v")), l, l,
        Seq(DimFeed(Snapshot.changeDataFeed(r, r, "cust", Seq("seg")),
          r, bad, "cust", "cust")), "inner", Seq("seg"), "n", Seq("v")))
    assert(e.getMessage.contains("change_type"), e.getMessage)
  }

  // one fixture with a NULL group in both the state and the feed: the
  // feed deletes 20 from the NULL group and inserts 40 into it
  private def nullOld = Seq[(Long, Option[String], Long)](
    (1L, None, 10L), (2L, None, 20L), (3L, Some("a"), 30L)).toDF("k", "g", "v")
  private def nullNew = Seq[(Long, Option[String], Long)](
    (1L, None, 10L), (3L, Some("a"), 30L), (4L, None, 40L)).toDF("k", "g", "v")

  test("refreshSumCount/refreshMoments: a NULL group meets its own delta") {
    val prev = nullOld.groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("v"),
      sum(col("v") * col("v")).as("v_sq"))
    val cdf = Snapshot.changeDataFeed(nullOld, nullNew, "k")
    def rows(d: DF) = d.select("g", "n", "v").as[(Option[String], Long, Long)]
      .collect().sortBy(_.toString).toSeq
    val want = rows(nullNew.groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("v")))
    assert(want.contains((None, 2L, 50L)), want.toString)
    assert(rows(IncrementalAgg.refreshSumCount(prev.drop("v_sq"), cdf, Seq("g"),
      "n", Seq("v"))) === want)
    assert(rows(IncrementalAgg.refreshMoments(prev, cdf, Seq("g"), "n", "v")) === want)
  }

  test("refreshSupport: a NULL group's support merges with its own delta") {
    val prev = nullOld.groupBy("g", "v").agg(count(lit(1)).as("support"))
    val got = IncrementalAgg.refreshSupport(prev,
        Snapshot.changeDataFeed(nullOld, nullNew, "k"), Seq("g"), "v")
      .as[(Option[String], Long, Long)].collect().sortBy(_.toString).toSeq
    val want = nullNew.groupBy("g", "v").agg(count(lit(1)).as("support"))
      .as[(Option[String], Long, Long)].collect().sortBy(_.toString).toSeq
    assert(got === want)
  }

  test("a malformed change_type fails loudly instead of dropping weight") {
    val bad = Seq(("a", 1L, "upsert")).toDF("g", "v", "change_type")
    val e = intercept[Exception] {
      IncrementalAgg.sumCountDeltas(bad, Seq("g"), Seq("v")).collect()
    }
    assert(e.getMessage.contains("unknown change_type")
      || Option(e.getCause).exists(_.getMessage.contains("unknown change_type")))
  }

  test("refreshMinMax: rescan ONLY extremum-touching deletes; merge the rest; == recompute") {
    // g1 [1,5,9]: delete the MAX 9      → must rescan
    // g2 [2,8]:   insert 10             → monotonic merge, no rescan
    // g3 [4]:     delete 4              → rescan finds nothing, group dies
    // g4 (new):   insert 7              → monotonic (new group)
    // g5 [1,5,9]: delete the INNER 5    → extrema can't move, no rescan
    val old = Seq(
      (1L, "g1", 1L), (2L, "g1", 5L), (3L, "g1", 9L),
      (4L, "g2", 2L), (5L, "g2", 8L),
      (6L, "g3", 4L),
      (7L, "g5", 1L), (8L, "g5", 5L), (9L, "g5", 9L))
      .toDF("k", "g", "v")
    val neu = Seq(
      (1L, "g1", 1L), (2L, "g1", 5L),
      (4L, "g2", 2L), (5L, "g2", 8L), (10L, "g2", 10L),
      (11L, "g4", 7L),
      (7L, "g5", 1L), (9L, "g5", 9L))
      .toDF("k", "g", "v")
    val prev = old.groupBy("g").agg(min("v").as("mn"), max("v").as("mx"))
    val cdf = Snapshot.changeDataFeed(old, neu, "k")

    val rescan = IncrementalAgg.minMaxRescanKeys(prev, cdf, Seq("g"), "v")
      .as[String].collect().sorted.toSeq
    assert(rescan == Seq("g1", "g3"),
      s"rescan must be exactly the extremum-touching groups, got $rescan")

    val got = IncrementalAgg.refreshMinMax(prev, cdf, neu, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val want = neu.groupBy("g").agg(min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == want, s"maintained $got != recompute $want")
    assert(!got.contains("g3"), "emptied group must disappear")
  }

  test("refreshMinMax: a deleted DUPLICATE of the min forces the rescan (tie semantics)") {
    // two rows hold the min 3; deleting one leaves the min at 3 — only a
    // rescan can know that, so the tie MUST trigger one
    val old = Seq((1L, "g", 3L), (2L, "g", 3L), (3L, "g", 7L)).toDF("k", "g", "v")
    val neu = Seq((2L, "g", 3L), (3L, "g", 7L)).toDF("k", "g", "v")
    val prev = old.groupBy("g").agg(min("v").as("mn"), max("v").as("mx"))
    val cdf = Snapshot.changeDataFeed(old, neu, "k")
    assert(IncrementalAgg.minMaxRescanKeys(prev, cdf, Seq("g"), "v")
      .count() == 1L)
    val got = IncrementalAgg.refreshMinMax(prev, cdf, neu, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("g", 3L, 7L)))
  }

  test("refreshSupport: distinct-count == recompute across duplicate death and value birth") {
    // g: values {10:×2, 20:×1} → delete ONE copy of 10 (distinct stays 2),
    // delete 20's only copy (distinct drops), insert 30 (distinct gains),
    // k5 UPDATES 10→30 (support −1 on 10 kills it, +1 on existing 30)
    val old = Seq((1L, "g", 10L), (2L, "g", 10L), (3L, "g", 20L),
      (5L, "g", 10L)).toDF("k", "g", "v")
    val neu = Seq((2L, "g", 10L), (4L, "g", 30L), (5L, "g", 30L))
      .toDF("k", "g", "v")
    val prev = old.groupBy("g", "v").agg(count(lit(1)).as("support"))
    val cdf = Snapshot.changeDataFeed(old, neu, "k")
    val sup = IncrementalAgg.refreshSupport(prev, cdf, Seq("g"), "v")
    val got = IncrementalAgg.distinctFromSupport(sup, Seq("g"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("g", 2L, 3L))) // distinct {10, 30}, 3 rows
    // and the support table itself matches a recompute
    val wantSup = neu.groupBy("g", "v").agg(count(lit(1)).as("support"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(sup.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet == wantSup)
  }

  test("refreshSupport: a feed deleting a row the state never held fails loudly") {
    val prev = Seq(("g", 10L, 1L)).toDF("g", "v", "support")
    val cdf = Seq((9L, "g", 99L, "delete")).toDF("k", "g", "v", "change_type")
    val e = intercept[Exception] {
      IncrementalAgg.refreshSupport(prev, cdf, Seq("g"), "v").collect()
    }
    assert(e.getMessage.contains("negative support"))
  }

  private def topkState(rows: (String, Seq[Long])*) =
    rows.toDF("g", "topk")

  test("refreshTopK: interior delete merges; delete at the cut rescans; == recompute") {
    // a: top3 = [9,7,5]; delete the 3 (below the cut: NO rescan) and
    //    insert 8 (monotonic merge) → [9,8,7]
    // b: top3 = [6,6,4]; delete ONE duplicate of the 6 AT THE CUT? the
    //    cut is 4; delete the 4 (== kth: rescan) → [6,6,2]
    val old = Seq((1L, "a", 9L), (2L, "a", 7L), (3L, "a", 5L), (4L, "a", 3L),
      (5L, "b", 6L), (6L, "b", 6L), (7L, "b", 4L), (8L, "b", 2L))
      .toDF("k", "g", "v")
    val neu = Seq((1L, "a", 9L), (2L, "a", 7L), (3L, "a", 5L), (9L, "a", 8L),
      (5L, "b", 6L), (6L, "b", 6L), (8L, "b", 2L))
      .toDF("k", "g", "v")
    val prev = topkState("a" -> Seq(9L, 7L, 5L), "b" -> Seq(6L, 6L, 4L))
    val cdf = Snapshot.changeDataFeed(old, neu, "k")
    // only b needs the rescan
    assert(IncrementalAgg.topKRescanKeys(prev, cdf, Seq("g"), "v", 3)
      .as[String].collect().toSeq == Seq("b"))
    val got = IncrementalAgg.refreshTopK(prev, cdf, neu, Seq("g"), "v", 3)
      .as[(String, Seq[Long])].collect().toMap
    assert(got == Map("a" -> Seq(9L, 8L, 7L), "b" -> Seq(6L, 6L, 2L)))
  }

  test("refreshTopK: under-full state, group birth and group death") {
    // a holds only 2 values (< k): any delete rescans; c is new; b dies
    val old = Seq((1L, "a", 5L), (2L, "a", 3L), (3L, "b", 8L)).toDF("k", "g", "v")
    val neu = Seq((1L, "a", 5L), (4L, "c", 1L), (5L, "c", 2L)).toDF("k", "g", "v")
    val prev = topkState("a" -> Seq(5L, 3L), "b" -> Seq(8L))
    val cdf = Snapshot.changeDataFeed(old, neu, "k")
    val got = IncrementalAgg.refreshTopK(prev, cdf, neu, Seq("g"), "v", 3)
      .as[(String, Seq[Long])].collect().toMap
    assert(got == Map("a" -> Seq(5L), "c" -> Seq(2L, 1L)))
  }

  test("refreshMoments: maintained (n, Σv, Σv²) == recompute; variance derives exactly") {
    val old = Seq((1L, "a", 3L), (2L, "a", 5L), (3L, "b", 7L), (4L, "b", 7L))
      .toDF("k", "g", "v")
    // delete k=2, update k=3 (7→9), insert k=5 into a, birth group c
    val neu = Seq((1L, "a", 3L), (3L, "b", 9L), (4L, "b", 7L),
      (5L, "a", 10L), (6L, "c", 4L)).toDF("k", "g", "v")
    val prev = old.groupBy("g").agg(
      count(lit(1)).as("n"), sum(col("v")).as("v"),
      sum(col("v") * col("v")).as("v_sq"))
    val cdf = Snapshot.changeDataFeed(old, neu, "k")
    val got = IncrementalAgg.refreshMoments(prev, cdf, Seq("g"), "n", "v")
      .select(col("g"), col("n"), col("v"), col("v_sq"),
        IncrementalAgg.popVariance(col("n"), col("v"), col("v_sq")).as("pv"))
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val want = neu.groupBy("g").agg(
        count(lit(1)).as("n"), sum(col("v")).as("v"),
        sum(col("v") * col("v")).as("v_sq"))
      .select(col("g"), col("n"), col("v"), col("v_sq"),
        IncrementalAgg.popVariance(col("n"), col("v"), col("v_sq")).as("pv"))
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got == want)
    // hand value: a holds {3, 10} → mean 6.5, popvar 12.25
    assert(got("a")._5 == 12.25)
  }

  test("refreshTopK: repeated refresh composes and equals direct recompute") {
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("g").agg(slice(sort_array(collect_list(col("v")),
        asc = false), 1, 2).as("topk"))
    val v1 = Seq((1L, "g", 10L), (2L, "g", 20L), (3L, "g", 30L)).toDF("k", "g", "v")
    val v2 = Seq((1L, "g", 10L), (3L, "g", 35L), (4L, "g", 5L)).toDF("k", "g", "v")
    val v3 = Seq((3L, "g", 35L), (4L, "g", 5L), (5L, "g", 40L)).toDF("k", "g", "v")
    val s1 = topk(v1)
    val s2 = IncrementalAgg.refreshTopK(s1,
      Snapshot.changeDataFeed(v1, v2, "k"), v2, Seq("g"), "v", 2)
    val s3 = IncrementalAgg.refreshTopK(s2,
      Snapshot.changeDataFeed(v2, v3, "k"), v3, Seq("g"), "v", 2)
    assert(s3.as[(String, Seq[Long])].collect().toMap ==
      topk(v3).as[(String, Seq[Long])].collect().toMap)
  }
}
