package graft.cind

import graft.SparkSpec
import graft.core.{Capture, ConditionCodes}

/** End-to-end CIND discovery on the hand-checkable fixture from FIXTURES.md
  * §2.1, verified against an in-test brute-force oracle that derives the CIND
  * set directly from first principles (capture value-set containment).
  */
class CindEngineSpec extends SparkSpec {

  // FIXTURES.md §2.1 cind_tiny — every CIND class has a witness at support 2.
  val tiny: Seq[(String, String, String)] = Seq(
    ("a1", "employs", "p1"), ("a1", "employs", "p2"),
    ("a2", "employs", "p3"), ("a2", "employs", "p4"),
    ("p1", "worksFor", "a1"), ("p2", "worksFor", "a1"),
    ("p3", "worksFor", "a2"), ("p4", "worksFor", "a2"),
    ("p1", "type", "Person"), ("p2", "type", "Person"),
    ("p3", "type", "Person"), ("p4", "type", "Person"))

  import ConditionCodes.{S, P, O}

  def bruteForce(triples: Seq[(String, String, String)], minSupport: Int)
      : Set[(Capture, Capture, Long)] = BruteForce(triples, minSupport)

  def toDF(ts: Seq[(String, String, String)]) = {
    import spark.implicits._
    ts.toDF("subj", "pred", "obj")
  }

  /** A strategy's rows as a set, after checking that no row repeats: a set
    * comparison alone would not see a CIND emitted twice. */
  def distinctKeys(rows: Array[CindRow]): Set[(Capture, Capture, Long)] = {
    val keys = rows.map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support))
    val repeated = keys.diff(keys.distinct)
    assert(repeated.isEmpty, s"duplicate rows: ${repeated.mkString(", ")}")
    keys.toSet
  }

  test("allCinds matches the brute-force oracle on cind_tiny (support 2)") {
    val got = distinctKeys(CindEngine.allCinds(toDF(tiny), minSupport = 2).collect())
    val want = bruteForce(tiny, 2)
    assert(got == want, s"\nmissing=${want -- got}\nextra=${got -- want}")
    assert(got.nonEmpty)
    // spot-checks from FIXTURES.md §2.1
    val oPemploys = Capture(ConditionCodes.capture(P, O), "employs", "")
    val sPworksFor = Capture(ConditionCodes.capture(P, S), "worksFor", "")
    val sPtype = Capture(ConditionCodes.capture(P, S), "type", "")
    assert(got.contains((oPemploys, sPworksFor, 4L)))
    assert(got.contains((oPemploys, sPtype, 4L)))
    assert(got.contains((sPworksFor, oPemploys, 4L)))
  }

  test("shuffle-join encode fallback is result-identical to the broadcast encode") {
    // dictEncodeMaxBroadcastRows = 0 forces the scale valve: no driver-side
    // dict collect, encode via shuffle equi-join — results must be
    // bit-identical
    def run() = distinctKeys(CindEngine.allCinds(toDF(tiny), minSupport = 2).collect())
    val bExact = run()
    spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
    try assert(run() == bExact)
    finally spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
    assert(bExact == bruteForce(tiny, 2))
  }

  test("every strategy and join-line statistic leaves only its result cached, in both encode regimes") {
    // library entry points on a long-lived session: each call holds exactly
    // one new cached relation — the returned Dataset — and the caller's
    // unpersist() releases it, so no internal persist outlives the call
    import org.apache.spark.sql.graft.CacheProbe
    def held() = (CacheProbe.entries(spark), spark.sparkContext.getPersistentRDDs.keySet.toSet)
    val calls: Seq[(String, () => org.apache.spark.sql.Dataset[_])] = Seq(
      "count-match" -> (() => CindEngine.allCinds(toDF(tiny), minSupport = 2)),
      "tworound" -> (() => CindEngine.allCindsTwoRound(toDF(tiny), minSupport = 2)),
      "hybrid" -> (() => CindEngine.allCindsHybrid(toDF(tiny), minSupport = 2)),
      "small-to-large" -> (() => CindEngine.allCindsSmallToLarge(toDF(tiny), minSupport = 2)),
      "intersect" -> (() => CindEngine.allCindsIntersect(toDF(tiny), minSupport = 2)),
      "bloom" -> (() => CindEngine.allCinds(toDF(tiny), minSupport = 2, bloomConditions = true)),
      "joinLineHistogram" -> (() => CindEngine.joinLineHistogram(toDF(tiny), minSupport = 2)),
      "unaryOverlaps" -> (() => CindEngine.unaryOverlaps(toDF(tiny), minSupport = 2)))
    for (fallback <- Seq(false, true); (name, call) <- calls) {
      val ctx = s"$name (shuffle-join encode: $fallback)"
      if (fallback) spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
      try {
        val (n0, rdds0) = held()
        val out = call()
        val (n1, rdds1) = held()
        assert(n1 == n0 + 1, ctx)
        assert(CacheProbe.isCached(spark, out), ctx)
        assert((rdds1 -- rdds0).size == 1, ctx)
        out.unpersist()
        val (n2, rdds2) = held()
        assert(n2 == n0, ctx)
        assert((rdds2 -- rdds0).isEmpty, ctx)
      } finally spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
    }
  }

  test("allCinds respects the support threshold") {
    val got = CindEngine.allCinds(toDF(tiny), minSupport = 3).collect()
    assert(got.forall(_.support >= 3))
    // {a1,a2}-valued captures (support 2) must be gone as deps
    assert(!got.exists(r => r.dep_v1 == "employs" && r.dep_code ==
      ConditionCodes.capture(P, S)))
    val want = bruteForce(tiny, 3)
    val gotSet = got.map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    assert(gotSet == want)
  }

  test("minimalCinds drops implied CINDs and keeps the rest") {
    import spark.implicits._
    val all = CindEngine.allCinds(toDF(tiny), minSupport = 2)
    val minimal = CindEngine.minimalCinds(all.toDF()).as[CindRow].collect()
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2))).toSet
    val allSet = all.collect().map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2))).toSet
    assert(minimal.subsetOf(allSet))
    // (a) binary dep implied by unary-dep CIND with same ref:
    //     s[p=type,o=Person] ⊑ o[p=employs] implied by s[p=type] ⊑ o[p=employs]
    val binDep = Capture(ConditionCodes.capture(P | O, S), "type", "Person")
    val ref = Capture(ConditionCodes.capture(P, O), "employs", "")
    assert(allSet.contains((binDep, ref)))
    assert(!minimal.contains((binDep, ref)))
    // (b) unary ref implied by binary-ref CIND from same dep:
    //     s[p=worksFor] ⊑ s[o=Person] implied by s[p=worksFor] ⊑ s[p=type,o=Person]
    val dep = Capture(ConditionCodes.capture(P, S), "worksFor", "")
    val uRef = Capture(ConditionCodes.capture(O, S), "Person", "")
    val bRef = Capture(ConditionCodes.capture(P | O, S), "type", "Person")
    assert(allSet.contains((dep, bRef)))
    assert(allSet.contains((dep, uRef)))
    assert(!minimal.contains((dep, uRef)))
    assert(minimal.contains((dep, bRef)))
  }

  test("count-match and intersect strategies agree (cross-strategy invariant)") {
    val a = distinctKeys(CindEngine.allCinds(toDF(tiny), minSupport = 2).collect())
    val b = distinctKeys(CindEngine.allCindsIntersect(toDF(tiny), minSupport = 2).collect())
    assert(a == b)
  }

  test("skew split leaves the CIND set unchanged (rebalancing invariant)") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    // threshold 2 forces every line wider than 2 captures through the
    // slice-replicate-repartition path (FIXTURES.md skew.nt invariant)
    val split = CindEngine.allCinds(toDF(tiny), minSupport = 2, splitThreshold = 2)
      .collect().map(key).toSet
    assert(split == bruteForce(tiny, 2))
  }

  test("bloom condition pruning leaves the CIND set unchanged") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    val b = CindEngine.allCinds(toDF(tiny), minSupport = 2, bloomConditions = true)
      .collect().map(key).toSet
    assert(b == bruteForce(tiny, 2))
  }

  test("unaryOverlaps reports exact co-occurrence counts; overlap==support <=> CIND") {
    val ov = CindEngine.unaryOverlaps(toDF(tiny), minSupport = 2).collect()
      .map(r => ((Capture(r.getInt(0), r.getString(1), ""),
        Capture(r.getInt(2), r.getString(3), "")), (r.getLong(4), r.getLong(5)))).toMap
    // o[p=employs] (4 values) vs s[p=worksFor] (4 values): all 4 co-occur
    val dep = Capture(ConditionCodes.capture(P, O), "employs", "")
    val ref = Capture(ConditionCodes.capture(P, S), "worksFor", "")
    assert(ov((dep, ref)) == ((4L, 4L)))
    // s[p=employs] {a1,a2} vs s[p=worksFor] {p1..p4}: no shared values -> absent
    assert(!ov.contains((Capture(ConditionCodes.capture(P, S), "employs", ""), ref)))
    // the CIND criterion: overlap == dep_support exactly for brute-force CINDs
    val cindsFromOverlaps = ov.collect { case ((d, r), (o, s)) if o == s && !d.implies(r) => (d, r, s) }.toSet
    val unaryBrute = bruteForce(tiny, 2).filter { case (d, r, _) => d.isUnary && r.isUnary }
    assert(cindsFromOverlaps == unaryBrute)
    // the whole relation against the brute force, in both encode regimes:
    // every ordered pair of distinct frequent unary captures sharing
    // >= minSupport values, once, with its overlap and dep support
    def rows(minSupport: Int) = {
      val got = CindEngine.unaryOverlaps(toDF(tiny), minSupport).collect()
        .map(r => (Capture(r.getInt(0), r.getString(1), ""),
          Capture(r.getInt(2), r.getString(3), ""), r.getLong(4), r.getLong(5)))
      assert(got.distinct.length == got.length, s"a pair repeats (minSupport $minSupport)")
      got.toSet
    }
    for (fallback <- Seq(false, true); minSupport <- Seq(1, 2, 3)) {
      val want = BruteForce.unaryOverlaps(tiny, minSupport)
      assert(want.nonEmpty)
      if (fallback) spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
      try {
        val got = rows(minSupport)
        assert(got == want, s"(minSupport $minSupport, shuffle-join encode: $fallback)" +
          s"\nmissing=${want -- got}\nextra=${got -- want}")
      } finally spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
    }
  }

  test("two-round sketch-pruned strategy equals the exact CIND set") {
    // the strategy's name runs count-match (CindEngine.allCindsIntersect)
    val t = distinctKeys(CindEngine.allCindsTwoRound(toDF(tiny), minSupport = 2).collect())
    assert(t == bruteForce(tiny, 2))
  }

  test("small-to-large staged strategy equals the exact CIND set") {
    // the strategy's name runs count-match; the fixture has witnesses in
    // all four arity classes
    val got = distinctKeys(CindEngine.allCindsSmallToLarge(toDF(tiny), minSupport = 2)
      .collect())
    val want = bruteForce(tiny, 2)
    assert(got == want, s"\nmissing=${want -- got}\nextra=${got -- want}")
    assert(got.exists { case (d, r, _) => d.v2 != "" && r.v2 != "" }) // a 2/2 survived
  }

  test("allCindsPruned drops AR-implied binary captures and implied 1/1 CINDs") {
    def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
      Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)
    val got = CindEngine.allCindsPruned(toDF(tiny), minSupport = 2)
      .collect().map(key).toSet
    // rules at support 2 on cind_tiny: p=type->o=Person (and converse),
    // s=a1->p=employs, s=a2->p=employs, o=a1->p=worksFor, o=a2->p=worksFor.
    // (1) binary captures merging a rule's two sides are never emitted:
    val arBinary = Set(
      Capture(ConditionCodes.capture(P | O, S), "type", "Person"),
      Capture(ConditionCodes.capture(P | O, S), "worksFor", "a1"),
      Capture(ConditionCodes.capture(P | O, S), "worksFor", "a2"),
      Capture(ConditionCodes.capture(S | P, O), "a1", "employs"),
      Capture(ConditionCodes.capture(S | P, O), "a2", "employs"))
    // (2) the rule-implied 1/1 CINDs proj[ante] ⊑ proj[cons] are filtered:
    val implied = Set(
      (Capture(ConditionCodes.capture(P, S), "type", ""),
        Capture(ConditionCodes.capture(O, S), "Person", "")),
      (Capture(ConditionCodes.capture(O, S), "Person", ""),
        Capture(ConditionCodes.capture(P, S), "type", "")),
      (Capture(ConditionCodes.capture(S, O), "a1", ""),
        Capture(ConditionCodes.capture(P, O), "employs", "")),
      (Capture(ConditionCodes.capture(S, O), "a2", ""),
        Capture(ConditionCodes.capture(P, O), "employs", "")),
      (Capture(ConditionCodes.capture(O, S), "a1", ""),
        Capture(ConditionCodes.capture(P, S), "worksFor", "")),
      (Capture(ConditionCodes.capture(O, S), "a2", ""),
        Capture(ConditionCodes.capture(P, S), "worksFor", "")))
    val want = bruteForce(tiny, 2).filterNot { case (d, r, _) =>
      arBinary(d) || arBinary(r) || implied((d, r)) }
    assert(got == want, s"\nmissing=${want -- got}\nextra=${got -- want}")
    // sanity: the pruning actually removed something on this fixture
    assert(want.size < bruteForce(tiny, 2).size)
    assert(got.nonEmpty)
  }

  test("duplicate triples do not change the CIND set (set semantics)") {
    val got = CindEngine.allCinds(toDF(tiny ++ tiny), minSupport = 2).collect()
      .map(r => (Capture(r.dep_code, r.dep_v1, r.dep_v2),
        Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)).toSet
    assert(got == bruteForce(tiny, 2))
  }

  test("line kernel: lines and dictionary match a collect_set brute force across scattered partitions") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions.{col, collect_set, max, spark_partition_id, struct}
    type Cap = (Int, String, String)
    def caps(rows: Seq[Row]): Seq[Cap] = rows.map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    def bruteLines(instances: DataFrame): Map[String, Set[Cap]] = instances.groupBy("join_val")
      .agg(collect_set(struct(col("code"), col("v1"), col("v2"))).as("caps"))
      .collect().map(r => r.getString(0) -> caps(r.getSeq[Row](1)).toSet).toMap
    /** `lines` holds one row per join value, its captures distinct, sorted
      * in Spark's order and equal to the brute force over `instances`. */
    def checkLines(lines: DataFrame, instances: DataFrame, ctx: String): Unit = {
      val got = lines.collect().map(r => r.getString(0) -> caps(r.getSeq[Row](1)))
      assert(got.map(_._1).distinct.length == got.length, ctx)
      for ((jv, cs) <- got) {
        assert(cs.distinct == cs, s"$ctx: $jv repeats a capture")
        val asCaptures = cs.map { case (c, v1, v2) => Capture(c, v1, v2) }
        assert(asCaptures == asCaptures.sorted(JoinLines.CaptureOrder), s"$ctx: $jv unsorted")
      }
      assert(got.map { case (jv, cs) => jv -> cs.toSet }.toMap == bruteLines(instances), ctx)
    }
    // one input partition per entry: the type/Person instance of p1 repeats
    // inside partition 0 and again in partitions 2 and 5; the join values
    // "Person" and "type" are spread over four partitions; 1, 3 and 6 are
    // empty
    val layout: Seq[Seq[(String, String, String)]] = Seq(
      tiny :+ ("p1", "type", "Person"), Nil,
      Seq(("p1", "type", "Person"), ("p5", "type", "Person")), Nil,
      Seq(("p6", "type", "Person"), ("p5", "worksFor", "a1")),
      Seq(("p1", "type", "Person"), ("a1", "employs", "p5")), Nil)
    val scattered = spark.sparkContext.parallelize(layout, layout.size)
      .flatMap(identity).toDF("subj", "pred", "obj")
    // and every join value round-robined over five partitions, each triple twice
    val repartitioned = toDF(tiny ++ tiny).repartition(5)
    for ((name, triples) <- Seq("scattered" -> scattered, "repartitioned" -> repartitioned)) {
      // the kernel itself, on the layout as given: the fan-out is a map,
      // while the prune's semi-join below may re-shuffle a stats-less input
      val instances = CindEngine.captureInstances(triples)
      val spread = instances.select(col("join_val"), spark_partition_id().as("pid")).distinct()
        .groupBy("join_val").count().agg(max("count")).head().getLong(0)
      assert(spread >= 4, s"$name: a join value must span several input partitions")
      checkLines(JoinLines(instances), instances, name)
    }
    for ((name, triples, rows) <- Seq(("scattered", scattered, layout.flatten.distinct),
         ("repartitioned", repartitioned, tiny));
         fallback <- Seq(false, true)) {
      val ctx = s"$name (shuffle-join encode: $fallback)"
      if (fallback) spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
      try {
        val pruned = CindEngine.prunedCaptureInstances(triples, 2)
        val wantLines = bruteLines(pruned)
        val wantDict: Map[Cap, Long] = wantLines.values.toSeq.flatten
          .groupBy(identity).map { case (c, seen) => c -> seen.size.toLong }
          .filter(_._2 >= 2)
        val enc = CindEngine.encodedJoinLines(triples, minSupport = 2)
        try {
          checkLines(enc.internal.head.toDF(), pruned, ctx) // the cached kernel lines
          val dict = enc.dict.select("code", "v1", "v2", "support", "id").collect()
          assert(dict.map(r => (r.getInt(0), r.getString(1), r.getString(2)) -> r.getLong(3))
            .toMap == wantDict, ctx)
          assert(enc.nDict == wantDict.size, ctx)
          val capOf = dict.map(r => r.getLong(4) -> (r.getInt(0), r.getString(1), r.getString(2))).toMap
          val lines = enc.lines.select(col("join_val"), col("ids")).collect()
            .map(r => r.getString(0) -> r.getSeq[Long](1))
          lines.foreach { case (jv, ids) => assert(ids.distinct == ids, s"$ctx: $jv") }
          val gotLines = lines.groupBy(_._1).map { case (jv, parts) =>
            jv -> parts.flatMap(_._2).map(capOf).toSet }
          val wantEncoded = wantLines.map { case (jv, cs) => jv -> cs.filter(wantDict.contains) }
            .filter(_._2.nonEmpty)
          assert(gotLines == wantEncoded, ctx)
        } finally enc.internal.foreach(_.unpersist())
        assert(distinctKeys(CindEngine.allCinds(triples, minSupport = 2).collect()) ==
          bruteForce(rows, 2), ctx)
      } finally spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
    }
  }

  test("shuffle-regime regroup keeps a mega-value whole: identical lines") {
    // a join value co-occurring with >= 1e5 captures must pass the
    // shuffle-encode regroup under SMALL shuffle partitions (the spec
    // session runs 4) as ONE line of distinct ids, and the regrouped lines
    // must decode IDENTICALLY to the broadcast-regime encode
    import org.apache.spark.sql.functions.{col, concat, explode, lit}
    val n = 60000
    // every triple shares pred "p" and obj "hub": the o-projected join line
    // for "hub" (and the p-projected line for "p") holds 2n+1 captures
    val triples = spark.range(n).select(
      concat(lit("s"), col("id")).as("subj"), lit("p").as("pred"),
      lit("hub").as("obj"))
    def decodedLines(forceFallback: Boolean)
        : (Map[String, Set[(Int, String, String)]], Map[String, Int], Seq[String]) = {
      if (forceFallback) spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
      try {
        val enc = CindEngine.encodedJoinLines(triples, minSupport = 1)
        val (dict, lines) = (enc.dict, enc.lines)
        val values = lines.select(col("join_val")).collect().map(_.getString(0)).toSeq
        val rows = lines.select(col("join_val"), explode(col("ids")).as("id"))
          .join(dict.select(col("id"), col("code"), col("v1"), col("v2")), "id")
          .select(col("join_val"), col("code"), col("v1"), col("v2"))
          .collect()
        enc.internal.foreach(_.unpersist())
        val byVal = rows.groupBy(_.getString(0))
        (byVal.map { case (jv, rs) =>
           jv -> rs.map(r => (r.getInt(1), r.getString(2), r.getString(3))).toSet },
         byVal.map { case (jv, rs) => jv -> rs.length },
         values)
      } finally if (forceFallback)
        spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
    }
    val (shuffled, shuffledLens, values) = decodedLines(forceFallback = true)
    val (bcast, _, _) = decodedLines(forceFallback = false)
    assert(shuffled("hub").size == 2 * n + 1) // the mega line: >= 1e5 captures
    // one row per join value: no value split into parts
    assert(values.distinct.length == values.length, "a value split into parts")
    // no id duplicated by the regroup (each line's ids stay a set)
    shuffledLens.foreach { case (jv, len) => assert(len == shuffled(jv).size, jv) }
    assert(shuffled == bcast)
  }

  test("shuffle-regime lines decode as the broadcast lines do on the tiny fixture") {
    // the shuffle-join encode regroups each line from its exploded,
    // dictionary-joined captures: every value must come back as ONE line of
    // distinct ids, the lines must decode as the broadcast regime's do, and
    // the CIND set must not change
    import org.apache.spark.sql.functions.{col, explode}
    def decodedLines(): Map[String, Set[(Int, String, String)]] = {
      val enc = CindEngine.encodedJoinLines(toDF(tiny), minSupport = 2)
      try {
        val perLine = enc.lines.select(col("join_val"), col("ids")).collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1))
        assert(perLine.map(_._1).distinct.length == perLine.length, "a value split into parts")
        perLine.foreach { case (jv, ids) => assert(ids.distinct == ids, jv) }
        enc.lines.select(col("join_val"), explode(col("ids")).as("id"))
          .join(enc.dict, "id").collect()
          .groupBy(_.getAs[String]("join_val"))
          .map { case (jv, rs) => jv -> rs.map(r =>
            (r.getAs[Int]("code"), r.getAs[String]("v1"), r.getAs[String]("v2"))).toSet }
      } finally enc.internal.foreach(_.unpersist())
    }
    val whole = decodedLines()
    assert(whole.values.map(_.size).max > 2, "no line wider than two captures")
    spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
    try {
      assert(decodedLines() == whole)
      assert(distinctKeys(CindEngine.allCinds(toDF(tiny), minSupport = 2).collect()) ==
        bruteForce(tiny, 2))
    } finally spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
  }

  test("projection restriction equals full discovery filtered to those projections") {
    val full = CindEngine.allCinds(toDF(tiny), 2).collect().toSet
    val sOnly = CindEngine.allCinds(toDF(tiny), 2, projections = "s").collect().toSet
    val sCodes = Set(10, 12, 14) // the three s-projection capture codes
    assert(sOnly == full.filter(c => sCodes(c.dep_code) && sCodes(c.ref_code)))
    val spOnly = CindEngine.allCinds(toDF(tiny), 2, projections = "sp").collect().toSet
    val spCodes = Set(10, 12, 14, 17, 20, 21)
    assert(spOnly == full.filter(c => spCodes(c.dep_code) && spCodes(c.ref_code)))
    intercept[IllegalArgumentException](
      CindEngine.captureInstances(toDF(tiny), "xyz"))
  }

  // Two-level condition counting at support 3. Counted per triple ROW, so
  // the duplicates count: ("g", "hates", "w") x3 makes every condition of
  // that triple frequent through duplicates alone.
  val twoLevel: Seq[(String, String, String)] = Seq(
    ("a", "knows", "x"), ("b", "knows", "x"), ("c", "knows", "x"), // frequent binary (knows, x)
    ("a", "likes", "y"), ("d", "likes", "y"), ("e", "likes", "y"), // a and y frequent, (a, y) not
    ("a", "owns", "z"),
    ("f", "rare", "x"), // (rare, x): its member "rare" is infrequent
    ("b", "knows", "x"),
    ("g", "hates", "w"), ("g", "hates", "w"), ("g", "hates", "w"))

  /** The six condition counts of `ts`, string-exact, one per triple row. */
  def conditionCountsOf(ts: Seq[(String, String, String)]): Map[(Int, String, String), Int] =
    ts.flatMap { case (s, p, o) =>
      Seq((S, s, ""), (P, p, ""), (O, o, ""), (S | P, s, p), (S | O, s, o), (P | O, p, o))
    }.groupBy(identity).map { case (c, seen) => c -> seen.size }

  /** Capture instances `(code, v1, v2, join_val, cond_code)` of `ts` whose
    * condition is matched by >= minSupport triples: the exact prune. */
  def prunedBruteForce(ts: Seq[(String, String, String)], minSupport: Int)
      : Seq[(Int, String, String, String, Int)] = {
    val cnt = conditionCountsOf(ts)
    ts.flatMap { case (s, p, o) =>
      Seq((P, S, p, "", s), (O, S, o, "", s), (P | O, S, p, o, s),
        (S, P, s, "", p), (O, P, o, "", p), (S | O, P, s, o, p),
        (S, O, s, "", o), (P, O, p, "", o), (S | P, O, s, p, o))
    }.filter { case (cond, _, v1, v2, _) => cnt((cond, v1, v2)) >= minSupport }
      .map { case (cond, proj, v1, v2, jv) => (ConditionCodes.capture(cond, proj), v1, v2, jv, cond) }
      .sorted
  }

  /** `ts` as a stats-less RDD source: the planner cannot size aggregates
    * over it, as with a large input. */
  def rddTriples(ts: Seq[(String, String, String)]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructType}
    val schema = new StructType().add("subj", StringType).add("pred", StringType)
      .add("obj", StringType)
    spark.createDataFrame(spark.sparkContext.parallelize(
      ts.map { case (s, p, o) => Row(s, p, o) }, 3), schema)
  }

  test("two-level condition counts: the prune equals a string-exact brute force in both regimes") {
    val cnt = conditionCountsOf(twoLevel)
    val binary = cnt.filter { case ((c, _, _), _) => Integer.bitCount(c) == 2 }
    def frequentMembers(c: (Int, String, String)) = {
      val (code, v1, v2) = c
      val first = Integer.lowestOneBit(code)
      Seq((first, v1, ""), (code & ~first, v2, "")).count(cnt(_) >= 3)
    }
    // the fixture holds every class the binary level distinguishes
    assert(binary.exists { case (c, n) => n >= 3 && frequentMembers(c) == 2 })
    assert(binary.exists { case (c, n) => n < 3 && frequentMembers(c) == 2 })
    assert(binary.exists { case (c, _) => frequentMembers(c) == 1 })
    assert(twoLevel.diff(twoLevel.distinct).nonEmpty)
    import org.apache.spark.sql.graft.CacheProbe
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val want = prunedBruteForce(twoLevel, 3)
    val cinds = bruteForce(twoLevel, 3)
    assert(cinds.exists { case (dep, ref, _) => dep.v2.nonEmpty || ref.v2.nonEmpty })
    // room for U alone: U is collected, B is read back from its shuffle
    val nU = cnt.count { case ((c, _, _), n) => Integer.bitCount(c) == 1 && n >= 3 }
    for (threshold <- Seq("10MB", (16 * nU).toString, "-1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      try {
        for (triples <- Seq(toDF(twoLevel), rddTriples(twoLevel))) {
          val (n0, rdds0) = (CacheProbe.entries(spark), spark.sparkContext.getPersistentRDDs.size)
          val pruned = CindEngine.prunedCaptureInstances(triples, 3)
          val got = pruned.select("code", "v1", "v2", "join_val", "cond_code").collect()
            .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
            .toSeq.sorted
          assert(got == want, s"threshold $threshold")
          // each level is counted once, before the prune: whether it was
          // collected or is read back from its shuffle, the prune's own
          // plan recounts nothing
          val plan = nodes(pruned.queryExecution.executedPlan)
          assert(!plan.exists(_.isInstanceOf[HashAggregateExec]), s"threshold $threshold: $plan")
          if (threshold == "-1") {
            assert(!plan.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan)
            assert(plan.exists {
              case j: SortMergeJoinExec => j.joinType == LeftSemi
              case _ => false
            }, plan)
          }
          CindEngine.bloomPrunedCaptureInstances(triples, 3).count()
          // the prune entry points leave nothing cached
          assert(CacheProbe.entries(spark) == n0, s"threshold $threshold")
          assert(spark.sparkContext.getPersistentRDDs.size == rdds0, s"threshold $threshold")
          for (bloom <- Seq(false, true))
            assert(distinctKeys(CindEngine.allCinds(triples, minSupport = 3,
              bloomConditions = bloom).collect()) == cinds, s"threshold $threshold, bloom $bloom")
        }
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("the condition prune is a map-side broadcast semi-join feeding the line kernel") {
    import org.apache.spark.sql.execution.{GenerateExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    // root-to-node paths of every node `hit` matches
    def paths(p: SparkPlan, hit: SparkPlan => Boolean): Seq[List[SparkPlan]] =
      (if (hit(p)) Seq(List(p)) else Nil) ++ kids(p).flatMap(paths(_, hit).map(p :: _))
    // a stats-less source: an unhinted aggregate of it would plan as a
    // shuffle join and shuffle the whole instance stream first
    val lines = JoinLines(CindEngine.prunedCaptureInstances(rddTriples(twoLevel), 3))
    lines.collect()
    val plan = lines.queryExecution.executedPlan
    val fanOut = paths(plan, _.isInstanceOf[GenerateExec])
    assert(fanOut.size == 1, plan)
    // from the capture fan-out up to the kernel's map-side sort
    val segment = fanOut.head.reverse.takeWhile(!_.isInstanceOf[SortExec])
    assert(segment.size < fanOut.head.size, plan)
    assert(!segment.exists(n => n.isInstanceOf[ShuffleExchangeLike] ||
      n.isInstanceOf[ShuffleQueryStageExec]), plan)
    val semi = segment.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
    }
    assert(semi.size == 1, plan)
    // the collected keys sit in one partition: the broadcast reads them
    // back in one task, not one per core
    def built(p: SparkPlan): SparkPlan = p match {
      case b: BroadcastExchangeLike => b.child
      case other => built(kids(other).head)
    }
    assert(built(semi.head.right).execute().getNumPartitions == 1, plan)
  }

  test("the dictionary encode runs once per line in each consumer branch") {
    import graft.functions.DictEncodeIds
    def encodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case node =>
        node.expressions.map(_.collect { case d: DictEncodeIds => d }.size).sum
      }.sum
    val enc = CindEngine.encodedJoinLines(toDF(tiny), minSupport = 2)
    try {
      assert(enc.broadcast)
      assert(encodes(enc.lines) == 1)
      // the kernel reads the lines in a narrow and a wide branch
      assert(encodes(PairCounts(enc.lines, 2, CindEngine.SplitThreshold)) == 2)
    } finally enc.internal.foreach(_.unpersist())
    assert(distinctKeys(CindEngine.allCinds(toDF(tiny), minSupport = 2).collect()) ==
      bruteForce(tiny, 2))
  }
}
