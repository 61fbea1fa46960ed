package graft.cind

import graft.core.Capture
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Generative end-to-end check: on random triple multisets over a small
  * vocabulary (dense co-occurrence, lots of boundary cases: equal value
  * sets, empty intersections, duplicate triples, hub values), the engine's
  * CIND set must equal the first-principles brute-force oracle. Catches
  * edge cases the hand fixtures cannot enumerate. */
object RandomizedCindProps extends Properties("graft.cind.e2e") {

  // Spark jobs per case are expensive; 8 random multisets is plenty on top
  // of the deterministic fixtures.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  lazy val spark = graft.SparkSpec.session

  private val term = Gen.oneOf("a", "b", "c", "d")
  private val triple = for {
    s <- term; p <- Gen.oneOf("p", "q"); o <- term
  } yield (s, p, o)
  private val triples = Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, triple))

  private def key(r: CindRow) = (Capture(r.dep_code, r.dep_v1, r.dep_v2),
    Capture(r.ref_code, r.ref_v1, r.ref_v2), r.support)

  // every strategy check compares sets, which alone would not see a CIND
  // emitted twice: each also requires the rows to be distinct
  private def distinct(rows: Array[CindRow]) = rows.length == rows.distinct.length

  property("allCinds == bruteForce on random triple multisets") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      val rows = CindEngine.allCinds(df, minSupport = 2).collect()
      // strategy 0's k-way intersection over the same encoded lines
      val rowsIntersect = CindEngine.allCindsIntersect(df, minSupport = 2).collect()
      val (got, gotIntersect) = (rows.map(key).toSet, rowsIntersect.map(key).toSet)
      val want = BruteForce(ts, 2)
      for ((name, g) <- Seq("count-match" -> got, "intersect" -> gotIntersect)
           if g != want)
        println(s"$name triples=$ts\nmissing=${want -- g}\nextra=${g -- want}")
      got == want && gotIntersect == want && distinct(rows) && distinct(rowsIntersect)
    }

  property("two-round strategy matches brute force on random multisets") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      val rows = CindEngine.allCindsTwoRound(df, minSupport = 2, expectedPairs = 128)
        .collect()
      rows.map(key).toSet == BruteForce(ts, 2) && distinct(rows)
    }

  property("small-to-large strategy matches brute force on random multisets") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      val rows = CindEngine.allCindsSmallToLarge(df, minSupport = 2).collect()
      val got = rows.map(key).toSet
      val want = BruteForce(ts, 2)
      if (got != want) {
        println(s"triples=$ts\nmissing=${want -- got}\nextra=${got -- want}")
      }
      got == want && distinct(rows)
    }

  property("hybrid strategy matches brute force on random multisets") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      // spill 2 forces a dense mix of exact and Bloom evidences on these
      // small lines — both halves of the hybrid buffer stay live
      val rows = CindEngine.allCindsHybrid(df, minSupport = 2, spillThreshold = 2)
        .collect()
      val got = rows.map(key).toSet
      val want = BruteForce(ts, 2)
      if (got != want) {
        println(s"triples=$ts\nmissing=${want -- got}\nextra=${got -- want}")
      }
      got == want && distinct(rows)
    }

  // the pair-count kernel with a 5-key buffer and 7 buckets (many flushes,
  // many buckets per partition) and hub slicing at width 3, under every
  // strategy that counts unordered pairs, in both encode regimes
  property("tiny pair-count kernel: count-match, two-round and small-to-large == bruteForce") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      val tiny = PairCounts.Sizes(bufferCapacity = 5, buckets = 7)
      def run(persistLines: Boolean)(evidence: EncodedLines => Evidence) =
        CindEngine.discover(df, 2, bloomConditions = false, bloomCaptures = false,
          expectedFrequentKeys = 10000000L, projections = "spo", arRules = None,
          persistLines = persistLines)(evidence).collect()
      val strategies: Seq[(String, () => Array[CindRow])] = Seq(
        "count-match" -> (() => run(persistLines = false)(
          CindEngine.countMatchEvidence(_, 2, 3, tiny))),
        "two-round" -> (() => run(persistLines = true)(
          CindEngine.twoRoundEvidence(_, 2, expectedPairs = 128, 3, tiny))),
        "small-to-large" -> (() => run(persistLines = false)(
          CindEngine.smallToLargeEvidence(_, 2, 3, tiny))))
      val want = BruteForce(ts, 2)
      val results = for (shuffleEncode <- Seq(false, true); (name, strategy) <- strategies) yield {
        if (shuffleEncode) spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
        val rows = try strategy()
          finally spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
        val got = rows.map(key).toSet
        if (got != want || !distinct(rows))
          println(s"$name (shuffle-join encode: $shuffleEncode) triples=$ts\n" +
            s"missing=${want -- got}\nextra=${got -- want}\nrows=${rows.length}")
        got == want && distinct(rows)
      }
      results.forall(identity)
    }

  // the full option stack (AR pruning + both Bloom paths) composed onto two
  // structurally different strategies must agree on arbitrary inputs — the
  // randomized counterpart of MainSpec's fixture flag matrix
  property("AR + Bloom composition: count-match and small-to-large agree") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      val rules = CindEngine.associationRules(df, 2)
      val rowsA = CindEngine.allCinds(df, minSupport = 2,
        bloomConditions = true, bloomCaptures = true, arRules = Some(rules)).collect()
      val rowsB = CindEngine.allCindsSmallToLarge(df, minSupport = 2,
        bloomConditions = true, bloomCaptures = true, arRules = Some(rules)).collect()
      val (a, b) = (rowsA.map(key).toSet, rowsB.map(key).toSet)
      if (a != b) println(s"triples=$ts\nonly-cm=${a -- b}\nonly-s2l=${b -- a}")
      a == b && distinct(rowsA) && distinct(rowsB)
    }
}
