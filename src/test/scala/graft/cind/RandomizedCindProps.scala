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
      val got = rows.map(key).toSet
      val want = BruteForce(ts, 2)
      if (got != want) println(s"triples=$ts\nmissing=${want -- got}\nextra=${got -- want}")
      got == want && distinct(rows)
    }

  property("two-round strategy matches brute force on random multisets") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      val rows = CindEngine.allCindsTwoRound(df, minSupport = 2).collect()
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
      val rows = CindEngine.allCindsHybrid(df, minSupport = 2).collect()
      val got = rows.map(key).toSet
      val want = BruteForce(ts, 2)
      if (got != want) {
        println(s"triples=$ts\nmissing=${want -- got}\nextra=${got -- want}")
      }
      got == want && distinct(rows)
    }

  // the pair-count kernel with a 5-key buffer and 7 buckets (many flushes,
  // many buckets per partition) and hub slicing at width 3, in both encode
  // regimes
  property("tiny pair-count kernel: count-match == bruteForce") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      val tiny = PairCounts.Sizes(bufferCapacity = 5, buckets = 7)
      val want = BruteForce(ts, 2)
      val results = for (shuffleEncode <- Seq(false, true)) yield {
        if (shuffleEncode) spark.conf.set("spark.graft.cind.dictEncodeMaxBroadcastRows", "0")
        val rows = try CindEngine.discover(df, 2, splitThreshold = 3, bloomConditions = false,
            expectedFrequentKeys = 10000000L, projections = "spo",
            arRules = None, sizes = tiny).collect()
          finally spark.conf.unset("spark.graft.cind.dictEncodeMaxBroadcastRows")
        val got = rows.map(key).toSet
        if (got != want || !distinct(rows))
          println(s"shuffle-join encode: $shuffleEncode triples=$ts\n" +
            s"missing=${want -- got}\nextra=${got -- want}\nrows=${rows.length}")
        got == want && distinct(rows)
      }
      results.forall(identity)
    }

  // the full option stack (AR pruning + the condition Bloom filter) on
  // arbitrary inputs: the filter only over-admits, so the AR-pruned set is the
  // one the exact prune finds — the randomized counterpart of MainSpec's
  // fixture flag matrix
  property("AR + Bloom composition: Bloom keeps AR-pruned set") =
    forAll(triples) { ts =>
      import spark.implicits._
      val df = ts.toDF("subj", "pred", "obj")
      val rules = CindEngine.associationRules(df, 2)
      val rowsA = CindEngine.allCinds(df, minSupport = 2,
        bloomConditions = true, arRules = Some(rules)).collect()
      val rowsB = CindEngine.allCinds(df, minSupport = 2, arRules = Some(rules)).collect()
      val (a, b) = (rowsA.map(key).toSet, rowsB.map(key).toSet)
      if (a != b) println(s"triples=$ts\nonly-bloom=${a -- b}\nonly-exact=${b -- a}")
      a == b && distinct(rowsA) && distinct(rowsB)
    }
}
