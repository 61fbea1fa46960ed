package graft.core

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based tests promised by FIXTURES.md §5: ConditionCodes algebra,
  * sorted-set merge laws, Capture implication, Bloom-filter bit algebra. */
object PropertySpec extends Properties("graft.core") {

  val attr: Gen[Int] = Gen.oneOf(ConditionCodes.S, ConditionCodes.P, ConditionCodes.O)
  val attrPair: Gen[(Int, Int)] = for {
    a <- attr; b <- attr if a != b
  } yield (a, b)

  property("capture codes are valid and classify by arity") = forAll(attrPair) {
    case (cond, proj) =>
      val unary = ConditionCodes.capture(cond, proj)
      ConditionCodes.isValidCapture(unary) && ConditionCodes.isUnary(unary)
  }

  property("decode inverts capture construction") = forAll(attrPair) {
    case (cond, proj) =>
      val c = ConditionCodes.capture(cond, proj)
      (c & ConditionCodes.AttrMask) == cond &&
        ((c >> ConditionCodes.AttrBits) & ConditionCodes.AttrMask) == proj
  }

  property("binary sub-capture codes are valid unary subcodes") =
    forAll(Gen.oneOf(14, 21, 35)) { b =>
      val f = ConditionCodes.firstSubcapture(b)
      val s = ConditionCodes.secondSubcapture(b)
      ConditionCodes.isUnary(f) && ConditionCodes.isUnary(s) &&
        ConditionCodes.isSubcode(f, b) && ConditionCodes.isSubcode(s, b)
    }

  val sortedArr: Gen[Array[Capture]] = Gen.listOf(Gen.chooseNum(0, 50))
    .map(_.distinct.sorted.map(i => Capture(10, f"v$i%03d", "")).toArray)

  property("union is Set-correct and keeps sorted order") =
    forAll(sortedArr, sortedArr) { (a, b) =>
      val u = SortedOps.union(a, b)
      u.toSet == (a.toSet | b.toSet) && u.toSeq == u.toSeq.sorted
    }

  property("binary captures imply exactly their sub-captures and self") =
    forAll(Gen.oneOf(14, 21, 35), Gen.alphaStr, Gen.alphaStr) { (code, v1, v2) =>
      val b = Capture(code, v1, v2)
      b.implies(b) && b.implies(b.firstSub) && b.implies(b.secondSub) &&
        !b.firstSub.implies(b) && !b.secondSub.implies(b)
    }

  property("bloom merge is bitwise union of key sets (no false negatives)") =
    forAll(Gen.listOf(Gen.long), Gen.listOf(Gen.long)) { (ks1, ks2) =>
      val a = Bloom.create(1000, 0.01)
      val b = Bloom.create(1000, 0.01)
      ks1.foreach(a.put)
      ks2.foreach(b.put)
      a.mergeInPlace(b)
      (ks1 ++ ks2).forall(a.mightContain)
    }
}
