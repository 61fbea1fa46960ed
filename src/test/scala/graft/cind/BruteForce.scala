package graft.cind

import graft.core.{Capture, ConditionCodes}

/** Brute-force CIND oracle: enumerate all 9 capture shapes, build value
  * sets, report (dep, ref, |dep|) for every dep != ref with dep ⊆ ref, dep
  * not trivially implying ref, |dep| >= minSupport. First-principles
  * definition — shared by the fixture spec and the generative spec. */
object BruteForce {
  import ConditionCodes.{S, P, O}

  def apply(triples: Seq[(String, String, String)], minSupport: Int)
      : Set[(Capture, Capture, Long)] = {
    val sets = valueSets(triples)
    val caps = sets.keys.toSeq
    (for {
      dep <- caps if sets(dep).size >= minSupport
      ref <- caps
      if ref != dep && !dep.implies(ref) && sets(dep).subsetOf(sets(ref))
    } yield (dep, ref, sets(dep).size.toLong)).toSet
  }

  /** `CindEngine.unaryOverlaps`' relation: (dep, ref, overlap, dep support)
    * for every ordered pair of distinct unary captures, each with support
    * >= minSupport, whose value sets share >= minSupport values. */
  def unaryOverlaps(triples: Seq[(String, String, String)], minSupport: Int)
      : Set[(Capture, Capture, Long, Long)] = {
    val sets = valueSets(triples).filter { case (c, vs) => c.isUnary && vs.size >= minSupport }
    (for {
      (dep, dv) <- sets.toSeq
      (ref, rv) <- sets.toSeq
      overlap = (dv intersect rv).size
      if ref != dep && overlap >= minSupport
    } yield (dep, ref, overlap.toLong, dv.size.toLong)).toSet
  }

  /** Every capture's value set: the join values it holds. */
  def valueSets(triples: Seq[(String, String, String)]): Map[Capture, Set[String]] = {
    val sets = scala.collection.mutable.Map
      .empty[Capture, scala.collection.mutable.Set[String]]
    def add(cap: Capture, v: String): Unit =
      sets.getOrElseUpdate(cap, scala.collection.mutable.Set.empty) += v
    for ((s, p, o) <- triples) {
      add(Capture(ConditionCodes.capture(P, S), p, ""), s)
      add(Capture(ConditionCodes.capture(O, S), o, ""), s)
      add(Capture(ConditionCodes.capture(P | O, S), p, o), s)
      add(Capture(ConditionCodes.capture(S, P), s, ""), p)
      add(Capture(ConditionCodes.capture(O, P), o, ""), p)
      add(Capture(ConditionCodes.capture(S | O, P), s, o), p)
      add(Capture(ConditionCodes.capture(S, O), s, ""), o)
      add(Capture(ConditionCodes.capture(P, O), p, ""), o)
      add(Capture(ConditionCodes.capture(S | P, O), s, p), o)
    }
    sets.map { case (c, vs) => c -> vs.toSet }.toMap
  }
}
