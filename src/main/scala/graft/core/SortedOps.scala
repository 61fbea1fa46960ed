package graft.core

import scala.reflect.ClassTag

/** Two-pointer merge over sorted, duplicate-free arrays — the buffer
  * algebra behind the join-line run merge (reference
  * rdfind-util/.../CollectionUtils.java:118-225 semantics). Inputs and
  * output are sorted ascending and duplicate-free.
  */
object SortedOps {

  /** Union of two sorted arrays. */
  def union[T: ClassTag](a: Array[T], b: Array[T])(implicit ord: Ordering[T]): Array[T] = {
    val out = Array.newBuilder[T]
    out.sizeHint(a.length max b.length)
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val c = ord.compare(a(i), b(j))
      if (c == 0) { out += a(i); i += 1; j += 1 }
      else if (c < 0) { out += a(i); i += 1 }
      else { out += b(j); j += 1 }
    }
    while (i < a.length) { out += a(i); i += 1 }
    while (j < b.length) { out += b(j); j += 1 }
    out.result()
  }
}
