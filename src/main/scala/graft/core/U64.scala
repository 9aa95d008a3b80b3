package graft.core

import java.util.Arrays

/**
 * Unsigned 64-bit helpers. The reference engine's whole value universe is
 * `u64` (`/root/reference/src/index/nodegraph.rs:9`); every ordering and
 * threshold comparison there is unsigned. The JVM has no unsigned long, so
 * all sketch code routes comparisons through here. Centralised per
 * SURVEY.md §7 "hard parts".
 */
object U64 {
  @inline def lt(a: Long, b: Long): Boolean = java.lang.Long.compareUnsigned(a, b) < 0
  @inline def le(a: Long, b: Long): Boolean = java.lang.Long.compareUnsigned(a, b) <= 0
  @inline def gt(a: Long, b: Long): Boolean = java.lang.Long.compareUnsigned(a, b) > 0

  /** Unsigned decimal rendering (what the reference's serde/md5 path emits
    * for u64 values, `/root/reference/src/lib.rs:72-77`). */
  @inline def toDecimal(x: Long): String = java.lang.Long.toUnsignedString(x)

  /** In-place unsigned ascending sort: flip sign bit, signed sort, flip back.
    * `x ^ Long.MinValue` is an order isomorphism from unsigned to signed. */
  def sortUnsigned(a: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) ^= Long.MinValue; i += 1 }
    Arrays.sort(a)
    i = 0
    while (i < a.length) { a(i) ^= Long.MinValue; i += 1 }
    a
  }

  /** Sorted (unsigned asc) distinct copy. */
  def sortedDistinct(src: Array[Long]): Array[Long] = {
    if (src.isEmpty) return Array.emptyLongArray
    val a = sortUnsigned(src.clone())
    var n = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else Arrays.copyOf(a, n)
  }

  /** Size of the intersection of two unsigned-sorted arrays (linear merge —
    * the reference's `Intersection` iterator, `/root/reference/src/lib.rs:515-544`). */
  def intersectSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compareUnsigned(a(i), b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Sorted merge-union of two unsigned-sorted distinct arrays. */
  def mergeUnion(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compareUnsigned(a(i), b(j))
      if (c == 0) { out(n) = a(i); i += 1; j += 1 }
      else if (c < 0) { out(n) = a(i); i += 1 }
      else { out(n) = b(j); j += 1 }
      n += 1
    }
    while (i < a.length) { out(n) = a(i); i += 1; n += 1 }
    while (j < b.length) { out(n) = b(j); j += 1; n += 1 }
    if (n == out.length) out else Arrays.copyOf(out, n)
  }
}
