package steadybench

import java.math.{BigDecimal => JBig}

/** Plain-Scala reference computations the checks compare against. Sums
  * and counts are exact (long cents); the few doubles are built with the
  * same IEEE operations the engine uses, and compared with the stated
  * tolerance. */
object Expect {

  /** Relative tolerance for doubles that went through a division:
    * 1e-9. Exact sums compare with `==`. */
  val RelTol = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= RelTol * math.max(math.abs(a), math.abs(b))

  /** The double the engine's exact decimal sum of 2-decimal values
    * yields: cents / 100 rounded once. */
  def cents(c: Long): Double = JBig.valueOf(c, 2).doubleValue

  /** First mismatch between two row lists, or None. */
  def diff[A](what: String, got: Seq[A], want: Seq[A],
              same: (A, A) => Boolean = (a: A, b: A) => a == b): Option[String] =
    if (got.length != want.length)
      Some(s"$what: ${got.length} rows, expected ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if !same(g, w) => s"$what row $i: got $g, expected $w"
    }
}
