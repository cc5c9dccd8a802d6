package perfbench

import org.apache.spark.sql.Row

/** Checks of the digest that need no Spark session; exits non-zero on the
  * first failure. Run by `perfbench/tests/test_bench.py`. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val rows = Seq(
      Row(1L, "a", 0.1 + 0.2, null),
      Row(2L, "b", -0.0, Seq(1, 2)),
      Row(3L, "c", Double.NaN, Map("y" -> 1, "x" -> 2)),
      Row(3L, "c", 1e-300, Row(Array[Byte](1, 2), java.math.BigDecimal.ONE)))
    val d = Digest.of(rows)
    check(Digest.of(rows.reverse) == d, "digest ignores row order")
    check(Digest.of(scala.util.Random.shuffle(rows)) == d, "digest ignores a shuffle")
    check(Digest.rows(d) == 4, "digest carries the row count")
    check(Digest.of(rows :+ rows.head) != d, "digest counts a repeated row")
    check(Digest.of(rows.updated(1, Row(2L, "b", 0.0, Seq(1, 2)))) != d, "digest tells -0.0 from 0.0")
    check(Digest.of(rows.updated(1, Row(2L, "b", -0.0, Seq(2, 1)))) != d, "digest keeps array order")
    check(Digest.of(Seq(Row(Map("x" -> 2, "y" -> 1)))) == Digest.of(Seq(Row(Map("y" -> 1, "x" -> 2)))),
      "digest ignores map entry order")
    check(Digest.of(Seq(Row(Array[Byte](1, 2)))) == Digest.of(Seq(Row(Array[Byte](1, 2)))),
      "digest reads byte arrays by content")
    println("selftest ok")
  }
}
