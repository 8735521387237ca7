package graft.llm

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-side finishing for the iterative operators
  * ([[Dedup.connectedComponents]], [[Bpe.trainMerges]]): when the working
  * set of a loop turns out small, every further round costs scheduler
  * latency, not data movement, so the loop is better finished in driver
  * memory. The collect is bounded: it asks for at most `budget + 1` rows,
  * so the driver never holds more than that whatever the input size, and
  * a set that does not fit leaves the distributed loop to run as before.
  */
object DriverSide {

  /** The rows of `df` if there are at most `budget` of them, else None.
    * Takes at most `budget + 1` rows (one `CollectLimit`), so the driver
    * never holds more. */
  def collectWithin(df: DataFrame, budget: Int): Option[Array[Row]] = {
    require(budget >= 0 && budget < Int.MaxValue, s"budget=$budget out of range")
    val rows = df.limit(budget + 1).collect()
    if (rows.length <= budget) Some(rows) else None
  }

  /** Spark's string order: UTF-8 bytes, which is code-point order. It is
    * NOT `String.compareTo`, which compares UTF-16 units and so puts a
    * surrogate pair (a character above U+FFFF) before U+E000–U+FFFF.
    * Moving surrogates above that range before comparing units restores
    * code-point order. */
  val stringOrder: Ordering[String] = new Ordering[String] {
    private def fix(c: Char): Int =
      if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i)
        val y = b.charAt(i)
        if (x != y) return fix(x) - fix(y)
        i += 1
      }
      a.length - b.length
    }
  }
}
