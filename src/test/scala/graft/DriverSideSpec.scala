package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.llm.{Bpe, Dedup, DriverSide}

/** The driver-side finish of [[Dedup.connectedComponents]] and
  * [[Bpe.trainMerges]] ([[graft.llm.DriverSide]]): forcing the budget to
  * 0 (or to one row fewer than the input) runs the distributed loop, and
  * the default (or a budget the input just fits) finishes on the driver.
  * Every path must give the same rows and the same schema.
  */
class DriverSideSpec extends SparkTestBase {
  import spark.implicits._

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Test-local union-find: every vertex with its component minimum. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** The distributed loop's labels, replayed: the first frame folds the
    * neighbor minimum into identity labels, each later round folds again
    * and then jumps through the previous labels. Returns, per frame, the
    * number of active edges (distinct undirected edges whose endpoints'
    * labels differ) — what the count at an exhausted maxIter reports. */
  private def activePerFrame(edges: Seq[(Long, Long)], frames: Int): Seq[Int] = {
    val und = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    def fold(l: Map[Long, Long]) = l.map { case (v, c) => v -> (c +: nbrs(v).map(l)).min }
    var lab = fold(nbrs.keys.map(v => v -> v).toMap)
    (1 to frames).map { f =>
      if (f > 1) { val prev = lab; lab = fold(prev).map { case (v, c) => v -> math.min(c, prev(c)) } }
      und.count { case (a, b) => lab(a) != lab(b) }
    }
  }

  /** Six small graphs of the kinds connected components meets — a path
    * longer than maxIter, a star, a cycle, isolated pairs, a random sparse
    * graph with repeats and self-loops, a clique — on disjoint id ranges,
    * shuffled except along the path, so a component's minimum sits
    * anywhere in it. */
  private def batch(seed: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    def ids(g: Int, n: Int): IndexedSeq[Long] =
      rnd.shuffle((0 until n).map(i => (seed * 10 + g) * 1000L + i))
    // Path ids run in order from one end, as in a chain of edits: the
    // pointer jump converges it in O(log length) rounds, under maxIter.
    // (Shuffled ids along a long path take up to its length in rounds.)
    val path = {
      val v = ids(0, 21 + rnd.nextInt(15)).sorted
      val o = if (rnd.nextBoolean()) v else v.reverse
      o.indices.tail.map(i => (o(i - 1), o(i)))
    }
    val star = { val v = ids(1, 3 + rnd.nextInt(10)); v.tail.map(l => (v.head, l)) }
    val cycle = { val v = ids(2, 3 + rnd.nextInt(12)); v.indices.map(i => (v(i), v((i + 1) % v.size))) }
    val pairs = { val v = ids(3, 2 * (1 + rnd.nextInt(5))); v.grouped(2).map(p => (p(0), p(1))).toSeq }
    val sparse = { val v = ids(4, 20); Seq.fill(18)((v(rnd.nextInt(20)), v(rnd.nextInt(20)))) }
    val clique = { val v = ids(5, 2 + rnd.nextInt(5)); for (i <- v; j <- v if i < j) yield (i, j) }
    rnd.shuffle(path ++ star ++ cycle ++ pairs ++ sparse ++ clique)
  }

  /** Stands for the default budget in the path loops below. */
  private val Default = -1

  private def cc(pairs: DataFrame, budget: Int, maxIter: Int = 20): DataFrame =
    if (budget == Default) Dedup.connectedComponents(pairs, "id_a", "id_b", maxIter)
    else Dedup.connectedComponents(pairs, "id_a", "id_b", maxIter, budget)

  // Characters where UTF-16 order and Spark's (code-point) order differ:
  // U+1F600 and U+1D49C are surrogate pairs, which String.compareTo puts
  // before U+E000..U+FFFF; Spark puts them after.
  private val (priv, bmp, top, astral, script) =
    ("\uE000", "\uFFFD", "\uFFFF", "\uD83D\uDE00", "\uD835\uDC9C")

  test("connectedComponents: 48 random graphs, rounds and driver finish equal a union-find") {
    for (seed <- 1 to 8) {
      val edges = batch(seed)
      val pairs = edges.toDF("id_a", "id_b")
      val expected = unionFind(edges)
      // The symmetrised edge frame misses a budget one row short of it
      // (rounds) and just fits its own size (driver finish).
      val directed = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.size
      for (budget <- Seq(0, directed - 1, directed, Default))
        assert(labels(cc(pairs, budget)) === expected, s"seed $seed, budget $budget")
    }
  }

  test("connectedComponents throws, giving the active-edge count, when maxIter runs out") {
    val edges = (100L until 130L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException](cc(edges.toDF("id_a", "id_b"), 0, maxIter = 3))
    val left = activePerFrame(edges, 3).last
    assert(left > 0 && ex.getMessage.contains(s"$left active edges"), ex.getMessage)
    // A last frame that still lowered labels but reached the fixpoint
    // leaves no active edge, so its labels are returned.
    assert(labels(cc(Seq((5L, 6L)).toDF("id_a", "id_b"), 0, maxIter = 1)) === Map(5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents: pointer jumping converges a 30-hop path on the distributed path") {
    // Budget 0 keeps every round distributed: plain min-label propagation
    // needs 30 rounds here, the jump brings it under maxIter = 20.
    val pairs = (100L until 130L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = labels(cc(pairs, 0, maxIter = 20))
    assert(got.size === 31 && got.values.forall(_ === 100L))
  }

  test("connectedComponents: a NULL endpoint links nothing and has no row, on every path") {
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)),
      (Some(5L), Some(6L)), (Some(7L), None), (None, None), (Some(6L), Some(8L)))
      .toDF("id_a", "id_b")
    for (budget <- Seq(0, 2, Default)) {
      val got = cc(pairs, budget).collect()
      assert(got.forall(r => !r.isNullAt(0) && !r.isNullAt(1)), s"budget $budget")
      assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 8L -> 5L, 7L -> 7L), s"budget $budget")
    }
  }

  test("connectedComponents: string ids take Spark's code-point order on every path") {
    // Spark's minimum of {U+1F600, U+FFFD, U+E000} is U+E000;
    // String.compareTo's would be U+1F600.
    val pairs = Seq((astral, bmp), (priv, bmp), ("b", "a")).toDF("id_a", "id_b")
    for (budget <- Seq(0, 1, Default)) {
      val got = cc(pairs, budget).collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === Map(astral -> priv, bmp -> priv, priv -> priv, "a" -> "a", "b" -> "a"),
        s"budget $budget")
    }
  }

  test("connectedComponents: output schemas, nullability included, equal on every path") {
    val path = (0L until 12L).map(i => (i, i + 1))
    for (pairs <- Seq(path.toDF("id_a", "id_b"),
        path.map { case (a, b) => (Option(a), Option(b)) }.toDF("id_a", "id_b"))) {
      val schemas = Seq(0, 4, Default).map(b => cc(pairs, b).schema)
      assert(schemas.distinct.size === 1, schemas.mkString(" / "))
      assert(schemas.head.fieldNames.toSeq === Seq("id", "component"))
      assert(schemas.head.forall(_.nullable == pairs.schema("id_a").nullable))
    }
  }

  /** Both trainers on one census: equal merges, vocab rows and schema. */
  private def bothPaths(words: DataFrame, k: Int): Unit = {
    val (mDist, vDist) = Bpe.trainMerges(words, k, budget = 0)
    val (mLocal, vLocal) = Bpe.trainMerges(words, k)
    assert(mLocal === mDist)
    def rows(v: DataFrame) = v.collect().map(r => (r.get(0), r.get(1),
      Option(r.getSeq[String](2)).map(_.toList))).toSet
    assert(rows(vLocal) === rows(vDist))
    assert(vLocal.schema === vDist.schema)
  }

  test("trainMerges: the driver and the distributed loop agree on ties and repeats") {
    // Count ties decided by lhs then rhs, and leftmost non-overlapping
    // merges inside runs of one symbol.
    bothPaths(Seq(("abab", 10L), ("aaa", 5L), ("ab", 3L), ("c", 7L), ("ba", 10L))
      .toDF("word", "cnt"), 12)
    bothPaths(Seq(("aaaa", 3L), ("aaa", 2L), ("aa", 1L), ("aaaaa", 1L), ("", 4L), ("ab", 6L))
      .toDF("word", "cnt"), 6)
    // Exhausted before k: every word fuses, both paths stop early.
    bothPaths(Seq(("xy", 2L), ("z", 1L)).toDF("word", "cnt"), 5)
    bothPaths(Seq(("xy", 2L)).toDF("word", "cnt").limit(0), 3)
  }

  test("trainMerges: code-point symbols and Spark's string order on both paths") {
    // A tie between (U+FFFD, x) and (U+1F600, x): Spark's order takes
    // U+FFFD first, String.compareTo would take U+1F600.
    val tie = Seq((bmp + "x", 1L), (astral + "x", 1L)).toDF("word", "cnt")
    val (merges, _) = Bpe.trainMerges(tie, 1)
    assert(merges.map(_.lhs) === Seq(bmp))
    assert(Bpe.trainMerges(tie, 1, budget = 0)._1 === merges)
    bothPaths(tie, 3)
    val rnd = new Random(7)
    val alphabet = Seq("a", "b", priv, bmp, top, astral, script)
    val corpus = Seq.fill(120)(Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.size)))
      .mkString).distinct.map(w => (w, 1L + rnd.nextInt(4)))
    bothPaths(corpus.toDF("word", "cnt"), 12)
    bothPaths(Seq((Option(astral * 3), 2L), (None, 5L), (Option(priv * 2), 2L))
      .toDF("word", "cnt"), 4)
  }

  test("DriverSide.collectWithin returns the rows only when they fit the budget") {
    assert(DriverSide.collectWithin(spark.range(5).toDF(), 5).map(_.length) === Some(5))
    assert(DriverSide.collectWithin(spark.range(6).toDF(), 5) === None)
    assert(DriverSide.collectWithin(spark.range(0).toDF(), 0).map(_.length) === Some(0))
    assert(DriverSide.collectWithin(spark.range(1).toDF(), 0) === None)
  }

  test("DriverSide.stringOrder sorts as Spark does") {
    val strs = Seq("", "a", "ab", bmp, top, priv, astral, script, "z" + astral, "z" + top, "é")
    val bySpark = strs.toDF("s").orderBy("s").as[String].collect().toSeq
    assert(strs.sorted(DriverSide.stringOrder) === bySpark)
    assert(strs.sorted !== bySpark, "the sample must tell the two orders apart")
  }
}
