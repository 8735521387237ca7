package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application, Spark-first.
  *
  * The reference pipeline tokenizes with a fixed external vocabulary
  * (`token_count` in its curation scripts); a training-data engine also
  * needs to BUILD that vocabulary from the corpus. This is Sennrich-style
  * BPE (Neural Machine Translation of Rare Words with Subword Units,
  * ACL 2016) on the classic word-census trick:
  *
  *   - ONE corpus-scale pass builds the (word, count) census — a
  *     map-side-combinable aggregate, the only stage that ever sees the
  *     full corpus. At 100 TB this is a single scan+shuffle of
  *     vocabulary-sized output (Heaps' law: |vocab| ≪ |corpus|).
  *   - Every merge iteration then runs on the VOCAB (words as symbol
  *     arrays, weighted by count): a pair census the size of Σ|word|
  *     over distinct words, an argmax, and a merge rebuild. No iteration
  *     touches the corpus. A vocab of at most a fixed budget of words is
  *     collected once and trained on the driver; a larger one runs each
  *     iteration on the VOCAB frame (census aggregate, argmax, codegen'd
  *     higher-order-function rebuild).
  *   - Applying the trained merges (encode) is again vocab-sized work
  *     broadcast-joined back to the token stream — the corpus never
  *     shuffles on anything wider than its own words.
  *
  * Merge semantics are the standard leftmost non-overlapping scan: in
  * "aaaa", merging (a,a) yields [aa, aa]; in "aaa", [aa, a]. The fold
  * below gets this for free — after a merge fires, the accumulator's
  * last element is the MERGED symbol, which no longer equals the left
  * side, so the next input symbol starts a fresh match window.
  *
  * Everything is deterministic and engine-portable (integer counts,
  * string symbols, ties broken (count DESC, lhs ASC, rhs ASC)), so a
  * DuckDB oracle can replay training bit-for-bit — see the generated
  * iteration CTEs in LlmQueries.bpeOracle, which resolve the same
  * leftmost-non-overlap rule in closed form (runs of consecutive
  * pair-matches, even offsets taken) instead of a fold.
  */
object Bpe {

  /** A word as its initial character symbols (1 char = 1 symbol).
    * Empty-string guard: Spark's sequence(1, 0) steps DOWN to [1, 0]
    * (two phantom "" symbols), where the oracle's range(1, len+1) is
    * empty — '' must map to [] on both engines. */
  def charSymbols(word: Column): Column =
    when(length(word) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))))

  /** One merge applied left-to-right non-overlapping, as a codegen'd
    * fold over the symbol array (no UDF). */
  def applyMerge(syms: Column, lhs: String, rhs: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(lhs) && s === lit(rhs),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(lhs + rhs))))
          .otherwise(concat(acc, array(s))))

  /** The corpus-scale pass: (word, cnt) census off the canonical
    * tokenizer ([[TextOps.tokens]] — the same spelling every shingle
    * census and the curation chain use, so vocabularies can't fork). */
  def wordCensus(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  final case class Merge(rank: Int, lhs: String, rhs: String,
                         merged: String, pairCount: Long)

  /** Census rows [[trainMerges]] trains on by itself, on the driver.
    * Measured in PLANS.md ("Driver-side finish"). */
  private[llm] val LocalCensusBudget: Int = 1 << 20

  /** Train up to `k` merges over a (word, cnt) census. Returns the
    * merge table and the vocab frame with post-merge symbol arrays
    * (word, cnt, syms) — the trained tokenizer's working state.
    *
    * A census of at most `budget` rows (read with one bounded collect,
    * [[DriverSide]]) trains on the driver: k merge ranks in memory, then
    * one vocab frame built from the result — instead of two scheduler
    * jobs per rank. The driver keeps the distributed rules exactly:
    * symbols are code points (as `substr`), ties go to the higher count,
    * then the smaller `lhs`, then the smaller `rhs` in Spark's string
    * order (code points, [[DriverSide.stringOrder]]), and each merge is
    * [[applyMerge]]'s leftmost non-overlapping fold.
    *
    * A larger census runs the distributed loop: each iteration is one
    * pair census over the vocab frame (posexplode + hash aggregate), one
    * 1-row argmax via orderBy().limit(1) = TakeOrderedAndProject
    * (per-partition heaps, never a global sort), and one fold rebuild.
    * The vocab frame is localCheckpointed per iteration to truncate
    * lineage (same discipline as the GD/Lloyd trainers).
    *
    * Both stop early if no pair is left (every word fused). `budget` is a
    * parameter only so specs can force either path. */
  def trainMerges(words: DataFrame, k: Int,
      budget: Int = LocalCensusBudget): (Seq[Merge], DataFrame) = {
    var cur = words
      .select(col("word"), col("cnt"), charSymbols(col("word")).as("syms"))
      .localCheckpoint()
    DriverSide.collectWithin(cur.select("word", "cnt"), budget) match {
      case Some(census) => trainLocal(cur, census, k)
      case None =>
        val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
        var exhausted = false
        for (rank <- 1 to k if !exhausted) {
          val best = cur
            .select(col("cnt"), col("syms"), posexplode(col("syms")).as(Seq("i", "l")))
            .where(col("i") < size(col("syms")) - 1)
            .select(col("cnt"), col("l"), element_at(col("syms"), col("i") + 2).as("r"))
            .groupBy("l", "r").agg(sum("cnt").as("n"))
            .orderBy(col("n").desc, col("l"), col("r")).limit(1)
            .collect()
          if (best.isEmpty) exhausted = true
          else {
            val (l, r, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
            merges += Merge(rank, l, r, l + r, n)
            cur = cur.withColumn("syms", applyMerge(col("syms"), l, r))
              .localCheckpoint()
          }
        }
        (merges.toSeq, cur)
    }
  }

  /** [[trainMerges]] on the driver over the collected census rows; `start`
    * is the distributed loop's first vocab frame, whose schema (after one
    * [[applyMerge]], if any merge fires) the result keeps. */
  private def trainLocal(start: DataFrame, census: Array[Row],
      k: Int): (Seq[Merge], DataFrame) = {
    val cnts = census.map(r => if (r.isNullAt(1)) 0L else r.getAs[Number](1).longValue)
    var syms: Array[Array[String]] = census.map(r =>
      if (r.isNullAt(0)) null
      else r.getString(0).codePoints.toArray.map(c => new String(Character.toChars(c))))
    val best = Ordering.by[((String, String), Long), Long](p => -p._2)
      .orElseBy(_._1._1)(DriverSide.stringOrder)
      .orElseBy(_._1._2)(DriverSide.stringOrder)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    for (rank <- 1 to k if !exhausted) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for (w <- syms.indices if syms(w) != null; i <- 0 until syms(w).length - 1) {
        val p = (syms(w)(i), syms(w)(i + 1))
        pairs(p) = pairs.getOrElse(p, 0L) + cnts(w)
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((l, r), n) = pairs.min(best)
        merges += Merge(rank, l, r, l + r, n)
        syms = syms.map(s => if (s == null) null else mergeLocal(s, l, r))
      }
    }
    val schema = merges.headOption.fold(start.schema)(m =>
      start.withColumn("syms", applyMerge(col("syms"), m.lhs, m.rhs)).schema)
    val rows = census.indices.map(i =>
      Row(census(i).get(0), census(i).get(1), Option(syms(i)).map(_.toSeq).orNull))
    (merges.toSeq, start.sparkSession.createDataFrame(rows.asJava, schema))
  }

  /** [[applyMerge]]'s fold on the driver. */
  private def mergeLocal(syms: Array[String], lhs: String, rhs: String): Array[String] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    for (s <- syms) {
      if (acc.nonEmpty && acc.last == lhs && s == rhs) acc(acc.length - 1) = lhs + rhs
      else acc += s
    }
    acc.toArray
  }

  /** Encode the corpus with a trained vocab frame: per-document word and
    * token counts. The vocab (word → symbols) BROADCASTS — the token
    * stream never shuffles on anything but its own doc grouping.
    *
    * Out-of-vocabulary words (inevitable when the vocab was trained on
    * an earlier corpus than the one arriving — the st24 ingest shape)
    * fall back to their character symbols via the LEFT join's coalesce,
    * the standard BPE unknown-word behavior. An inner join would
    * silently drop them from both counts — a document of entirely new
    * words would vanish from the output. */
  def encodeDocs(docs: DataFrame, vocab: DataFrame,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(vocab.select(col("word"), col("syms"))), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(size(coalesce(col("syms"), charSymbols(col("word")))))
          .as("n_tokens"))
}
