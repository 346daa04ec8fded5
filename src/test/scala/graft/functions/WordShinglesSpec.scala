package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions.{tokens, wordShingles}
import graft.operators.QualityModels

/** The native in-row shingler must be BIT-identical to the interpreted
  * HOF form it replaced (when(size >= k, transform(sequence, i =>
  * concat_ws(" ", slice(toks, i+1, k)))).otherwise(array())) — every
  * dedup / KN n-gram / winnowing / decontam stream derives from this
  * kernel, so the old form is kept here verbatim as the executable
  * specification. */
class WordShinglesSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-r19 HOF column form, verbatim. */
  private def hofShingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array())

  test("native shingles == HOF shingles on real documents (k = 2, 3, 5)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    for (k <- Seq(2, 3, 5)) {
      val both = docs.select(
        WordShingles(col("toks"), k).as("native"),
        hofShingles(col("toks"), k).as("hof"))
      assert(both.filter(not(col("native") <=> col("hof"))).count() === 0L,
        s"k=$k native/HOF shingle mismatch")
    }
  }

  test("edge cases: empty, shorter-than-k, exactly-k, duplicates, null") {
    val rows = Seq(
      Some(""),                  // one empty token after split
      Some("a"),                 // shorter than k
      Some("a b c"),             // exactly k (k=3)
      Some("a b a b a"),         // duplicate shingles preserved
      None)                      // NULL text -> NULL token array
    val df = rows.toDF("text")
      .select(when(col("text").isNotNull, split(col("text"), " ")).as("toks"))
    val both = df.select(
      WordShingles(col("toks"), 3).as("native"),
      hofShingles(col("toks"), 3).as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() === 0L)
    // null / short inputs are the EMPTY array, never null
    assert(both.filter(col("native").isNull).count() === 0L)
    val got = df.select(WordShingles(col("toks"), 3).as("s"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got === List(Nil, Nil, List("a b c"),
      List("a b a", "b a b", "a b a"), Nil))
  }

  test("k = 1 is the token stream itself") {
    val df = Seq("x y z").toDF("text")
      .select(split(col("text"), " ").as("toks"))
    assert(df.select(WordShingles(col("toks"), 1).as("s"))
      .collect().head.getSeq[String](0) === Seq("x", "y", "z"))
  }

  /** The suffix-window form WordWindows replaced before it existed:
    * per position, concat_ws over the next (up to) maxN tokens. */
  private def hofWindows(toks: Column, maxN: Int): Column =
    coalesce(transform(sequence(lit(0), size(toks) - 1),
      i => concat_ws(" ", slice(toks, i + 1, lit(maxN)))), array())

  /** Adversarial corpus for the window kernel and the KN count frame:
    * null and empty text, one token, leading/trailing/double spaces
    * (empty tokens), docs shorter than every k, and n-grams repeated
    * within and across docs and splits. */
  private def adversarialDocs = Seq(
    (1L, None, "train"),
    (2L, Some(""), "train"),
    (3L, Some("x"), "test"),
    (4L, Some(" x  y "), "train"),
    (5L, Some("a b"), "val"),
    (6L, Some("a b c a b c a b"), "train"),
    (7L, Some("a b c d"), "test"),
    (8L, Some("a b c d e f a b c d e"), "train"),
    (9L, Some("b c d e f"), "test"),
    (10L, Some("a  a  a"), "train"),
    (11L, Some("a b c"), "train")).toDF("doc_id", "text", "split")

  test("native windows == HOF suffix windows (maxN = 1, 3, 5); null is empty") {
    val docs = adversarialDocs.select(split(col("text"), " ").as("toks"))
    for (n <- Seq(1, 3, 5)) {
      val both = docs.select(WordWindows(col("toks"), n).as("native"),
        hofWindows(col("toks"), n).as("hof"))
      assert(both.filter(not(col("native") <=> col("hof"))).count() === 0L,
        s"maxN=$n native/HOF window mismatch")
    }
    val got = Seq("a b c d").toDF("text")
      .select(WordWindows(split(col("text"), " "), 3).as("w"))
      .collect().head.getSeq[String](0)
    assert(got === Seq("a b c", "b c d", "c d", "d"))
  }

  test("ngramWindows: every order's counts == per-order shingle counts, " +
    "keyed by doc and by split") {
    val docs = adversarialDocs
    for (key <- Seq("doc_id", "split")) {
      val win = QualityModels.ngramWindows(docs, key, 5)
      for (k <- 1 to 5) {
        val fromWindows = QualityModels.windowSites(win, k, "g")
          .groupBy(key, "g").agg(sum(col("c")).as("n"))
        val perOrder = docs
          .select(col(key), explode(wordShingles(tokens(col("text")), k)).as("g"))
          .groupBy(key, "g").agg(count(lit(1)).as("n"))
        val (a, b) = (fromWindows.collect().toSet, perOrder.collect().toSet)
        assert(a === b, s"key=$key k=$k: window-derived counts differ")
        assert(a.nonEmpty)
      }
    }
  }
}
