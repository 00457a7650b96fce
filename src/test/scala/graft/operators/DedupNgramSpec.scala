package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential pins for the r19 exact-duplicate-grouped
  * [[Dedup.ngramJaccardPairs]]: the grouped kernel must be
  * SET-IDENTICAL to the pre-r19 ungrouped reference
  * ([[UngroupedKernels.ngramJaccardPairsUngrouped]]) on every corpus shape that
  * exercises a branch of the equivalence argument — duplicate groups,
  * cap-engaging posting lists, partially-capped within-group jaccard,
  * null ids, empty texts, and string ids. */
class DedupNgramSpec extends SparkSpec {
  import spark.implicits._

  private def assertSame(df: DataFrame, idCol: String = "id",
      n: Int = 2, threshold: Double = 0.5, maxPostings: Int = 500): Unit = {
    val a = Dedup.ngramJaccardPairs(df, idCol, "text", n, threshold, maxPostings)
    val b = UngroupedKernels.ngramJaccardPairsUngrouped(df, idCol, "text", n, threshold, maxPostings)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"grouped kernel diverged: grouped=${a.collect().toSeq.sortBy(_.toString)} " +
        s"ungrouped=${b.collect().toSeq.sortBy(_.toString)}")
  }

  test("duplicate-heavy corpus: grouped ≡ ungrouped, within-group pairs J=1") {
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d e"), // 3-way dup group
      (4L, "a b c d x"),                                       // near dup of the group
      (5L, "p q r s t"), (6L, "p q r s t"),                    // 2-way group
      (7L, "u v w x y")                                        // unique
    ).toDF("id", "text")
    assertSame(df)
    val out = Dedup.ngramJaccardPairs(df, "id", "text", n = 2, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) == 1.0 && out((1L, 3L)) == 1.0 && out((2L, 3L)) == 1.0)
    assert(out((5L, 6L)) == 1.0)
    assert(out.contains((1L, 4L)) && out((1L, 4L)) < 1.0)
  }

  test("maxPostings cap engages on summed MEMBER count, not group count") {
    // 4 copies share every bigram; maxPostings=3 < 4 members, so every
    // list is capped and NO pairs emerge — exactly the ungrouped
    // behavior (4-entry lists dropped), even though the grouped list
    // holds a single entry
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "a b c")
    ).toDF("id", "text")
    assertSame(df, maxPostings = 3)
    assert(Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.5, maxPostings = 3).count() == 0)
  }

  test("partially capped lists lower within-group jaccard below 1 identically") {
    // the duplicated pair (1,2) shares bigrams {a b, b c}; "a b" also
    // appears in 3,4,5 (list of 5 members > cap 4) so it drops and the
    // within-group jaccard falls to 1/(2+2-1) = 1/3 — both kernels must
    // agree on that sub-1 value (threshold 0.3 keeps it)
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"),
      (3L, "a b x"), (4L, "a b y"), (5L, "a b z")
    ).toDF("id", "text")
    assertSame(df, threshold = 0.3, maxPostings = 4)
    val out = Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.3, 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(out((1L, 2L)) - 1.0 / 3.0) < 1e-12)
  }

  test("null ids occupy cap slots but never pair (both kernels)") {
    val df = Seq(
      (java.lang.Long.valueOf(1L), "a b c"),
      (null.asInstanceOf[java.lang.Long], "a b c"),
      (java.lang.Long.valueOf(3L), "a b c")
    ).toDF("id", "text")
    assertSame(df)
    val ids = Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == Set((1L, 3L)))
  }

  test("empty and sub-n texts emit nothing; string ids order correctly") {
    val df = Seq(
      ("doc_b", "hello world foo"), ("doc_a", "hello world foo"),
      ("doc_c", ""), ("doc_d", ""), ("doc_e", "one")
    ).toDF("id", "text")
    assertSame(df, idCol = "id")
    val out = Dedup.ngramJaccardPairs(df, "id", "text", 2, 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("doc_a", "doc_b"))) // canonical string order, empties drop
  }

  test("fixture corpus (sf0.001): grouped ≡ ungrouped at query settings") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assertSame(docs, idCol = "doc_id", n = 3, threshold = 0.8)
  }

  // ---- minhash / simhash grouping (same equivalence argument) ----

  private lazy val dupCorpus = {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "alpha beta gamma delta epsilon eta"),   // near dup of group {1,2,3}
      (5L, "one two three four five six"),
      (6L, "one two three four five six"),
      (7L, "totally different words here entirely now"))
    base.toDF("id", "text")
  }

  test("minhash: grouped ≡ ungrouped on a duplicate-heavy corpus and the fixture") {
    for ((df, id) <- Seq((dupCorpus, "id"),
        (spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id"))) {
      val a = Dedup.minhashNearDuplicates(df, id, "text", threshold = 0.5)
      val b = Dedup.minhashNearDuplicates(df, id, "text", threshold = 0.5,
        cfg = Dedup.LshConfig(), groupExact = false)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"minhash grouped diverged on $id corpus")
    }
  }

  test("minhash grouped: maxBucketSize caps on summed member count") {
    // 5 copies of one text: every (band,bucket) holds 5 members > cap 4
    // → dropped in BOTH kernels, no pairs
    val df = (1L to 5L).map(i => (i, "aa bb cc dd ee ff gg")).toDF("id", "text")
    val cfg = Dedup.LshConfig(maxBucketSize = 4)
    assert(Dedup.minhashNearDuplicates(df, "id", "text", 0.5, cfg).count() == 0)
    assert(Dedup.minhashNearDuplicates(df, "id", "text", 0.5, cfg,
      groupExact = false).count() == 0)
  }

  test("simhash: grouped ≡ ungrouped on a duplicate-heavy corpus and the fixture") {
    for ((df, id) <- Seq((dupCorpus, "id"),
        (spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id"))) {
      val a = Dedup.simhashNearDuplicates(df, id, "text", maxDistance = 5)
      val b = UngroupedKernels.simhashNearDuplicatesUngrouped(df, id, "text", maxDistance = 5)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"simhash grouped diverged on $id corpus")
    }
  }

  test("bigramPerplexity: grouped ≡ ungrouped (weighted LM counts) on dups and the fixture") {
    for ((df, id) <- Seq((dupCorpus, "id"),
        (spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id"))) {
      val a = TextAnalysis.bigramPerplexity(df, id, "text")
      val b = UngroupedKernels.bigramPerplexityUngrouped(df, id, "text")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"perplexity grouped diverged on $id corpus")
    }
  }

  test("crossEntropyDiff: grouped ≡ ungrouped (both frames weighted) on dups and the fixture") {
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    for ((raw, tgt, id) <- Seq(
        (dupCorpus, dupCorpus.where(col("id") % 2 === 0), "id"),
        (fixture, fixture.where(col("lang") === "en"), "doc_id"))) {
      val a = TextAnalysis.crossEntropyDiff(raw, tgt, id, "text")
      val b = UngroupedKernels.crossEntropyDiffUngrouped(raw, tgt, id, "text")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"crossEntropyDiff grouped diverged on $id corpus")
    }
  }

  test("dsirWeightsWhere: grouped ≡ ungrouped; filter value splits text-identical rows") {
    // ids 1-3 share a text but 1-2 pass the filter and 3 does not: the
    // (text, filter) group key must keep the target counts exact
    val df = Seq(
      (1L, "alpha beta gamma", true), (2L, "alpha beta gamma", true),
      (3L, "alpha beta gamma", false),
      (4L, "delta epsilon zeta", true), (5L, "eta theta iota", false)
    ).toDF("id", "text", "in_target")
    val a = TextAnalysis.dsirWeightsWhere(df, col("in_target"), "id", "text", buckets = 64)
    val b = UngroupedKernels.dsirWeightsWhereUngrouped(df, col("in_target"), "id", "text", buckets = 64)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    val c = TextAnalysis.dsirWeightsWhere(fixture, col("lang") === "en", "doc_id", "text")
    val d = UngroupedKernels.dsirWeightsWhereUngrouped(fixture, col("lang") === "en", "doc_id", "text")
    assert(c.exceptAll(d).count() == 0 && d.exceptAll(c).count() == 0)
  }

  // ---- null ids (the ExactGroups rule): a null id gets no output row.
  // The ungrouped LM references pool every null-id document into ONE
  // null-id row, so they agree with the grouped kernels on the non-null
  // rows only. The null-id texts still feed the corpus LM counts, and
  // one of them duplicates a non-null text (same group, null member).

  private lazy val nullIdCorpus = Seq(
    (java.lang.Long.valueOf(1L), "alpha beta gamma delta"),
    (null.asInstanceOf[java.lang.Long], "alpha beta gamma delta"),
    (null.asInstanceOf[java.lang.Long], "beta gamma beta alpha"),
    (java.lang.Long.valueOf(4L), "gamma delta alpha beta")
  ).toDF("id", "text")

  private def assertNullIdDropped(grouped: DataFrame, ungrouped: DataFrame): Unit = {
    assert(grouped.where(col("id").isNull).count() == 0, "grouped kernel emitted a null-id row")
    assert(ungrouped.where(col("id").isNull).count() == 1) // the pooled reference row
    val b = ungrouped.where(col("id").isNotNull)
    assert(grouped.count() == 2 &&
      grouped.exceptAll(b).count() == 0 && b.exceptAll(grouped).count() == 0,
      s"grouped=${grouped.collect().toSeq} ungrouped=${b.collect().toSeq}")
  }

  test("bigramPerplexity: null ids get no row; non-null rows ≡ ungrouped") {
    assertNullIdDropped(TextAnalysis.bigramPerplexity(nullIdCorpus, "id", "text"),
      UngroupedKernels.bigramPerplexityUngrouped(nullIdCorpus, "id", "text"))
  }

  test("crossEntropyDiff: null ids get no row; non-null rows ≡ ungrouped") {
    val tgt = Seq("alpha beta", "delta delta gamma").toDF("text")
    assertNullIdDropped(TextAnalysis.crossEntropyDiff(nullIdCorpus, tgt, "id", "text"),
      UngroupedKernels.crossEntropyDiffUngrouped(nullIdCorpus, tgt, "id", "text"))
  }

  test("dsirWeightsWhere: null ids get no row; non-null rows ≡ ungrouped") {
    val inTarget = col("text").startsWith("alpha")
    assertNullIdDropped(
      TextAnalysis.dsirWeightsWhere(nullIdCorpus, inTarget, "id", "text", buckets = 64),
      UngroupedKernels.dsirWeightsWhereUngrouped(nullIdCorpus, inTarget, "id", "text",
        buckets = 64))
  }
}
