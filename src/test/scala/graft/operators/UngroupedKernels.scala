package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.hamming64

/** The ungrouped forms of the [[ExactGroups]]-based kernels, kept only
  * as differential-testing references: each one does the kernel's work
  * once per document, so DedupNgramSpec can assert that the grouped
  * kernel returns the same rows. (MinHash's reference is the
  * production `groupExact = false` path.) Not on any query path.
  *
  * One known difference, pinned in DedupNgramSpec: the three LM
  * references group their output by id, so null-id documents come back
  * as ONE merged null-id row, while the grouped kernels give a null id
  * no row (the [[ExactGroups]] rule). */
object UngroupedKernels {

  /** Ungrouped [[Dedup.simhashNearDuplicates]]. */
  def simhashNearDuplicatesUngrouped(
      df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, seed: Long = 42L, maxBucketSize: Int = 10000): DataFrame = {
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    val sh = Dedup.withSimhash(df, idCol, textCol, seed)
    val bandStructs = (0 until chunks).map { i =>
      struct(lit(i).as("chunk"),
        shiftrightunsigned(col("simhash"), i * bits).bitwiseAND(lit((1L << bits) - 1)).as("value"))
    }
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk"), col("c.value"))
    val grouped = banded.groupBy("chunk", "value")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("members"), count(lit(1)).as("n"))
      .where(col("n") > 1 && col("n") <= maxBucketSize)
    grouped
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
      .where(col("hamming") <= maxDistance)
      .distinct()
  }

  /** Ungrouped [[Dedup.ngramJaccardPairs]]. */
  def ngramJaccardPairsUngrouped(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxPostings: Int = 500): DataFrame = {
    val sh = df.select(col(idCol).as("id"), array_distinct(Dedup.shingles(col(textCol), n)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    val postings = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("__shingle"))
      .select(col("id"), col("n_sh"), xxhash64(col("__shingle")).as("shingle"))
    val lists = postings.groupBy("shingle")
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("ps"))
      .where(size(col("ps")).between(2, maxPostings))
    lists
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .where(col("a.id") < col("b.id") &&
        col("a.n_sh") >= col("b.n_sh") * threshold &&
        col("b.n_sh") >= col("a.n_sh") * threshold)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Ungrouped [[TextAnalysis.bigramPerplexity]]. */
  def bigramPerplexityUngrouped(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docBigrams = df.where(size(Dedup.tokens(col(textCol))) >= 2)
      .select(col(idCol), explode(Dedup.shingles(col(textCol), 2)).as("bigram"))
    val counts = docBigrams.groupBy("bigram").agg(count(lit(1)).as("n"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val ctx = counts.groupBy("w1").agg(sum("n").as("ctx_n"))
    val lm = counts.join(ctx, "w1")
      .select(col("bigram"), (col("n").cast("double") / col("ctx_n")).as("p"))
    docBigrams.join(lm, "bigram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), avg(log(col("p"))).as("__alp"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__alp"), 4).as("avg_logp"),
        round(exp(-col("__alp")), 4).as("perplexity"))
  }

  /** Ungrouped [[TextAnalysis.crossEntropyDiff]]. */
  def crossEntropyDiffUngrouped(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, smoothing: Double = 1.0): DataFrame = {
    def tokens(df: DataFrame, cols: Seq[Column]): DataFrame =
      df.select(cols :+ explode(split(lower(trim(col(textCol))), "\\s+")).as("token"): _*)
        .where(length(col("token")) > 0)
    val rawToks = tokens(raw, Seq(col(idCol)))
    val cr = rawToks.groupBy("token").agg(count(lit(1L)).as("c_r"))
    val ct = tokens(target, Seq.empty).groupBy("token").agg(count(lit(1L)).as("c_t"))
    val feats = cr.join(ct, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("c_r"), lit(0L)).as("c_r"),
        coalesce(col("c_t"), lit(0L)).as("c_t"))
    val tot = feats.agg(sum("c_r").as("t_r"), sum("c_t").as("t_t"),
      count(lit(1L)).as("v"))
    val scored = feats.crossJoin(tot).select(col("token"),
      (log((col("c_t") + smoothing) / (col("t_t") + lit(smoothing) * col("v"))) -
        log((col("c_r") + smoothing) / (col("t_r") + lit(smoothing) * col("v"))))
        .as("log_ratio"))
    rawToks.join(scored, Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1L)).as("n_tokens"), avg(col("log_ratio")).as("__ce"))
      .select(col(idCol), col("n_tokens"),
        (round(col("__ce"), 6) + lit(0.0)).as("ce_diff"),
        (round(col("__ce"), 6) > 0).as("selected"))
  }

  /** Ungrouped [[TextAnalysis.dsirWeightsWhere]]. */
  def dsirWeightsWhereUngrouped(raw: DataFrame, targetFilter: Column,
      idCol: String, textCol: String, buckets: Int = 4096,
      smoothing: Double = 1.0): DataFrame = {
    val (cR, cT) = TextAnalysis.dsirBucketCounts(raw, targetFilter, idCol, textCol, buckets)
    TextAnalysis.dsirScoreWithModel(raw, idCol, textCol,
      TextAnalysis.dsirLogRatios(cR, cT, smoothing), buckets)
  }
}
