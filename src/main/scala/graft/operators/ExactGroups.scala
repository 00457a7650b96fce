package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Exact-duplicate grouping for the text kernels: collapse identical
 * texts to one GROUP row, do the kernel's work once per group, and
 * expand the group-grain result back to member ids. Verbatim
 * duplicates are the dominant redundancy of crawled and retweet-style
 * corpora, and every copy would otherwise pay the full signature,
 * shingle, pair or LM-scoring cost for information one representative
 * already carries. Used by [[Dedup.minhashNearDuplicates]],
 * [[Dedup.simhashNearDuplicates]], [[Dedup.ngramJaccardPairs]],
 * [[TextAnalysis.bigramPerplexity]], [[TextAnalysis.crossEntropyDiff]]
 * and [[TextAnalysis.dsirWeightsWhere]].
 *
 * ==Why a grouped kernel equals its ungrouped form==
 * (differential-pinned in DedupNgramSpec against the ungrouped
 * references)
 *  - A kernel's per-document result is a function of the text and of
 *    corpus-wide statistics only, so identical texts get identical
 *    signatures, shingle sets, pair similarities and scores.
 *  - Corpus-wide count statistics weight each group by its size `g`:
 *    a feature occurring c times in a text adds c·g, exactly the c per
 *    copy the ungrouped explode added.
 *  - Bucket caps compare Σg against the cap ([[pairs]]): all members of
 *    a group land in the same buckets, so Σg is the member count the
 *    ungrouped bucket held.
 *  - A group pairs with itself only when g ≥ 2, and that self-pair
 *    expands to the group's member combinations ([[expandPairs]]); a
 *    capped bucket that drops a shared feature lowers the within-group
 *    similarity below 1 exactly as it did for the member pairs.
 *
 * ==Preconditions and rules==
 *  - '''Ids are unique.''' `gid = min(id)` names a group by one member,
 *    and [[expandPairs]] orders member pairs by id. An id shared by two
 *    different near-duplicate texts yields an `(X, X)` pair. No filter
 *    guards this; callers that cannot promise unique ids must dedup
 *    ids first.
 *  - '''A null id gets no output row.''' `min` and `collect_list` skip
 *    nulls, so a null-id document never expands to a row or a pair,
 *    while `g = count(*)` still counts it: it feeds the corpus
 *    statistics and occupies bucket-cap slots as before.
 */
private[operators] object ExactGroups {

  /** One row per distinct (text, `keys`...): `__text`, the keys,
    * `gid` = min id, `g` = row count, `members` = the non-null ids.
    * Lazy localCheckpoint: the frame feeds both the kernel and the
    * final expansion, and its blocks belong to the RDD (released with
    * it), not to a session cache entry. */
  def of(df: DataFrame, idCol: String, textCol: String, keys: Column*): DataFrame =
    df.groupBy(col(textCol).as("__text") +: keys: _*)
      .agg(min(col(idCol)).as("gid"), count(lit(1L)).as("g"),
        collect_list(col(idCol)).as("members"))
      .localCheckpoint(eager = false)

  /** Group pairs inside each bucket: `rows` carries (`bucket`...,
    * `gid`, `fields`..., `g`), one row per group per bucket. Buckets
    * whose member count Σg is 1 or above `maxMembers` drop. Returns
    * structs `a` and `b` of (gid, fields..., g) with a.gid ≤ b.gid:
    * unordered combinations from a gid-sorted list (k(k+1)/2 rows, not
    * the k² cross product), where the (A, A) self-pair is kept only
    * for groups of ≥ 2 members. */
  def pairs(rows: DataFrame, bucket: Seq[String], fields: Seq[String],
      maxMembers: Int): DataFrame =
    rows.groupBy(bucket.map(col): _*)
      .agg(sort_array(collect_list(struct((("gid" +: fields) :+ "g").map(col): _*))).as("ps"),
        sum(col("g")).as("n"))
      .where(col("n") > 1 && col("n") <= maxMembers)
      .select(posexplode(col("ps")).as(Seq("__i", "a")), col("ps"))
      .select(col("a"),
        explode(slice(col("ps"), col("__i") + 1, size(col("ps")) - col("__i"))).as("b"))
      .where(col("a.gid") =!= col("b.gid") || col("a.g") >= 2)

  /** Group pairs (`gid_a`, `gid_b`, payload...) → member pairs (`id_a`,
    * `id_b`, payload...) with id_a < id_b. A cross-group pair emits
    * every member pair once; a self-pair (gid_a = gid_b) emits the
    * group's member combinations. */
  def expandPairs(gpairs: DataFrame, groups: DataFrame): DataFrame = {
    val payload = gpairs.columns.filterNot(Set("gid_a", "gid_b")).toSeq.map(col)
    val keep = col("gid_a") +: col("gid_b") +: payload
    val (ia, ib) = (col("__ia"), col("__ib"))
    gpairs
      .join(groups.select(col("gid").as("gid_a"), col("members").as("__ms_a")), "gid_a")
      .join(groups.select(col("gid").as("gid_b"), col("members").as("__ms_b")), "gid_b")
      .select(keep :+ explode(col("__ms_a")).as("__ia") :+ col("__ms_b"): _*)
      .select(keep :+ ia :+ explode(col("__ms_b")).as("__ib"): _*)
      .where(col("gid_a") =!= col("gid_b") || ia < ib)
      .select(when(ia < ib, ia).otherwise(ib).as("id_a") +:
        when(ia < ib, ib).otherwise(ia).as("id_b") +: payload: _*)
  }

  /** Per-group rows (`gid`, result...) → per-member rows (`idCol`,
    * result...). */
  def expandMembers(perGroup: DataFrame, groups: DataFrame, idCol: String): DataFrame =
    perGroup.join(groups.select(col("gid"), col("members")), "gid")
      .select(explode(col("members")).as(idCol) +:
        perGroup.columns.filterNot(_ == "gid").toSeq.map(col): _*)
}
