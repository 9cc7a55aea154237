package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/** The skew-capped candidate stage of the bucketing near-dup operators —
  * MinHash bands, Hamming pigeonhole blocks, hyperplane signatures,
  * SemDeDup centroids and the MinHash classify index. It is the filter
  * half of their filter-and-verify split; each caller keeps only its
  * signature pass, its key columns and its exact verifier.
  *
  * A bucket of B members contributes B² candidate pairs, so one hot
  * bucket (thousands of identical boilerplate docs) would turn the
  * candidate join quadratic. Buckets of at most `maxBucketSize` members
  * pair in full (clique); larger ones degrade to STAR candidates, every
  * member against the bucket's min id (B−1 pairs), so a giant duplicate
  * cluster still surfaces through its canonical member instead of
  * vanishing. `maxBucketSize = Int.MaxValue` is full-recall mode: it has
  * no star fallback, so a bucket past [[Dedupe.fullRecallBucketLimit]]
  * is refused up front rather than paired quadratically.
  *
  * Built by [[BucketPairs.apply]], which caches the per-bucket size
  * aggregate that both cap filters read; [[materialize]] ends the
  * operator and releases it.
  */
private[operators] final class BucketPairs private (
    members: DataFrame,
    keys: Seq[String],
    maxBucketSize: Int,
    sizes: DataFrame,
    owned: Seq[DataFrame]) {

  private def bucketsWhere(cond: Column): DataFrame =
    members.join(sizes.filter(cond).drop("bucket_n"), keys)

  /** The members of every bucket within the cap: these pair in full. */
  def small: DataFrame = bucketsWhere(col("bucket_n") <= maxBucketSize)

  /** (keys…, center) for every over-cap bucket: `center` is the struct
    * (id, payload…) of the bucket's min-id member. */
  def centers(payload: String*): DataFrame =
    bucketsWhere(col("bucket_n") > maxBucketSize)
      .groupBy(keys.map(col): _*)
      .agg(min(struct(("id" +: payload).map(col): _*)).as("center"))

  /** Candidate pairs (id_a, id_b) with id_a < id_b: the clique of every
    * under-cap bucket, plus every over-cap member against its bucket's min
    * id. Each `payload` column p of the members rides along as p_a and
    * p_b, so a verifier needs no per-id lookup join. A pair comes once per
    * bucket it shares: callers whose members sit in several buckets (LSH
    * bands, pigeonhole blocks) or may repeat an id drop the duplicates;
    * one-bucket-per-member callers skip that shuffle.
    */
  def pairs(payload: String*): DataFrame = {
    def sides(a: String => Column, b: String => Column) =
      a("id").as("id_a") +: b("id").as("id_b") +:
        payload.flatMap(p => Seq(a(p).as(s"${p}_a"), b(p).as(s"${p}_b")))
    val capped = small
    val clique = capped.as("l")
      .join(capped.as("r"),
        keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
          col("l.id") < col("r.id"))
      .select(sides(c => col(s"l.$c"), c => col(s"r.$c")): _*)
    val star = bucketsWhere(col("bucket_n") > maxBucketSize)
      .join(centers(payload: _*), keys)
      .filter(col("id") =!= col("center.id"))
      .select(sides(c => col(s"center.$c"), col): _*)
    clique.unionByName(star)
  }

  /** The operator's last step: materialize its verified `result`, release
    * the size aggregate and the caller's `owned` caches, and register the
    * result with [[SessionCaches.track]] so a scope or `release()` drops
    * it. Handed back in the `caller`'s session.
    */
  def materialize(result: DataFrame, caller: SparkSession): DataFrame = {
    val cached = result.cache()
    cached.count()
    release()
    GraftBridge.rebind(SessionCaches.track(cached), caller)
  }

  private def release(): Unit = (sizes +: owned).foreach(_.unpersist())
}

private[operators] object BucketPairs {

  /** Bucket `members` — (keys…, id, payload…), one row per bucket
    * membership — on `keys`. `owned` are the caller's cached inputs: they
    * are released with the size aggregate by [[BucketPairs.materialize]],
    * or before a full-recall refusal (named after `operator`) throws.
    */
  def apply(
      operator: String,
      members: DataFrame,
      keys: Seq[String],
      maxBucketSize: Int,
      owned: DataFrame*): BucketPairs = {
    val sizes = members.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .cache()
    val built = new BucketPairs(members, keys, maxBucketSize, sizes, owned)
    if (maxBucketSize == Int.MaxValue) {
      val maxBucket = sizes.agg(coalesce(max(col("bucket_n")), lit(0L)))
        .head().getLong(0)
      if (maxBucket > Dedupe.fullRecallBucketLimit) {
        built.release()
        throw new IllegalArgumentException(
          s"$operator full-recall mode (maxBucketSize = Int.MaxValue) found a " +
            s"bucket of $maxBucket members > fullRecallBucketLimit " +
            s"(${Dedupe.fullRecallBucketLimit}): pairing it would be " +
            "quadratic. Use the default skew cap (star degradation) or finer " +
            "buckets.")
      }
    }
    built
  }
}
