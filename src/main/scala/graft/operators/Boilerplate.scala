package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Passage-level boilerplate removal — the cross-document repetition
  * filter of CCNet / RefinedWeb-style pipelines (public method): split
  * each document into fixed-width word passages, count how many DISTINCT
  * documents each passage occurs in, drop passages above the duplication
  * threshold, and reassemble the surviving text in order.
  *
  * Fully relational: passage split is a per-row expression, duplication
  * is one (passage)-keyed aggregate, reassembly is an ordered
  * collect_list — so the whole operator carries a cell-exact SQL oracle.
  *
  * Scale: the exploded passage relation is |words|/width rows per doc —
  * smaller than the token stream; the only shuffles are the passage-df
  * aggregate and the per-doc reassembly. Passages here travel as TEXT
  * (exact SQL parity); at 100 TB swap the join key to xxhash64(passage)
  * and keep text only on the doc side — same plan shape.
  */
object Boilerplate {

  /** @param width passage width in words (the last passage may be shorter)
    * @param maxDocFreq passages appearing in MORE than this many distinct
    *   documents are boilerplate (default 1 = any cross-document repeat)
    * @return per-doc (id, n_passages, n_boilerplate, boilerplate_ratio,
    *         clean_text); documents with no words are absent (no passages)
    */
  def removeBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 10,
      maxDocFreq: Long = 1L): DataFrame = {
    require(width >= 1, "passage width must be >= 1")
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    // The passage split is a TYPED KERNEL, not a column-expression chain:
    // the expression form (posexplode over transform(sequence, i =>
    // array_join(slice(words, …)))) re-evaluates the `words` subtree —
    // the full split(lower(text)) — inside the lambda body once PER
    // PASSAGE, turning the split into O(passages × words) per document
    // (the same higher-order-function pathology gramRows documents).
    // The kernel splits once per document; semantics are identical to
    // split(lower(text), " ") with empties dropped, fixed-width grouping,
    // space-rejoin — the cell-exact SQL oracle is unchanged.
    val session = df.sparkSession
    import session.implicits._
    val p = df
      .select(
        // loud null-key failure (the Sampling convention): the typed
        // kernel's Long decoder would otherwise throw an opaque encoder
        // NPE that names neither the operator nor the key
        when(col(idCol).isNull,
            raise_error(lit("removeBoilerplate: null id — every document " +
              "needs a non-null key")))
          .otherwise(col(idCol)).cast("long"),
        col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          // Locale.ROOT: default-locale toLowerCase diverges from Spark's
          // lower() and the SQL oracle under tr-TR-style locales (I → ı)
          val ws = text.toLowerCase(java.util.Locale.ROOT)
            .split(" ").iterator.filter(_.nonEmpty)
          ws.grouped(width).zipWithIndex
            .map { case (chunk, i) => (id, i, chunk.mkString(" ")) }
        }
      }
      .toDF("id", "pos", "ptext")
    val pdf = p.groupBy(col("ptext"))
      .agg(countDistinct(col("id")).as("pdf"))
    p.join(pdf, "ptext")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("pdf") > maxDocFreq, 1L).otherwise(0L)).as("n_boilerplate"),
        // collect_list skips nulls, so boilerplate passages vanish before
        // the ordered reassembly; array_sort on (pos, text) structs orders
        // by pos (unique per doc)
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("pdf") <= maxDocFreq, struct(col("pos"), col("ptext"))))),
          x => x.getField("ptext"))).as("clean_text"))
      .withColumn("boilerplate_ratio",
        col("n_boilerplate").cast("double") / col("n_passages").cast("double"))
      .select(col("id"), col("n_passages"), col("n_boilerplate"),
        col("boilerplate_ratio"), col("clean_text"))
  }
}
