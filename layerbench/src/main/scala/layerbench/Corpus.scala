package layerbench

import scala.util.Random

final case class Doc(doc_id: Long, text: String)

/** A seeded document corpus with planted structure:
  *  - `exactDups` documents are byte-identical copies of other documents;
  *  - near-duplicate families: a base document plus variants that differ
  *    from it in one or two words (3-shingle Jaccard well above 0.8);
  *  - boilerplate lines shared by many documents;
  *  - low-quality documents with fewer than 10 tokens.
  * Ids are a seeded permutation, so copies and families are scattered.
  */
final case class Corpus(docs: Vector[Doc], exactDups: Int, lowQuality: Int,
    nearPairs: Set[(Long, Long)]) {
  lazy val textBytes: Long = docs.map(_.text.getBytes("UTF-8").length.toLong).sum
}

object Corpus {
  private val Stop = Vector("the", "of", "and", "to", "in", "is", "that", "for", "it", "on",
    "with", "as", "was", "at", "by", "this", "from", "or", "be", "are")

  def build(seed: Long, base: Int, families: Int, variantsPerFamily: Int,
      exactDups: Int, lowQuality: Int): Corpus = {
    require(families + exactDups <= base, "families and copies are drawn from distinct bases")
    val rnd = new Random(seed)
    val vocab = Vector.fill(3000)(Vector.fill(4 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    val boiler = Vector.fill(40)(Vector.fill(8)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    def word(): String = if (rnd.nextInt(10) < 3) Stop(rnd.nextInt(Stop.size)) else vocab(rnd.nextInt(vocab.size))
    def line(): String =
      if (rnd.nextInt(5) == 0) boiler(rnd.nextInt(boiler.size))
      else Vector.fill(6 + rnd.nextInt(10))(word()).mkString(" ")
    val bases = Vector.fill(base)(Vector.fill(3 + rnd.nextInt(6))(line()).mkString("\n"))
    // a variant swaps one or two words that are not line breaks
    def variant(t: String): String = {
      val words = t.split(" ", -1)
      (1 to 1 + rnd.nextInt(2)).foreach { _ =>
        val i = rnd.nextInt(words.length)
        if (!words(i).contains("\n")) words(i) = vocab(rnd.nextInt(vocab.size))
      }
      words.mkString(" ")
    }
    val order = rnd.shuffle((0 until base).toVector)
    val famBases = order.take(families)
    val dupBases = order.slice(families, families + exactDups)
    // members of a family stay distinct, so no variant is also an exact copy
    val variants = famBases.map { b =>
      val vs = Iterator.continually(variant(bases(b))).filter(_ != bases(b))
        .scanLeft(Vector.empty[String])((acc, v) => if (acc.contains(v)) acc else acc :+ v)
        .dropWhile(_.size < variantsPerFamily).next()
      b -> vs
    }
    val lows = Vector.fill(lowQuality)(Vector.fill(3 + rnd.nextInt(6))(word()).mkString(" "))
    // texts in a fixed order, then ids assigned through a permutation
    val texts = bases ++ variants.flatMap(_._2) ++ dupBases.map(bases) ++ lows
    val ids = rnd.shuffle((0 until texts.size).toVector).map(_.toLong)
    val docs = texts.indices.map(i => Doc(ids(i), texts(i))).toVector
    // planted near-duplicate pairs: every two members of one family
    var at = base
    val pairs = variants.flatMap { case (b, vs) =>
      val members = ids(b) +: vs.indices.map(j => ids(at + j))
      at += vs.size
      for (x <- members; y <- members if x < y) yield (x, y)
    }.toSet
    Corpus(docs.sortBy(_.doc_id), exactDups, lowQuality, pairs)
  }
}
