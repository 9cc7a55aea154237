package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style validation of the line-dedup family against a
  * SEQUENTIAL reference model — the invariants the per-row DuckDB oracle
  * can't see across randomized inputs:
  *
  *  - report soundness + completeness: duplicated-line classes are
  *    exactly the eligible line strings with >1 occurrence, each with its
  *    exact occurrence/doc counts and globally earliest (doc, ord) anchor;
  *  - cut soundness: a line occurrence is removed iff it is eligible,
  *    duplicated, and NOT the globally earliest occurrence of its string —
  *    short lines never cut, documents rebuilt in original order with
  *    trailing/empty lines preserved;
  *  - the incremental refresh equals the full cut restricted to batch
  *    docs (the append-only contract, here per-corpus by construction);
  *  - both builds (broadcast and the forced hash-pair shuffle, the
  *    100 TB path) equal the model exactly.
  *
  * Corpora are ScalaCheck-generated (seeded, deterministic): a small
  * per-corpus pool of long lines for dense natural cross-doc duplication,
  * plus SHORT lines (< minLineChars) shared across corpora — ineligible
  * by design, so sharing them cross-corpus proves the guard rather than
  * breaking tag-disjointness. All corpora batch into ONE DataFrame with
  * per-corpus line tags, so one distributed run decides every corpus:
  * 100 corpora × 2 builds × (report + cut + incremental) comparisons.
  */
class LinesPropertySpec extends SparkSpec {

  private val MinChars = 10
  private val Corpora = 100
  // short pool: every entry < MinChars even with no tag — never eligible
  private val ShortPool = Vector("", "--", "ok", "## intro", "end.")

  /** One corpus: up to 8 docs of up to 12 lines each, drawn from a pool
    * of 10 tagged long lines (≥ MinChars) and the shared short pool;
    * ~30% of docs append a trailing empty line (split keeps it).
    */
  private def corpusGen(tag: String): Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.choose(1, 8)
    docLines <- Gen.listOfN(nDocs, for {
      n <- Gen.choose(0, 12)
      picks <- Gen.listOfN(n, Gen.choose(0, 14))
      trail <- Gen.choose(0, 99)
    } yield (picks, trail < 30))
  } yield {
    val longPool = (0 until 10).map(i => s"long boilerplate line number $i $tag")
    docLines.zipWithIndex.map { case ((picks, trail), j) =>
      val lines = picks.map { p =>
        if (p < 10) longPool(p) else ShortPool(p - 10)
      }
      val text = lines.mkString("\n") + (if (trail) "\n" else "")
      (j.toLong, text)
    }
  }

  /** Sequential reference shared by the report/cut/incremental checks:
    * split exactly like the operator (trailing empties kept), eligibility
    * by character count, first occurrence in (doc, ord) order.
    */
  private def modelState(docs: Seq[(Long, String)]): (
      Map[String, (Long, Long, Long, Long)], // line -> (nOcc, nDocs, fDoc, fOrd)
      Map[Long, (Long, Long, Long, String)]) = { // id -> cut row
    val split = docs.map { case (id, t) => id -> t.split("\n", -1).toVector }
    val occ = for {
      (id, lines) <- split
      (line, i) <- lines.zipWithIndex if line.length >= MinChars
    } yield (line, id, (i + 1).toLong)
    val byLine = occ.groupBy(_._1)
    val classes = byLine.map { case (line, os) =>
      val f = os.map(o => (o._2, o._3)).min
      line -> (os.size.toLong, os.map(_._2).distinct.size.toLong, f._1, f._2)
    }
    val cut = split.map { case (id, lines) =>
      // an occurrence is dropped iff eligible, duplicated, and not the
      // globally earliest occurrence of its string (positional, so
      // within-doc repeats of the same line are decided per-ordinal)
      val dropAt = lines.zipWithIndex.map { case (line, i) =>
        line.length >= MinChars && classes.get(line).exists {
          case (n, _, fd, fo) => n > 1 && !(fd == id && fo == (i + 1).toLong)
        }
      }
      val keptLines = lines.zipWithIndex.collect {
        case (line, i) if !dropAt(i) => line
      }
      val droppedChars = lines.zipWithIndex.collect {
        case (line, i) if dropAt(i) => line.length.toLong
      }.sum
      id -> (lines.size.toLong, dropAt.count(identity).toLong,
        droppedChars, keptLines.mkString("\n"))
    }.toMap
    (classes.filter(_._2._1 > 1), cut)
  }

  /** Sequential reference for [[LineDedupe.lineProvenance]]: every
    * dropped occurrence with its keeper.
    */
  private def modelProvenance(
      docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long, Long)] = {
    val (classes, _) = modelState(docs)
    (for {
      (id, t) <- docs
      (line, i) <- t.split("\n", -1).zipWithIndex
      if line.length >= MinChars
      (n, _, fd, fo) <- classes.get(line)
      if n > 1 && !(fd == id && fo == (i + 1).toLong)
    } yield (id, (i + 1).toLong, line.length.toLong, fd, fo)).toSet
  }

  test("lines report + cut + incremental match the sequential model, both builds") {
    import spark.implicits._
    val corpora = (0 until Corpora).map { k =>
      val docs = corpusGen(s"c$k").pureApply(Gen.Parameters.default, Seed(7000L + k))
      k -> docs.map { case (j, t) => (k * 100L + j, t) }
    }
    val all = corpora.flatMap(_._2)
    val df = all.toDF("doc_id", "text").repartition(4)

    val wantClasses = corpora.flatMap { case (_, docs) => modelState(docs)._1 }.toMap
    val wantCut = corpora.flatMap { case (_, docs) => modelState(docs)._2 }.toMap
    assert(wantClasses.nonEmpty, "fixture generated no duplicates — weak test")
    // plenty of within-doc repeats and trailing empties must be present
    assert(wantClasses.exists(_._2._1 > 2), "no line with 3+ occurrences")

    val rep = LineDedupe.duplicateLines(df, "doc_id", "text", MinChars)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    assert(rep == wantClasses, {
      val extra = rep.keySet -- wantClasses.keySet
      val missing = wantClasses.keySet -- rep.keySet
      val diff = rep.collect {
        case (l, v) if wantClasses.get(l).exists(_ != v) =>
          s"$l got $v want ${wantClasses(l)}"
      }
      s"report diverges: extra=${extra.take(3)} missing=${missing.take(3)} " +
        s"diff=${diff.take(3).mkString("; ")}"
    })

    // per-corpus split: docs j<3 are the base, j>=3 the batch (base ids <
    // batch ids within each corpus; eligible lines are corpus-tagged, so
    // the per-corpus append-only contract is the global one — short
    // cross-corpus lines are ineligible and never indexed)
    val baseDf = df.filter(org.apache.spark.sql.functions.col("doc_id") % 100 < 3)
    val batchDf = df.filter(org.apache.spark.sql.functions.col("doc_id") % 100 >= 3)
    val idx = LineDedupe.lineIndex(baseDf, "text", MinChars)
    // the incremental model: a batch occurrence of a BASE-present line is
    // always cut (keeper lives in the base); batch-only lines keep their
    // batch-earliest — recompute from the model state of base ∪ batch
    val wantInc = wantCut.filter { case (id, _) => id % 100 >= 3 }

    val wantProv = corpora.flatMap { case (_, docs) => modelProvenance(docs) }.toSet

    // matrix rollup model: assign every doc a deterministic source and
    // group the provenance tuples by (dropped doc's source, keeper's
    // source) — the dedup_lines_matrix shape over the SAME model
    def srcOf(id: Long): String = s"s${id % 3}"
    val wantMatrix = wantProv.toSeq
      .groupBy { case (id, _, _, fd, _) => (srcOf(id), srcOf(fd)) }
      .map { case (k, rows) =>
        k -> (rows.size.toLong, rows.map(_._3).sum)
      }
    val srcDf = all.map { case (id, _) => (id, srcOf(id)) }
      .toDF("doc_id", "source")

    for (bcBytes <- Seq(Long.MaxValue, 0L)) {
      val tagB = if (bcBytes == 0L) "shuffle" else "broadcast"
      val gotProv = LineDedupe
        .lineProvenance(df, "doc_id", "text", MinChars, bcBytes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(gotProv == wantProv,
        s"$tagB provenance diverges from model: " +
          s"extra=${(gotProv -- wantProv).take(5)} " +
          s"missing=${(wantProv -- gotProv).take(5)}")
      val gotMatrix = LineDedupe.lineSourceMatrix(
        LineDedupe.lineProvenance(df, "doc_id", "text", MinChars, bcBytes),
        srcDf)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3)))
        .toMap
      assert(gotMatrix == wantMatrix, {
        val bad = gotMatrix.collect {
          case (k, v) if wantMatrix.get(k) != Some(v) =>
            s"$k got $v want ${wantMatrix.get(k)}"
        }
        s"$tagB matrix rollup diverges from model: " +
          s"${bad.take(3).mkString("; ")} " +
          s"(missing=${(wantMatrix.keySet -- gotMatrix.keySet).take(5)})"
      })
      val gotCut = LineDedupe
        .cutDuplicateLines(df, "doc_id", "text", MinChars, bcBytes)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
      assert(gotCut == wantCut, {
        val bad = gotCut.collect {
          case (id, v) if wantCut.get(id) != Some(v) =>
            s"doc $id got $v want ${wantCut.get(id)}"
        }
        s"$tagB cut diverges from model: ${bad.take(3).mkString("; ")}"
      })
      val gotInc = LineDedupe
        .cutLinesIncremental(idx, batchDf, "doc_id", "text", MinChars, bcBytes)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
      assert(gotInc == wantInc, {
        val bad = gotInc.collect {
          case (id, v) if wantInc.get(id) != Some(v) =>
            s"doc $id got $v want ${wantInc.get(id)}"
        }
        s"$tagB incremental diverges from full-cut: " +
          s"${bad.take(3).mkString("; ")} " +
          s"(missing=${(wantInc.keySet -- gotInc.keySet).take(5)})"
      })
    }
    idx.unpersist()
    SessionCaches.release()
  }
}
