package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupeSpec extends SparkSpec {

  private def docsDf = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat again and again today"), // near dup of 0
      (3L, "completely different content about spark query engines and shuffles"),
      (4L, "yet another unrelated document mentioning parquet files and chunks"))
      .toDF("doc_id", "text")
  }

  // Content-unique inputs for the bucket pair family: Spark's cache
  // manager keys entries by CANONICALIZED plan, so two calls over
  // byte-identical local fixtures would share one cache entry and alias
  // each other's persistence state. `tag` seeds one extra row.
  private def tagDocs(tag: String) = {
    import spark.implicits._
    docsDf.unionByName(Seq((5L, s"bucket pair family fixture tag $tag"))
      .toDF("doc_id", "text"))
  }

  private def tagSigs(tag: String) = {
    import spark.implicits._
    ((0L until 64L).map(i => (i, i * 0x9e3779b97f4a7c15L)) :+
      ((64L, tag.hashCode.toLong << 20))).toDF("id", "sig")
  }

  private def tagVecs(tag: String) = {
    import spark.implicits._
    val rng = new java.util.Random(1)
    def vec() = Array.fill(8)(rng.nextFloat() * 2 - 1)
    val v0 = vec()
    val v1 = v0.clone(); v1(0) = v1(0) + 0.01f
    val tagged = new java.util.Random(tag.hashCode.toLong)
    (Seq((0L, v0), (1L, v1)) ++ (2L until 20L).map(i => (i, vec())) :+
      ((20L, Array.fill(8)(tagged.nextFloat())))).toDF("vec_id", "embedding")
  }

  /** The five LSH / bucket near-dup operators, each run over the
    * content-unique fixture of `tag`. */
  private val bucketPairOps: Seq[(String, String => org.apache.spark.sql.DataFrame)] =
    Seq(
      "minhashPairs" -> (tag => Dedupe.minhashPairs(tagDocs(tag), "doc_id",
        "text", shingleK = 2, threshold = 0.3)),
      "minhashClassify" -> { tag =>
        val d = tagDocs(tag)
        Dedupe.minhashClassify(d.filter(col("doc_id") % 2 === 1),
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text", shingleK = 2,
          threshold = 0.3)
      },
      "hammingPairs" -> (tag => Dedupe.hammingPairs(tagSigs(tag))),
      "embeddingNearDups" -> (tag => Dedupe.embeddingNearDups(tagVecs(tag),
        "vec_id", "embedding", dim = 8, planes = 4, minCosine = 0.9)),
      "semanticDedupFromAssignment" -> (tag =>
        Similarity.semanticDedupFromAssignment(tagVecs(tag).select(
          (col("vec_id") % 3).as("bucket"), col("vec_id").as("id"),
          col("embedding").as("vec")), threshold = 0.9)))

  test("exactDuplicates: identical texts share fp, canonical = min id") {
    val r = Dedupe.exactDuplicates(docsDf, "doc_id", col("text"))
    val rows = r.select("doc_id", "canonical_id", "is_dup").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2))).sortBy(_._1)
    assert(rows(0) == ((0L, 0L, false)))
    assert(rows(1) == ((1L, 0L, true)))
    assert(rows(2)._3 == false && rows(3)._3 == false && rows(4)._3 == false)
  }

  test("minhashPairs: finds the near-dup pair, skips unrelated docs") {
    val pairs = Dedupe
      .minhashPairs(docsDf, "doc_id", "text", shingleK = 2, numHashes = 64,
        bands = 16, threshold = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((0L, 1L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), s"near dup pair missing: $pairs")
    assert(!pairs.exists { case (a, b) => b == 3L || b == 4L || a == 3L || a == 4L })
  }

  test("input-sized operators never write the caller's session conf") {
    // every operator that sizes its wide exchange from input stats
    // (Conf.sizedSession) builds it in a sized session and leaves the
    // caller's session exactly as it was handed over — including the
    // prefix-filter path and the eager line/estimator paths
    val caller = spark.newSession()
    import caller.implicits._
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    val before = caller.conf.getAll
    def unchanged(): Unit = assert(caller.conf.getAll == before)
    val docs = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    Dedupe.minhashPairs(docs, "doc_id", "text", shingleK = 2,
      numHashes = 64, bands = 16, threshold = 0.3).collect()
    unchanged()
    Dedupe.containmentPairs(docs, "doc_id", "text", k = 3,
      thresholdBp = 9000L).collect()
    unchanged()
    Dedupe.simhashPairs(docs, "doc_id", "text").collect()
    unchanged()
    Dedupe.minhashClassify(docs, docs, "doc_id", "text", shingleK = 2)
      .collect()
    unchanged()
    val lines = Seq((0L, "a repeated boilerplate line\nbody one"),
      (1L, "a repeated boilerplate line\nbody two")).toDF("doc_id", "text")
    LineDedupe.duplicateLines(lines, "doc_id", "text").collect()
    unchanged()
    LineDedupe.cutDuplicateLines(lines, "doc_id", "text").collect()
    unchanged()
    val f = java.nio.file.Files.createTempFile("graft-est", ".bin")
    f.toFile.deleteOnExit()
    java.nio.file.Files.write(f, Array.tabulate[Byte](1 << 16)(i => (i * 31).toByte))
    Estimator.estimate(caller, Seq(f.toString, f.toString))
    unchanged()
    SessionCaches.release()
  }

  test("minhashClassify: batch rows classify against the index, best match wins") {
    import spark.implicits._
    val index = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "yet another unrelated document mentioning parquet files and chunks"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact copy of 0
      (3L, "completely different content about spark query engines and shuffles"), // novel
      (5L, "the quick brown fox jumps over the lazy cat again and again today")) // exact copy of 2
      .toDF("doc_id", "text")
    val r = Dedupe
      .minhashClassify(batch, index, "doc_id", "text", shingleK = 2, threshold = 0.3)
      .collect()
      .map(x => x.getLong(0) ->
        ((x.getString(1), if (x.isNullAt(2)) -1L else x.getLong(2))))
      .toMap
    // doc 1 matches BOTH 0 (jaccard 1.0) and 2 (high) — best match is 0
    assert(r(1L) == (("neardup", 0L)), s"got ${r(1L)}")
    assert(r(3L) == (("new", -1L)), s"got ${r(3L)}")
    assert(r(5L) == (("neardup", 2L)), s"got ${r(5L)}")
    // one row per batch doc, nothing from the index leaks into the output
    assert(r.keySet == Set(1L, 3L, 5L))
  }

  test("minhash estimated jaccard tracks exact jaccard") {
    val r = Dedupe
      .minhashPairs(docsDf, "doc_id", "text", shingleK = 2, threshold = 0.0)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .head()
    assert(r.getDouble(2) == 1.0) // identical docs: all signature mins agree
    assert(r.getDouble(3) == 1.0)
  }

  test("ngramJaccardPairs: exact jaccard on near-dups, gram-frequency prune works") {
    val pairs = Dedupe
      .ngramJaccardPairs(docsDf, "doc_id", "text", k = 2, threshold = 0.3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(pairs((0L, 1L)) == 1.0, "identical docs => jaccard 1.0")
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a >= 3L || b >= 3L },
      s"unrelated docs must not pair: ${pairs.keys}")
    // aggressive frequency prune removes every gram (all shared by 0/1/2)
    val pruned = Dedupe.ngramJaccardPairs(docsDf, "doc_id", "text", k = 2,
      threshold = 0.3, maxGramFreq = 1L)
    assert(pruned.count() == 0)
  }

  /** Brute-force gram overlaps, the pair operators' reference: every
    * pair id_a < id_b sharing a gram that occurs in at most `cap` docs,
    * as (id_a, id_b, n_common over capped grams, na, nb over ALL grams). */
  private def pairOverlaps(docs: Seq[(Long, String)], k: Int,
      cap: Long): Seq[(Long, Long, Long, Long, Long)] = {
    val full = docs.map { case (id, t) => (id, Dedupe.wordGramHashes(t, k).toSet) }
    val docFreq = full.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val capped = full.map { case (id, gs) => (id, gs, gs.filter(docFreq(_) <= cap)) }
    for {
      (a, ga, ca) <- capped
      (b, gb, cb) <- capped
      if a < b
      nc = (ca & cb).size
      if nc > 0
    } yield (a, b, nc.toLong, ga.size.toLong, gb.size.toLong)
  }

  test("ngramJaccardPairs: matches a brute-force set-Jaccard reference") {
    import spark.implicits._
    // corpus engineered with HOT grams (a shared boilerplate tail on every
    // doc) plus exact and partial overlaps, odd sizes, and a sub-threshold
    // pair
    val boiler = "copyright footer all rights reserved contact us terms"
    val rows = (0L until 30L).map { i =>
      val body =
        if (i % 7 == 0) "identical body shared by the septuple group here"
        else s"unique body number $i with words w${i}a w${i}b w${i}c w${i}d"
      (i, s"$body $boiler")
    }
    val docs = rows.toDF("doc_id", "text")
    for (cap <- Seq(Long.MaxValue, 10L)) {
      val got = Dedupe
        .ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.3,
          maxGramFreq = cap)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      val want = pairOverlaps(rows, k = 3, cap).map { case (a, b, nc, na, nb) =>
        (a, b) -> (nc.toDouble / (na + nb - nc).toDouble,
          nc.toDouble / na.toDouble, nc.toDouble / nb.toDouble)
      }.filter(_._2._1 >= 0.3).toMap
      assert(want.nonEmpty, "test corpus must produce pairs")
      assert(got == want, s"diverges from the reference at cap=$cap")
    }
  }

  test("containmentPairs: catches asymmetric A-in-B pairs Jaccard misses") {
    import spark.implicits._
    // doc 1 = first half of doc 0's words: containment(1 in 0) ≈ 1 but
    // Jaccard ≈ 0.5 — below a 0.9 symmetric threshold
    val full = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val half = full.split(" ").take(10).mkString(" ")
    val docs = Seq((0L, full), (1L, half),
      (2L, "completely unrelated words about nothing shared at all here"))
      .toDF("doc_id", "text")
    val rows = Dedupe
      .containmentPairs(docs, "doc_id", "text", k = 3, thresholdBp = 9000L)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(7))).toMap
    assert(rows.keySet == Set((0L, 1L)), s"got ${rows.keySet}")
    // id_b (the half doc) is contained in id_a
    assert(rows((0L, 1L)) == "b_in_a")
    // the same pair is invisible to a 0.9 Jaccard threshold
    val jac = Dedupe
      .ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.9)
    assert(jac.count() == 0, "Jaccard at 0.9 must NOT see the excerpt pair")
  }

  test("containmentPairs: matches a brute-force set-containment reference, both df builds") {
    import spark.implicits._
    // hot boilerplate tail + excerpt pairs in BOTH directions (excerpt id
    // above and below its source id, so both least/greatest normalizations
    // are exercised), odd sizes, and sub-threshold pairs
    val boiler = "copyright footer all rights reserved contact us terms"
    val base = (0L until 24L).map { i =>
      val body = s"unique body number $i with words w${i}a w${i}b w${i}c " +
        s"w${i}d w${i}e w${i}f w${i}g w${i}h"
      (i, s"$body $boiler")
    }
    def halfOf(i: Long) =
      base(i.toInt)._2.split(" ").take(8).mkString(" ")
    val rows = base ++ Seq((100L, halfOf(3L)), (101L, halfOf(5L)),
      // excerpt id BELOW its source: forces the l.id > r.id branch
      (-7L, halfOf(9L)))
    val docs = rows.toDF("doc_id", "text")
    def run(cap: Long, bcLimit: Long) =
      Dedupe
        .containmentPairs(docs, "doc_id", "text", k = 3, thresholdBp = 8000L,
          maxGramFreq = cap, broadcastGramDfLimit = bcLimit)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getString(7)))).toMap
    for (cap <- Seq(Long.MaxValue, 10L)) {
      val want = pairOverlaps(rows, k = 3, cap).map { case (a, b, nc, na, nb) =>
        val (bpA, bpB) = (nc * 10000L / na, nc * 10000L / nb)
        val relation =
          if (bpA >= 8000L && bpB >= 8000L) "mutual"
          else if (bpA >= 8000L) "a_in_b" else "b_in_a"
        (a, b) -> (nc, na, nb, bpA, bpB, relation)
      }.filter { case (_, v) => math.max(v._4, v._5) >= 8000L }.toMap
      assert(want.nonEmpty, "test corpus must produce pairs")
      assert(run(cap, 4L * 1000 * 1000) == want,
        s"broadcast df build diverges from the reference at cap=$cap")
      // bcLimit = 0 forces the shuffle (window-df) perDoc build — the
      // 100 TB path the small fixture would otherwise never exercise
      assert(run(cap, 0L) == want,
        s"shuffle df build diverges from the reference at cap=$cap")
    }
    // the engineered excerpts are present and labeled asymmetric
    val labels = run(Long.MaxValue, 4L * 1000 * 1000)
    assert(labels((3L, 100L))._6 == "b_in_a")
    assert(labels((-7L, 9L))._6 == "a_in_b")
  }

  test("duplicateSpans: embedded repeats surface as maximal spans, both builds") {
    import spark.implicits._
    // w=5 keeps the fixture compact. Doc 0 and doc 1 share the 8-word
    // paragraph P (placed at different offsets); doc 2 repeats P twice
    // WITHIN itself; doc 3 is unique; doc 4 is too short for any window.
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"intro words one two $p closing words here"),
      (1L, s"$p totally different tail of document"),
      (2L, s"$p and then again $p"),
      (3L, "no duplicated content in this document at all whatsoever ok"),
      (4L, "short doc")).toDF("doc_id", "text")
    def run(bcLimit: Long) = Dedupe
      .duplicateSpans(docs, "doc_id", "text", windowTokens = 5,
        broadcastDupLimit = bcLimit)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val bc = run(4L * 1000 * 1000)
    val sh = run(0L) // forced shuffle build — the 100 TB path
    assert(bc == sh, s"builds diverge:\n$bc\nvs\n$sh")
    // doc 0: P occupies tokens 5..12 -> windows 5..8 dup -> span (5, 8)
    // doc 1: P at 1..8 -> span (1, 8)
    // doc 2: "P and then again P": P twice (1..8, 12..19); its windows
    //   recur, and no window straddling the middle does -> (1,8), (12,8)
    assert(bc.contains((0L, 5L, 8L)), s"doc 0 must carry span (5, 8): $bc")
    assert(bc.contains((1L, 1L, 8L)))
    assert(bc.contains((2L, 1L, 8L)) && bc.contains((2L, 12L, 8L)))
    assert(!bc.exists(_._1 == 3L), "unique doc must contribute no spans")
    assert(!bc.exists(_._1 == 4L), "sub-window doc must contribute no spans")
    // maximality: doc 0 has exactly one span
    assert(bc.count(_._1 == 0L) == 1)
  }

  test("cutDuplicateSpans: keep-earliest semantics, both builds agree") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"intro words one two $p closing words here"),
      (1L, s"$p totally different tail of document"),
      (2L, s"$p and then again $p"),
      (3L, "no duplicated content in this document at all whatsoever ok"),
      (4L, "short doc")).toDF("doc_id", "text")
    def run(bcLimit: Long) = Dedupe
      .cutDuplicateSpans(docs, "doc_id", "text", windowTokens = 5,
        broadcastDupLimit = bcLimit)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val bc = run(4L * 1000 * 1000)
    val sh = run(0L)
    assert(bc == sh, s"builds diverge:\n$bc\nvs\n$sh")
    assert(bc.keySet == Set(0L, 1L, 2L, 3L, 4L), "one row per doc")
    // P's earliest occurrence is doc 0 (its windows first appear there),
    // so doc 0 keeps everything
    assert(bc(0L) == (15L, 0L,
      "intro words one two alpha beta gamma delta epsilon zeta eta theta " +
        "closing words here".split(" ").mkString(" ")))
    // doc 1 loses P (tokens 1..8), keeps its unique tail
    assert(bc(1L) == (13L, 8L, "totally different tail of document"))
    // doc 2 loses both copies of P
    assert(bc(2L)._2 == 16L)
    assert(bc(2L)._3 == "and then again")
    // untouched docs pass through token-normalized
    assert(bc(3L) == (10L, 0L,
      "no duplicated content in this document at all whatsoever ok"))
    assert(bc(4L) == (2L, 0L, "short doc"))
  }

  test("cutSpansIncremental == full cut restricted to the batch, both builds") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"       // in base
    val q = "one two three four five six seven eight nine"        // batch-only dup
    val all = Seq(
      (0L, s"$p carried first by the base corpus here"),
      (1L, "some other base document with nothing shared at all"),
      (10L, s"$q and then the known part $p appears again"),      // loses p AND keeps q
      (11L, s"prefix words then $q trailing material"),           // loses q (10 is earlier)
      (12L, "a clean batch document with no repeats anywhere ok"))
    val df = all.toDF("doc_id", "text")
    val base = df.filter(col("doc_id") < 10)
    val batch = df.filter(col("doc_id") >= 10)
    val want = Dedupe
      .cutDuplicateSpans(df, "doc_id", "text", windowTokens = 5)
      .filter(col("doc_id") >= 10)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val idx = Dedupe.windowIndex(base, "text", windowTokens = 5)
    for (bcLimit <- Seq(Long.MaxValue, 0L)) {
      val got = Dedupe
        .cutSpansIncremental(idx, batch, "doc_id", "text", windowTokens = 5,
          broadcastDupLimit = bcLimit)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      assert(got == want, s"bcLimit=$bcLimit: $got\nvs\n$want")
    }
    // the semantics actually bit: doc 10 lost base-known P but kept its
    // batch-earliest Q; doc 11 lost Q to doc 10
    assert(want(10L)._2 == 8L, s"doc 10 should lose exactly P: $want")
    assert(want(11L)._2 == 9L, s"doc 11 should lose exactly Q: $want")
    assert(want(12L)._2 == 0L)
  }

  test("spanProvenance: redundant spans point at their kept copy, both builds") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"intro words one two $p closing words here"),
      (1L, s"$p totally different tail of document"),
      (2L, s"$p and then again $p"),
      (3L, "no duplicated content in this document at all whatsoever ok"))
      .toDF("doc_id", "text")
    def run(bcLimit: Long) = Dedupe
      .spanProvenance(docs, "doc_id", "text", windowTokens = 5,
        broadcastDupLimit = bcLimit)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    val bc = run(Long.MaxValue)
    val sh = run(0L)
    assert(bc == sh, s"builds diverge:\n$bc\nvs\n$sh")
    // doc 0 carries P first (tokens 5..12, windows 5..8 are the corpus
    // firsts) — it is never redundant, so no provenance rows for it;
    // docs 1 and 2 lose P to doc 0's position-5 first window
    assert(bc == Set(
      (1L, 1L, 8L, 0L, 5L),
      (2L, 1L, 8L, 0L, 5L),
      (2L, 12L, 8L, 0L, 5L)), s"got $bc")
  }

  test("spans broadcast builds: final rewrite plan is fully narrow (zero exchanges)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"intro words one two $p closing words here"),
      (1L, s"$p totally different tail of document"),
      (2L, "no duplicated content in this document at all whatsoever ok"))
      .toDF("doc_id", "text")
    def exchanges(pl: SparkPlan): Seq[ShuffleExchangeExec] = {
      val kids = pl match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      (pl match { case e: ShuffleExchangeExec => Seq(e); case _ => Nil }) ++
        kids.flatMap(exchanges)
    }
    // the operators return a scan of their materialized result: the
    // rewrite plan is the plan that filled that cache
    def rewriteExchanges(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      val cached = df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.size == 1, s"expected one cached result, got $cached")
      exchanges(cached.head.cacheBuilder.cachedPlan)
    }
    // under the broadcast limit, the duplicated-hash set / first-occurrence
    // map broadcast and the RESULT relation is one narrow pass over the
    // cached kernel output — the probe and aggregation ran in their own
    // earlier actions, so the rewrite plan itself must carry no exchange
    for (df <- Seq(
      Dedupe.duplicateSpans(docs, "doc_id", "text", windowTokens = 5),
      Dedupe.cutDuplicateSpans(docs, "doc_id", "text", windowTokens = 5,
        hash128 = true))) {
      val ex = rewriteExchanges(df)
      assert(ex.isEmpty,
        s"broadcast-path spans plan should be narrow, found exchanges:\n$ex")
    }
    // control: the forced shuffle build's rewrite does carry exchanges
    assert(rewriteExchanges(Dedupe.cutDuplicateSpans(docs, "doc_id", "text",
      windowTokens = 5, broadcastDupLimit = 0L)).nonEmpty)
    SessionCaches.release()
  }

  test("128-bit window identity prevents false cuts under engineered lo collisions") {
    import spark.implicits._
    // loBits = 0 masks the LOW identity half to a constant, making EVERY
    // window pairwise-collide there — the adversarial limit of the 64-bit
    // birthday risk (~10⁶ expected colliding windows at 10¹³ corpus
    // windows). The fixture has one genuine duplicate paragraph plus
    // unique text that must survive a cut.
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"unique opening sequence before the shared part $p trailing unique words"),
      (1L, s"$p entirely different closing material here"),
      (2L, "no duplicated content in this document at all whatsoever ok"))
      .toDF("doc_id", "text")
    def cut(hash128: Boolean, loBits: Int, bcLimit: Long) = Dedupe
      .cutDuplicateSpansImpl(docs, "doc_id", "text", windowTokens = 5,
        broadcastDupLimit = bcLimit, hash128 = hash128, loBits = loBits)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def spans(hash128: Boolean, loBits: Int, bcLimit: Long) = Dedupe
      .duplicateSpansImpl(docs, "doc_id", "text", windowTokens = 5,
        broadcastDupLimit = bcLimit, hash128 = hash128, loBits = loBits)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val truth = cut(hash128 = false, loBits = 64, bcLimit = Long.MaxValue)
    // 64-bit identity under total lo collision DOES delete innocent text —
    // the fixture is real (doc 2 has no duplicate yet loses tokens)
    val clobbered = cut(hash128 = false, loBits = 0, bcLimit = Long.MaxValue)
    assert(clobbered != truth, "collision fixture failed to engineer a false cut")
    assert(clobbered(2L)._2 > 0L,
      s"expected the unique doc to lose tokens under 64-bit collision: $clobbered")
    // the independently-seeded HIGH half disambiguates: 128-bit mode under
    // the same total-lo-collision returns the uncollided truth — on BOTH
    // builds (broadcast map and the forced-shuffle 100 TB path)
    assert(cut(hash128 = true, loBits = 0, bcLimit = Long.MaxValue) == truth,
      "128-bit broadcast build still false-cut under lo collisions")
    assert(cut(hash128 = true, loBits = 0, bcLimit = 0L) == truth,
      "128-bit shuffle build still false-cut under lo collisions")
    // same for the detector: spans under 128-bit identity match the truth
    val spansTruth = spans(hash128 = false, loBits = 64, bcLimit = Long.MaxValue)
    assert(spans(hash128 = false, loBits = 0, bcLimit = Long.MaxValue) != spansTruth,
      "collision fixture failed to engineer a false span")
    assert(spans(hash128 = true, loBits = 0, bcLimit = Long.MaxValue) == spansTruth)
    assert(spans(hash128 = true, loBits = 0, bcLimit = 0L) == spansTruth)
    // and hash128 with an honest lo is a no-op vs the 64-bit result
    assert(cut(hash128 = true, loBits = 64, bcLimit = Long.MaxValue) == truth)
  }

  /** Spark jobs `body` starts on this thread: its jobs run under a fresh
    * job group, and a marker job's start (listener events arrive in
    * order) proves every earlier job has been counted. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"span-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case g if g == group => jobs.incrementAndGet()
          case g if g == s"$group-marker" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "span operator")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("span operators start no more Spark jobs than pinned, both builds") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"intro words one two $p closing words here"),
      (1L, s"$p totally different tail of document"),
      (10L, s"$p and then again $p"),
      (11L, "no duplicated content in this document at all whatsoever ok"))
      .toDF("doc_id", "text")
    val base = docs.filter(col("doc_id") < 10)
    val batch = docs.filter(col("doc_id") >= 10)
    var idx: org.apache.spark.sql.DataFrame = null
    val got = scala.collection.mutable.LinkedHashMap(
      "windowIndex" -> jobsOf {
        idx = Dedupe.windowIndex(base, "text", windowTokens = 5)
      })
    for ((build, bcLimit) <- Seq("broadcast" -> 4L * 1000 * 1000, "shuffle" -> 0L)) {
      got(s"duplicateSpans/$build") = jobsOf {
        Dedupe.duplicateSpans(docs, "doc_id", "text", windowTokens = 5,
          broadcastDupLimit = bcLimit)
      }
      got(s"cutDuplicateSpans/$build") = jobsOf {
        Dedupe.cutDuplicateSpans(docs, "doc_id", "text", windowTokens = 5,
          broadcastDupLimit = bcLimit)
      }
      got(s"cutSpansIncremental/$build") = jobsOf {
        Dedupe.cutSpansIncremental(idx, batch, "doc_id", "text",
          windowTokens = 5, broadcastDupLimit = bcLimit)
      }
      got(s"spanProvenance/$build") = jobsOf {
        Dedupe.spanProvenance(docs, "doc_id", "text", windowTokens = 5,
          broadcastDupLimit = bcLimit)
      }
    }
    SessionCaches.release()
    // shuffle: the counts measured before the span operators shared one
    // front half and one redundancy build; broadcast: measured once the
    // build decision and the broadcast fetch became one pass. An added
    // eager action shows up here
    val pinned = Map(
      "windowIndex" -> 7,
      "duplicateSpans/broadcast" -> 8, "duplicateSpans/shuffle" -> 12,
      "cutDuplicateSpans/broadcast" -> 8, "cutDuplicateSpans/shuffle" -> 13,
      "cutSpansIncremental/broadcast" -> 9, "cutSpansIncremental/shuffle" -> 15,
      "spanProvenance/broadcast" -> 8, "spanProvenance/shuffle" -> 12)
    assert(got.keySet == pinned.keySet)
    for ((op, n) <- got)
      assert(n <= pinned(op), s"$op ran $n Spark jobs, pinned at ${pinned(op)}")
  }

  test("bucket pair operators start no more Spark jobs than pinned") {
    val got = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for ((name, op) <- bucketPairOps)
      got(name) = jobsOf(op("job pin"))
    // docs 0 and 1 are identical and 2 is their near copy: a cap of 2
    // sends their 3-member band buckets down the star path
    got("minhashPairs/capped") = jobsOf {
      Dedupe.minhashPairs(tagDocs("job pin capped"), "doc_id", "text",
        shingleK = 2, threshold = 0.3, maxBucketSize = 2)
    }
    got("minhashPairs/fullRecall") = jobsOf {
      Dedupe.minhashPairs(tagDocs("job pin full recall"), "doc_id", "text",
        shingleK = 2, threshold = 0.3, maxBucketSize = Int.MaxValue)
    }
    SessionCaches.release()
    // the counts measured before the five operators shared one pair
    // builder. An added eager action shows up here
    val pinned = Map(
      "minhashPairs" -> 20, "minhashPairs/capped" -> 21,
      "minhashPairs/fullRecall" -> 18, "minhashClassify" -> 21,
      "hammingPairs" -> 16, "embeddingNearDups" -> 17,
      "semanticDedupFromAssignment" -> 19)
    info(s"Spark jobs per operator: $got")
    assert(got.keySet == pinned.keySet)
    for ((op, n) <- got)
      assert(n <= pinned(op),
        s"$op ran $n Spark jobs, pinned at ${pinned(op)} (all: $got)")
  }

  test("minhashRecallEval: identity on exact dups, invariants on a border pair") {
    import spark.implicits._
    // docs 0/1 identical (every band matches — ALWAYS found); docs 2/3 a
    // borderline ~0.3-jaccard pair the banding may legitimately miss;
    // 4/5 unrelated
    val a = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 20).map(i => s"alpha$i").mkString(" ") + " " +
      (1 to 28).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (0L, "identical corpus text shared exactly by the first two docs"),
      (1L, "identical corpus text shared exactly by the first two docs"),
      (2L, a), (3L, b),
      (4L, "completely unrelated words about nothing at all"),
      (5L, "another disjoint document mentioning other things"))
      .toDF("doc_id", "text")
    val r = Dedupe.minhashRecallEval(docs, "doc_id", "text", threshold = 0.25)
      .head()
    val (nDocs, truePairs, foundPairs, missed, fp, recallBp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    assert(nDocs == 6L)
    assert(truePairs == 2L, s"expected pairs (0,1) and (2,3), got $truePairs")
    assert(fp == 0L, "exact-verify invariant: no false positives, ever")
    assert(foundPairs + missed == truePairs)
    assert(foundPairs >= 1L, "the identical pair matches every band")
    assert(recallBp == foundPairs * 10000L / truePairs)
    SessionCaches.release()
  }

  test("duplicateClusters: transitive chains collapse to the min-id cluster") {
    import spark.implicits._
    // chain 1-2, 2-3 plus isolated pair 10-11: clusters {1,2,3} and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedupe.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters: union-find and distributed min-label paths agree") {
    import spark.implicits._
    // random graph with chains, a clique, and isolated pairs; long chain
    // exercises multi-round convergence on the distributed path
    val rng = new scala.util.Random(11)
    val chain = (0 until 12).map(i => (i.toLong, i.toLong + 1))
    val clique = for (a <- 100 until 106; b <- (a + 1) until 106)
      yield (a.toLong, b.toLong)
    val random = (0 until 40).map(_ =>
      (200L + rng.nextInt(30), 200L + rng.nextInt(30))).filter(p => p._1 != p._2)
    val pairs = (chain ++ clique ++ random).toDF("id_a", "id_b")
    def run(cap: Long): Map[Long, Long] =
      Dedupe.duplicateClusters(pairs, maxIter = 30, singleTaskEdgeCap = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val small = run(Long.MaxValue) // union-find path
    val dist = run(0L)             // forced distributed iteration
    assert(small == dist)
    assert(small(12L) == 0L, "chain end reaches min label")
  }

  test("duplicateClusters: distributed rounds grow the plan linearly, not by doubling") {
    import spark.implicits._
    val pairs = (0 until 12).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    // rounds 1..7 all run before the every-8th-round localCheckpoint
    val sizes = (1 to 7).map { rounds =>
      Dedupe.duplicateClusters(pairs, maxIter = rounds, singleTaskEdgeCap = 0L)
        .queryExecution.analyzed.collect { case p => p }.size
    }
    val steps = sizes.zip(sizes.tail).map { case (a, b) => b - a }
    assert(steps.forall(_ == steps.head), s"plan nodes per round count: $sizes")
  }

  test("ngram containment: embedded doc scores 1.0 toward its container") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    val df = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val r = Dedupe.ngramJaccardPairs(df, "doc_id", "text", k = 3, threshold = 0.1).head()
    assert(r.getAs[Double]("containment_a") == 1.0, "small doc fully contained in big")
    assert(r.getAs[Double]("containment_b") < 1.0)
    assert(r.getAs[Double]("jaccard") < r.getAs[Double]("containment_a"))
  }

  test("over-cap buckets degrade to star pairs around the min id, not to zero") {
    import spark.implicits._
    // 30 identical docs: clique would give C(30,2)=435 pairs
    val df = (0L until 30L).map(i => (i, "same text repeated for everyone here"))
      .toDF("doc_id", "text")
    val capped = Dedupe.minhashPairs(df, "doc_id", "text", shingleK = 2,
      threshold = 0.9, maxBucketSize = 5)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == 29, s"star pattern: 29 canonical pairs, got ${pairs.size}")
    assert(pairs.forall(_._1 == 0L), "every pair links to the cluster's min id")
    val uncapped = Dedupe.minhashPairs(df, "doc_id", "text", shingleK = 2,
      threshold = 0.9, maxBucketSize = 2000)
    assert(uncapped.count() == 30L * 29 / 2)
    // the same 30 docs as a classify INDEX: every band bucket is hot, so
    // the index side is represented by its min id, the canonical match
    val batch = Seq((100L, "same text repeated for everyone here"),
      (101L, "a novel document that shares nothing with the index"))
      .toDF("doc_id", "text")
    val classified = Dedupe.minhashClassify(batch, df, "doc_id", "text",
      shingleK = 2, threshold = 0.9, maxBucketSize = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(classified == Map(100L -> (("neardup", 0L)), 101L -> (("new", -1L))),
      s"hot index bucket must surface through its min id: $classified")
    SessionCaches.release()
  }

  test("hammingPairs equals brute force on a pseudo-random sig relation") {
    import spark.implicits._
    // deterministic splitmix-style sigs + planted near pairs: id 2k+1 is
    // id 2k with one low bit flipped for k % 3 == 0
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val sigs = (0L until 200L).map { id =>
      val base = mix(id / 2)
      val sig =
        if (id % 2 == 1 && (id / 2) % 3 == 0) base ^ (1L << (id % 60).toInt)
        else if (id % 2 == 1) mix(id * 77L + 13L)
        else base
      (id, sig)
    }
    val got = Dedupe.hammingPairs(sigs.toDF("id", "sig"), maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(got == want, s"banded=${got.size} brute=${want.size}")
    assert(want.nonEmpty, "fixture must plant at least one near pair")
  }

  /** `refuse` must fail with the full-recall guard's message and leave
    * the persistent-RDD count where it found it: the refusal releases
    * every cache it built while checking. */
  private def assertRefusesWithoutLeak(refuse: => Unit): Unit = {
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException](refuse)
    assert(e.getMessage.contains("fullRecallBucketLimit"),
      s"guard must name its threshold, got: ${e.getMessage}")
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "refused full-recall call leaked cached relations")
  }

  test("hammingPairs full-recall mode refuses an over-limit bucket loudly") {
    import spark.implicits._
    // hostile corpus: fullRecallBucketLimit + 1 IDENTICAL signatures —
    // every band bucket holds all of them, so full recall would be
    // quadratic. The cap=Int.MaxValue registrations must fail loudly
    // here, never silently go all-pairs.
    val n = Dedupe.fullRecallBucketLimit.toInt + 1
    val hostile = spark.range(n).select(col("id"), lit(0x5eedL).as("sig"))
    assertRefusesWithoutLeak {
      Dedupe.hammingPairs(hostile, maxDistance = 3,
        maxBucketSize = Int.MaxValue)
    }
    // the same corpus under the default skew cap star-degrades fine
    val starred = Dedupe.hammingPairs(hostile, maxDistance = 3)
    assert(starred.count() == (n - 1).toLong,
      "default cap must star-degrade the hot bucket (n-1 pairs around min id)")
    // and a sane corpus passes full-recall mode untouched
    val sane = (0L until 64L).map(i => (i, i * 0x9e3779b97f4a7c15L)).toDF("id", "sig")
    Dedupe.hammingPairs(sane, maxDistance = 3, maxBucketSize = Int.MaxValue).count()
    SessionCaches.release()
  }

  test("minhashPairs full-recall mode refuses an over-limit bucket loudly") {
    import spark.implicits._
    // same hostile shape as the hammingPairs guard: identical text means
    // every band bucket holds the whole corpus — the oracle-parity
    // cap=Int.MaxValue path (text catalog queries) must refuse, not go
    // quadratic, and must release the caches it built while checking
    val n = Dedupe.fullRecallBucketLimit.toInt + 1
    val hostile = spark.range(n)
      .select(col("id"), lit("the same text every time again").as("text"))
    assertRefusesWithoutLeak {
      Dedupe.minhashPairs(hostile, "id", "text",
        numHashes = 16, bands = 4, maxBucketSize = Int.MaxValue)
    }
    // a sane corpus passes full-recall mode untouched
    val sane = (0L until 8L)
      .map(i => (i, s"doc number $i with its own words $i"))
      .toDF("id", "text")
    Dedupe.minhashPairs(sane, "id", "text",
      numHashes = 16, bands = 4, maxBucketSize = Int.MaxValue).unpersist()
  }

  test("embeddingNearDups full-recall mode refuses an over-limit bucket loudly") {
    // identical vectors share every hyperplane sign, so the one signature
    // bucket holds the whole corpus
    val n = Dedupe.fullRecallBucketLimit.toInt + 1
    val hostile = spark.range(n)
      .select(col("id"), lit(Array(1.0f, 0.0f)).as("vec"))
    assertRefusesWithoutLeak {
      Dedupe.embeddingNearDups(hostile, "id", "vec", dim = 2,
        maxBucketSize = Int.MaxValue)
    }
    // the default skew cap star-degrades the hot bucket: n-1 pairs, all
    // around the min id
    val starred = Dedupe.embeddingNearDups(hostile, "id", "vec", dim = 2)
      .select(col("id_a"), col("id_b")).collect()
    assert(starred.length == n - 1,
      s"default cap must star-degrade the hot bucket, got ${starred.length} pairs")
    assert(starred.forall(_.getLong(0) == 0L), "every pair links to the min id")
    SessionCaches.release()
  }

  test("simhash: identical text => distance 0; near text small; far text large") {
    val s0 = Dedupe.simhash(docsDf.collect()(0).getString(1))
    val s1 = Dedupe.simhash(docsDf.collect()(1).getString(1))
    val s2 = Dedupe.simhash(docsDf.collect()(2).getString(1))
    val s3 = Dedupe.simhash(docsDf.collect()(3).getString(1))
    assert(s0 == s1)
    assert(java.lang.Long.bitCount(s0 ^ s2) < java.lang.Long.bitCount(s0 ^ s3))
  }

  test("simhashPairs finds exact dup at distance 0") {
    val pairs = Dedupe
      .simhashPairs(docsDf, "doc_id", "text", maxDistance = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, d) => a == 0L && b == 1L && d == 0L })
  }

  test("embeddingNearDups: planted near-identical vectors pair up") {
    import spark.implicits._
    val rng = new java.util.Random(1)
    def vec() = Array.fill(16)(rng.nextFloat() * 2 - 1)
    val v0 = vec()
    val v1 = v0.clone(); v1(0) = v1(0) + 0.01f
    val rows = Seq((0L, v0), (1L, v1)) ++ (2L until 20L).map(i => (i, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedupe
      .embeddingNearDups(df, "vec_id", "embedding", dim = 16, planes = 8, minCosine = 0.99)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
  }

  test("bucket pair family cache lifecycle: SessionCaches.release releases every result") {
    import org.apache.spark.storage.StorageLevel
    // assert on THESE relations' storage state, not the SparkContext-global
    // getPersistentRDDs set: suites share one context and run in parallel,
    // so a global before/after diff races against every concurrent
    // .cache() elsewhere (and draining the global registry here could
    // unpersist a relation another suite is mid-consuming)
    val results = bucketPairOps.map { case (name, op) =>
      val r = op("release lifecycle")
      r.count() // consume the materialized result
      assert(r.storageLevel != StorageLevel.NONE,
        s"$name must hand back its materialized (cached) result")
      name -> r
    }
    SessionCaches.release()
    val kept = results.collect {
      case (name, r) if r.storageLevel != StorageLevel.NONE => name
    }
    assert(kept.isEmpty,
      s"SessionCaches.release must unpersist every result; still cached: $kept")
  }

  test("a release-free loop of the bucket pair family holds O(1) cached results") {
    import org.apache.spark.storage.StorageLevel
    // three rounds of all five operators (15 registrations) with no
    // release: the registry keeps at most MaxScoped, so the first round's
    // results are evicted (unpersisted) by the two rounds after it
    val rounds = (1 to 3).map { i =>
      bucketPairOps.map { case (name, op) =>
        val r = op(s"release-free loop round $i")
        r.count()
        assert(SessionCaches.scopedCount <= SessionCaches.MaxScoped)
        name -> r
      }
    }
    val results = rounds.flatten
    val stillPersisted = results.count(_._2.storageLevel != StorageLevel.NONE)
    assert(stillPersisted <= SessionCaches.MaxScoped,
      s"$stillPersisted of ${results.size} loop results still persisted: " +
        results.filter(_._2.storageLevel != StorageLevel.NONE).map(_._1)
          .groupBy(identity).map { case (n, xs) => s"$n ${xs.size}" }
          .mkString(", "))
    val neverEvicted = rounds.head.collect {
      case (name, r) if r.storageLevel != StorageLevel.NONE => name
    }
    assert(neverEvicted.isEmpty,
      s"first-round results the registry never evicted: $neverEvicted")
    // an evicted relation is still a valid plan: it recomputes
    val (_, first) = rounds.head.head
    assert(first.count() > 0)
    SessionCaches.release()
  }

  test("keepBestPerCluster: argmax score, min-id ties, singletons keep") {
    import spark.implicits._
    // cluster {1,2,3}: doc 2 scores highest -> kept; cluster {10,11}:
    // equal scores -> min id 10 kept; doc 50 is in no cluster -> kept
    val scored = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L),
      (50L, 1L)).toDF("doc_id", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val got = Dedupe.keepBestPerCluster(scored, clusters).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))).toMap
    assert(got == Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      10L -> ((10L, true)), 11L -> ((10L, false)), 50L -> ((50L, true))))
  }

  test("keepBestPerCluster includeKeptId: trailing kept_id, base unchanged") {
    import spark.implicits._
    val scored = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L),
      (50L, 1L)).toDF("doc_id", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val withId = Dedupe.keepBestPerCluster(scored, clusters,
      includeKeptId = true)
    // contract: the default four columns, then kept_id
    assert(withId.columns.toSeq ==
      Seq("doc_id", "cluster_id", "score", "keep", "kept_id"))
    val rows = withId.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("keep"),
          Option(r.getAs[java.lang.Long]("kept_id")).map(_.toLong)))).toMap
    // kept_id = the cluster's keeper for every clustered doc (keeper
    // included), null only for singletons — exactly what the old
    // keepers self-join attached to each dropped row
    assert(rows == Map(
      1L -> ((false, Some(2L))), 2L -> ((true, Some(2L))),
      3L -> ((false, Some(2L))), 10L -> ((true, Some(10L))),
      11L -> ((false, Some(10L))), 50L -> ((true, None))))
    // and the base projection is byte-identical to the default call
    val base = Dedupe.keepBestPerCluster(scored, clusters).collect()
      .map(_.toSeq).toSet
    assert(withId.drop("kept_id").collect().map(_.toSeq).toSet == base)
  }
}
