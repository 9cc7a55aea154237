package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {

  test("hashSplit is deterministic, partition-invariant, and near the target rate") {
    import spark.implicits._
    val df = spark.range(20000).select(col("id"))
    def holdoutIds(parts: Int): Set[Long] =
      Sampling.hashSplit(df.repartition(parts), col("id"), holdoutPct = 10)
        .filter(col("split") === "holdout").select("id").as[Long].collect().toSet
    val a = holdoutIds(1)
    val b = holdoutIds(32)
    assert(a == b)
    val rate = a.size.toDouble / 20000
    assert(rate > 0.08 && rate < 0.12, s"rate=$rate")
    // stability under corpus change: a subset's membership is unchanged
    val subset = Sampling.hashSplit(df.filter(col("id") < 5000), col("id"), 10)
      .filter(col("split") === "holdout").select("id").as[Long].collect().toSet
    assert(subset == a.filter(_ < 5000))
  }

  test("hashSample keeps exactly the holdout rows; pct bounds validated") {
    import spark.implicits._
    val df = spark.range(1000).select(col("id"))
    val sampled = Sampling.hashSample(df, col("id"), 25).select("id")
      .as[Long].collect().toSet
    val viaSplit = Sampling.hashSplit(df, col("id"), 25)
      .filter(col("split") === "holdout").select("id").as[Long].collect().toSet
    assert(sampled == viaSplit)
    assertThrows[IllegalArgumentException](Sampling.hashSplit(df, col("id"), 101))
    assert(Sampling.thresholdHex(10) == "1999")
    assert(Sampling.thresholdHex(0) == "0000")
    // boundary percentages behave, not just format: 100 keeps everything
    // (the naive 5-char "10000" threshold would keep ~6%), 0 keeps nothing
    assert(Sampling.hashSample(df, col("id"), 100).count() == 1000L)
    assert(Sampling.hashSample(df, col("id"), 0).count() == 0L)
  }

  test("composeMixture realizes target source ratios, bounded by the scarcest source") {
    import spark.implicits._
    // src A: 4000 rows, B: 2000, C: 500 (scarce), D: 1000 (unweighted)
    val df = ((0 until 4000).map(i => (i.toLong, "A")) ++
      (4000 until 6000).map(i => (i.toLong, "B")) ++
      (6000 until 6500).map(i => (i.toLong, "C")) ++
      (6500 until 7500).map(i => (i.toLong, "D"))).toDF("id", "src")
    val out = Sampling.composeMixture(df, col("id"), col("src"),
      Map("A" -> 5000, "B" -> 3000, "C" -> 2000))
    val kept = out.filter(col("kept")).groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // N = min(4000*10000/5000, 2000*10000/3000, 500*10000/2000) = 2500
    // targets: A 1250, B 750, C 500 (C keeps everything: thr hits cap)
    assert(kept("C") == 500L, s"scarce source keeps all, got $kept")
    assert(!kept.contains("D"), "unweighted source dropped")
    assert(math.abs(kept("A") - 1250L) < 150, s"A target 1250, got ${kept("A")}")
    assert(math.abs(kept("B") - 750L) < 120, s"B target 750, got ${kept("B")}")
    // determinism: re-run keeps the identical row set
    val again = Sampling.composeMixture(df, col("id"), col("src"),
      Map("A" -> 5000, "B" -> 3000, "C" -> 2000))
      .filter(col("kept")).select("id").as[Long].collect().toSet
    assert(again == out.filter(col("kept")).select("id").as[Long].collect().toSet)
  }

  test("composeMixture validates weights and presence") {
    import spark.implicits._
    val df = Seq((1L, "A")).toDF("id", "src")
    assertThrows[IllegalArgumentException](
      Sampling.composeMixture(df, col("id"), col("src"), Map.empty))
    assertThrows[IllegalArgumentException](
      Sampling.composeMixture(df, col("id"), col("src"), Map("A" -> 9999)))
    assertThrows[IllegalArgumentException](
      Sampling.composeMixture(df, col("id"), col("src"), Map("A" -> 5000, "Z" -> 5000)))
  }

  test("stratifiedHashSample: per-stratum rates, determinism, sentinel 100/0") {
    import spark.implicits._
    val df = spark.range(30000)
      .select(col("id"), (col("id") % 3).cast("string").as("s"))
      .withColumn("s", concat(lit("src"), col("s")))
    val out = Sampling.stratifiedHashSample(df, col("id"), col("s"),
      Map("src0" -> 100, "src1" -> 25, "src2" -> 0), defaultPct = 10)
    val rates = out.groupBy("s").agg(
        avg(col("kept").cast("double")).as("rate"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("src0") == 1.0, "pct=100 keeps everything")
    assert(rates("src2") == 0.0, "pct=0 keeps nothing")
    assert(rates("src1") > 0.22 && rates("src1") < 0.28, s"src1=${rates("src1")}")
    // unlisted stratum → defaultPct
    val other = Sampling.stratifiedHashSample(
      spark.range(10000).select(col("id"), lit("srcX").as("s")),
      col("id"), col("s"), Map("src0" -> 100), defaultPct = 10)
    val r = other.filter(col("kept")).count().toDouble / 10000
    assert(r > 0.08 && r < 0.12, s"default rate=$r")
    // same key ⇒ same membership regardless of corpus around it
    val a = Sampling.stratifiedHashSample(df.filter(col("id") < 1000),
        col("id"), col("s"), Map("src1" -> 25), defaultPct = 10)
      .filter(col("kept")).select("id").as[Long].collect().toSet
    val b = Sampling.stratifiedHashSample(df, col("id"), col("s"),
        Map("src1" -> 25), defaultPct = 10)
      .filter(col("kept") && col("id") < 1000).select("id").as[Long].collect().toSet
    assert(a == b)
  }

  test("stratifiedHashSample rejects nulls and bad pcts") {
    import spark.implicits._
    val df = Seq((Some(1L), "a"), (None, "a")).toDF("id", "s")
    val e = intercept[Exception] {
      Sampling.stratifiedHashSample(df, col("id"), col("s"), Map("a" -> 50)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("null sample key")))
    assertThrows[IllegalArgumentException] {
      Sampling.stratifiedHashSample(df, col("id"), col("s"), Map("a" -> 101))
    }
  }

  test("null split keys fail loudly instead of silently landing in train") {
    import spark.implicits._
    val df = Seq(Some(1L), None, Some(3L)).toDF("id")
    for (pct <- Seq(10, 100)) {
      val e = intercept[Exception] {
        Sampling.hashSplit(df, col("id"), pct).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("null sample key")), s"pct=$pct: $e")
    }
    // non-null rows are unaffected
    val ok = Sampling.hashSplit(df.filter(col("id").isNotNull), col("id"), 10)
    assert(ok.count() == 2L)
  }

  test("globalShuffleOrder: a bijective, key-pure, partition-invariant permutation") {
    val df = spark.range(0, 500).toDF("doc_id")
    val out = Sampling.globalShuffleOrder(df, col("doc_id"), "epoch0")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // positions are exactly 0..n-1, each id once
    assert(out.map(_._3).sorted.toSeq === (0L until 500L))
    assert(out.map(_._1).distinct.length === 500)
    // order agrees with a driver-side sort of the same keys
    val expected = out.sortBy(t => (t._2, t._1)).map(_._1).toSeq
    assert(out.sortBy(_._3).map(_._1).toSeq === expected)
    // partition-invariant: a different input layout yields the same permutation
    val out2 = Sampling.globalShuffleOrder(df.repartition(7), col("doc_id"), "epoch0")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(out2.toSeq === out.map(t => (t._1, t._3)).sortBy(_._1).toSeq)
    // a different salt is a different permutation
    val out3 = Sampling.globalShuffleOrder(df, col("doc_id"), "epoch1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(out3.map(_._2).toSeq != out.map(t => (t._1, t._3)).sortBy(_._1).map(_._2).toSeq)
  }

  test("globalShuffleOrder rejects null keys") {
    import spark.implicits._
    val df = Seq(Some(1L), None, Some(3L)).toDF("doc_id")
    val e = intercept[Exception] {
      Sampling.globalShuffleOrder(df, col("doc_id"), "s").collect()
    }
    assert(e.getMessage != null)
  }

  test("interleaveBySource: round-robin slots, per-source ranks dense") {
    import spark.implicits._
    val df = (0L until 90L).map(i => (i, s"src${(i % 3).toInt}")).toDF("doc_id", "source")
    val out = Sampling.interleaveBySource(df, col("doc_id"), col("source"), "e0")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // slots are a bijection onto 0..n-1 when sources are equal-sized
    assert(out.map(_._5).sorted.toSeq === (0L until 90L))
    // reading in slot order alternates sources strictly
    val bySlot = out.sortBy(_._5).map(_._2)
    bySlot.grouped(3).foreach(g => assert(g.toSet.size === 3))
    // rank_in_source dense 0..29 per source
    out.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (0L until 30L))
    }
    // deterministic under repartition
    val out2 = Sampling.interleaveBySource(df.repartition(7), col("doc_id"), col("source"), "e0")
      .collect().map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1)
    assert(out2.toSeq === out.map(t => (t._1, t._5)).sortBy(_._1).toSeq)
  }

  test("interleaveBySource: unequal sources leave slot gaps but keep order sane") {
    import spark.implicits._
    val df = ((0L until 10L).map(i => (i, "a")) ++ (100L until 103L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val out = Sampling.interleaveBySource(df, col("doc_id"), col("source"), "e0")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(4)))
    // all slots distinct; source b occupies odd slots 1,3,5 only while alive
    assert(out.map(_._3).distinct.length === 13)
    assert(out.filter(_._1 == "b").map(_._3).sorted.toSeq === Seq(1L, 3L, 5L))
  }
}
