package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's box-drift normalization inputs
  * ([[Bench.kernelRatiosVsPrev]] / [[Bench.medianOr]]): the codec-kernel
  * ratio is the round-over-round "box, not plans" probe, so extracting a
  * previous RATIO instead of a previous TIME (the round-18 review catch:
  * new-format artifacts repeat every kernel name inside their own
  * codec_kernel_ratios block, BEFORE the times) would silently publish a
  * fake ~2× regression — exactly the failure the field exists to rule
  * out.
  */
class BenchNormalizationSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"
  // a round-18+ style artifact: kernel names appear FIRST as ratios,
  // then as shared-build times, then as query times
  private val newFormat =
    s"""{"metric":"total","value":100.0,"unit":"sec","load_index":1.2,""" +
      s""""sentinel_floor":0.200,"normalized_total":75.5,""" +
      s""""codec_kernel_ratio_vs_prev":1.141,""" +
      s""""codec_kernel_ratios":{"mm_audio_fp":1.141,"mm_video_fp":0.923,"mm_phash_dedup":0.520,"phash_pairs":0.673,"video_pairs":0.852},""" +
      s""""shared_builds":{"phash_pairs":4.000,"video_pairs":2.000},""" +
      s""""queries":{"mm_audio_fp":2.000,"mm_video_fp":1.000,"mm_phash_dedup":0.500},"sf":"$sf"}"""
  // a pre-r18 artifact: no ratios block at all
  private val oldFormat =
    s"""{"metric":"total","value":100.0,"unit":"sec",""" +
      s""""shared_builds":{"phash_pairs":4.0,"video_pairs":2.0},""" +
      s""""queries":{"mm_audio_fp":2.0,"mm_video_fp":1.0,"mm_phash_dedup":0.5},"sf":"$sf"}"""

  private val current = Map(
    "mm_audio_fp" -> 3.0, "mm_video_fp" -> 1.5, "mm_phash_dedup" -> 1.0,
    "phash_pairs" -> 4.0, "video_pairs" -> 3.0)

  test("ratios divide by previous TIMES even when a ratios block precedes them") {
    val r = Bench.kernelRatiosVsPrev(newFormat, sf, current).toMap
    // 3.0/2.000, NOT 3.0/1.141 (the ratio the old whole-text match read)
    assert(r("mm_audio_fp") === 1.5)
    assert(r("mm_video_fp") === 1.5)
    assert(r("mm_phash_dedup") === 2.0)
    assert(r("phash_pairs") === 1.0) // from shared_builds
    assert(r("video_pairs") === 1.5)
  }

  test("old-format artifacts extract identically") {
    val r = Bench.kernelRatiosVsPrev(oldFormat, sf, current).toMap
    assert(r === Map("mm_audio_fp" -> 1.5, "mm_video_fp" -> 1.5,
      "mm_phash_dedup" -> 2.0, "phash_pairs" -> 1.0, "video_pairs" -> 1.5))
  }

  test("cross-SF artifacts yield no ratios (the sf0.01-vs-sf0.1 junk guard)") {
    assert(Bench.kernelRatiosVsPrev(newFormat, "/root/testdata/sf0.01",
      current).isEmpty)
  }

  test("artifacts without a shared_builds section yield no ratios") {
    assert(Bench.kernelRatiosVsPrev(
      s"""{"value":1.0,"sf":"$sf"}""", sf, current).isEmpty)
  }

  test("kernels missing on either side are skipped, not zeroed") {
    val partial = Bench.kernelRatiosVsPrev(newFormat, sf,
      Map("mm_audio_fp" -> 3.0)).toMap
    assert(partial === Map("mm_audio_fp" -> 1.5))
    // a -1 failure marker on the current side is excluded too
    val failed = Bench.kernelRatiosVsPrev(newFormat, sf,
      Map("mm_audio_fp" -> -1.0, "mm_video_fp" -> 1.5)).toMap
    assert(failed === Map("mm_video_fp" -> 1.5))
  }

  test("prevStreamFloor: present, absent, cross-SF, and failed-marker cases") {
    // an r19+ artifact carries the streaming I/O-floor probe
    val withFloor =
      s"""{"metric":"total","sentinel_floor":0.200,""" +
        s""""stream_sentinel_floor":0.450,"stream_floor_secs":[0.450,0.470],""" +
        s""""queries":{},"sf":"$sf"}"""
    assert(Bench.prevStreamFloor(withFloor, sf) === 0.450)
    // pre-r19 artifacts (the committed r18 headline's format) have no
    // field: -1 = unavailable, never a fake ratio
    assert(Bench.prevStreamFloor(newFormat, sf) === -1.0)
    // cross-SF floors are junk for the same reason kernel ratios are
    assert(Bench.prevStreamFloor(withFloor, "/root/testdata/sf0.01") === -1.0)
    // a previous run whose every probe failed published -1; that must
    // not propagate as a "previous floor"
    val failed = withFloor.replace("\"stream_sentinel_floor\":0.450",
      "\"stream_sentinel_floor\":-1.000")
    assert(Bench.prevStreamFloor(failed, sf) === -1.0)
  }

  test("prevQueryTimes reads the queries block only (never ratios/shared)") {
    val t = Bench.prevQueryTimes(newFormat, sf)
    // mm_audio_fp appears three times in the artifact (ratio 1.141,
    // shared-build-adjacent, query time 2.000) — only the QUERY time may
    // come back, or the vs-prev trigger compares against garbage
    assert(t === Map("mm_audio_fp" -> 2.0, "mm_video_fp" -> 1.0,
      "mm_phash_dedup" -> 0.5))
    // cross-SF baselines are junk for the same reason kernel ratios are
    assert(Bench.prevQueryTimes(newFormat, "/root/testdata/sf0.01").isEmpty)
    // no queries block at all → empty, trigger disabled
    assert(Bench.prevQueryTimes(s"""{"value":1.0,"sf":"$sf"}""", sf).isEmpty)
    // -1 failure markers in the previous artifact are not baselines
    val failed = newFormat.replace("\"mm_video_fp\":1.000,", "\"mm_video_fp\":-1.0,")
    assert(!Bench.prevQueryTimes(failed, sf).contains("mm_video_fp"))
  }

  test("burstSuspects: trigger arithmetic, cap, and the failure-visibility rule") {
    val prev = Map("a" -> 1.0, "b" -> 0.1, "c" -> 2.0, "d" -> 1.0, "e" -> 1.0)
    val floor = 0.2
    // threshold = max(4×prev, prev + 2×floor)
    //  a: prev 1.0 → 4.0 ; 4.0 is NOT > 4.0 (strict), 4.01 is
    assert(Bench.burstSuspects(Seq("a" -> 4.0), prev, floor).isEmpty)
    assert(Bench.burstSuspects(Seq("a" -> 4.01), prev, floor) === Seq("a"))
    //  b: prev 0.1 → max(0.4, 0.5) = 0.5 (the +2×floor arm dominates for
    //  sub-floor queries, so a 0.45 s reading on a 0.1 s query — box
    //  noise on an idle run — does NOT requeue)
    assert(Bench.burstSuspects(Seq("b" -> 0.45), prev, floor).isEmpty)
    assert(Bench.burstSuspects(Seq("b" -> 0.55), prev, floor) === Seq("b"))
    // a -1 failure marker never remeasures into a pass
    assert(Bench.burstSuspects(Seq("a" -> -1.0), prev, floor).isEmpty)
    // unknown queries (new this round) have no baseline — skipped
    assert(Bench.burstSuspects(Seq("zz" -> 99.0), prev, floor).isEmpty)
    // no sentinel floor (every sample failed) disables the trigger
    assert(Bench.burstSuspects(Seq("a" -> 99.0), prev, -1.0).isEmpty)
    // cap keeps the WORST ratios: d reads 10× (10.0), e reads 100× (100.0)
    val capped = Bench.burstSuspects(
      Seq("d" -> 10.0, "e" -> 100.0), prev, floor, cap = 1)
    assert(capped === Seq("e"))
    // a deliberately-inflated figure (this round's own baseline case:
    // 0.48 s → 10.21 s at li 1.94) requeues
    assert(Bench.burstSuspects(
      Seq("a" -> 10.21), Map("a" -> 0.48), floor) === Seq("a"))
  }

  /** The committed headline artifact at the build's base directory (the
    * forked test JVM's `user.dir`). Cancels only when the artifact is
    * genuinely absent there, with the path it looked at.
    */
  private def committedArtifact: String = {
    val found = java.nio.file.Paths.get(sys.props("user.dir"), "bench_full.json")
    if (!java.nio.file.Files.exists(found))
      cancel(s"committed bench_full.json not found at $found")
    new String(java.nio.file.Files.readAllBytes(found),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** First regex group in the artifact, with a descriptive failure
    * instead of a bare NoSuchElementException when a field is missing.
    */
  private def artifactField(txt: String, pattern: String, what: String): String =
    pattern.r.findFirstMatchIn(txt) match {
      case Some(m) => m.group(1)
      case None => fail(s"committed bench_full.json has no $what field")
    }

  test("the COMMITTED artifact's own times trigger no vs-prev remeasure") {
    val txt = committedArtifact
    val sfInArtifact = artifactField(txt, "\"sf\":\"([^\"]+)\"", "sf")
    val prev = Bench.prevQueryTimes(txt, sfInArtifact)
    assert(prev.size > 100, s"expected a full catalog, got ${prev.size}")
    val floor = artifactField(txt,
      "\"sentinel_floor\":(-?[0-9][0-9.eE+-]*)", "sentinel_floor").toDouble
    assert(Bench.burstSuspects(prev.toSeq, prev, floor).isEmpty)
    // same self-consistency for the round-21 stretch trigger: every
    // ratio is 1.0 against itself, so no block's median can stand out
    assert(Bench.stretchSuspects(prev.toSeq.sortBy(_._1), prev).isEmpty)
  }

  test("stretchSuspects: a localized inflated stretch fires, calm/uniform/single-query cases do not") {
    // 30-query catalog, prev all 1.0 s; block 0 (indices 0-9) inflated 3×
    val names = (0 until 30).map(i => f"q$i%02d")
    val prev = names.map(_ -> 1.0).toMap
    val burst = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i < 10) 3.0 else 1.0)
    }
    // run median 1.0, block-0 median 3.0 > 1.5×1.0 → exactly block 0's
    // inflated queries fire, worst ratios first
    assert(Bench.stretchSuspects(burst, prev).toSet === names.take(10).toSet)
    // a single genuinely-regressed query cannot trip its block's median
    val single = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i == 3) 5.0 else 1.0)
    }
    assert(Bench.stretchSuspects(single, prev).isEmpty)
    // a uniform box slowdown inflates the run median too — no block
    // stands out, nothing fires (that is normalization's job, not a
    // remeasure's)
    val uniform = names.map(_ -> 3.0)
    assert(Bench.stretchSuspects(uniform, prev).isEmpty)
    // missing previous artifact disables the trigger
    assert(Bench.stretchSuspects(burst, Map.empty).isEmpty)
    // -1 failure markers never requeue (failure-visibility rule)
    val failed = burst.map { case (n, t) => n -> (if (t == 3.0) -1.0 else t) }
    assert(Bench.stretchSuspects(failed, prev).isEmpty)
    // cap keeps the WORST ratios
    val capped = Bench.stretchSuspects(burst, prev, cap = 2)
    assert(capped.length == 2 && capped.toSet.subsetOf(names.take(10).toSet))
    // inside a fired block, only queries above the bar remeasure: a
    // 1.0-ratio query sharing the block rides along untouched
    val mixed = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i < 10 && i % 2 == 0) 4.0 else 1.0)
    }
    // 5 of block 0's 10 ratios are 4.0 → block median (4.0+1.0)/2 = 2.5
    // > 1.5 → fires, but only the five 4.0-ratio queries requeue
    assert(Bench.stretchSuspects(mixed, prev).toSet ===
      names.take(10).zipWithIndex.collect { case (n, i) if i % 2 == 0 => n }.toSet)
  }

  test("medianOr: odd, even, and the empty -1 marker") {
    assert(Bench.medianOr(Seq(3.0, 1.0, 2.0), -1.0) === 2.0)
    assert(Bench.medianOr(Seq(1.0, 2.0, 3.0, 4.0), -1.0) === 2.5)
    assert(Bench.medianOr(Seq.empty, -1.0) === -1.0)
  }

  test("the COMMITTED artifact round-trips through the extractor") {
    // the real headline at HEAD: extracting it against itself must give
    // ratio 1.0 for every kernel present — a format drift that breaks
    // the regex shows up here before it ships garbage next round
    val txt = committedArtifact
    val sfInArtifact = artifactField(txt, "\"sf\":\"([^\"]+)\"", "sf")
    // current = the artifact's own times for the kernels
    val timesTail = txt.substring(txt.indexOf("\"shared_builds\":"))
    val own = Bench.CodecKernels.flatMap { k =>
      ("\"" + k + "\":(-?[0-9][0-9.eE+-]*)").r.findFirstMatchIn(timesTail)
        .map(m => k -> m.group(1).toDouble)
    }.toMap
    assert(own.nonEmpty, "committed artifact lists no codec kernels")
    val r = Bench.kernelRatiosVsPrev(txt, sfInArtifact, own)
    assert(r.nonEmpty)
    r.foreach { case (k, v) =>
      assert(math.abs(v - 1.0) < 1e-9, s"$k self-ratio $v != 1.0")
    }
  }
}
