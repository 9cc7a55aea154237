package graft.tools

import java.awt.image.BufferedImage
import java.nio.file.Path

/** Provenance heat-map PNG (reference: src/show.rs — 256×256 RGB strip,
  * 8-px row blocks, sequence resampled to 8192 samples with linear
  * interpolation, palette keyed by first_seen_in). Pure-JVM port of the
  * *shape* (BufferedImage + ImageIO), consuming the O2 segment sequence.
  */
object Viz {

  private val Width = 256
  private val Height = 256
  private val RowBlock = 8
  private val Samples = (Width * Height) / RowBlock // 8192

  /** 32-color palette, deterministic golden-angle HSB walk. */
  private val Palette: Array[Int] = Array.tabulate(32) { i =>
    java.awt.Color.HSBtoRGB((i * 0.61803398875f) % 1.0f, 0.65f, 0.92f)
  }

  /** Render the per-chunk first_seen_in sequence (byte-ordered, one entry
    * per occurrence, weighted by chunk size) to a PNG.
    */
  def provenancePng(segments: Seq[(Long, Long)], out: Path): Unit = {
    val img = render(segments)
    javax.imageio.ImageIO.write(img, "png", out.toFile)
  }

  /** Multi-doc strip diff as self-contained HTML (reference:
    * de/__init__.py:83-145): one horizontal strip per file, one cell per
    * chunk, color = first_seen_in, opacity 1.0 unique / 0.5 shared,
    * width ∝ chunk size. Input = the A6 matrix rows
    * (file_idx, first_seen_in, size, is_unique) in byte order per file.
    */
  def stripDiffHtml(rows: Seq[(Long, Long, Long, Boolean)]): String = {
    val byFile = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val sb = new StringBuilder
    sb.append("<html><body style=\"font-family:monospace\">")
    byFile.foreach { case (fileIdx, chunks) =>
      val total = math.max(1L, chunks.map(_._3).sum)
      sb.append(s"<div>file $fileIdx</div><div style=\"display:flex;height:14px;margin:2px 0\">")
      chunks.foreach { case (_, firstSeen, size, unique) =>
        val rgb = Palette((firstSeen % 32).toInt) & 0xffffff
        val pct = size.toDouble * 100 / total
        val opacity = if (unique) "1.0" else "0.5"
        sb.append(
          f"<div style=${"\""}width:${graft.Harness.num(pct, 3)}%s%%;background:#$rgb%06x;opacity:$opacity${"\""}></div>")
      }
      sb.append("</div>")
    }
    sb.append("</body></html>")
    sb.result()
  }

  /** Reference-faithful ALIGNED multi-doc diff (de/__init__.py:83-145):
    * every strip iterates the same MERGED chunk sequence (first-occurrence
    * order), so columns line up across files; per cell opacity 1.0 unique /
    * 0.5 shared / 0.15 ABSENT-in-this-file, color keyed by first_seen_in,
    * width ∝ chunk size. Input = the O2 segment rows
    * (file_idx, chunk_idx, hash, size, first_seen_in).
    */
  def stripDiffHtmlAligned(segs: Seq[(Long, Long, Long, Long, Long)]): String = {
    val files = segs.map(_._1).distinct.sorted
    val present: Map[Long, Set[Long]] =
      segs.groupBy(_._1).map { case (f, s) => f -> s.map(_._3).toSet }
    val nFiles: Map[Long, Int] =
      segs.groupBy(_._3).map { case (h, s) => h -> s.map(_._1).distinct.size }
    // merged sequence: first occurrence of each hash in (file, chunk) order
    val merged = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
    segs.sortBy(s => (s._1, s._2)).foreach { case (_, _, h, size, firstSeen) =>
      if (!merged.contains(h)) merged(h) = (size, firstSeen)
    }
    val total = math.max(1L, merged.valuesIterator.map(_._1).sum)
    val sb = new StringBuilder
    sb.append("<html><body style=\"font-family:monospace\">")
    sb.append("<div>merged chunk sequence, one aligned strip per file " +
      "(opacity: 1.0 unique / 0.5 shared / 0.15 absent)</div>")
    files.foreach { fileIdx =>
      val mine = present(fileIdx)
      sb.append(s"<div>file $fileIdx</div><div style=\"display:flex;height:14px;margin:2px 0\">")
      merged.foreach { case (h, (size, firstSeen)) =>
        val rgb = Palette((firstSeen % 32).toInt) & 0xffffff
        val pct = size.toDouble * 100 / total
        val opacity =
          if (!mine.contains(h)) "0.15"
          else if (nFiles(h) == 1) "1.0"
          else "0.5"
        sb.append(
          f"<div style=${"\""}width:${graft.Harness.num(pct, 3)}%s%%;background:#$rgb%06x;opacity:$opacity${"\""}></div>")
      }
      sb.append("</div>")
    }
    sb.append("</body></html>")
    sb.result()
  }

  private[tools] def render(segments: Seq[(Long, Long)]): BufferedImage = {
    val img = new BufferedImage(Width, Height, BufferedImage.TYPE_INT_RGB)
    if (segments.isEmpty) return img
    // expand to byte-weighted cumulative positions, then resample to 8192
    val totalBytes = segments.map(_._2).sum.toDouble
    val resampled = new Array[Int](Samples)
    var segIdx = 0
    var consumed = 0.0
    var i = 0
    while (i < Samples) {
      val target = (i + 0.5) / Samples * totalBytes
      while (segIdx < segments.size - 1 && consumed + segments(segIdx)._2 < target) {
        consumed += segments(segIdx)._2
        segIdx += 1
      }
      resampled(i) = (segments(segIdx)._1 % 32).toInt
      i += 1
    }
    var s = 0
    while (s < Samples) {
      val x = s % Width
      val yBase = (s / Width) * RowBlock
      val rgb = Palette(resampled(s))
      var dy = 0
      while (dy < RowBlock) {
        img.setRGB(x, yBase + dy, rgb)
        dy += 1
      }
      s += 1
    }
    img
  }
}
