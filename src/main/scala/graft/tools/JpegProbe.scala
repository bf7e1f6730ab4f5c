package graft.tools

import graft.multimodal.{ImageCodec, MediaPipeline}

/** Measurement tool behind the x_media_jpeg tolerance band (constants
  * in the declared surface come from a runnable measurement, not a
  * guess). Prints the max |decoded mean
  * luma − source mean luma| in basis points at the pinned quality for
  * (a) word-salad-like lowercase rasters at the query's dim range,
  * (b) a flat raster (expected ~0: a constant block is pure DC), and
  * (c) a 0/255 checkerboard (worst-case high frequency — OUTSIDE the
  * corpus envelope, for margin context). Also checks encode
  * determinism. No Spark needed.
  */
object JpegProbe {
  def main(args: Array[String]): Unit = {
    val q = MediaPipeline.JpegQualityBp
    val rnd = new scala.util.Random(42)
    var maxErr = 0L
    for (trial <- 0 until 2000) {
      val w = 8 + trial % 5
      val h = 8 + trial % 7
      val px = Array.tabulate(w * h)(_ => (97 + rnd.nextInt(26)).toByte)
      val jpg = ImageCodec.encodeGrayJpeg(px, w, h, q)
      val m = ImageCodec.decodeMeta(trial.toLong, jpg)
      require(m.ok && m.width == w && m.height == h && m.channels == 1, m.toString)
      val exact = px.map(b => (b & 0xFF).toLong).sum * 10000L / (255L * w * h)
      maxErr = math.max(maxErr, math.abs(m.mean_luma_bp - exact))
    }
    println(s"maxErr(lowercase word-salad, 2000 rasters)=$maxErr bp")

    val flat = Array.fill(100)(100.toByte)
    val fm = ImageCodec.decodeMeta(0L, ImageCodec.encodeGrayJpeg(flat, 10, 10, q))
    val fexact = 100L * 100 * 10000L / (255L * 100)
    println(s"flatErr=${math.abs(fm.mean_luma_bp - fexact)} bp")

    val cb = Array.tabulate(144)(i => (if ((i / 12 + i % 12) % 2 == 0) 0 else 255).toByte)
    val cm = ImageCodec.decodeMeta(0L, ImageCodec.encodeGrayJpeg(cb, 12, 12, q))
    val cexact = cb.map(b => (b & 0xFF).toLong).sum * 10000L / (255L * 144)
    println(s"checkerboardErr=${math.abs(cm.mean_luma_bp - cexact)} bp")

    val a = ImageCodec.encodeGrayJpeg(cb, 12, 12, q)
    val b = ImageCodec.encodeGrayJpeg(cb, 12, 12, q)
    println(s"encodeDeterministic=${java.util.Arrays.equals(a, b)} n_bytes=${a.length}")
  }
}
