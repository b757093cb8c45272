package graft

import java.io.File
import java.nio.file.{Files, Paths}
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
import javax.imageio.plugins.tiff.TIFFDirectory

import graft.model.GraftException
import graft.sink.{Sinks, TiffWriter}
import graft.sources.TiffSource

/** The tiled TIFF writer: pixels round-trip through ImageIO and the
  * TIFF source at sizes that are not multiples of the tile, for u8/u16
  * and one or two pages; its tags equal those of the ImageIO strip writer
  * it replaced (kept here as the reference) except the layout tags; equal
  * inputs give equal bytes; the 4 GiB guard raises on sizes alone.
  */
class TiffWriterSpec extends SparkSpec {

  private def tmpDir = Files.createTempDirectory("graft-tiffw").toString

  private val (w, h) = (300, 517)
  private def image(maxVal: Int, seed: Int): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(w * h)(rnd.nextInt(maxVal + 1))
  }

  private def gray(img: Array[Int], w: Int, h: Int, u16: Boolean) =
    if (u16) Sinks.grayU16(img, w, h) else Sinks.grayU8(img, w, h)

  /** The ImageIO strip writer `Sinks.writeTiffGrayTagged` used before
    * the tiled writer.
    */
  private def imageIoTagged(path: String, img: Array[Int], w: Int, h: Int, u16: Boolean,
                            gt: Option[Array[Double]], projection: Option[String],
                            fields: Seq[(String, String)]): Unit = {
    val bi = gray(img, w, h, u16)
    val writer = ImageIO.getImageWritersByFormatName("TIFF").next()
    val out = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(out)
      val wparam = writer.getDefaultWriteParam
      val meta = writer.getDefaultImageMetadata(ImageTypeSpecifier.createFromRenderedImage(bi), wparam)
      val dir = TIFFDirectory.createFromMetadata(meta)
      Sinks.tiffFields(gt, projection, fields).foreach(dir.addTIFFField)
      writer.write(null, new IIOImage(bi, null, dir.getAsMetadata), wparam)
    } finally {
      out.close()
      writer.dispose()
    }
  }

  /** The ImageIO multi-page writer `Sinks.writeTiffMultiband` used. */
  private def imageIoPages(path: String, pages: Seq[Array[Int]], w: Int, h: Int, u16: Boolean): Unit = {
    val writer = ImageIO.getImageWritersByFormatName("TIFF").next()
    val out = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(out)
      writer.prepareWriteSequence(null)
      pages.foreach(p => writer.writeToSequence(new IIOImage(gray(p, w, h, u16), null, null), null))
      writer.endWriteSequence()
    } finally {
      out.close()
      writer.dispose()
    }
  }

  private def pagesOf(path: String): Seq[Array[Int]] = {
    val in = ImageIO.createImageInputStream(new File(path))
    try {
      val reader = ImageIO.getImageReaders(in).next()
      try {
        reader.setInput(in)
        (0 until reader.getNumImages(true)).map { p =>
          val bi = reader.read(p)
          bi.getRaster.getSamples(0, 0, bi.getWidth, bi.getHeight, 0, null: Array[Int])
        }
      } finally reader.dispose()
    } finally in.close()
  }

  private val layoutTags = Set(273, 278, 279, 322, 323, 324, 325)
  private def tags(path: String) = Sinks.readTiffTags(path) -- layoutTags
  private def bytes(path: String) = Files.readAllBytes(Paths.get(path))

  for (u16 <- Seq(false, true); pages <- Seq(1, 2)) {
    val depth = if (u16) "u16" else "u8"
    test(s"$depth, $pages page(s) of ${w}x$h round-trip through ImageIO and the TIFF source") {
      val dir = tmpDir
      val imgs = (0 until pages).map(p => image(if (u16) 65535 else 255, 10 * pages + p))
      val path = s"$dir/t.tiff"
      TiffWriter.write(path, imgs, w, h, u16, Nil)
      val read = pagesOf(path)
      assert(read.length == pages)
      read.zip(imgs).foreach { case (got, want) => assert(got.sameElements(want)) }
      assert(ImageIO.read(new File(path)).getRaster.getSampleModel.getSampleSize(0) == (if (u16) 16 else 8))
      imgs.zipWithIndex.foreach { case (want, p) =>
        val got = new Array[Int](w * h)
        TiffSource.scan(spark, path, "vv", page = p).collect().foreach { t =>
          for (y <- 0 until t.h; x <- 0 until t.w)
            got((t.tile_row * 256 + y) * w + t.tile_col * 256 + x) = t.pixels(y * t.w + x).toInt
        }
        assert(got.sameElements(want), s"page $p through TiffSource.scan")
      }
      // the layout: 256² tiles, 2×3 of them, edge tiles padded to full size
      val t = Sinks.readTiffTags(path)
      assert(t(322) == Seq("256") && t(323) == Seq("256"))
      assert(t(325) == Seq.fill(6)((256 * 256 * (if (u16) 2 else 1)).toString))
      assert(!t.contains(273) && !t.contains(278) && !t.contains(279))
      if (pages == 2) {
        val ref = s"$dir/ref.tiff"
        imageIoPages(ref, imgs, w, h, u16)
        assert(tags(path) == tags(ref))
      }
    }
  }

  test("tags equal the ImageIO writer's except the layout tags") {
    val dir = tmpDir
    val (tw, th) = (33, 20)
    val gts = Seq(
      "axis-aligned" -> Some(Array(500000.0, 10.0, 0.0, 4100000.0, 0.0, -10.0)),
      "rotated" -> Some(Array(500000.0, 9.9, 0.4, 4100000.0, 0.3, -9.8)),
      "identity" -> Some(Array(0.0, 1.0, 0.0, 0.0, 0.0, 1.0)),
      "none" -> None)
    val projections = Seq(Some("EPSG:4326"), Some("EPSG:32633"), Some("EPSG:104903"),
      Some("""LOCAL_CS["site <a> & "b"",UNIT["metre",1]]"""), None)
    val fields = Seq(
      Seq("PLATFORM" -> "SENTINEL-1A", "POLARIZATIONS" -> "VV", "PRF" -> "1717.13"),
      Seq("NOTE" -> """a<b> & "c" 'd'""", "K&<>" -> "v"),
      Nil)
    var n = 0
    for (u16 <- Seq(false, true); (gtName, gt) <- gts; proj <- projections; fs <- fields) {
      val img = image(if (u16) 65535 else 255, n).take(tw * th)
      val ours = s"$dir/o$n.tiff"; val ref = s"$dir/r$n.tiff"
      Sinks.writeTiffGrayTagged(ours, img, tw, th, u16, gt, proj, fs)
      imageIoTagged(ref, img, tw, th, u16, gt, proj, fs)
      assert(tags(ours) == tags(ref), s"u16=$u16 gt=$gtName proj=$proj fields=$fs")
      assert(pagesOf(ours).head.sameElements(img))
      n += 1
    }
  }

  test("equal inputs give equal bytes") {
    val dir = tmpDir
    val img = image(65535, 3)
    val gt = Some(Array(500000.0, 10.0, 0.0, 4100000.0, 0.0, -10.0))
    Seq("a", "b").foreach { f =>
      Sinks.writeTiffGrayTagged(s"$dir/$f.tiff", img, w, h, u16 = true, gt, Some("EPSG:32633"),
        Seq("PLATFORM" -> "S1A"))
      Sinks.writeTiffMultiband(s"$dir/$f-mb.tiff", img, img.reverse, w, h, u16 = true)
    }
    assert(bytes(s"$dir/a.tiff").sameElements(bytes(s"$dir/b.tiff")))
    assert(bytes(s"$dir/a-mb.tiff").sameElements(bytes(s"$dir/b-mb.tiff")))
  }

  test("past 4 GiB of offsets the layout raises, by size arithmetic alone") {
    def raises(w: Int, h: Int, u16: Boolean, pages: Int): Unit = {
      val e = intercept[GraftException.Processing](TiffWriter.requireClassic(w, h, u16, pages))
      assert(e.getMessage.contains("4 GiB") && e.getMessage.contains("BigTIFF"), e.getMessage)
      intercept[GraftException.Processing](TiffWriter.layout(w, h, u16, pages, Nil))
    }
    raises(70000, 70000, u16 = true, 1)
    raises(65536, 65536, u16 = false, 1) // exactly 2^32 bytes of tiles
    raises(46341, 46341, u16 = false, 2)
    raises(46341, 46341, u16 = true, 1)
    // the largest sizes below the limit are accepted, header included
    val fits = TiffWriter.layout(65536, 65280, u16 = false, 1, Nil)
    assert(fits.fileLength <= TiffWriter.MaxClassicBytes)
    assert(fits.fileLength == fits.head.length + 65536L * 65280)
    assert(TiffWriter.requireClassic(46341, 46341, u16 = false, 1) < TiffWriter.MaxClassicBytes)
  }
}
