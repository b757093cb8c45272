package graft

import java.awt.image.BufferedImage
import java.io.File
import java.nio.file.Files
import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.Sinks

/** The sinks fill the image's backing array directly; the encoded files
  * must be byte-equal to those of the per-pixel setRGB / setSample path
  * kept here as the reference.
  */
class SinksSpec extends AnyFunSuite {

  private val w = 257
  private val h = 131
  private val rnd = new scala.util.Random(7)
  private def band(): Array[Int] = Array.fill(w * h)(rnd.nextInt(256))
  private val (r, g, b, gray) = (band(), band(), band(), band())

  private def refRgb(): BufferedImage = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val i = y * w + x
      bi.setRGB(x, y, ((r(i) & 0xff) << 16) | ((g(i) & 0xff) << 8) | (b(i) & 0xff))
    }
    bi
  }

  private def refGray(): BufferedImage = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) bi.getRaster.setSample(x, y, 0, gray(y * w + x) & 0xff)
    bi
  }

  private def bytesOf(write: String => Unit): Array[Byte] = {
    val f = File.createTempFile("graft-sink", ".img")
    try { write(f.getPath); Files.readAllBytes(f.toPath) } finally f.delete()
  }

  private def refBytes(bi: BufferedImage, format: String): Array[Byte] =
    bytesOf(p => assert(ImageIO.write(bi, format, new File(p))))

  test("RGB JPEG equals the per-pixel setRGB encoding") {
    val got = bytesOf(Sinks.writeJpegRgb(_, r, g, b, w, h))
    assert(got.sameElements(refBytes(refRgb(), "JPEG")))
  }

  test("gray JPEG equals the per-pixel setSample encoding") {
    val got = bytesOf(Sinks.writeJpegGray(_, gray, w, h))
    assert(got.sameElements(refBytes(refGray(), "JPEG")))
  }

  test("u8 TIFF equals the per-pixel setSample encoding") {
    val got = bytesOf(Sinks.writeTiffGrayLayout(_, gray, w, h, u16 = false, null, 0))
    assert(got.sameElements(refBytes(refGray(), "TIFF")))
  }
}
