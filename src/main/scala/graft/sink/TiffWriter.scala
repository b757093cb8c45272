package graft.sink

import java.nio.ByteBuffer
import java.nio.ByteOrder.LITTLE_ENDIAN
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Paths
import java.nio.file.StandardOpenOption.{CREATE, TRUNCATE_EXISTING, WRITE}
import javax.imageio.plugins.tiff.{TIFFField, TIFFTag}

import graft.api.QTile
import graft.sources.RasterSource

/** The one TIFF writer of the engine's gray outputs (K1/K2/K8): a
  * little-endian classic TIFF of uncompressed `TileSize`² tiles, edge
  * tiles padded to full size, one or more pages of the same size.
  *
  * Every tile has the same byte count, so the header, each page's IFD and
  * every tile's offset follow from the image size and the tag fields
  * alone ([[Layout]]): the header is written first, and tiles go to their
  * fixed offsets in any order, from an array ([[write]]) or as executors
  * encode them ([[tileBytes]] + [[Out]]). A tile that never arrives reads
  * as zeros.
  *
  * Tags per page: the baseline set the JDK's ImageIO writer gives a gray
  * image (width, length, bits, no compression, BlackIsZero, one sample,
  * 1/1 resolution in no unit, SampleFormat unsigned for 16 bits), the tile
  * layout tags 322–325 in place of its strip tags 273/278/279, then the
  * caller's fields ([[Sinks.tiffFields]]: GeoTIFF keys and GDAL_METADATA).
  *
  * Offsets are 32-bit: an image past 4 GiB raises from [[requireClassic]]
  * (which [[layout]] calls), by size arithmetic, before any pixel is
  * made. BigTIFF is not written.
  */
object TiffWriter {

  /** Tile edge in pixels: one TIFF tile is one engine tile. */
  val TileSize: Int = RasterSource.DefaultTileSize

  /** Largest classic-TIFF file: every offset is an unsigned 32-bit int. */
  val MaxClassicBytes: Long = 0xffffffffL

  /** Byte positions of one file: `head` (header plus every page's IFD and
    * out-of-line values) at 0, then the tiles of page 0 in row-major tile
    * order, then those of page 1, and so on.
    */
  final class Layout private[TiffWriter] (val width: Int, val height: Int,
                                          val bytesPerSample: Int, val pages: Int,
                                          val head: Array[Byte]) {
    val tilesAcross: Int = (width + TileSize - 1) / TileSize
    val tilesDown: Int = (height + TileSize - 1) / TileSize
    val tileBytes: Int = TileSize * TileSize * bytesPerSample
    def tileOffset(page: Int, tileRow: Int, tileCol: Int): Long =
      head.length + ((page.toLong * tilesDown + tileRow) * tilesAcross + tileCol) * tileBytes
    def fileLength: Long = tileOffset(pages, 0, 0)
  }

  /** The layout of a `width`×`height` image of `pages` pages carrying
    * `fields`. Raises [[graft.model.GraftException.Processing]] when the
    * file would pass 4 GiB.
    */
  def layout(width: Int, height: Int, u16: Boolean, pages: Int,
             fields: Seq[TIFFField]): Layout = {
    val tileData = requireClassic(width, height, u16, pages)
    val bps = if (u16) 2 else 1
    val tiles = ((width + TileSize - 1) / TileSize) * ((height + TileSize - 1) / TileSize)
    val head = header(width, height, bps, pages, tiles, fields)
    if (head.length + tileData > MaxClassicBytes)
      throw graft.model.GraftException.Processing(
        s"a ${width}x$height TIFF with its tags passes the 4 GiB a classic TIFF can address")
    new Layout(width, height, bps, pages, head)
  }

  /** The tile bytes of a `width`×`height` TIFF of `pages` pages, by size
    * arithmetic alone; raises [[graft.model.GraftException.Processing]]
    * past 4 GiB.
    */
  def requireClassic(width: Int, height: Int, u16: Boolean, pages: Int): Long = {
    require(width > 0 && height > 0 && pages > 0, s"empty TIFF: ${width}x$height, $pages page(s)")
    val bps = if (u16) 2 else 1
    val tiles = ((width + TileSize - 1) / TileSize).toLong * ((height + TileSize - 1) / TileSize)
    val tileData = pages * tiles * TileSize * TileSize * bps
    if (tileData > MaxClassicBytes)
      throw graft.model.GraftException.Processing(
        s"a ${width}x$height ${8 * bps}-bit TIFF of $pages page(s) needs $tileData bytes of " +
          "tiles, past the 4 GiB a classic TIFF can address (BigTIFF is not supported)")
    tileData
  }

  // TIFF field types
  private val Ascii = TIFFTag.TIFF_ASCII
  private val Short = TIFFTag.TIFF_SHORT
  private val Long = TIFFTag.TIFF_LONG
  private val Rational = TIFFTag.TIFF_RATIONAL
  private val Double = TIFFTag.TIFF_DOUBLE

  /** One IFD entry, its value already encoded little-endian. */
  private final case class Entry(tag: Int, kind: Int, count: Long, value: Array[Byte])

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(LITTLE_ENDIAN)

  private def shorts(tag: Int, vs: Int*): Entry = {
    val b = le(2 * vs.length); vs.foreach(v => b.putShort(v.toShort))
    Entry(tag, Short, vs.length, b.array)
  }

  private def longs(tag: Int, n: Int)(v: Int => Long): Entry = {
    val b = le(4 * n); var i = 0
    while (i < n) { b.putInt(v(i).toInt); i += 1 }
    Entry(tag, Long, n, b.array)
  }

  private def dims(tag: Int, v: Int): Entry =
    if (v <= 0xffff) shorts(tag, v) else longs(tag, 1)(_ => v.toLong)

  /** A caller's field in the byte form ImageIO's writer gives it (ASCII:
    * each string's US-ASCII bytes plus a NUL).
    */
  private def entry(f: TIFFField): Entry = {
    val n = f.getCount
    f.getType match {
      case Ascii =>
        val bytes = (0 until n).toArray.flatMap(i => f.getAsString(i).getBytes(US_ASCII) :+ 0.toByte)
        Entry(f.getTagNumber, Ascii, bytes.length, bytes)
      case Short => shorts(f.getTagNumber, (0 until n).map(f.getAsInt): _*)
      case Long => longs(f.getTagNumber, n)(f.getAsLong)
      case Double =>
        val b = le(8 * n); (0 until n).foreach(i => b.putDouble(f.getAsDouble(i)))
        Entry(f.getTagNumber, Double, n, b.array)
      case t => throw new IllegalArgumentException(s"TIFF field ${f.getTagNumber}: type $t not written")
    }
  }

  /** Header and every page's IFD, each IFD followed by its out-of-line
    * values (word aligned). Tile offsets point past the returned bytes.
    */
  private def header(width: Int, height: Int, bps: Int, pages: Int, tiles: Int,
                     fields: Seq[TIFFField]): Array[Byte] = {
    val tileBytes = TileSize.toLong * TileSize * bps
    val one = { val b = le(8); b.putInt(1).putInt(1); b.array }
    def ifd(offsets: Int => Long): Seq[Entry] = (Seq(
      dims(256, width), dims(257, height), shorts(258, 8 * bps), shorts(259, 1),
      shorts(262, 1), shorts(277, 1), Entry(282, Rational, 1, one), Entry(283, Rational, 1, one),
      shorts(296, 1), shorts(322, TileSize), shorts(323, TileSize),
      longs(324, tiles)(offsets), longs(325, tiles)(_ => tileBytes)) ++
      (if (bps == 2) Seq(shorts(339, 1)) else Nil) ++
      fields.map(entry)).sortBy(_.tag)
    // sizes first (offset values do not change a page's size), then bytes
    def outOfLine(e: Entry): Int = if (e.value.length > 4) (e.value.length + 1) & ~1 else 0
    val sized = ifd(_ => 0L)
    val pageBytes = 2 + 12 * sized.length + 4 + sized.map(outOfLine).sum
    val headLength = 8 + pages * pageBytes
    val out = le(headLength)
    out.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(8)
    (0 until pages).foreach { p =>
      val start = 8 + p * pageBytes
      val es = ifd(k => headLength + (p.toLong * tiles + k) * tileBytes)
      var extra = start + 2 + 12 * es.length + 4
      out.position(start)
      out.putShort(es.length.toShort)
      es.foreach { e =>
        out.putShort(e.tag.toShort).putShort(e.kind.toShort).putInt(e.count.toInt)
        if (e.value.length > 4) {
          out.putInt(extra)
          out.put(extra, e.value)
          extra += outOfLine(e)
        } else {
          out.put(e.value)
          out.position(out.position() + 4 - e.value.length)
        }
      }
      out.putInt(if (p + 1 < pages) start + pageBytes else 0)
    }
    out.array
  }

  /** The TIFF tile of `t`, whose samples are `bytesPerSample` wide: its
    * rows at the tile stride, zeros past its edge. Runs where the tile is.
    */
  def tileBytes(t: QTile, bytesPerSample: Int): Array[Byte] = {
    require(t.bytesPerSample == bytesPerSample,
      s"tile (${t.tile_row}, ${t.tile_col}) holds ${t.bytesPerSample}-byte samples, the TIFF $bytesPerSample")
    val out = new Array[Byte](TileSize * TileSize * bytesPerSample)
    val row = t.w * bytesPerSample
    var y = 0
    while (y < t.h) { System.arraycopy(t.q, y * row, out, y * TileSize * bytesPerSample, row); y += 1 }
    out
  }

  @inline private def putSample(out: Array[Byte], at: Int, bytesPerSample: Int, v: Int): Unit = {
    out(at) = v.toByte
    if (bytesPerSample == 2) out(at + 1) = (v >>> 8).toByte
  }

  /** A file opened at `layout`: the head is written at once, tiles go to
    * their offsets with [[put]], and [[close]] gives the file its full
    * length (tiles never put read as zeros).
    */
  final class Out(path: String, layout: Layout) extends AutoCloseable {
    private val ch = FileChannel.open(Paths.get(path), CREATE, WRITE, TRUNCATE_EXISTING)
    write(ByteBuffer.wrap(layout.head), 0L)

    private def write(b: ByteBuffer, at: Long): Unit = {
      var pos = at
      while (b.hasRemaining) pos += ch.write(b, pos)
    }

    /** Tile (tileRow, tileCol) of `page`, as [[tileBytes]] encoded it. */
    def put(page: Int, tileRow: Int, tileCol: Int, tile: Array[Byte]): Unit = {
      require(tile.length == layout.tileBytes, s"tile of ${tile.length} bytes, want ${layout.tileBytes}")
      write(ByteBuffer.wrap(tile), layout.tileOffset(page, tileRow, tileCol))
    }

    def close(): Unit =
      try { if (ch.size < layout.fileLength) write(ByteBuffer.wrap(Array[Byte](0)), layout.fileLength - 1) }
      finally ch.close()
  }

  /** Writes `pages` (row-major samples, each `width`×`height`) as one
    * file, tile by tile.
    */
  def write(path: String, pages: Seq[Array[Int]], width: Int, height: Int, u16: Boolean,
            fields: Seq[TIFFField]): Unit = {
    val l = layout(width, height, u16, pages.length, fields)
    val bps = l.bytesPerSample
    val out = new Out(path, l)
    try pages.zipWithIndex.foreach { case (img, p) =>
      require(img.length == width * height, s"page $p holds ${img.length} samples, want ${width * height}")
      for (tr <- 0 until l.tilesDown; tc <- 0 until l.tilesAcross) {
        val tile = new Array[Byte](l.tileBytes)
        val y0 = tr * TileSize; val x0 = tc * TileSize
        val th = math.min(TileSize, height - y0); val tw = math.min(TileSize, width - x0)
        var y = 0
        while (y < th) {
          var x = 0
          var i = (y0 + y) * width + x0
          while (x < tw) { putSample(tile, (y * TileSize + x) * bps, bps, img(i)); i += 1; x += 1 }
          y += 1
        }
        out.put(p, tr, tc, tile)
      }
    } finally out.close()
  }
}
