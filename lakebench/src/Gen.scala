package lakebench

import java.io.{ByteArrayOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files
import java.util.SplittableRandom

/** Seeded input generators and their ground truth. Every byte written and
  * every expected answer is a pure function of the seed (and of the batch or
  * item index), so a run can regenerate any earlier input on demand and two
  * runs with one seed see identical files. The program under test only ever
  * sees the files; the truth stays on the benchmark side. */
object Gen {

  /** Independent stream per (seed, salt, index...). */
  def rng(seed: Long, salt: Long, idx: Long*): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L ^ salt
    idx.foreach { i => h = java.lang.Long.rotateLeft(h * 0xBF58476D1CE4E5B9L ^ i, 31) }
    new SplittableRandom(h)
  }

  def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  def write(f: File, bytes: Array[Byte]): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, bytes)
  }

  // ---------------------------------------------------------------- parcels

  /** Parcels sit one per cell of a square grid over UTM zone 18S (southern
    * Chile), so gaps between parcels exist by construction and no two
    * parcels overlap. Coordinates are WGS84 degrees; the layer on disk is
    * UTM metres. */
  val Lon0 = -73.6
  val Lat0 = -37.6
  val Cell = 0.004
  val Unclassifiable = "IMAGEN NO CLASIFICABLE"
  private val Secciones = Array("N1", "N2", "S1", "S2", "C0")
  private val Especies = Array("PINO", "EUCA", "NATI")

  final case class Parcel(id: Int, codigo: String, nombre: String, seccion: String,
      tipouso: String, apl: Int, cx: Double, cy: Double,
      ang: Array[Double], rad: Array[Double]) {
    def indice: String = s"${codigo}_${seccion}_${tipouso}_$apl"
    def n: Int = ang.length
    def vx(k: Int): Double = cx + rad(k) * math.cos(ang(k))
    def vy(k: Int): Double = cy + rad(k) * math.sin(ang(k))
    /** Closed ring (first vertex repeated), as shapefiles store it. */
    def ring: Seq[(Double, Double)] = (0 to n).map(k => (vx(k % n), vy(k % n)))
  }

  /** Star-shaped parcels with 16-64 vertices: angles jittered by at most
    * 0.15 of a step (so they stay ordered) and radii in [0.30, 0.45] cells.
    * Every parcel contains the disc of radius 0.29 cells around its centre
    * and stays 0.05 cells inside its own grid cell. */
  def parcels(seed: Long, count: Int): IndexedSeq[Parcel] = {
    val g = math.ceil(math.sqrt(count.toDouble)).toInt
    (0 until count).map { i =>
      val r = rng(seed, 1, i)
      val n = 16 + r.nextInt(49)
      val ang = Array.tabulate(n)(k => 2 * math.Pi * (k + 0.3 * (r.nextDouble() - 0.5)) / n)
      val rad = Array.fill(n)(Cell * (0.30 + 0.15 * r.nextDouble()))
      Parcel(i, f"P$i%05d", f"PREDIO_$i%05d", Secciones(r.nextInt(Secciones.length)),
        Especies(r.nextInt(Especies.length)), 1 + r.nextInt(40),
        Lon0 + (i % g + 0.5) * Cell, Lat0 + (i / g + 0.5) * Cell, ang, rad)
    }
  }

  /** `predios.shp` (UTM 18S polygons, one record per parcel) and
    * `predios.dbf` (CODIGO, NOMBRE, SECCION, TIPOUSO, APL). */
  def writeParcelLayer(dir: File, ps: Seq[Parcel]): Unit = {
    val recs = ps.map { p =>
      p.ring.map { case (lon, lat) =>
        graft.geo.Reproject.wgs84ToUtm(lon, lat, 18, south = true) }
    }
    val contentLens = recs.map(r => 44 + 4 + 16 * r.size)
    val total = 100 + contentLens.map(_ + 8).sum
    val buf = ByteBuffer.allocate(total)
    buf.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, total / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 5)
    var pos = 100
    recs.zip(contentLens).zipWithIndex.foreach { case ((ring, len), i) =>
      buf.order(ByteOrder.BIG_ENDIAN).putInt(pos, i + 1).putInt(pos + 4, len / 2)
      val b = pos + 8
      buf.order(ByteOrder.LITTLE_ENDIAN).putInt(b, 5)
      buf.putInt(b + 36, 1).putInt(b + 40, ring.size).putInt(b + 44, 0)
      ring.zipWithIndex.foreach { case ((x, y), k) =>
        buf.putDouble(b + 48 + 16 * k, x).putDouble(b + 56 + 16 * k, y)
      }
      pos += 8 + len
    }
    write(new File(dir, "predios.shp"), buf.array())

    val fields = Seq(("CODIGO", 'C', 8), ("NOMBRE", 'C', 14), ("SECCION", 'C', 4),
      ("TIPOUSO", 'C', 6), ("APL", 'N', 4))
    val headerSize = 32 + 32 * fields.size + 1
    val recSize = 1 + fields.map(_._3).sum
    val dbf = ByteBuffer.allocate(headerSize + recSize * ps.size + 1).order(ByteOrder.LITTLE_ENDIAN)
    dbf.put(0, 0x03.toByte).putInt(4, ps.size)
      .putShort(8, headerSize.toShort).putShort(10, recSize.toShort)
    fields.zipWithIndex.foreach { case ((name, t, l), i) =>
      val off = 32 + 32 * i
      name.getBytes(US_ASCII).zipWithIndex.foreach { case (c, j) => dbf.put(off + j, c) }
      dbf.put(off + 11, t.toByte).put(off + 16, l.toByte)
    }
    dbf.put(headerSize - 1, 0x0D.toByte)
    ps.zipWithIndex.foreach { case (p, i) =>
      val off = headerSize + recSize * i
      val rec = " " + p.codigo.padTo(8, ' ') + p.nombre.padTo(14, ' ') +
        p.seccion.padTo(4, ' ') + p.tipouso.padTo(6, ' ') + p.apl.toString.reverse.padTo(4, ' ').reverse
      rec.getBytes(US_ASCII).zipWithIndex.foreach { case (c, j) => dbf.put(off + j, c) }
    }
    dbf.put(headerSize + recSize * ps.size, 0x1A.toByte)
    write(new File(dir, "predios.dbf"), dbf.array())
  }

  // ----------------------------------------------------------------- images

  final case class ImageTruth(
      name: String,     // file name inside the batch directory
      origin: String,   // identity of the content: "b<batch>_i<index>"
      method: String,   // contains | nearest | unclassifiable
      codigo: String,   // null when unclassifiable
      indice: String,
      content: Array[Byte])

  /** Delivery batches of drone images: JPEG with EXIF GPS, GeoTIFF, images
    * without location, near-duplicate frames, and re-deliveries of earlier
    * images. Every JPEG carries its own smooth pixel field, so perceptual
    * hashes of unrelated frames differ. */
  final class Images(seed: Long, ps: IndexedSeq[Parcel], batchSize: Int) {

    /** Slot roles of batch b, as exact shares: 10% re-deliveries 'r' (none
      * in batch 0); of the new images 5% without location 'u', 10% of the
      * located in a gap 'g' (1-NN fallback), 5% near-duplicate frames 'd'
      * of a 'c' frame of the same batch, the rest 'c' inside a parcel. A
      * seeded permutation places the roles, so per-batch work does not vary
      * with the seed. */
    private val roles = new java.util.concurrent.ConcurrentHashMap[Int, Array[Char]]
    private def roleOf(b: Int): Array[Char] = roles.computeIfAbsent(b, _ => {
      val r = rng(seed, 4, b)
      val perm = (0 until batchSize).toArray
      for (k <- batchSize - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t }
      val nRe = if (b == 0) 0 else batchSize / 10
      val nNew = batchSize - nRe
      val nUn = math.round(0.05 * nNew).toInt
      val nGap = math.round(0.10 * (nNew - nUn)).toInt
      val nDup = math.round(0.05 * nNew).toInt
      val bounds = Seq(nRe -> 'r', nUn -> 'u', nGap -> 'g', nDup -> 'd').scanLeft((0, ' ')) {
        case ((acc, _), (n, c)) => (acc + n, c) }.tail
      perm.map(p => bounds.find(p < _._1).map(_._2).getOrElse('c'))
    })
    private def role(b: Int, i: Int): Char = roleOf(b)(i)

    /** The k-th near-duplicate slot copies the k-th 'c' slot. */
    private def sourceOf(b: Int, i: Int): Int = {
      val rs = roleOf(b)
      val k = (0 until i).count(rs(_) == 'd')
      (0 until batchSize).filter(rs(_) == 'c')(k)
    }
    private def isSource(b: Int, i: Int): Boolean = {
      val rs = roleOf(b)
      rs(i) == 'c' && (0 until i).count(rs(_) == 'c') < rs.count(_ == 'd')
    }
    /** The near-duplicate slot that copies source slot i. */
    private def copyOf(b: Int, i: Int): Int = {
      val rs = roleOf(b)
      val k = (0 until i).count(rs(_) == 'c')
      (0 until batchSize).filter(rs(_) == 'd')(k)
    }
    /** Near-duplicate slot d's frame of its source's field: re-encoded at
      * lower quality or shifted by one pixel. */
    private def copyJpeg(d: Int, src: java.awt.image.BufferedImage): Array[Byte] =
      if (d % 2 == 0) encodeJpeg(src, 0.5f) else encodeJpeg(shift(src), 0.9f)

    private val fields = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.awt.image.BufferedImage]
    /** Pixel field of slot i. A slot that a near-duplicate copies draws
      * fields until the pair's uncertain hash bits are at most `NearDupBits`:
      * a smooth field can put hash bits on near-ties that the copy flips,
      * and a pair more than 5 bits apart is outside the radius the
      * screening promises to find. */
    private def pixels(b: Int, i: Int): java.awt.image.BufferedImage = fields.computeIfAbsent((b, i), _ => {
      val r = rng(seed, 9, b, i)
      var best = field(r, 64, 48)
      if (isSource(b, i)) {
        val d = copyOf(b, i)
        def bits(f: java.awt.image.BufferedImage) = nearDupBits(encodeJpeg(f, 0.9f), copyJpeg(d, f))
        var bestBits = bits(best); var tries = 1
        while (bestBits > NearDupBits && tries < 64) {
          val f = field(r, 64, 48); val n = bits(f); tries += 1
          if (n < bestBits) { best = f; bestBits = n }
        }
      }
      best
    })

    /** Image i of batch b, as first delivered (slot i must not be a
      * re-delivery slot). GeoTIFF for 10% of the located frames that no
      * near-duplicate copies. */
    def image(b: Int, i: Int): ImageTruth = {
      val r = rng(seed, 3, b, i)
      val origin = s"b${b}_i$i"
      val kind = role(b, i)
      val p = ps(r.nextInt(ps.size))
      if (kind == 'u') {
        return ImageTruth(s"$origin.jpg", origin, "unclassifiable", null, Unclassifiable,
          jpeg(None, origin, encodeJpeg(pixels(b, i), 0.9f)))
      }
      val (lon, lat) =
        if (kind == 'g') {
          // just outside vertex k along its ray: outside every parcel (star
          // shape), and vertex k is nearer than any other vertex by >= 0.015
          // cells (neighbour angles differ by >= 0.069 rad)
          val k = r.nextInt(p.n)
          val d = p.rad(k) + 0.005 * Cell
          (p.cx + d * math.cos(p.ang(k)), p.cy + d * math.sin(p.ang(k)))
        } else {
          val a = 2 * math.Pi * r.nextDouble()
          val d = 0.25 * Cell * math.sqrt(r.nextDouble())
          (p.cx + d * math.cos(a), p.cy + d * math.sin(a))
        }
      val method = if (kind == 'g') "nearest" else "contains"
      kind match {
        case 'd' =>
          // the same scene as its source, shot again: re-encoded at lower
          // quality or shifted by one pixel, located in the source's parcel
          val src = sourceOf(b, i)
          val sp = ps(rng(seed, 3, b, src).nextInt(ps.size))
          val img = copyJpeg(i, pixels(b, src))
          val (cx, cy) = (sp.cx + (lon - p.cx), sp.cy + (lat - p.cy))
          ImageTruth(s"$origin.jpg", origin, method, sp.codigo, sp.indice, jpeg(Some((cx, cy)), origin, img))
        case _ if r.nextDouble() < 0.10 && !isSource(b, i) =>
          ImageTruth(s"$origin.tif", origin, method, p.codigo, p.indice, tiff(lon, lat, origin))
        case _ =>
          ImageTruth(s"$origin.jpg", origin, method, p.codigo, p.indice,
            jpeg(Some((lon, lat)), origin, encodeJpeg(pixels(b, i), 0.9f)))
      }
    }

    /** Batch b's deliveries: new images plus byte-identical re-deliveries
      * of images first delivered by an earlier batch, under new names. */
    def batch(b: Int): IndexedSeq[ImageTruth] = {
      val r = rng(seed, 5, b)
      (0 until batchSize).map { i =>
        if (role(b, i) == 'r') {
          val fb = r.nextInt(b)
          var fi = r.nextInt(batchSize)
          while (role(fb, fi) == 'r') fi = r.nextInt(batchSize)
          val from = image(fb, fi)
          val ext = from.name.substring(from.name.lastIndexOf('.'))
          from.copy(name = s"b${b}_r${i}_${from.origin}$ext")
        } else image(b, i)
      }
    }

    /** Planted near-duplicate pairs of batch b, as file names (a < b). */
    def nearDupPairs(b: Int): Set[(String, String)] =
      (0 until batchSize).filter(role(b, _) == 'd').map { i =>
        val (x, y) = (s"b${b}_i${sourceOf(b, i)}.jpg", s"b${b}_i$i.jpg")
        if (x < y) (x, y) else (y, x)
      }.toSet

    /** JPEG: SOI, optional APP1 Exif with a GPS IFD, a COM segment naming
      * the image (keeps contents distinct), then an encoded frame. */
    private def jpeg(lonLat: Option[(Double, Double)], tag: String, encoded: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(Array(0xFF, 0xD8).map(_.toByte))
      lonLat.foreach { case (lon, lat) =>
        val tiff = exifGps(lat, lon)
        val len = 2 + 6 + tiff.length
        out.write(Array(0xFF, 0xE1, len >> 8, len & 0xFF).map(_.toByte))
        out.write("Exif".getBytes(US_ASCII)); out.write(0); out.write(0)
        out.write(tiff)
      }
      val com = tag.getBytes(US_ASCII)
      val clen = 2 + com.length
      out.write(Array(0xFF, 0xFE, clen >> 8, clen & 0xFF).map(_.toByte))
      out.write(com)
      out.write(encoded, 2, encoded.length - 2) // the encoder's stream after its SOI
      out.toByteArray
    }

    /** Little-endian TIFF block: IFD0 → GPS IFD with lat/lon refs and
      * degree/minute/second rationals (seconds in 1e-4 units). */
    private def exifGps(lat: Double, lon: Double): Array[Byte] = {
      val t = ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
      t.put("II".getBytes(US_ASCII)).putShort(42.toShort).putInt(8)
      t.putShort(1.toShort).putShort(0x8825.toShort).putShort(4.toShort).putInt(1).putInt(26)
      t.putInt(0)
      t.putShort(4.toShort)
      t.putShort(1.toShort).putShort(2.toShort).putInt(2)
      t.put((if (lat < 0) 'S' else 'N').toByte).put(0.toByte).putShort(0.toShort)
      t.putShort(2.toShort).putShort(5.toShort).putInt(3).putInt(80)
      t.putShort(3.toShort).putShort(2.toShort).putInt(2)
      t.put((if (lon < 0) 'W' else 'E').toByte).put(0.toByte).putShort(0.toShort)
      t.putShort(4.toShort).putShort(5.toShort).putInt(3).putInt(104)
      t.putInt(0)
      def dms(at: Int, v: Double): Unit = {
        val s10k = math.round(math.abs(v) * 3600 * 10000)
        t.position(at)
        t.putInt((s10k / 36000000L).toInt).putInt(1)
        t.putInt((s10k / 600000L % 60).toInt).putInt(1)
        t.putInt((s10k % 600000L).toInt).putInt(10000)
      }
      dms(80, lat); dms(104, lon)
      t.array()
    }

    /** GeoTIFF header whose extent centroid is (lon, lat): width/height,
      * ModelPixelScale and ModelTiepoint, then the image tag as filler. */
    private def tiff(lon: Double, lat: Double, tag: String): Array[Byte] = {
      val (w, h, s) = (200, 160, 1e-6)
      val b = ByteBuffer.allocate(512).order(ByteOrder.LITTLE_ENDIAN)
      b.put("II".getBytes(US_ASCII)).putShort(42.toShort).putInt(8)
      b.putShort(4.toShort)
      b.putShort(256.toShort).putShort(3.toShort).putInt(1).putShort(w.toShort).putShort(0.toShort)
      b.putShort(257.toShort).putShort(4.toShort).putInt(1).putInt(h)
      b.putShort(33550.toShort).putShort(12.toShort).putInt(3).putInt(200)
      b.putShort(33922.toShort).putShort(12.toShort).putInt(6).putInt(224)
      b.putInt(0)
      b.position(200)
      b.putDouble(s).putDouble(s).putDouble(0.0)
      b.putDouble(0.0).putDouble(0.0).putDouble(0.0)
      b.putDouble(lon - w / 2 * s).putDouble(lat + h / 2 * s).putDouble(0.0)
      b.position(300)
      b.put(tag.getBytes(US_ASCII))
      b.array()
    }
  }

  // ------------------------------------------------------- lookup catalog

  final case class CatalogRow(ruta: String, parcel: Int, lote: Int)

  /** Classified rows for the lookup catalog: `batches` x `perBatch` images,
    * each on a uniformly drawn parcel. Returned sorted by RUTA_RESULTADO,
    * which is the order `CatalogOps.assignIds` numbers them in (ID = index
    * + 1 for an empty catalog). */
  def catalogRows(seed: Long, parcels: Int, batches: Int, perBatch: Int): IndexedSeq[CatalogRow] = {
    val r = rng(seed, 5)
    (0 until batches * perBatch).map { i =>
      val p = r.nextInt(parcels)
      val key = md5Hex(s"$seed/$i".getBytes(US_ASCII))
      CatalogRow(f"BR/P$p%05d/$key.jpg", p, i / perBatch)
    }.sortBy(_.ruta)
  }

  def writeCatalogCsv(f: File, rows: Seq[CatalogRow], ps: IndexedSeq[Parcel]): Unit = {
    val sb = new StringBuilder("INDICE,CODIGO,NOMBRE_PREDIO,SECCION,ESPECIE,APL,RUTA_RESULTADO,LOTE\n")
    rows.foreach { c =>
      val p = ps(c.parcel)
      sb.append(p.indice).append(',').append(p.codigo).append(',').append(p.nombre).append(',')
        .append(p.seccion).append(',').append(p.tipouso).append(',').append(p.apl).append(',')
        .append(c.ruta).append(',').append(c.lote).append('\n')
    }
    write(f, sb.toString.getBytes(US_ASCII))
  }

  /** Zipf(1) rank sampler over n items, ranks mapped through a seeded
    * permutation so the hot parcels are not the low ids. */
  final class Zipf(seed: Long, n: Int) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / k)
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    private val perm = {
      val a = (0 until n).toArray
      val r = rng(seed, 6)
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      perm(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  // ------------------------------------------------------------- pixels

  /** Largest number of difference-hash bits a planted near-duplicate pair
    * may disagree on, one inside the screening's 5-bit radius. */
  val NearDupBits = 4

  /** Luma of the 9x8 box means of a JPEG, the cells a difference hash
    * compares (bit k: cell (k%8, k/8) darker than its right neighbour).
    * Written independently of the program's hash. */
  def hashCells(jpeg: Array[Byte]): Array[Double] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    val (w, h) = (img.getWidth, img.getHeight)
    Array.tabulate(72) { c =>
      val (cx, cy) = (c % 9, c / 9)
      val (x0, x1) = (cx * w / 9, math.max(cx * w / 9 + 1, (cx + 1) * w / 9))
      val (y0, y1) = (cy * h / 8, math.max(cy * h / 8 + 1, (cy + 1) * h / 8))
      val ls = for (y <- y0 until y1; x <- x0 until x1) yield {
        val p = img.getRGB(x, y)
        0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
      }
      ls.sum / ls.size
    }
  }

  /** Hash bits two frames may disagree on under any difference hash of
    * these cells that rounds luma to whole levels: bits whose comparison
    * differs, plus bits within two levels of a tie in either frame. */
  def nearDupBits(a: Array[Byte], b: Array[Byte]): Int = {
    val (ca, cb) = (hashCells(a), hashCells(b))
    (0 until 64).count { k =>
      val c = k / 8 * 9 + k % 8
      val (da, db) = (ca(c + 1) - ca(c), cb(c + 1) - cb(c))
      da * db <= 0 || math.abs(da) < 2 || math.abs(db) < 2
    }
  }

  /** A smooth random grey field: four random plane waves. */
  private def field(r: SplittableRandom, w: Int, h: Int): java.awt.image.BufferedImage = {
    val waves = Array.fill(4)((r.nextDouble() * 6 - 3, r.nextDouble() * 6 - 3, r.nextDouble() * 6.3))
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = waves.map { case (a, b, c) => math.sin(a * x / w * math.Pi + b * y / h * math.Pi + c) }.sum
      val g = math.max(0, math.min(255, (128 + 30 * v).toInt))
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    img
  }

  private def shift(img: java.awt.image.BufferedImage): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(img.getWidth, img.getHeight, img.getType)
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      out.setRGB(x, y, img.getRGB(math.min(img.getWidth - 1, x + 1), y))
    out
  }

  private def encodeJpeg(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(q)
    val bos = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }
}
