package graftbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File, FileOutputStream, OutputStream}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream, ZipEntry, ZipOutputStream}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}

/** One leaf entry the converter must emit: the input it came from, its
  * path inside that input, its size and the hex SHA-256 of its content.
  */
final case class ManifestEntry(source: String, path: String, size: Long, sha256: String)

/** A generated corpus: the input files handed to the program and the
  * manifest of every leaf entry inside them.
  */
final case class Corpus(inputs: Seq[String], manifest: Seq[ManifestEntry]) {
  def inputBytes: Long = inputs.map(p => new File(p).length()).sum
  def contentBytes: Long = manifest.map(_.size).sum
}

/** Deterministic input generators. Everything is drawn from `seed`, and
  * each input file from its own stream split off it, so the files are
  * byte-identical for a seed however many threads write them.
  */
object Gen {

  private def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Words for generated text; a skewed pick makes the text compress
    * roughly like prose or source code (about 3x under gzip).
    */
  private final class Words(seed: Long) {
    private val words: Array[Array[Byte]] = {
      val r = new SplittableRandom(seed ^ 0x5eedL)
      Array.fill(4096) {
        val n = 2 + r.nextInt(9)
        Array.fill(n)(('a' + r.nextInt(26)).toByte)
      }
    }
    def text(r: SplittableRandom, n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        val w = words((r.nextInt(4096).toLong * r.nextInt(4096) >> 12).toInt)
        var j = 0
        while (j < w.length && i < n) { out(i) = w(j); i += 1; j += 1 }
        if (i < n) { out(i) = (if (r.nextInt(12) == 0) '\n' else ' ').toByte; i += 1 }
      }
      out
    }
  }

  /** Incompressible bytes. The first byte is 0x01, which starts no
    * compression or container magic: a random prefix that happened to
    * read as one (1 in 65536 for gzip's two bytes) would be a corrupt
    * compressed member, not an opaque binary file.
    */
  private def randomBytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      var v = r.nextLong()
      var k = 0
      while (k < 8 && i < n) { out(i) = v.toByte; v >>>= 8; i += 1; k += 1 }
    }
    if (n > 0) out(0) = 1
    out
  }

  private def tarEntry(tar: TarArchiveOutputStream, path: String, body: Array[Byte]): Unit = {
    val e = new TarArchiveEntry(path)
    e.setSize(body.length.toLong)
    e.setModTime(0L)
    tar.putArchiveEntry(e)
    tar.write(body)
    tar.closeArchiveEntry()
  }

  private def zipBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(buf)
    zip.setLevel(Deflater.DEFAULT_COMPRESSION)
    entries.foreach { case (p, b) =>
      val e = new ZipEntry(p)
      e.setTime(0L)
      zip.putNextEntry(e); zip.write(b); zip.closeEntry()
    }
    zip.close()
    buf.toByteArray
  }

  private def compressed(file: File, zstd: Boolean): OutputStream = {
    val raw = new BufferedOutputStream(new FileOutputStream(file), 1 << 20)
    if (zstd) new com.github.luben.zstd.ZstdOutputStream(raw, 3)
    else new GZIPOutputStream(raw, 1 << 16) { `def`.setLevel(Deflater.BEST_SPEED) }
  }

  /** Runs `gen(i)` for i in 0 until n on at most `threads` threads and
    * returns the results in index order.
    */
  private def parallel[T](n: Int, threads: Int)(gen: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(n, threads)))
    try {
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = gen(i) }))
      fs.map(_.get())
    } finally pool.shutdownNow()
  }

  private def streamFor(seed: Long, i: Int): SplittableRandom = {
    // split a fixed number of streams off the seed, then pick stream i
    val root = new SplittableRandom(seed)
    var r = root.split()
    var k = 0
    while (k < i) { r = root.split(); k += 1 }
    r
  }

  /** `convert_files`: `layers` tar.gz "image layers" plus one tar.zst
    * layer, `entriesPerLayer` leaf entries each. Sizes are log-normal
    * (median about 700 bytes, capped at 1 MiB), 60% text; a
    * quarter of the entries reuse content from a pool shared by all
    * layers; a few members per layer are deflated zips (jar/wheel-like).
    */
  def files(dir: File, seed: Long, layers: Int, entriesPerLayer: Int, threads: Int): Corpus = {
    dir.mkdirs()
    val words = new Words(seed)
    // Stratified log-normal sizes: the i-th of n entries takes the
    // ((i + 0.5) / n)-quantile, so every seed draws the same multiset of
    // sizes (the same total bytes) and only their order and content vary.
    def sizes(r: SplittableRandom, n: Int): Array[Int] = {
      val q = Array.tabulate(n) { i =>
        val z = normalQuantile((i + 0.5) / n)
        math.min(1 << 20, math.max(1, math.exp(math.log(700) + 1.6 * z).toInt))
      }
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = q(i); q(i) = q(j); q(j) = t; i -= 1 }
      q
    }
    def content(r: SplittableRandom, n: Int): Array[Byte] =
      if (r.nextInt(10) < 6) words.text(r, n) else randomBytes(r, n)
    val pool: Array[Array[Byte]] = {
      val r = streamFor(seed, 1000)
      sizes(r, 2000).map(content(r, _))
    }
    val parts = parallel(layers + 1, threads) { l =>
      val r = streamFor(seed, l)
      val zstd = l == layers
      val file = new File(dir, f"layer_$l%03d.tar" + (if (zstd) ".zst" else ".gz"))
      val source = file.getPath
      val sz = sizes(r, entriesPerLayer)
      var next = 0
      def body(): Array[Byte] = {
        val n = sz(next); next += 1
        if (r.nextInt(4) == 0) pool(r.nextInt(pool.length)) else content(r, n)
      }
      val man = Seq.newBuilder[ManifestEntry]
      val tar = new TarArchiveOutputStream(compressed(file, zstd))
      tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
      val zips = 4
      val perZip = entriesPerLayer / 20
      val plain = entriesPerLayer - zips * perZip
      var k = 0
      while (k < plain) {
        val b = body()
        val ext = if (r.nextBoolean()) "py" else "so"
        val path = f"usr/lib/pkg${r.nextInt(200)}%03d/mod_$k%05d.$ext"
        tarEntry(tar, path, b)
        man += ManifestEntry(source, path, b.length.toLong, sha256Hex(b))
        k += 1
      }
      (0 until zips).foreach { z =>
        val members = Seq.tabulate(perZip)(m => (f"pkg/m$m%04d.class", body()))
        val zpath = f"opt/app/lib/dep_$z%02d.jar"
        tarEntry(tar, zpath, zipBytes(members))
        members.foreach { case (p, b) =>
          man += ManifestEntry(source, s"$zpath/$p", b.length.toLong, sha256Hex(b))
        }
      }
      tar.close()
      (source, man.result())
    }
    Corpus(parts.map(_._1), parts.flatMap(_._2))
  }

  /** Inverse of the standard normal CDF (Acklam's rational approximation,
    * relative error below 1.2e-9).
    */
  def normalQuantile(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00, 3.754408661907416e+00)
    def tail(q: Double): Double =
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    if (p < 0.02425) tail(math.sqrt(-2 * math.log(p)))
    else if (p > 1 - 0.02425) -tail(math.sqrt(-2 * math.log(1 - p)))
    else {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    }
  }

  /** A small fixed corpus for warm-up passes. */
  def warmup(dir: File): Corpus = files(dir, 7L, 1, 400, 1)

  def writeManifest(c: Corpus, file: File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try c.manifest.foreach(e => w.println(s"${new File(e.source).getName}\t${e.path}\t${e.size}\t${e.sha256}"))
    finally w.close()
  }
}
