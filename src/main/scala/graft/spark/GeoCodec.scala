package graft.spark

import graft.index._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * JVM-static codec entry points for the hot row-at-a-time paths. Catalyst
 * expressions call these from generated code (a static call keeps
 * whole-stage codegen intact — no boxing, no virtual dispatch).
 *
 * Index semantics (bucket edge rules, tier layout, year binning) are the
 * reference's, via graft.index
 * (reference: core/index/.../sfc/tiered/TieredSFCIndexStrategy.java,
 *  core/geotime/.../ingest/SpatialDimensionalityTypeProvider.java:29-45).
 */
object GeoCodec {
  /** default spatial index: Hilbert 31/31, half-range latitude, tiers 0..31 */
  val SpatialBits = 31
  lazy val spatial: TieredStrategy = TieredStrategy.defaultSpatial
  /** default spatial-temporal: 20/20/20, YEAR bins, 11 equal-interval tiers */
  val STBits = 20
  lazy val spatialTemporal: TieredStrategy = TieredStrategy.defaultSpatialTemporal

  private val curves2d = new Array[CompactHilbert](32)
  def curve2d(bits: Int): CompactHilbert = {
    var c = curves2d(bits)
    if (c == null) { c = new CompactHilbert(Array(bits, bits)); curves2d(bits) = c }
    c
  }
  private val curves3d = new Array[CompactHilbert](21)
  def curve3d(bits: Int): CompactHilbert = {
    var c = curves3d(bits)
    if (c == null) { c = new CompactHilbert(Array(bits, bits, bits)); curves3d(bits) = c }
    c
  }

  /** point bucket rule `max(ceil(norm*bins)-1, 0)`
    * (reference: PrimitiveHilbertSFCOperations.normalizeDimension:248-261) */
  @inline def bucketPoint(norm: Double, bins: Long): Long =
    math.max(math.ceil(norm * bins) - 1L, 0L).toLong

  @inline def normLon(lon: Double): Double = {
    val c = if (lon < -180) -180 else if (lon > 180) 180 else lon
    (c + 180) / 360
  }

  /** latitude on the half-range trick: normalized over [-180,180], data
    * clamped to [-90,90] (reference: LatitudeDefinition.java:33-49) */
  @inline def normLat(lat: Double): Double = {
    val c = if (lat < -90) -90 else if (lat > 90) 90 else lat
    (c + 180) / 360
  }

  def bucketLon(lon: Double, bits: Int): Long = bucketPoint(normLon(lon), 1L << bits)
  def bucketLat(lat: Double, bits: Int): Long = bucketPoint(normLat(lat), 1L << bits)

  /** single-tier Hilbert tile id of a point at the given per-dim precision —
    * the tile-assignment primitive (dims ordered [lon, lat] like the default
    * spatial index). */
  def tileId(lon: Double, lat: Double, bits: Int): Long =
    curve2d(bits).index(Array(bucketLon(lon, bits), bucketLat(lat, bits)))

  /** tile cell bounds [lonMin, lonMax, latMin, latMax] (lat denormalized from
    * the half-range trick; clamped to [-90,90]). */
  def tileBounds(tile: Long, bits: Int): Array[Double] = {
    val p = curve2d(bits).indexInverse(tile)
    val bins = (1L << bits).toDouble
    val lonMin = p(0) / bins * 360 - 180
    val lonMax = (p(0) + 1) / bins * 360 - 180
    val latMin = math.max(p(1) / bins * 360 - 180, -90.0)
    val latMax = math.min((p(1) + 1) / bins * 360 - 180, 90.0)
    Array(lonMin, lonMax, latMin, latMax)
  }

  /** full tiered spatial insertion id of a point: tier byte 31 ‖ 8 sfc bytes.
    * Points always land on the finest tier with a single id. */
  def cellIdSpatial(lon: Double, lat: Double): Array[Byte] = {
    val h = curve2d(SpatialBits).index(
      Array(bucketLon(lon, SpatialBits), bucketLat(lat, SpatialBits)))
    val out = new Array[Byte](9)
    out(0) = SpatialBits.toByte
    var i = 8
    var v = h
    while (i >= 1) { out(i) = (v & 0xff).toByte; v >>>= 8; i -= 1 }
    out
  }

  /** integer dot product over two long-array columns — the hot inner loop
    * of embedding similarity, called from generated code (no per-row
    * allocation, stays in whole-stage codegen). */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** deterministic random-hyperplane signature over a quantized embedding:
    * plane j weight at dim i is ((j·1000003 + (i+1)·7919) mod 2001) − 1000;
    * bit j set when the dot is >= 0. Static inner loop called from
    * generated code — replaces a bits×dims tree of column expressions
    * (the q20 hot path). Weight table cached per (dims, bits). */
  private val hyperplaneWeights =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  def hyperplaneSig(v: ArrayData, dims: Int, bits: Int): Long = {
    // ArrayData.getLong does NO bounds check (unsafe memory read): a
    // caller-supplied dims larger than the vector would read adjacent row
    // memory — nondeterministic buckets or a crash. Fail loudly instead.
    if (v.numElements() < dims)
      throw new IllegalArgumentException(
        s"hyperplaneSig: vector has ${v.numElements()} dims, expected >= $dims")
    val w = hyperplaneWeights.computeIfAbsent((dims, bits), { k =>
      val (d, b) = k
      val arr = new Array[Long](b * d)
      var j = 0
      while (j < b) {
        var i = 0
        while (i < d) { arr(j * d + i) = (j * 1000003L + (i + 1) * 7919L) % 2001L - 1000L; i += 1 }
        j += 1
      }
      arr
    })
    var sig = 0L
    var j = 0
    while (j < bits) {
      var dot = 0L
      var i = 0
      val off = j * dims
      while (i < dims) { dot += v.getLong(i) * w(off + i); i += 1 }
      if (dot >= 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** portable string hash — fold (acc·31 + codePoint) mod 2^31−1 over the
    * string's CODE POINTS, exactly matching the column-expression form
    * `aggregate(transform(split(s,''), ascii), ...)` (Java split keeps
    * surrogate pairs whole and ascii() yields the full code point) and the
    * DuckDB `ord` twin. Codegen entry point — one JVM loop instead of an
    * eval-mode higher-order-function chain per row. */
  def portableHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    acc
  }

  /** portable fold hash over RAW BYTES — fold (acc·31 + unsignedByte) mod
    * 2^31−1; equals [[portableHash]] on ASCII payloads and is the media
    * checksum primitive for opaque binary columns. Codegen entry point. */
  def portableHashBytes(b: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < b.length) { acc = (acc * 31 + (b(i) & 0xff)) % 2147483647L; i += 1 }
    acc
  }

  /** all k-gram fold hashes of a string in one pass (the fingerprint
    * primitive): gram i (0-based, CODE-POINT-indexed like Spark's
    * substr/length) = fold (acc·31 + codePoint) mod p over code points
    * [i, i+k) — identical values to the unrolled column-expression fold
    * over `substr`+`ascii` for any input, not just ASCII. */
  def kgramHashes(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    // code-point array (char-indexed walk would split surrogate pairs)
    val cps = new Array[Int](str.codePointCount(0, str.length))
    var ci = 0; var off = 0
    while (off < str.length) {
      val cp = str.codePointAt(off)
      cps(ci) = cp; ci += 1; off += Character.charCount(cp)
    }
    val n = cps.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = (acc * 31 + cps(i + j)) % 2147483647L; j += 1 }
      out(i) = acc
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** all character n-grams of a string for n in [minN, maxN], CODE-POINT
    * indexed (a surrogate pair is one "character", matching Spark's
    * substr/length) — the reference's NGramTokenizer gram enumeration
    * (core/store/.../index/text/TextIndexStrategy.java:21-130, default
    * n = 2..4). One pass; grams of each length in positional order. */
  def charGrams(s: UTF8String, minN: Int, maxN: Int): ArrayData = {
    val str = s.toString
    val cpCount = str.codePointCount(0, str.length)
    // char offsets of each code point (so substring extraction is O(1))
    val offs = new Array[Int](cpCount + 1)
    var ci = 0; var off = 0
    while (off < str.length) {
      offs(ci) = off
      off += Character.charCount(str.codePointAt(off))
      ci += 1
    }
    offs(cpCount) = str.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var n = minN
    while (n <= maxN) {
      var i = 0
      while (i + n <= cpCount) {
        out += UTF8String.fromString(
          str.substring(offs(i), offs(i + n)))
        i += 1
      }
      n += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** all word n-gram shingles of a text in one pass: words are the pieces
    * between single spaces (Spark's `split(text, ' ')`, empties included),
    * joined by single spaces. A space byte never occurs inside a UTF-8
    * multi-byte sequence, so shingle i is one byte-range copy of the text.
    * Empty array below n words. Codegen entry point. */
  def wordShingles(s: UTF8String, n: Int): GenericArrayData = {
    // word w spans bytes [starts(w), starts(w + 1) - 2]
    val b = Array.newBuilder[Int]
    b += 0
    var i = 0
    while (i < s.numBytes()) { if (s.getByte(i) == ' ') b += i + 1; i += 1 }
    b += s.numBytes() + 1
    val starts = b.result()
    new GenericArrayData(Array.tabulate[Any](math.max(starts.length - n, 0))(i =>
      s.copyUTF8String(starts(i), starts(i + n) - 2)))
  }

  /** the [[wordShingles]] of all of a doc's texts as one distinct set in
    * UTF-8 byte order (UTF8String.compareTo) — what [[minhashBands]] folds
    * and [[sortedIntersectCount]] merges. Codegen entry point. */
  def shingleSet(texts: ArrayData, n: Int): ArrayData = {
    val all = Array.tabulate(texts.numElements())(i =>
      wordShingles(texts.getUTF8String(i), n).array).flatten
    java.util.Arrays.sort(all.asInstanceOf[Array[AnyRef]])
    new GenericArrayData(all.distinct)
  }

  /** |a ∩ b| of two [[shingleSet]] arrays by one sorted merge — exact on
    * the strings themselves, never on hashes. Codegen entry point. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    var i = 0
    var j = 0
    var inter = 0L
    while (i < a.numElements() && j < b.numElements()) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }

  /** MinHash LSH band keys of a non-empty shingle set in one fold: hash j
    * = min over shingles of ((2j+1)·portableHash + 12345j + 1) mod p; band
    * b folds its rowsPerBand hashes as (acc·786433 + sig) mod p, so with
    * rowsPerBand = 1 the keys are the signature. Codegen entry point. */
  def minhashBands(sh: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val P = 2147483647L
    val sig = Array.fill(bands * rowsPerBand)(Long.MaxValue)
    var i = 0
    while (i < sh.numElements()) {
      val h = portableHash(sh.getUTF8String(i))
      var j = 0
      while (j < sig.length) { sig(j) = math.min(sig(j), ((2L * j + 1) * h + 12345L * j + 1) % P); j += 1 }
      i += 1
    }
    ArrayData.toArrayData(Array.tabulate(bands) { b =>
      (1 until rowsPerBand).foldLeft(sig(b * rowsPerBand))((acc, r) =>
        (acc * 786433L + sig(b * rowsPerBand + r)) % P)
    })
  }

  /** geohash cell id (codegen entry point; returns Spark's UTF8String). */
  def geohash(lon: Double, lat: Double, precision: Int): UTF8String =
    UTF8String.fromString(
      graft.index.Geohash.encode(lon, lat, precision))

  /** Year-bin epochs cached; GMT calendar-year semantics
    * (reference: TemporalBinningStrategy.java:126-171, YEAR unit). */
  private val yearEpochs = new java.util.concurrent.ConcurrentHashMap[Integer, Long]()
  private val utc = java.time.ZoneOffset.UTC
  def yearOf(millis: Long): Int =
    java.time.Instant.ofEpochMilli(millis).atZone(utc).getYear
  def yearEpoch(year: Int): Long =
    yearEpochs.computeIfAbsent(year, y =>
      java.time.LocalDate.of(y, 1, 1).atStartOfDay(utc).toInstant.toEpochMilli)
  val YearBinSizeMillis: Long = 366L * 86400000L

  // ---- Bias presets: unequal-precision ST curves (compact-Hilbert mask
  // path; SpatialTemporalDimensionalityTypeProvider.Bias) ----
  private val biasedCurves =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), CompactHilbert]()
  def curve3dBiased(spatialBits: Int, temporalBits: Int): CompactHilbert =
    if (spatialBits == temporalBits) curve3d(spatialBits) // shared cache
    else biasedCurves.computeIfAbsent((spatialBits, temporalBits),
      k => new CompactHilbert(Array(k._1, k._1, k._2)))
  private val biasedStrategies =
    new java.util.concurrent.ConcurrentHashMap[String, TieredStrategy]()
  def stBiased(bias: String): TieredStrategy = bias.toUpperCase match {
    // BALANCED IS the default strategy object — never a duplicate stack
    case "BALANCED" => spatialTemporal
    case b => biasedStrategies.computeIfAbsent(b,
      k => TieredStrategy.spatialTemporalBiased(k))
  }

  /** biased finest-tier ST insertion id of a point event:
    * tier byte max(sb,tb) ‖ "YYYY" ‖ sfc bytes (2·sb+tb bits) — the same
    * layout as [[cellIdST]] with the biased curve; pinned byte-identical
    * to the biased TieredStrategy's own point insertion id
    * (HilbertUnequalSpec). */
  def cellIdSTBiased(lon: Double, lat: Double, tsMillis: Long,
                     spatialBits: Int, temporalBits: Int): Array[Byte] = {
    val year = yearOf(tsMillis)
    val inBin = tsMillis - yearEpoch(year)
    val tNorm = inBin.toDouble / (YearBinSizeMillis - 1).toDouble
    val h = curve3dBiased(spatialBits, temporalBits).index(Array(
      bucketPoint(normLon(lon), 1L << spatialBits),
      bucketPoint(normLat(lat), 1L << spatialBits),
      bucketPoint(tNorm, 1L << temporalBits)))
    val sfcBytes = math.ceil((2 * spatialBits + temporalBits) / 8.0).toInt
    val out = new Array[Byte](1 + 4 + sfcBytes)
    out(0) = math.max(spatialBits, temporalBits).toByte
    val yb = year.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    System.arraycopy(yb, 0, out, 1, 4)
    var i = out.length - 1
    var v = h
    while (i >= 5) { out(i) = (v & 0xff).toByte; v >>>= 8; i -= 1 }
    out
  }

  /** full tiered spatial-temporal insertion id of a point event:
    * tier byte 20 ‖ "YYYY" ‖ 8 sfc bytes (60 bits) — the BALANCED case of
    * [[cellIdSTBiased]] (ONE key-layout definition; the balanced curve
    * cache is shared via curve3dBiased delegating to curve3d). */
  def cellIdST(lon: Double, lat: Double, tsMillis: Long): Array[Byte] =
    cellIdSTBiased(lon, lat, tsMillis, STBits, STBits)

  /**
   * Ellipsoidal geodesic distance in meters — Vincenty's inverse formula
   * on WGS84, the semantics of the reference's default analytic distance
   * function (CoordinateCircleDistanceFn.java:36-69 delegates to
   * GeoTools' orthodromic distance, which is Vincenty on EPSG:4326).
   * Agrees with the reference's own golden constant
   * (CoordinateCircleDistanceFnTest.java: 111319.49079322655 m for one
   * equatorial degree) to under a millimeter; the spherical haversine
   * would be ~125 m off there. Falls back to the spherical value in the
   * (near-antipodal) non-convergent region, where Vincenty's iteration
   * diverges.
   */
  def vincentyMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val a = 6378137.0
    val f = 1.0 / 298.257223563
    val b = (1.0 - f) * a
    val L = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1.0 - f) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1.0 - f) * math.tan(math.toRadians(lat2)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)
    var lambda = L
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cosSqAlpha = 0.0; var cos2SigmaM = 0.0
    var iter = 0
    var delta = Double.MaxValue
    while (delta > 1e-12 && iter < 200) {
      val sinL = math.sin(lambda); val cosL = math.cos(lambda)
      val t1 = cosU2 * sinL
      val t2 = cosU1 * sinU2 - sinU1 * cosU2 * cosL
      sinSigma = math.sqrt(t1 * t1 + t2 * t2)
      if (sinSigma == 0.0) return 0.0 // coincident points
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cosSqAlpha = 1.0 - sinAlpha * sinAlpha
      cos2SigmaM =
        if (cosSqAlpha == 0.0) 0.0 // equatorial line
        else cosSigma - 2.0 * sinU1 * sinU2 / cosSqAlpha
      val c = f / 16.0 * cosSqAlpha * (4.0 + f * (4.0 - 3.0 * cosSqAlpha))
      val prev = lambda
      lambda = L + (1.0 - c) * f * sinAlpha *
        (sigma + c * sinSigma * (cos2SigmaM +
          c * cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
      delta = math.abs(lambda - prev)
      iter += 1
    }
    if (delta > 1e-12) { // antipodal non-convergence: spherical fallback
      val dLat = math.toRadians(lat2 - lat1) / 2
      val dLon = math.toRadians(lon2 - lon1) / 2
      val h = math.sin(dLat) * math.sin(dLat) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.sin(dLon) * math.sin(dLon)
      return 2.0 * 6371008.8 * math.asin(math.sqrt(h))
    }
    val uSq = cosSqAlpha * (a * a - b * b) / (b * b)
    val bigA = 1.0 + uSq / 16384.0 *
      (4096.0 + uSq * (-768.0 + uSq * (320.0 - 175.0 * uSq)))
    val bigB = uSq / 1024.0 * (256.0 + uSq * (-128.0 + uSq * (74.0 - 47.0 * uSq)))
    val deltaSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4.0 *
      (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
        bigB / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
          (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
    b * bigA * (sigma - deltaSigma)
  }

  /**
   * SOUND bounding envelope(s) of the haversine disk of radius `rMeters`
   * around a center, on the same sphere (R = 6371008.8) the haversine
   * filter uses, split in two where it crosses the antimeridian. Unlike
   * the reference's 4-cardinal-destination envelope
   * (GeometryCalculations.buildSurroundingGeometries), this covers the
   * disk's true east/west extremes, which lie POLEWARD of the center
   * latitude: dLon = asin(sin(r/R) / cos(lat)) (vs the bearing-90
   * destination's smaller atan-based offset). A disk reaching a pole or
   * with cos(lat) <= sin(r/R) spans all longitudes.
   */
  def haversineDiskEnvelopes(lon: Double, lat: Double, rMeters: Double): Seq[StatsClip.Env] = {
    val R = 6371008.8
    val c = rMeters / R // angular radius
    val latR = math.toRadians(lat)
    val loY = math.max(-90.0, lat - math.toDegrees(c))
    val hiY = math.min(90.0, lat + math.toDegrees(c))
    val sinC = math.sin(c)
    if (c >= math.Pi / 2 || loY <= -90.0 + 1e-12 || hiY >= 90.0 - 1e-12 ||
        math.cos(latR) <= sinC)
      return Seq(StatsClip.Env(-180.0, 180.0, loY, hiY))
    val dLon = math.toDegrees(math.asin(sinC / math.cos(latR)))
    val (xW, xE) = (lon - dLon, lon + dLon)
    if (xW < -180.0)
      Seq(StatsClip.Env(xW + 360.0, 180.0, loY, hiY), StatsClip.Env(-180.0, xE, loY, hiY))
    else if (xE > 180.0)
      Seq(StatsClip.Env(-180.0, xE - 360.0, loY, hiY), StatsClip.Env(xW, 180.0, loY, hiY))
    else Seq(StatsClip.Env(xW, xE, loY, hiY))
  }
}
