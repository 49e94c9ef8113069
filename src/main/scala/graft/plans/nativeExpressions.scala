package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftshim.GraftShim.{column, expression}

/** Static implementations shared by the interpreted and generated
  * paths of the string-heavy native expressions. Top-level object =>
  * scalac emits static forwarders, so generated Java calls
  * `graft.plans.NativeImpl.wordShingles(...)` directly — one static
  * call per row, no InternalRow boxing, and (unlike CodegenFallback)
  * the containing operator keeps whole-stage codegen.
  */
object NativeImpl {

  /** See [[native.WordShingles]]. */
  def wordShingles(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int): ArrayData = {
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val toks = text.split(space, -1)
    val n = toks.length
    val m = math.max(n - (k - 1), 1)
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i < m) {
      val slice = java.util.Arrays.copyOfRange(toks, i, math.min(i + k, n))
      seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space, slice: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** See [[native.WordNgrams]]. ALL word k-grams in document order,
    * repeats included — the counting form an n-gram LM needs (unlike
    * [[wordShingles]], whose distinct-set semantics are what dedup
    * banding wants). Texts shorter than k words yield an EMPTY array
    * (an LM has no complete context there), not a whole-text gram.
    */
  def wordNgrams(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int): ArrayData = {
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val toks = text.split(space, -1)
    val m = toks.length - (k - 1)
    if (m <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](m)
    var i = 0
    while (i < m) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(space,
        java.util.Arrays.copyOfRange(toks, i, i + k): _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[native.IntraDocDedup]]. One pass per document: fixed
    * `segWords`-word segments, FIRST occurrence of each distinct
    * segment kept, survivors rejoined in order. Purely per-row (the
    * whole operator is a narrow projection — the within-document twin
    * of the corpus-wide operators.Dedup.segmentDedup window form).
    */
  def intraDedup(text: org.apache.spark.unsafe.types.UTF8String,
      segWords: Int): org.apache.spark.unsafe.types.UTF8String = {
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val toks = text.split(space, -1)
    val n = toks.length
    val nSegs = (n - 1) / segWords + 1
    val seen =
      new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](nSegs * 2)
    val kept =
      new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](nSegs)
    var i = 0
    while (i < n) {
      val seg = org.apache.spark.unsafe.types.UTF8String.concatWs(space,
        java.util.Arrays.copyOfRange(toks, i, math.min(i + segWords, n)): _*)
      if (seen.add(seg)) kept.add(seg)
      i += segWords
    }
    org.apache.spark.unsafe.types.UTF8String.concatWs(space,
      kept.toArray(
        new Array[org.apache.spark.unsafe.types.UTF8String](kept.size())): _*)
  }

  /** See [[native.LongArrayMatchCount]]. */
  def longArrayMatches(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** See [[native.SpanCorrupt]]. One pass per document: fixed
    * `spanWords`-word spans, each masked iff the first 32 bits of
    * md5("{docId}:{g}") fall under `cut` — numerically identical to
    * the SQL `substr(md5(...), 1, 8) < hexCut` draw (8 lowercase hex
    * digits compare lexicographically as the unsigned 32-bit value).
    * Masked spans become numbered sentinels in the corrupted text and
    * `<extra_id_k> span` entries in the target sequence.
    */
  def spanCorrupt(docId: Long, text: org.apache.spark.unsafe.types.UTF8String,
      spanWords: Int, cut: Long): InternalRow = {
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val toks = text.split(space, -1)
    val n = toks.length
    val nGroups = (n - 1) / spanWords + 1
    val md = md5Local.get()
    val corrupted = new java.lang.StringBuilder(text.numBytes() + 16)
    val targets = new java.lang.StringBuilder(64)
    var k = 0
    var g = 0
    while (g < nGroups) {
      md.reset()
      val h = md.digest((docId.toString + ":" + g.toString)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val draw = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      val seg = org.apache.spark.unsafe.types.UTF8String.concatWs(space,
        java.util.Arrays.copyOfRange(toks, g * spanWords,
          math.min(g * spanWords + spanWords, n)): _*).toString
      if (g > 0) corrupted.append(' ')
      if (draw < cut) {
        corrupted.append("<extra_id_").append(k).append('>')
        if (k > 0) targets.append(' ')
        targets.append("<extra_id_").append(k).append("> ").append(seg)
        k += 1
      } else corrupted.append(seg)
      g += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nGroups.toLong, k.toLong,
      org.apache.spark.unsafe.types.UTF8String.fromString(corrupted.toString),
      org.apache.spark.unsafe.types.UTF8String.fromString(targets.toString)))
  }

  /** See [[native.SharedGramCount]]. Distinct CHARACTER n-grams
    * present in both strings — java String.substring over decoded
    * chars so the gram positions agree with DuckDB's
    * character-addressed substr/list slicing on any UTF-8 input.
    * Intended for VERIFYING candidate pairs (each call is
    * O(|a| + |b|) gram hashing over two document-sized strings),
    * never as a corpus-wide scan primitive.
    */
  def sharedGramCount(a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String, n: Int): Int = {
    val sa = a.toString; val sb = b.toString
    if (sa.length < n || sb.length < n) return 0
    val (s, t) = if (sa.length <= sb.length) (sa, sb) else (sb, sa)
    val set = new java.util.HashSet[String](2 * (s.length - n + 1))
    var i = 0
    while (i + n <= s.length) { set.add(s.substring(i, i + n)); i += 1 }
    val shared = new java.util.HashSet[String]()
    var j = 0
    while (j + n <= t.length) {
      val g = t.substring(j, j + n)
      if (set.contains(g)) shared.add(g)
      j += 1
    }
    shared.size
  }

  /** See [[native.LiteralOccurrences]]. One pass over the BYTES:
    * UTF8String.indexOf takes a char position and re-walks the string
    * from byte 0 to resolve it on every call — O(n·matches), which is
    * quadratic when the literal is frequent (counting the ~dl spaces
    * of a doc for a word count was 5× the whole scoring pass). Byte
    * matching is exact for UTF-8 (continuation bytes never equal lead
    * bytes, so a byte-sequence hit is always char-aligned); matches
    * advance by the pattern length = the same non-overlapping count.
    */
  def countLiteral(text: org.apache.spark.unsafe.types.UTF8String,
      pat: org.apache.spark.unsafe.types.UTF8String): Int = {
    val pn = pat.numBytes
    if (pn == 0) return 0
    val n = text.numBytes
    val tb = text.getBaseObject; val to = text.getBaseOffset
    val pb = pat.getBaseObject; val po = pat.getBaseOffset
    val first = org.apache.spark.unsafe.Platform.getByte(pb, po)
    var count = 0
    var i = 0
    val last = n - pn
    while (i <= last) {
      if (org.apache.spark.unsafe.Platform.getByte(tb, to + i) == first) {
        var j = 1
        while (j < pn && org.apache.spark.unsafe.Platform.getByte(tb, to + i + j)
            == org.apache.spark.unsafe.Platform.getByte(pb, po + j)) j += 1
        if (j == pn) { count += 1; i += pn } else i += 1
      } else i += 1
    }
    count
  }

  /** See [[native.RegexpCount]]. */
  def countRegex(text: org.apache.spark.unsafe.types.UTF8String,
      pat: java.util.regex.Pattern): Int = {
    val m = pat.matcher(text.toString)
    var c = 0
    while (m.find()) c += 1
    c
  }

  /** See [[native.MarkerScores]]. Scans the VIRTUALLY-padded text
    * (a space before byte 0 and after byte n-1, so " m " can match at
    * both boundaries — same as the concat(' ', text, ' ') the oracle
    * keeps) once, gating each pattern with its own non-overlap cursor,
    * which reproduces the per-pattern indexOf/replace-count sequence
    * exactly (shared-space adjacency included). Patterns are ASCII, so
    * byte comparison is UTF-8-safe and byte offsets track the char
    * offsets of the string form 1:1 inside match spans.
    */
  def markerScores(text: org.apache.spark.unsafe.types.UTF8String,
      pats: Array[Array[Byte]], langOf: Array[Int], nLangs: Int): ArrayData = {
    val n = text.numBytes
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val space = ' '.toByte
    def pb(i: Int): Byte = // padded byte i, i in [0, n+1]
      if (i == 0 || i == n + 1) space
      else org.apache.spark.unsafe.Platform.getByte(base, off + i - 1)
    val scores = new Array[Int](nLangs)
    val nextStart = new Array[Int](pats.length)
    val last = n + 1
    var p = 0
    while (p <= last) {
      if (pb(p) == space) { // every pattern starts with ' '
        var k = 0
        while (k < pats.length) {
          val pat = pats(k)
          if (p >= nextStart(k) && p + pat.length - 1 <= last) {
            var j = 1
            while (j < pat.length && pb(p + j) == pat(j)) j += 1
            if (j == pat.length) {
              scores(langOf(k)) += 1
              nextStart(k) = p + pat.length
            }
          }
          k += 1
        }
      }
      p += 1
    }
    new GenericArrayData(scores)
  }

  /** See [[native.ByteClassCount]]. */
  def countByteClass(text: org.apache.spark.unsafe.types.UTF8String,
      isIn: Array[Boolean]): Int = {
    val n = text.numBytes
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var c = 0
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b >= 0 && isIn(b)) c += 1 // UTF-8 continuation/lead bytes are negative
      i += 1
    }
    c
  }

  /** See [[native.BpeishTokenCount]]. Counts the match sequence of
    * the alternation [A-Za-z]+|[0-9]+|[^A-Za-z0-9 ] directly: a
    * maximal letter run is one match, a maximal digit run is one
    * match, every other non-space CHAR (multi-byte chars included) is
    * its own match. One pass over the bytes; continuation bytes
    * belong to their lead byte's char.
    */
  def bpeishTokenCount(text: org.apache.spark.unsafe.types.UTF8String): Int = {
    val n = text.numBytes
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var count = 0
    var run = 0 // 0 = none, 1 = letters, 2 = digits
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b < 0) { // multi-byte char: single "other" match
        count += 1; run = 0
        i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(b)
      } else {
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) {
          if (run != 1) { count += 1; run = 1 }
        } else if (b >= '0' && b <= '9') {
          if (run != 2) { count += 1; run = 2 }
        } else if (b == ' ') {
          run = 0
        } else { // ASCII punctuation/control: one match per char
          count += 1; run = 0
        }
        i += 1
      }
    }
    count
  }

  private val deflaterLocal = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
  }
  private val deflateBufLocal = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16 * 1024)
  }

  /** See [[native.DeflateLen]]: deflated byte length of the text's
    * UTF-8 bytes at zlib's default level — a pure function of the
    * byte content (thread-local Deflater reset per call, one reused
    * output buffer; the compressed bytes are counted and discarded).
    */
  def deflateLen(text: org.apache.spark.unsafe.types.UTF8String): Int = {
    val d = deflaterLocal.get()
    val buf = deflateBufLocal.get()
    d.reset()
    d.setInput(text.getBytes)
    d.finish()
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  /** See [[native.WinnowingFingerprints]]. */
  def winnowing(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int, w: Int): ArrayData = {
    val buf = winnowBuffer(text, k)
    val n = winnowInto(text, k, w, buf)
    UnsafeArrayData.fromPrimitiveArray(buf,
      org.apache.spark.unsafe.Platform.LONG_ARRAY_OFFSET, n, 8)
  }

  /** See [[native.FingerprintOverlap]]: the share of the distinct
    * winnowing minima the bloom may contain, from the primitive minima
    * directly (no ArrayData, no per-element predicate).
    */
  def fpOverlap(text: org.apache.spark.unsafe.types.UTF8String,
      bloom: org.apache.spark.util.sketch.BloomFilter, k: Int, w: Int): Double = {
    val buf = winnowBuffer(text, k)
    val n = winnowInto(text, k, w, buf)
    var hits = 0
    var i = 0
    while (i < n) { if (bloom.mightContainLong(buf(i))) hits += 1; i += 1 }
    hits.toDouble / math.max(n, 1).toDouble
  }

  /** One slot per char k-gram (at least one): the only array
    * [[winnowInto]] needs.
    */
  private def winnowBuffer(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int): Array[Long] =
    new Array[Long](math.max(text.numChars() - (k - 1), 1))

  /** Writes the distinct winnowing minima, ascending (signed), to the
    * prefix of `h` and returns their count. The window minima
    * overwrite the k-gram hashes they are read from.
    */
  private def winnowInto(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int, w: Int, h: Array[Long]): Int = {
    val nChars = text.numChars()
    val nGrams = h.length
    // char→byte offset table in ONE pass: substringSQL per k-gram
    // rescans from byte 0 to find char boundaries (O(n²) per doc);
    // hashing each k-gram's byte range directly is O(n) total and
    // hashes the exact same bytes
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nBytes = text.numBytes()
    val offs = new Array[Int](nChars + 1)
    var b = 0
    var i = 0
    while (b < nBytes) {
      offs(i) = b
      i += 1
      b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + b))
    }
    offs(i) = nBytes
    i = 0
    while (i < nGrams) {
      val endChar = math.min(i + k, nChars)
      // i >= nChars only for the empty text: one hash of zero bytes
      val startByte = if (i < nChars) offs(i) else nBytes
      h(i) = XXH64.hashUnsafeBytes(base, off + startByte,
        offs(endChar) - startByte, 42L)
      i += 1
    }
    // sliding minimum: rescan a window only when its minimum slides
    // out, otherwise compare the one hash that slid in (O(n) expected
    // on hash values). Consecutive windows sharing a minimum emit it
    // once. Window i's minimum sits at index >= i and is read before
    // slot c <= i is written, so the minima overwrite the hashes.
    val nWin = math.max(nGrams - (w - 1), 1)
    var minPos = -1
    var c = 0
    i = 0
    while (i < nWin) {
      val end = math.min(i + w, nGrams)
      if (minPos < i) {
        minPos = i
        var j = i + 1
        while (j < end) { if (h(j) <= h(minPos)) minPos = j; j += 1 }
      } else if (h(end - 1) <= h(minPos)) minPos = end - 1
      val m = h(minPos)
      if (c == 0 || h(c - 1) != m) { h(c) = m; c += 1 }
      i += 1
    }
    java.util.Arrays.sort(h, 0, c)
    var d = if (c == 0) 0 else 1
    i = 1
    while (i < c) { if (h(i) != h(d - 1)) { h(d) = h(i); d += 1 }; i += 1 }
    d
  }

  /** See [[native.MinHashSigBuckets]]: the minhash signature AND its
    * LSH band buckets in one pass — out[0, k) = sig, out[k, k+bands)
    * = the band buckets.
    */
  def minhashSigBuckets(arr: ArrayData, k: Int, p: Long, as: Array[Long],
      bs: Array[Long], bands: Int, rpb: Int): ArrayData = {
    val out = new Array[Long](k + bands)
    java.util.Arrays.fill(out, 0, k, p)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, 42L)
      val h = ((h0 % p) + p) % p
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    // bucket_j replays the catalyst xxhash64(lit(j), sig...) chain
    // EXACTLY (seed 42; int hash for the literal band id, long hashes
    // for the sig registers) — streaming state keyed by (band, bucket)
    // requires bit-identical buckets across releases
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      var r = 0
      while (r < rpb) { h = XXH64.hashLong(out(b * rpb + r), h); r += 1 }
      out(k + b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-centroid self dot products of a row-major flat centroid
    * table — precomputed once per plan by [[native.IvfCellSelect]].
    */
  def selfDots(flat: Array[Float], dim: Int): Array[Double] = {
    if (dim == 0) return Array.emptyDoubleArray
    val n = flat.length / dim
    val out = new Array[Double](n)
    var c = 0
    while (c < n) {
      var acc = 0.0; var i = 0; val off = c * dim
      while (i < dim) {
        acc += flat(off + i).toDouble * flat(off + i).toDouble; i += 1
      }
      out(c) = acc
      c += 1
    }
    out
  }

  /** See [[native.MatVecProject]]. out_r = Σ_i mat[r·dim+i]·x_i −
    * offsets[r] — one fused multiply-add walk per output row over the
    * plan-constant row-major matrix.
    */
  def matVecProject(x: ArrayData, mat: Array[Double],
      offsets: Array[Double], dim: Int): ArrayData = {
    val nOut = offsets.length
    val out = new Array[Double](nOut)
    val n = math.min(dim, x.numElements())
    var r = 0
    while (r < nOut) {
      var acc = 0.0; var i = 0; val off = r * dim
      while (i < n) { acc += mat(off + i) * x.getFloat(i).toDouble; i += 1 }
      out(r) = acc - offsets(r)
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** See [[native.BenchArgmax]]. Best benchmark match of one
    * candidate vector: grid = floor(cos·1e6 + 0.5) with the float-dot
    * fold and the norms-multiplied-first division replayed
    * operand-for-operand (Catalyst parity), selection (grid desc,
    * id asc) — the oracle's ROW_NUMBER order. Benchmark entries whose
    * id equals `selfId` are skipped (a vector on both sides is not
    * its own contamination). Returns (−Inf, −1) when nothing
    * qualifies (empty benchmark) — the caller filters on id ≥ 0.
    *
    * Zero-norm contract: cosine against a zero vector is undefined
    * (the division is NaN, and `g > bestG` is false for NaN — a NaN
    * entry would otherwise win or lose on ARRIVAL ORDER, while the
    * DuckDB oracle's ORDER BY grid DESC sorts NaN first). Defined
    * semantics instead: zero-norm BENCH entries are skipped, and a
    * zero-norm CANDIDATE short-circuits to (−Inf, −1) — i.e. both
    * sides behave as if zero vectors were filtered out, which is
    * exactly what the oracle SQL does (`nrm > 0` on both slices).
    */
  def benchArgmax(v: ArrayData, bench: Array[Float], bn: Array[Double],
      ids: Array[Long], dim: Int, selfId: Long): InternalRow = {
    val d = math.min(dim, v.numElements())
    var pp = 0.0
    var i = 0
    while (i < d) { val x = v.getFloat(i).toDouble; pp += x * x; i += 1 }
    val nrm = math.sqrt(pp)
    if (nrm == 0.0)
      return new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](Double.NegativeInfinity, -1L))
    var bestG = Double.NegativeInfinity
    var bestId = -1L
    var b = 0
    val n = ids.length
    while (b < n) {
      if (ids(b) != selfId && bn(b) != 0.0) {
        var acc = 0.0; var j = 0; val off = b * dim
        while (j < d) {
          acc += v.getFloat(j).toDouble * bench(off + j).toDouble; j += 1
        }
        val g = math.floor(acc / (nrm * bn(b)) * 1e6 + 0.5)
        if (bestId < 0 || g > bestG || (g == bestG && ids(b) < bestId)) {
          bestG = g; bestId = ids(b)
        }
      }
      b += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestG, bestId))
  }

  /** See [[native.IvfCellSelect]]. Returns the probe's `nProbe`
    * nearest cell ids ordered by (dist2 asc, cell asc) — the exact
    * ordering of the former crossJoin + row_number form. When
    * `supers` is non-empty, only cells under the probe's `nSuper`
    * nearest super-centroids are ranked (the two-level coarse
    * quantizer); empty `supers` = exhaustive scan over all cells.
    */
  def ivfCellSelect(probe: ArrayData, cents: Array[Float],
      cc: Array[Double], supers: Array[Float], ss: Array[Double],
      cellSuper: Array[Int], dim: Int, nSuper: Int,
      nProbe: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(ivfCellSelectCore(probe, cents, cc,
      supers, ss, cellSuper, dim, nSuper, nProbe))

  /** Core of [[ivfCellSelect]], returning the raw int[] (reused by
    * the fused label-propagation kernel).
    */
  def ivfCellSelectCore(probe: ArrayData, cents: Array[Float],
      cc: Array[Double], supers: Array[Float], ss: Array[Double],
      cellSuper: Array[Int], dim: Int, nSuper: Int,
      nProbe: Int): Array[Int] = {
    val d = math.min(dim, probe.numElements())
    // pp once per probe; per-candidate dist2 = (pp - 2·dot) + cc in
    // the Column form's association order so doubles agree bit-for-bit
    var pp = 0.0
    var i = 0
    while (i < d) { val x = probe.getFloat(i).toDouble; pp += x * x; i += 1 }
    val nCells = cc.length
    val nSup = ss.length
    // bounded sorted-insert selection: (dist asc, id asc), m small
    def topInto(bd: Array[Double], bi: Array[Int], sz: Int,
        dist: Double, id: Int): Int = {
      val m = bd.length
      var s = sz
      if (s == m && !(dist < bd(s - 1) || (dist == bd(s - 1) && id < bi(s - 1))))
        return s
      var j = if (s < m) s else m - 1
      while (j > 0 && (dist < bd(j - 1) || (dist == bd(j - 1) && id < bi(j - 1)))) {
        bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1
      }
      bd(j) = dist; bi(j) = id
      if (s < m) s + 1 else s
    }
    def dist2(flat: Array[Float], self: Array[Double], c: Int): Double = {
      var acc = 0.0; var k = 0; val off = c * dim
      while (k < d) { acc += probe.getFloat(k).toDouble * flat(off + k).toDouble; k += 1 }
      (pp - 2.0 * acc) + self(c)
    }
    var keep: Array[Boolean] = null
    if (nSup > 0) {
      val sd = new Array[Double](math.min(nSuper, nSup))
      val si = new Array[Int](sd.length)
      var sz = 0
      var s = 0
      while (s < nSup) { sz = topInto(sd, si, sz, dist2(supers, ss, s), s); s += 1 }
      keep = new Array[Boolean](nSup)
      var t = 0
      while (t < sz) { keep(si(t)) = true; t += 1 }
    }
    val bd = new Array[Double](math.min(nProbe, nCells))
    val bi = new Array[Int](bd.length)
    var sz = 0
    var c = 0
    while (c < nCells) {
      if (keep == null || keep(cellSuper(c)))
        sz = topInto(bd, bi, sz, dist2(cents, cc, c), c)
      c += 1
    }
    if (sz == bi.length) bi else java.util.Arrays.copyOf(bi, sz)
  }

  /** The per-cell seed index the fused label-propagation kernel scans
    * — built driver-side (the op's premise: seeds are hand-labeled ≪
    * corpus, so the whole labeled set broadcasts like any dimension
    * table) and shipped once per executor as a Spark broadcast.
    * Seeds are grouped by KMeans cell: `cellOff(c) until cellOff(c+1)`
    * indexes `ids`/`labels`/`nrms` and row `i` of the row-major
    * `vecs`.
    */
  final case class SeedIndex(cellOff: Array[Int], ids: Array[Long],
      labels: Array[Int], nrms: Array[Double], vecs: Array[Float],
      dim: Int)

  /** See [[native.LabelPropPredict]]: cell selection + seed scan +
    * exact cosine ranking + majority vote, one pass per probe row.
    * Returns (predicted label, votes for it).
    */
  def labelPropPredict(probe: ArrayData, cents: Array[Float],
      cc: Array[Double], supers: Array[Float], ss: Array[Double],
      cellSuper: Array[Int], dim: Int, nSuper: Int, nProbe: Int,
      k: Int, seeds: SeedIndex): InternalRow = {
    val d = math.min(dim, probe.numElements())
    var pp = 0.0
    var i = 0
    while (i < d) { val x = probe.getFloat(i).toDouble; pp += x * x; i += 1 }
    val nrmP = math.sqrt(pp)
    // top-k by (gridKey desc, seed id asc) — the ivfScan re-rank
    // ordering exactly (floor(cos·1e6 + 0.5) like Catalyst's floor)
    val bk = new Array[Long](k)
    val bid = new Array[Long](k)
    val blab = new Array[Int](k)
    var sz = 0
    def scanCell(c: Int): Unit = {
      var s = seeds.cellOff(c)
      val end = seeds.cellOff(c + 1)
      while (s < end) {
        var dot = 0.0
        var j = 0
        val off = s * seeds.dim
        val dd = math.min(d, seeds.dim)
        while (j < dd) {
          dot += probe.getFloat(j).toDouble * seeds.vecs(off + j).toDouble
          j += 1
        }
        val cos = dot / (nrmP * seeds.nrms(s))
        val key = Math.floor(cos * 1000000.0 + 0.5).toLong
        val id = seeds.ids(s)
        if (sz < k || key > bk(sz - 1) || (key == bk(sz - 1) && id < bid(sz - 1))) {
          var j2 = if (sz < k) sz else k - 1
          while (j2 > 0 && (key > bk(j2 - 1)
              || (key == bk(j2 - 1) && id < bid(j2 - 1)))) {
            bk(j2) = bk(j2 - 1); bid(j2) = bid(j2 - 1); blab(j2) = blab(j2 - 1)
            j2 -= 1
          }
          bk(j2) = key; bid(j2) = id; blab(j2) = seeds.labels(s)
          if (sz < k) sz += 1
        }
        s += 1
      }
    }
    val sel = ivfCellSelectCore(probe, cents, cc, supers, ss, cellSuper,
      dim, nSuper, nProbe)
    var ci = 0
    while (ci < sel.length) { scanCell(sel(ci)); ci += 1 }
    if (sz == 0) {
      // every selected cell was empty (possible with random-init
      // KMeans on small seed sets): fall back to an exhaustive scan
      // so the prediction stays TOTAL over the probes
      var c = 0
      val nCells = cellSuper.length.max(cc.length)
      while (c < nCells) { scanCell(c); c += 1 }
    }
    // callers guarantee a nonempty seed set (labelPropagate requires
    // it), so the exhaustive fallback always finds candidates; the
    // zero row is defensive only
    if (sz == 0) return InternalRow(0, 0L)
    // majority vote over the k nearest, ties to the SMALLER label
    var bestLab = 0; var bestN = 0
    var a = 0
    while (a < sz) {
      val lab = blab(a)
      var n = 0
      var b = 0
      while (b < sz) { if (blab(b) == lab) n += 1; b += 1 }
      if (n > bestN || (n == bestN && lab < bestLab)) { bestLab = lab; bestN = n }
      a += 1
    }
    InternalRow(bestLab, bestN.toLong)
  }
}

/** Native Catalyst expressions for the §2.3 hot loops.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) are
  * evaluated interpreted — a lambda dispatch + boxing per element.
  * These expressions replace the per-row inner loops with tight
  * primitive Scala (and, for the dot product, generated Java), which
  * is what makes minhash/simhash/ANN viable at 100 TB.
  *
  * (Reference capability: near-dup/similarity ops are additions per
  * the brief; no counterpart in /root/reference.)
  */
object native {

  /** Σ aᵢ·bᵢ over two float arrays, in double, with generated code. */
  case class FloatDotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0; var i = 0
      while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): FloatDotProduct =
      copy(left = newLeft, right = newRight)
  }

  /** MinHash signature over an array of shingle strings: sig_j =
    * min over shingles of ((a_j·h + b_j) mod p), h = xxhash64 bytes
    * folded into [0, p). One pass over the shingles, k registers.
    */
  case class MinHashSignature(child: Expression, k: Int, p: Long,
      as: Seq[Long], bs: Seq[Long])
      extends UnaryExpression {
    private val aArr = as.toArray
    private val bArr = bs.toArray
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val sig = Array.fill(k)(p)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val s = arr.getUTF8String(i)
        val h0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        val h = ((h0 % p) + p) % p
        var j = 0
        while (j < k) {
          val v = (aArr(j) * h + bArr(j)) % p
          if (v < sig(j)) sig(j) = v
          j += 1
        }
        i += 1
      }
      new GenericArrayData(sig)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
        val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
        val sig = ctx.freshName("sig"); val n = ctx.freshName("n")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val s = ctx.freshName("s"); val h = ctx.freshName("h")
        val v = ctx.freshName("v")
        s"""
           |long[] $sig = new long[$k];
           |java.util.Arrays.fill($sig, ${p}L);
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($i);
           |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
           |    $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
           |  $h = (($h % ${p}L) + ${p}L) % ${p}L;
           |  for (int $j = 0; $j < $k; $j++) {
           |    long $v = ($aRef[$j] * $h + $bRef[$j]) % ${p}L;
           |    if ($v < $sig[$j]) $sig[$j] = $v;
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): MinHashSignature =
      copy(child = c)
  }

  /** [[MinHashSignature]] fused with LSH banding: one pass over the
    * shingles emits sig[0, k) ++ buckets[k, k+bands), where bucket_j
    * is the catalyst `xxhash64(lit(j), sig[j·r+1 .. j·r+r])` chain
    * bit-for-bit (parity spec-pinned — streaming dedup state is keyed
    * by these buckets, so the fusion must not move them). Emitting
    * buckets at signature time means banding never re-reads — or
    * caches — the k-long sig array: LSH callers keep only the
    * bands-long buckets column (16 longs vs 64 at the defaults).
    */
  case class MinHashSigBuckets(child: Expression, k: Int, p: Long,
      as: Seq[Long], bs: Seq[Long], bands: Int, rpb: Int)
      extends UnaryExpression {
    private val aArr = as.toArray
    private val bArr = bs.toArray
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.minhashSigBuckets(input.asInstanceOf[ArrayData], k, p,
        aArr, bArr, bands, rpb)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
        val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
        s"${ev.value} = graft.plans.NativeImpl.minhashSigBuckets($arr, " +
          s"$k, ${p}L, $aRef, $bRef, $bands, $rpb);"
      })

    override protected def withNewChildInternal(c: Expression): MinHashSigBuckets =
      copy(child = c)
  }

  /** Weighted 64-bit SimHash over an array of token strings. */
  case class SimHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
        i += 1
      }
      var sim = 0L; var j = 0
      while (j < 64) { if (counts(j) >= 0) sim |= (1L << j); j += 1 }
      sim
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val counts = ctx.freshName("counts"); val n = ctx.freshName("n")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val s = ctx.freshName("s"); val h = ctx.freshName("h")
        val sim = ctx.freshName("sim")
        s"""
           |int[] $counts = new int[64];
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($i);
           |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
           |    $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
           |  for (int $j = 0; $j < 64; $j++) {
           |    if ((($h >>> $j) & 1L) == 1L) $counts[$j]++; else $counts[$j]--;
           |  }
           |}
           |long $sim = 0L;
           |for (int $j = 0; $j < 64; $j++) { if ($counts[$j] >= 0) $sim |= (1L << $j); }
           |${ev.value} = $sim;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): SimHash64 =
      copy(child = c)
  }

  /** Random-hyperplane LSH signature over a float array: bit j of the
    * result is the sign of the projection onto pseudo-random ±1
    * hyperplane (planeOffset + j), weights derived from xxhash64(plane,
    * dim). Matches VectorFns.hyperplaneSignature semantics.
    */
  case class HyperplaneSignature(child: Expression, bits: Int, planeOffset: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var sig = 0L
      var j = 0
      while (j < bits) {
        val plane = planeOffset + j
        var acc = 0.0
        var i = 0
        while (i < n) {
          // xxhash64 of the two longs (plane, i) with spark's seed 42,
          // matching xxhash64(lit(plane), i) column semantics
          var h = XXH64.hashLong(plane.toLong, 42L)
          h = XXH64.hashLong(i.toLong, h)
          val w = if ((((h % 2) + 2) % 2) == 0L) 1.0 else -1.0
          acc += arr.getFloat(i).toDouble * w
          i += 1
        }
        if (acc >= 0) sig |= (1L << j)
        j += 1
      }
      sig
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val n = ctx.freshName("n"); val sig = ctx.freshName("sig")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val acc = ctx.freshName("acc"); val h = ctx.freshName("h")
        val w = ctx.freshName("w")
        s"""
           |int $n = $arr.numElements();
           |long $sig = 0L;
           |for (int $j = 0; $j < $bits; $j++) {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong((long) ($planeOffset + $j), 42L);
           |    $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong((long) $i, $h);
           |    double $w = (((($h % 2L) + 2L) % 2L) == 0L) ? 1.0 : -1.0;
           |    $acc += ((double) $arr.getFloat($i)) * $w;
           |  }
           |  if ($acc >= 0) $sig |= (1L << $j);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): HyperplaneSignature =
      copy(child = c)
  }

  /** Distinct word k-gram shingles of a single-space-tokenized text,
    * first-occurrence order (same semantics as the HOF
    * sequence/slice/concat_ws + array_distinct formulation, one pass
    * and no per-shingle array copies). Codegen calls the static
    * one-pass impl (NativeImpl.wordShingles) so the containing stage
    * stays in whole-stage codegen — a CodegenFallback here knocked
    * every dedup/contamination pipeline stage out of codegen.
    */
  case class WordShingles(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.wordShingles(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text =>
        s"${ev.value} = graft.plans.NativeImpl.wordShingles($text, $k);")

    override protected def withNewChildInternal(c: Expression): WordShingles =
      copy(child = c)
  }

  /** All word k-grams with repeats, in order — see
    * NativeImpl.wordNgrams for the semantics split vs [[WordShingles]].
    */
  case class WordNgrams(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.wordNgrams(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text =>
        s"${ev.value} = graft.plans.NativeImpl.wordNgrams($text, $k);")

    override protected def withNewChildInternal(c: Expression): WordNgrams =
      copy(child = c)
  }

  /** Within-document segment dedup in one pass — keep the first
    * occurrence of each distinct fixed-window segment, rebuild the
    * text (NativeImpl.intraDedup). A per-row scalar, so the operator
    * built on it is a zero-shuffle narrow projection.
    */
  case class IntraDocDedup(child: Expression, segWords: Int)
      extends UnaryExpression {
    override def dataType: DataType = StringType

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.intraDedup(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], segWords)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text =>
        s"${ev.value} = graft.plans.NativeImpl.intraDedup($text, $segWords);")

    override protected def withNewChildInternal(c: Expression): IntraDocDedup =
      copy(child = c)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) in
    * one pass over the text: hash every char k-gram, take the min of
    * each sliding window of w hashes, return the distinct mins sorted
    * (signed ascending). The minima live in one primitive long[] that
    * is sorted and de-duplicated in place — no boxed set. (The HOF
    * formulation re-evaluates the k-gram array per window — O(n²)
    * interpreted.) Codegen calls the static impl (NativeImpl.winnowing)
    * — same rationale as [[WordShingles]].
    */
  case class WinnowingFingerprints(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.winnowing(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text =>
        s"${ev.value} = graft.plans.NativeImpl.winnowing($text, $k, $w);")

    override protected def withNewChildInternal(c: Expression): WinnowingFingerprints =
      copy(child = c)
  }

  /** The decontamination gate's ratio in one kernel: of a text's
    * distinct winnowing minima, the share the benchmark bloom may
    * contain — hits ÷ max(minima, 1), the value of
    * `size(filter(winnowing, might_contain)) / greatest(size, 1)`
    * without the array or the lambda (a higher-order filter is
    * CodegenFallback and keeps its Filter/Project out of whole-stage
    * codegen). The bloom must be foldable: like Spark's
    * BloomFilterMightContain it is deserialized once per expression
    * instance and referenced from the generated code. Null text or a
    * null bloom gives null.
    */
  case class FingerprintOverlap(left: Expression, right: Expression,
      k: Int, w: Int) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
      if (!left.dataType.isInstanceOf[StringType])
        TypeCheckFailure(s"fp_overlap text must be a string, not ${left.dataType}")
      else if (right.dataType != BinaryType || !right.foldable)
        TypeCheckFailure("fp_overlap bloom must be a constant binary")
      else TypeCheckSuccess
    }

    @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter = {
      val bytes = right.eval().asInstanceOf[Array[Byte]]
      if (bytes == null) null
      else org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
    }

    override def eval(input: InternalRow): Any =
      if (bloom == null) null
      else {
        val t = left.eval(input)
        if (t == null) null
        else NativeImpl.fpOverlap(
          t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], bloom, k, w)
      }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      if (bloom == null) {
        ev.copy(isNull = org.apache.spark.sql.catalyst.expressions.codegen.TrueLiteral,
          value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
            .defaultLiteral(dataType))
      } else {
        val bf = ctx.addReferenceObj("fpBloom", bloom,
          classOf[org.apache.spark.util.sketch.BloomFilter].getName)
        val t = left.genCode(ctx)
        ev.copy(code = code"""
          |${t.code}
          |boolean ${ev.isNull} = ${t.isNull};
          |double ${ev.value} = 0.0;
          |if (!${ev.isNull}) {
          |  ${ev.value} = graft.plans.NativeImpl.fpOverlap(${t.value}, $bf, $k, $w);
          |}""".stripMargin)
      }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): FingerprintOverlap =
      copy(left = newLeft, right = newRight)
  }

  /** Non-overlapping occurrence count of a literal in a string —
    * identical semantics to the classic
    * (len(text) − len(replace(text, lit, ''))) / len(lit)
    * construction (the oracle keeps that form), but ONE indexOf scan
    * with zero regex work and zero string copies. Sits under every
    * language-ID / stopword-density marker (25 markers per doc in
    * d_langid — each was a full regex replace + text copy).
    */
  case class LiteralOccurrences(child: Expression, pattern: String)
      extends UnaryExpression {
    private lazy val pat =
      org.apache.spark.unsafe.types.UTF8String.fromString(pattern)
    override def dataType: DataType = IntegerType

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.countLiteral(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], pat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text => {
        val patRef = ctx.addReferenceObj("litPat", pat,
          "org.apache.spark.unsafe.types.UTF8String")
        s"${ev.value} = graft.plans.NativeImpl.countLiteral($text, $patRef);"
      })

    override protected def withNewChildInternal(c: Expression): LiteralOccurrences =
      copy(child = c)
  }

  /** Per-language stopword-marker scores in ONE scan of the text —
    * the multi-pattern form of [[LiteralOccurrences]]: language ID
    * needs 25 marker counts per doc, and evaluating them as 25
    * independent count expressions re-scanned (and, pre-optimization,
    * re-copied) the text per marker, then the argmax tree re-evaluated
    * the sums. This returns every language's summed score from a
    * single pass; the argmax runs over cheap array accesses.
    * Semantics are byte-identical to the padded per-marker count the
    * DuckDB oracle mirrors (see NativeImpl.markerScores).
    */
  case class MarkerScores(child: Expression, langs: Seq[Seq[String]])
      extends UnaryExpression {
    @transient private lazy val pats: Array[Array[Byte]] =
      langs.flatMap(_.map(m =>
        s" $m ".getBytes(java.nio.charset.StandardCharsets.UTF_8))).toArray
    @transient private lazy val langIdx: Array[Int] =
      langs.zipWithIndex.flatMap { case (ms, i) => ms.map(_ => i) }.toArray
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.markerScores(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        pats, langIdx, langs.length)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text => {
        val patsRef = ctx.addReferenceObj("mkPats", pats, "byte[][]")
        val langRef = ctx.addReferenceObj("mkLang", langIdx, "int[]")
        s"${ev.value} = graft.plans.NativeImpl.markerScores($text, $patsRef, $langRef, ${langs.length});"
      })

    override protected def withNewChildInternal(c: Expression): MarkerScores =
      copy(child = c)
  }

  /** Count of characters in a set of ASCII ranges — the single-pass
    * byte form of size(regexp_extract_all(text, "[class]", 0)) for a
    * single-char ASCII class (each matching char is one match, ASCII
    * classes never match inside multi-byte UTF-8 sequences, so the
    * byte count IS the match count). Sits under the quality scorer's
    * punctuation and digit densities — a full java.util.regex machine
    * per char was the remaining d_quality hot spot.
    */
  case class ByteClassCount(child: Expression, ranges: Seq[(Char, Char)])
      extends UnaryExpression {
    @transient private lazy val isIn: Array[Boolean] = {
      val t = new Array[Boolean](128)
      ranges.foreach { case (lo, hi) =>
        var c = lo.toInt
        while (c <= hi.toInt) { t(c) = true; c += 1 }
      }
      t
    }
    override def dataType: DataType = IntegerType

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.countByteClass(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], isIn)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text => {
        val setRef = ctx.addReferenceObj("bcSet", isIn, "boolean[]")
        s"${ev.value} = graft.plans.NativeImpl.countByteClass($text, $setRef);"
      })

    override protected def withNewChildInternal(c: Expression): ByteClassCount =
      copy(child = c)
  }

  /** The BPE-ish token count ([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]) as a
    * one-pass byte scan instead of a regex machine — see
    * NativeImpl.bpeishTokenCount for the match-sequence equivalence.
    */
  case class BpeishTokenCount(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = IntegerType

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.bpeishTokenCount(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text =>
        s"${ev.value} = graft.plans.NativeImpl.bpeishTokenCount($text);")

    override protected def withNewChildInternal(c: Expression): BpeishTokenCount =
      copy(child = c)
  }

  /** Deflated byte length of the UTF-8 text at zlib's default level —
    * the compression-ratio quality signal (near-random text ≈ 1,
    * templated/repetitive text ≪ 1; the cheap whole-document
    * complement to the n-gram repetition rules, and a standard web
    * -corpus filter feature). Engine-specific byte count (the zlib
    * encoder's choices are not SQL-replayable) → rows-only, gated by
    * round-trip/monotonicity property specs.
    */
  case class DeflateLen(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.deflateLen(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text =>
        s"${ev.value} = graft.plans.NativeImpl.deflateLen($text);")

    override protected def withNewChildInternal(c: Expression): DeflateLen =
      copy(child = c)
  }

  /** Count of regex matches — same java.util.regex find() sequence as
    * size(regexp_extract_all(text, p, 0)) (which the oracles mirror in
    * DuckDB), without materializing an array of match strings per row
    * just to take its length. Sits under the PII counters, the quality
    * punct/digit densities, and the BPE-ish token count.
    */
  case class RegexpCount(child: Expression, pattern: String)
      extends UnaryExpression {
    @transient private lazy val pat = java.util.regex.Pattern.compile(pattern)
    override def dataType: DataType = IntegerType

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.countRegex(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], pat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, text => {
        val patRef = ctx.addReferenceObj("rxPat", pat, "java.util.regex.Pattern")
        s"${ev.value} = graft.plans.NativeImpl.countRegex($text, $patRef);"
      })

    override protected def withNewChildInternal(c: Expression): RegexpCount =
      copy(child = c)
  }

  /** Per-dimension scalar quantization codes over a float embedding:
    * q_i = least(floor(((x_i - mn_i) * levels) / (mx_i - mn_i)),
    * levels-1), 0 where mx_i = mn_i. One pass over the array — the
    * higher-order `transform` formulation pays an interpreted
    * element_at(stats, i) scan per element (O(dim²) per row; measured
    * 13.6 s for 320k×64-dim rows vs sub-second here). The IEEE
    * expression tree ((x−mn)·levels)/(mx−mn) mirrors the DuckDB
    * oracle exactly.
    */
  case class ScalarQuantizeCodes(first: Expression, second: Expression,
      third: Expression, levels: Int)
      extends TernaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override protected def nullSafeEval(v: Any, mnA: Any, mxA: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val mns = mnA.asInstanceOf[ArrayData]
      val mxs = mxA.asInstanceOf[ArrayData]
      val n = x.numElements()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        val mn = mns.getDouble(i); val mx = mxs.getDouble(i)
        out(i) =
          if (mx == mn) 0L
          else math.min(
            math.floor((x.getFloat(i).toDouble - mn) * levels / (mx - mn)),
            (levels - 1).toDouble).toLong
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, mns, mxs) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        val mn = ctx.freshName("mn"); val mx = ctx.freshName("mx")
        s"""
           |int $n = $x.numElements();
           |long[] $out = new long[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  double $mn = $mns.getDouble($i);
           |  double $mx = $mxs.getDouble($i);
           |  $out[$i] = ($mx == $mn) ? 0L
           |    : (long) java.lang.Math.min(
           |        java.lang.Math.floor((((double) $x.getFloat($i)) - $mn) * ${levels}.0 / ($mx - $mn)),
           |        ${levels - 1}.0);
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(f: Expression,
        s: Expression, t: Expression): ScalarQuantizeCodes =
      copy(first = f, second = s, third = t)
  }

  /** Per-vector symmetric int8 quantization (the FAISS IVF-SQ shape):
    * code_i = round(x_i / max|x| · 127) as a signed byte, emitted as
    * BINARY — 1 byte per dimension vs 4 for float32, so a candidate
    * scan over codes moves 4× fewer bytes and does integer MACs.
    * Decode side: x̂_i ≈ code_i · (max|x| / 127) = code_i ·
    * [[Sq8Scale]], so dot(x, y) ≈ scale_x·scale_y·[[ByteDotProduct]].
    * A zero vector encodes to all-zero bytes (scale 0 keeps the
    * approximate dot at 0).
    */
  case class Sq8Code(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType

    override protected def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      var s = 0.0; var i = 0
      while (i < n) { val a = math.abs(x.getFloat(i).toDouble); if (a > s) s = a; i += 1 }
      val out = new Array[Byte](n)
      if (s > 0) {
        i = 0
        while (i < n) {
          out(i) = math.round(x.getFloat(i).toDouble / s * 127.0).toByte
          i += 1
        }
      }
      out
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val a = ctx.freshName("a")
        val out = ctx.freshName("out")
        s"""
           |int $n = $x.numElements();
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $a = java.lang.Math.abs((double) $x.getFloat($i));
           |  if ($a > $s) $s = $a;
           |}
           |byte[] $out = new byte[$n];
           |if ($s > 0) {
           |  for (int $i = 0; $i < $n; $i++) {
           |    $out[$i] = (byte) java.lang.Math.round(((double) $x.getFloat($i)) / $s * 127.0);
           |  }
           |}
           |${ev.value} = $out;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Sq8Code =
      copy(child = c)
  }

  /** max|x| / 127 — the per-vector dequantization scale paired with
    * [[Sq8Code]].
    */
  case class Sq8Scale(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType

    override protected def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      var s = 0.0; var i = 0
      while (i < n) { val a = math.abs(x.getFloat(i).toDouble); if (a > s) s = a; i += 1 }
      s / 127.0
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val a = ctx.freshName("a")
        s"""
           |int $n = $x.numElements();
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $a = java.lang.Math.abs((double) $x.getFloat($i));
           |  if ($a > $s) $s = $a;
           |}
           |${ev.value} = $s / 127.0;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Sq8Scale =
      copy(child = c)
  }

  /** Σ aᵢ·bᵢ over two signed-byte arrays (BINARY) as a long — the
    * integer MAC loop of the quantized candidate scan.
    */
  case class ByteDotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[Array[Byte]]; val y = b.asInstanceOf[Array[Byte]]
      val n = math.min(x.length, y.length)
      var acc = 0L; var i = 0
      while (i < n) { acc += x(i).toLong * y(i).toLong; i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($x.length, $y.length);
           |long $acc = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += ((long) $x[$i]) * ((long) $y[$i]);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ByteDotProduct =
      copy(left = newLeft, right = newRight)
  }

  /** Distinct character n-grams shared by two strings — the exact
    * verify step of the substring-dedup path: candidates come from
    * winnowing-fingerprint buckets, and this confirms (and counts)
    * the verbatim ≥n-char overlap with plain string equality, which
    * a DuckDB gram-explode twin can replay exactly.
    */
  /** Probe-to-cell ranking for the IVF ops, per row: the `nProbe`
    * nearest cell ids by exact centroid distance, ordered
    * (dist2 asc, cell asc). Replaces the crossJoin(centroids) +
    * row_number window — which materialized probes × cells rows, each
    * carrying the probe's float vector, through a probe-keyed shuffle
    * sort (measured as d_label_prop's 256× wall: ~840M wide rows,
    * 205.6 s) — with a ZERO-shuffle narrow projection.
    *
    * `supers`/`cellSuper` non-empty enables the two-level coarse
    * quantizer: rank the ~√cells super-centroids first, then only the
    * cells under the `nSuper` nearest supers — probes × (supers +
    * covered cells) distance evals instead of probes × cells. Cell
    * recall is bounded by the coarse level (a best cell under an
    * unranked super is unreachable), which the ANN/label-prop
    * agreement gates measure; exhaustive (`supers` empty) selection is
    * EXACTLY the former window's ranking.
    *
    * Centroid tables are constructor params (cells ≤ maxCells ≈
    * thousands × dim floats — plan-sized, not data-sized), shipped to
    * executors with the serialized plan like MLlib model broadcasts.
    */
  /** Dense row-major matrix × float-array-column product with a
    * per-row offset subtraction: out_r = Σ_i mat[r·dim+i]·x_i −
    * offsets[r]. The matrix and offsets are plan constants (e.g. PCA
    * loadings and the pre-folded mean·loading dot), so a linear
    * projection of the whole corpus is ONE zero-shuffle narrow
    * codegen'd pass — no per-row array allocation for the centered
    * input, no HOF lambda (which would interpret per element).
    */
  case class MatVecProject(child: Expression, mat: Array[Double],
      offsets: Array[Double], dim: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.matVecProject(input.asInstanceOf[ArrayData], mat, offsets, dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val matRef = ctx.addReferenceObj("mvMat", mat, "double[]")
        val offRef = ctx.addReferenceObj("mvOff", offsets, "double[]")
        s"${ev.value} = graft.plans.NativeImpl.matVecProject($arr, " +
          s"$matRef, $offRef, $dim);"
      })

    override protected def withNewChildInternal(c: Expression): MatVecProject =
      copy(child = c)
  }

  /** Semantic-decontam argmax (round-7 continuation): per candidate
    * row, (grid cosine, bench id) of its best match among ≤benchCap
    * BENCHMARK vectors carried as plan constants — the benchmark is
    * fixed-size by the op's premise, so the whole screen is ONE
    * zero-shuffle narrow projection (the MatVecProject rule). The
    * previous shape aggregated candidates×bench join rows through
    * max(struct(grid, −id)) — a STRUCT buffer is not hash-aggregable
    * and the plan fell to SortAggregate, sorting every candidate row
    * per partition (measured 6.7 GB spill / 20.5 s of a 28 s wall at
    * the 256× blow-up). Ties break to the smaller bench id; rows with
    * no qualifying benchmark entry return bench_id −1 (filtered by
    * the caller).
    */
  case class BenchArgmax(left: Expression, right: Expression,
      bench: Array[Float], benchIds: Array[Long], dim: Int)
      extends BinaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("grid", DoubleType, nullable = false),
      StructField("bench_id", LongType, nullable = false)))

    @transient private lazy val bn =
      NativeImpl.selfDots(bench, dim).map(math.sqrt)

    override protected def nullSafeEval(vec: Any, id: Any): Any =
      NativeImpl.benchArgmax(vec.asInstanceOf[ArrayData], bench, bn,
        benchIds, dim, id.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (arr, id) => {
        val bRef = ctx.addReferenceObj("baBench", bench, "float[]")
        val bnRef = ctx.addReferenceObj("baNorms", bn, "double[]")
        val idRef = ctx.addReferenceObj("baIds", benchIds, "long[]")
        s"${ev.value} = graft.plans.NativeImpl.benchArgmax($arr, " +
          s"$bRef, $bnRef, $idRef, $dim, $id);"
      })

    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): BenchArgmax = copy(left = l, right = r)
  }

  case class IvfCellSelect(child: Expression, cents: Array[Float],
      supers: Array[Float], cellSuper: Array[Int], dim: Int,
      nSuper: Int, nProbe: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    @transient private lazy val cc = NativeImpl.selfDots(cents, dim)
    @transient private lazy val ss = NativeImpl.selfDots(supers, dim)

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.ivfCellSelect(input.asInstanceOf[ArrayData], cents, cc,
        supers, ss, cellSuper, dim, nSuper, nProbe)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val centsRef = ctx.addReferenceObj("ivfCents", cents, "float[]")
        val ccRef = ctx.addReferenceObj("ivfCc", cc, "double[]")
        val supRef = ctx.addReferenceObj("ivfSupers", supers, "float[]")
        val ssRef = ctx.addReferenceObj("ivfSs", ss, "double[]")
        val csRef = ctx.addReferenceObj("ivfCellSuper", cellSuper, "int[]")
        s"${ev.value} = graft.plans.NativeImpl.ivfCellSelect($arr, " +
          s"$centsRef, $ccRef, $supRef, $ssRef, $csRef, $dim, $nSuper, $nProbe);"
      })

    override protected def withNewChildInternal(c: Expression): IvfCellSelect =
      copy(child = c)
  }

  /** Fused label-propagation prediction (round 7): per probe row —
    * coarse/exhaustive cell selection, exact-cosine scan of the seed
    * vectors in the selected cells, top-k by (gridKey desc, seed id),
    * majority vote (ties → smaller label) — ONE native pass over a
    * BROADCAST seed index. The previous shape pushed
    * probes·nProbe·cellSize candidate rows (210M at the 256× blow-up)
    * through a TypedImperativeAggregate boundary plus a re-rank join
    * and a vote shuffle; with the seed set bounded by the op's
    * premise (hand-labeled ≪ corpus — it already broadcast as the
    * scan's build side), the whole scan collapses to a zero-shuffle
    * narrow projection. Returns struct(pred_label, n_votes); null
    * only for a null probe vector.
    */
  case class LabelPropPredict(child: Expression, cents: Array[Float],
      supers: Array[Float], cellSuper: Array[Int], dim: Int,
      nSuper: Int, nProbe: Int, k: Int,
      seeds: org.apache.spark.broadcast.Broadcast[NativeImpl.SeedIndex])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("pred_label", IntegerType, nullable = false),
      StructField("n_votes", LongType, nullable = false)))

    @transient private lazy val cc = NativeImpl.selfDots(cents, dim)
    @transient private lazy val ss = NativeImpl.selfDots(supers, dim)

    override protected def nullSafeEval(input: Any): Any =
      NativeImpl.labelPropPredict(input.asInstanceOf[ArrayData], cents, cc,
        supers, ss, cellSuper, dim, nSuper, nProbe, k, seeds.value)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val centsRef = ctx.addReferenceObj("lpCents", cents, "float[]")
        val ccRef = ctx.addReferenceObj("lpCc", cc, "double[]")
        val supRef = ctx.addReferenceObj("lpSupers", supers, "float[]")
        val ssRef = ctx.addReferenceObj("lpSs", ss, "double[]")
        val csRef = ctx.addReferenceObj("lpCellSuper", cellSuper, "int[]")
        val bcRef = ctx.addReferenceObj("lpSeeds", seeds,
          "org.apache.spark.broadcast.Broadcast")
        s"${ev.value} = graft.plans.NativeImpl.labelPropPredict($arr, " +
          s"$centsRef, $ccRef, $supRef, $ssRef, $csRef, $dim, $nSuper, " +
          s"$nProbe, $k, (graft.plans.NativeImpl.SeedIndex) $bcRef.value());"
      })

    override protected def withNewChildInternal(c: Expression): LabelPropPredict =
      copy(child = c)
  }

  case class SharedGramCount(left: Expression, right: Expression, n: Int)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType

    override protected def nullSafeEval(a: Any, b: Any): Any =
      NativeImpl.sharedGramCount(
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.plans.NativeImpl.sharedGramCount($a, $b, $n);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SharedGramCount =
      copy(left = newLeft, right = newRight)
  }

  /** Position-wise equality count of two long arrays — the minhash
    * signature-agreement estimator (matches/k ≈ jaccard). One primitive
    * loop with codegen; a zip_with/filter HOF chain allocates per row.
    */
  case class LongArrayMatchCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType

    override protected def nullSafeEval(a: Any, b: Any): Any =
      NativeImpl.longArrayMatches(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.plans.NativeImpl.longArrayMatches($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): LongArrayMatchCount =
      copy(left = newLeft, right = newRight)
  }

  /** T5-style span corruption of one document — (doc_id, text) →
    * struct(n_groups, n_masked, corrupted, targets). Per-row and
    * branch-free across rows, so the whole operator is a narrow
    * projection (zero shuffles) — the relational explode + running
    * window + rebuild form moves every 3-word segment through two
    * corpus-sized exchanges (measured 26.7 s vs ~2 s at the 64×
    * blow-up). Masking draw must stay md5-based: the DuckDB oracle
    * replays it with substr(md5(...),1,8).
    */
  case class SpanCorrupt(left: Expression, right: Expression,
      spanWords: Int, cut: Long) extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    // coerce/reject at analysis time: without declared input types a
    // SQL call with an INT id hits asInstanceOf[Long] in interpreted
    // eval (ClassCastException) while codegen silently widens
    override def inputTypes: Seq[org.apache.spark.sql.graftshim.GraftShim.AbstractType] =
      Seq(LongType, StringType)

    override def dataType: DataType = StructType(Seq(
      StructField("n_groups", LongType, nullable = false),
      StructField("n_masked", LongType, nullable = false),
      StructField("corrupted", StringType, nullable = false),
      StructField("targets", StringType, nullable = false)))

    override protected def nullSafeEval(id: Any, text: Any): Any =
      NativeImpl.spanCorrupt(id.asInstanceOf[Long],
        text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        spanWords, cut)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (id, t) =>
        s"${ev.value} = graft.plans.NativeImpl.spanCorrupt($id, $t, $spanWords, ${cut}L);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SpanCorrupt =
      copy(left = newLeft, right = newRight)
  }

  /** Ethiopian 'D/M/Y' rendering of a DATE child (days since epoch) —
    * native twin of functions.EthiopianCalendar.ethiopianDMY for SQL
    * registration (a Column-composed tree can't be registered as a
    * function in Spark 4).
    */
  case class EthiopianDMY(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType

    override protected def nullSafeEval(input: Any): Any = {
      val days = input.asInstanceOf[Int].toLong
      val (y, m, d) = graft.functions.EthiopianCalendar
        .toEthiopian(java.time.LocalDate.ofEpochDay(days))
      org.apache.spark.unsafe.types.UTF8String.fromString(s"$d/$m/$y")
    }

    override protected def withNewChildInternal(c: Expression): EthiopianDMY =
      copy(child = c)
  }

  // ------------------------------------------------------ Column API

  def floatDot(a: Column, b: Column): Column =
    column(FloatDotProduct(expression(a), expression(b)))

  def minhashSig(shingles: Column, k: Int, p: Long,
      as: Seq[Long], bs: Seq[Long]): Column =
    column(MinHashSignature(expression(shingles), k, p, as, bs))

  def minhashSigBuckets(shingles: Column, k: Int, p: Long, as: Seq[Long],
      bs: Seq[Long], bands: Int, rpb: Int): Column =
    column(MinHashSigBuckets(expression(shingles), k, p, as, bs, bands, rpb))

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))

  def hyperplaneSig(vec: Column, bits: Int, planeOffset: Int): Column =
    column(HyperplaneSignature(expression(vec), bits, planeOffset))

  def winnowing(text: Column, k: Int, w: Int): Column =
    column(WinnowingFingerprints(expression(text), k, w))

  def fpOverlap(text: Column, bloom: Column, k: Int, w: Int): Column =
    column(FingerprintOverlap(expression(text), expression(bloom), k, w))

  def wordShingles(text: Column, k: Int): Column =
    column(WordShingles(expression(text), k))

  def wordNgrams(text: Column, k: Int): Column =
    column(WordNgrams(expression(text), k))

  def intraDedupText(text: Column, segWords: Int): Column =
    column(IntraDocDedup(expression(text), segWords))

  def longArrayMatches(a: Column, b: Column): Column =
    column(LongArrayMatchCount(expression(a), expression(b)))

  def spanCorrupt(docId: Column, text: Column, spanWords: Int,
      rate: Double): Column = {
    // same rounding as Sampling.hexCut so the SQL twin agrees exactly
    val cut = if (rate >= 1.0) 1L << 32 else (rate * (1L << 32)).toLong
    column(SpanCorrupt(expression(docId), expression(text), spanWords, cut))
  }

  def literalCount(text: Column, pattern: String): Column =
    column(LiteralOccurrences(expression(text), pattern))

  def regexpCount(text: Column, pattern: String): Column =
    column(RegexpCount(expression(text), pattern))

  def markerScores(text: Column, langs: Seq[Seq[String]]): Column =
    column(MarkerScores(expression(text), langs))

  def byteClassCount(text: Column, ranges: Seq[(Char, Char)]): Column =
    column(ByteClassCount(expression(text), ranges))

  def deflateLen(text: Column): Column =
    column(DeflateLen(expression(text)))

  def bpeishTokenCount(text: Column): Column =
    column(BpeishTokenCount(expression(text)))

  def scalarQuantizeCodes(vec: Column, mns: Column, mxs: Column,
      levels: Int): Column =
    column(ScalarQuantizeCodes(expression(vec), expression(mns),
      expression(mxs), levels))

  def sq8Code(vec: Column): Column = column(Sq8Code(expression(vec)))

  def sq8Scale(vec: Column): Column = column(Sq8Scale(expression(vec)))

  def byteDot(a: Column, b: Column): Column =
    column(ByteDotProduct(expression(a), expression(b)))

  def sharedGramCount(a: Column, b: Column, n: Int): Column =
    column(SharedGramCount(expression(a), expression(b), n))

  def ivfCellSelect(vec: Column, cents: Array[Float], supers: Array[Float],
      cellSuper: Array[Int], dim: Int, nSuper: Int, nProbe: Int): Column =
    column(IvfCellSelect(expression(vec), cents, supers, cellSuper, dim,
      nSuper, nProbe))

  def matVecProject(vec: Column, mat: Array[Double],
      offsets: Array[Double], dim: Int): Column =
    column(MatVecProject(expression(vec), mat, offsets, dim))

  def benchArgmax(vec: Column, id: Column, bench: Array[Float],
      benchIds: Array[Long], dim: Int): Column =
    column(BenchArgmax(expression(vec), expression(id), bench, benchIds, dim))

  def labelPropPredict(vec: Column, cents: Array[Float],
      supers: Array[Float], cellSuper: Array[Int], dim: Int, nSuper: Int,
      nProbe: Int, k: Int,
      seeds: org.apache.spark.broadcast.Broadcast[NativeImpl.SeedIndex]): Column =
    column(LabelPropPredict(expression(vec), cents, supers, cellSuper, dim,
      nSuper, nProbe, k, seeds))
}
