package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import Kernel.{kernel, ref, refType}

/** Codegen'd sketch kernels for the dedup/ANN hot paths (round-3 verdict
  * item: the per-document minhash/simhash/LSH signatures were Scala UDFs
  * — each row paid serialization in and out of the whole-stage-codegen
  * pipeline). Each method is one kernel: [[SketchExpressions]] builds its
  * call, and the generated code calls it directly on Catalyst's internal
  * types (UTF8String / ArrayData), no Row boxing, no UDF bridge.
  *
  * Hash math is delegated to the single implementation in
  * `graft.ops.{Dedup, Ann, Hashing}` so batch, streaming, and SQL oracle
  * derivations stay bit-identical.
  */
object SketchEval {
  def minhash(s: UTF8String, n: Int, k: Int): ArrayData =
    new GenericArrayData(graft.ops.Dedup.minhashSignature(s.toString, n, k))

  /** Real-decode resize kernel (round-16, VERDICT r15 #6: the resize
    * path was a `mapPartitions` + Row encoder, the engine's only
    * codegen break on the q46/q188 chain): decodable payloads take the
    * certified decode → NN-sample → PNG re-encode path, opaque payloads
    * the deterministic stub — one method so the expression's branch is
    * the same one `Multimodal.withResized` shipped.
    */
  def resizePayload(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
    graft.ops.Multimodal.resizeImage(payload, w, h)
      .getOrElse(graft.ops.Multimodal.resizeStub(payload, w, h))

  /** Decoded luminance stats as one struct row (dec_w, dec_h, lum_sum);
    * null for undecodable payloads — the dedup-family null discipline.
    */
  def lumStats(payload: Array[Byte]): InternalRow = {
    val img = graft.ops.Multimodal.readImageOrNull(payload)
    if (img == null) null
    else {
      val w = img.getWidth; val h = img.getHeight
      var s = 0L; var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { s += img.getRGB(x, y) & 0xff; x += 1 }
        y += 1
      }
      new GenericInternalRow(Array[Any](w.toLong, h.toLong, s))
    }
  }

  /** Media-meta decode kernel (round-17, VERDICT r16 #2: withDecodedMeta
    * was the first of five mapPartitions media kernels promoted to
    * expressions on the ResizePayload/LumStats template). Image payloads
    * take the certified javax.imageio path; everything else (and
    * undecodable image bytes) the deterministic stub — the SAME
    * [[graft.ops.Multimodal.decodeStub]] definition, so batch, CLI, and
    * streaming verdicts stay identical. Null payload / null media type
    * are VALUES here (the stub's contract), not null-out cases, which is
    * why [[SketchExpressions.DecodedMeta]] carries its own codegen
    * instead of nullSafeCodeGen.
    */
  def decodedMeta(payload: Array[Byte], mediaType: UTF8String): InternalRow = {
    val mt = if (mediaType == null) null else mediaType.toString
    val dims: Option[(Int, Int)] =
      if (mt == "image") graft.ops.Multimodal.decodeImage(payload) else None
    dims match {
      case Some((w, h)) =>
        new GenericInternalRow(Array[Any](mediaType, payload.length, w, h, 1))
      case None =>
        val r = graft.ops.Multimodal.decodeStub(payload, mt)
        new GenericInternalRow(Array[Any](
          mediaType, r.get(1), r.get(2), r.get(3), r.get(4)))
    }
  }

  /** Average-hash struct (hi, lo) of a decoded image payload, null when
    * the bytes don't decode — one decode feeds both hash halves
    * ([[graft.ops.Multimodal.aHashOf]], the single bit-formula
    * definition batch + streaming key on).
    */
  def aHash(payload: Array[Byte]): InternalRow =
    graft.ops.Multimodal.aHashOf(payload) match {
      case Some((hi, lo)) => new GenericInternalRow(Array[Any](hi, lo))
      case None           => null
    }

  /** Integer-exact decoded-audio features as one struct row
    * (sample_rate, n_samples, peak, sum_sq, zero_cross); null when the
    * payload doesn't parse as 16-bit PCM mono — ONE decode feeds all
    * five columns.
    */
  def audioFeatures(payload: Array[Byte]): InternalRow =
    graft.ops.Multimodal.parseWavPcm16(payload) match {
      case Some((rate, samples)) =>
        val (n, peak, sumSq, zc) = graft.ops.Multimodal.audioFeatures(samples)
        new GenericInternalRow(Array[Any](rate.toLong, n, peak, sumSq, zc))
      case None => null
    }

  /** Quantized energy-envelope fingerprint of a decoded clip
    * ([[graft.ops.Multimodal.audioEnvelopeFp]] — the identical key the
    * batch dedup groups on and the streaming twin drops duplicates by);
    * null when undecodable.
    */
  def audioFp(payload: Array[Byte]): java.lang.Long =
    graft.ops.Multimodal.parseWavPcm16(payload) match {
      case Some((_, samples)) =>
        java.lang.Long.valueOf(graft.ops.Multimodal.audioEnvelopeFp(samples))
      case None => null
    }

  /** Per-sampled-frame stats of a decoded GIF container — one array
    * entry per kept frame (every `everyN`-th): (frame_idx, n_frames,
    * sum_lum). Null for undecodable payloads (explode then emits no
    * rows — the dedup-family discipline the former flatMap enforced).
    */
  def gifFrameStats(payload: Array[Byte], everyN: Int): ArrayData =
    graft.ops.Multimodal.gifFrames(payload) match {
      case Some(frames) =>
        val out = new Array[Any]((frames.length + everyN - 1) / everyN)
        var i = 0
        var f = 0
        while (f < frames.length) {
          var s = 0L
          val px = frames(f)
          var p = 0
          while (p < px.length) { s += px(p); p += 1 }
          out(i) = new GenericInternalRow(
            Array[Any](f.toLong, frames.length.toLong, s))
          i += 1
          f += everyN
        }
        new GenericArrayData(out)
      case None => null
    }

  /** DISTINCT per-frame aHashes of a decoded GIF container — one array
    * entry per distinct frame hash: (n_frames, frame_hi, frame_lo).
    * Null for undecodable payloads. The single decode+hash definition
    * ([[graft.ops.Multimodal.decodedFrameHashes]]) behind the batch
    * inverted index AND the streaming frame dedup.
    */
  def frameHashes(payload: Array[Byte]): ArrayData =
    graft.ops.Multimodal.decodedFrameHashes(payload) match {
      case Some((nf, hashes)) =>
        new GenericArrayData(hashes.map { case (hi, lo) =>
          new GenericInternalRow(Array[Any](nf, hi, lo)): Any
        })
      case None => null
    }

  /** Scene-change reduction of a decoded GIF container to ONE struct
    * (n_frames, n_cuts, first_cut, activity): consecutive-frame
    * luminance deltas, cuts where delta > threshold. Null for
    * undecodable payloads.
    */
  def sceneStats(payload: Array[Byte], threshold: Long): InternalRow =
    graft.ops.Multimodal.gifFrames(payload) match {
      case Some(frames) =>
        var cuts = 0L; var firstCut: Any = null
        var activity = 0L
        var f = 1
        while (f < frames.length) {
          val prev = frames(f - 1); val cur = frames(f)
          var d = 0L
          var p = 0
          while (p < cur.length && p < prev.length) {
            d += math.abs(cur(p) - prev(p)); p += 1
          }
          activity += d
          if (d > threshold) {
            cuts += 1
            if (firstCut == null) firstCut = f.toLong
          }
          f += 1
        }
        new GenericInternalRow(
          Array[Any](frames.length.toLong, cuts, firstCut, activity))
      case None => null
    }

  def simhash64(s: UTF8String): Long =
    graft.ops.Dedup.simhash64(s.toString)

  def jaccard(a: UTF8String, b: UTF8String, k: Int): Double =
    graft.ops.Dedup.jaccard(a.toString, b.toString, k)

  def lsh(v: ArrayData, bits: Int): Int =
    graft.ops.Ann.lshSignatureAD(v, bits)

  // Zero-norm contract for both argmax assigners: a zero-norm vector (or
  // centroid) yields NaN cosine. NaN never beats a finite sim (it is
  // skipped, i.e. treated as -inf), and the all-NaN case falls back to
  // the FIRST label — which matches the DuckDB oracle's
  // `ORDER BY sim DESC, c` (NaN sorts first in DESC, ties break to the
  // lowest cluster) for zero-norm DATA vectors. A zero-norm CENTROID is
  // deliberately never selected over a finite match (the oracle's
  // NaN-first ordering would pick it; preferring a degenerate centroid
  // over a genuine match is wrong, and centroids are means of real
  // vectors so the case cannot arise from [[graft.ops.KMeans]] output).
  // OpsSpec pins the zero-vector behavior.
  def ivfAssign(v: ArrayData, cents: Array[Array[Float]]): Int = {
    // empty centroid table -> -1 (the kmeansAssign sentinel); 0 would be
    // a plausible-looking assignment to a list that does not exist
    if (cents.isEmpty) return -1
    var best = 0; var bestSim = Double.NegativeInfinity
    val n = v.numElements()
    if (n != cents(0).length) // nonempty guaranteed by the early return
      throw new IllegalArgumentException(
        s"ivf_assign: vector dims $n != centroid dims ${cents(0).length}")
    var c = 0
    while (c < cents.length) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val vi = v.getFloat(i).toDouble; val ci = cents(c)(i).toDouble
        dot += vi * ci; na += vi * vi; nb += ci * ci; i += 1
      }
      val sim = dot / (math.sqrt(na) * math.sqrt(nb))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  def kmeansAssign(v: ArrayData, labels: Array[Int],
      cents: Array[Array[Double]]): Int = {
    // loud contract: labels must mirror the centroid table — a shorter
    // array threw a bare AIOOBE mid-job, a longer one silently returned
    // labels(0) as if a real assignment happened
    if (labels.length != cents.length)
      throw new IllegalArgumentException(
        s"kmeans_assign: ${labels.length} labels for ${cents.length} centroids")
    var best = if (labels.length > 0) labels(0) else -1
    var bestSim = Double.NegativeInfinity
    val n = v.numElements()
    if (cents.length > 0 && n != cents(0).length)
      throw new IllegalArgumentException(
        s"kmeans_assign: vector dims $n != centroid dims ${cents(0).length}")
    var c = 0
    while (c < cents.length) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val vi = v.getFloat(i).toDouble; val ci = cents(c)(i)
        dot += vi * ci; na += vi * vi; nb += ci * ci; i += 1
      }
      val sim = dot / (math.sqrt(na) * math.sqrt(nb))
      if (sim > bestSim) { bestSim = sim; best = labels(c) }
      c += 1
    }
    best
  }

  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    if (str.length < n) return new GenericArrayData(Array.empty[Any])
    // insertion-ordered distinct grams — one pass, one allocation per
    // distinct gram (the interpreted transform-lambda + array_distinct
    // formulation cost ~4s per 5k docs at sf0.1; this is the hot loop)
    val set = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= str.length) { set.add(str.substring(i, i + n)); i += 1 }
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  private val wsRe = java.util.regex.Pattern.compile("\\s+")

  private def tokenize(s: UTF8String): Array[String] = {
    // parity with filter(split(lower(text), "\s+"), _ != ""): Java split
    // drops trailing empties itself; only a leading empty (text starting
    // with whitespace) needs stripping
    val raw = wsRe.split(s.toLowerCase.toString)
    if (raw.nonEmpty && raw(0).isEmpty)
      java.util.Arrays.copyOfRange(raw, 1, raw.length)
    else raw
  }

  /** Distinct k-word shingles of lowercased whitespace-split text —
    * the hot per-document kernel of decontamination/minhash surfaces
    * (the interpreted transform+slice+array_distinct chain costs ~30×
    * more per doc; same lesson as [[charNgrams]]).
    */

  /** Writes the space-joined k-gram toks(i..i+k) into sb (cleared
    * first). ONE definition for every gram-building kernel — the five
    * previous inline copies had to stay byte-identical for cross-kernel
    * hash parity (the r11 tokenize lesson, applied to the joiner).
    */
  @inline private def joinGram(sb: java.lang.StringBuilder,
      toks: Array[String], i: Int, k: Int): Unit = {
    sb.setLength(0)
    var j = 0
    while (j < k) {
      if (j > 0) sb.append(' ')
      sb.append(toks(i + j)); j += 1
    }
  }

  def wordShingles(s: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(s)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= toks.length) {
      joinGram(sb, toks, i, k)
      set.add(sb.toString); i += 1
    }
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  def randProject(v: ArrayData, nPlanes: Int): ArrayData =
    new GenericArrayData(graft.ops.Ann.signProjectAD(v, nPlanes))

  /** Positional 60-bit gram hashes: index i of the result is the hash of
    * the k-word gram starting at token i (lowercased, whitespace-split).
    * Unlike [[wordShingles]] this keeps EVERY occurrence in order, so a
    * consumer can reason about spans (consecutive indices = consecutive
    * grams). Hash parity with the relational idiom both engines share:
    * `CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)` — the first 60
    * bits of md5, always non-negative.
    */
  def gramHashSeq(s: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(s)
    val m = toks.length - k + 1
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      joinGram(sb, toks, i, k)
      out(i) = java.lang.Long.valueOf(md5Long60(sb.toString))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-seed md5-min signature over a shingle array: seed i of the
    * result is min over shingles of the first 60 bits of
    * md5("i:shingle") — parity with the relational idiom
    * `array_min(transform(sset, sh -> CAST(('0x' ||
    * substr(md5(i || ':' || sh), 1, 15)) AS BIGINT)))` both engines
    * share (q105's calibration family), evaluated in ONE pass instead
    * of seeds × shingles Catalyst concat/md5/substring/conv trees.
    */
  def md5MinhashSigs(sset: ArrayData, seeds: Int): ArrayData = {
    val n = sset.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // materialize shingle strings once; reused across all seeds
    val shs = new Array[String](n)
    var j = 0
    while (j < n) { shs(j) = sset.getUTF8String(j).toString; j += 1 }
    val out = new Array[Any](seeds)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < seeds) {
      var mn = Long.MaxValue
      j = 0
      while (j < n) {
        sb.setLength(0)
        sb.append(i).append(':').append(shs(j))
        val h = md5Long60(sb.toString)
        if (h < mn) mn = h
        j += 1
      }
      out(i) = java.lang.Long.valueOf(mn)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact intersection size of two SORTED string arrays (a single
    * merge pass) — parity with `len(list_intersect(a, b))` over the
    * same distinct sets, without materializing the intersection or a
    * relational explode/self-join. Caller contract: both inputs sorted
    * by the same binary collation (array_sort) and duplicate-free.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** EXACT intersection size of two (h, s)-sorted duplicate-free
    * hashed-string sets (r17 optimization round: the q112 per-pair
    * merge spent ~85% of its time in UTF8String compares). The merge
    * is driven by the 8-byte hashes; strings are compared only on hash
    * ties, so the count equals the exact string-set intersection
    * WHATEVER the hash collides on — acceleration, not approximation.
    * Caller contract: both arrays sorted by array_sort over
    * struct(h, s) (signed-long h first, binary s on ties) and
    * duplicate-free in s. The declared input type admits null array
    * elements and null fields (lambda-built structs bind as nullable),
    * but the count has no meaning over them: the merge loop checks each
    * element, `h` and `s` it reads and throws an
    * IllegalArgumentException naming the function on a null.
    */
  def hashedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    def nullIn(what: String): Nothing = throw new IllegalArgumentException(
      s"hashed_intersect_count: null $what; both arrays must hold " +
        "non-null struct(h, s) elements with non-null fields")
    def elem(arr: ArrayData, k: Int): InternalRow = {
      if (arr.isNullAt(k)) nullIn("array element")
      val r = arr.getStruct(k, 2)
      if (r.isNullAt(0)) nullIn("h field")
      r
    }
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    // each element is read (and checked) once, when its index is reached
    var ra: InternalRow = null; var rb: InternalRow = null
    var ha = 0L; var hb = 0L
    var ai = -1; var bj = -1
    while (i < na && j < nb) {
      if (ai != i) { ra = elem(a, i); ha = ra.getLong(0); ai = i }
      if (bj != j) { rb = elem(b, j); hb = rb.getLong(0); bj = j }
      if (ha < hb) i += 1
      else if (ha > hb) j += 1
      else {
        if (ra.isNullAt(1) || rb.isNullAt(1)) nullIn("s field")
        val cmp = ra.getUTF8String(1).compareTo(rb.getUTF8String(1))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  /** [[sortedIntersectCount]] over SORTED duplicate-free LONG arrays —
    * one merge pass per pair, signed-long order (callers sort with
    * array_sort over the same signed longs, so the orders agree).
    */
  def sortedIntersectCountLong(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Count of positions where two equal-length long arrays agree —
    * parity with `size(filter(zip_with(a, b, (x, y) -> x = y), m -> m))`
    * without the two intermediate arrays per pair.
    */
  def arrayMatchCount(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** First 60 bits of md5 as a long — identical to parsing the first 15
    * lowercase-hex chars (big-endian first 8 bytes, shifted right 4).
    */
  private def md5Long60(s: String): Long = {
    val d = graft.ops.Hashing.md5(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, MOSS): hash every
    * k-word shingle (16-hex md5 prefix, oracle-recomputable), slide a
    * w-hash window, keep each window's minimum; return the distinct
    * selected hashes sorted. Guarantee: two documents sharing a passage
    * of ≥ k+w-1 words share at least one fingerprint, while only
    * ~2/(w+1) of all shingle hashes are kept — the sampled near-dup
    * index that makes fingerprint shuffles tractable at corpus scale.
    * Texts with fewer shingles than w winnow over one short window.
    */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = tokenize(s)
    val m = toks.length - k + 1
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[String](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      joinGram(sb, toks, i, k)
      hs(i) = graft.ops.Hashing.md5Hex(sb.toString, 16); i += 1
    }
    val sel = new java.util.TreeSet[String]()
    val nWin = math.max(1, m - w + 1)
    i = 0
    while (i < nWin) {
      var min = hs(i)
      var j = i + 1
      val end = math.min(i + w, m)
      while (j < end) { if (hs(j) < min) min = hs(j); j += 1 }
      sel.add(min); i += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** One-pass repetition stats: [nTokens, nDistinctTokens,
    * maxBigramCount] over lowercased whitespace-split text.
    */
  def repStats(s: UTF8String): ArrayData = {
    val toks = tokenize(s)
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i < toks.length) { distinct.add(toks(i)); i += 1 }
    var mx = 0
    if (toks.length >= 2) {
      val counts = new java.util.HashMap[String, Int]()
      i = 0
      while (i + 2 <= toks.length) {
        val bg = toks(i) + " " + toks(i + 1)
        val c = counts.merge(bg, 1, (a, b) => a + b)
        if (c > mx) mx = c
        i += 1
      }
    }
    new GenericArrayData(Array[Any](toks.length, distinct.size, mx))
  }

  /** One-pass BPE tokenizer apply: [nWords, nBpeTokens] over lowercased
    * whitespace-split text, `[a-z0-9]+` words only (the trainMerges
    * contract). Per word: wrap each char in the ␟ delimiter pair, apply
    * the merge patterns in learned order (String.replace — the same
    * leftmost-non-overlapping semantics as the codegen StringReplace
    * chain and DuckDB's replace), then count symbols as ␟␟ boundaries
    * + 1. Symbols never contain the delimiter (alnum-only words), so
    * the boundary count is exact.
    */
  def bpeStats(s: UTF8String, pats: Array[String], reps: Array[String])
      : ArrayData = {
    val toks = tokenize(s)
    var nWords = 0L
    var nTok = 0L
    val D = "␟"
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      var alnum = w.length > 0
      var j = 0
      while (alnum && j < w.length) {
        val c = w.charAt(j)
        alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        j += 1
      }
      if (alnum) {
        nWords += 1
        val sb = new java.lang.StringBuilder(w.length * 3 + 2)
        j = 0
        while (j < w.length) { sb.append(D).append(w.charAt(j)).append(D); j += 1 }
        var seq = sb.toString
        var m = 0
        while (m < pats.length) { seq = seq.replace(pats(m), reps(m)); m += 1 }
        // symbols = count of "␟␟" boundaries + 1
        var bounds = 0L
        var p = seq.indexOf(D + D)
        while (p >= 0) { bounds += 1; p = seq.indexOf(D + D, p + 2) }
        nTok += bounds + 1
      }
      i += 1
    }
    new GenericArrayData(Array[Any](nWords, nTok))
  }

  /** One-pass hashed bag-of-words feature rows: f-ascending [(f, x)]
    * structs with f = (first 24 md5 bits of the token) % dims over
    * lowercased whitespace tokens, plus a trailing bias entry (dims, 1)
    * — parity with the explode → md5-hash → groupBy(doc, f).count() →
    * collect_list chain, collapsed into ONE projection so the q75/q78
    * feature build never shuffles token occurrences. dims is a hashed-
    * BoW width (≤ 2^20 by convention): the per-row count buffer is a
    * dims-long array, not a map.
    */
  def tokenHashCounts(s: UTF8String, dims: Int): ArrayData = {
    val toks = tokenize(s)
    val counts = new Array[Long](dims)
    var nz = 0
    var i = 0
    while (i < toks.length) {
      val d = graft.ops.Hashing.md5(
        toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val f = ((((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) |
        (d(2) & 0xffL)) % dims).toInt
      if (counts(f) == 0L) nz += 1
      counts(f) += 1L
      i += 1
    }
    val out = new Array[Any](nz + 1)
    var f = 0
    var j = 0
    while (f < dims) {
      if (counts(f) != 0L) {
        out(j) = new GenericInternalRow(Array[Any](f.toLong, counts(f)))
        j += 1
      }
      f += 1
    }
    out(j) = new GenericInternalRow(Array[Any](dims.toLong, 1L))
    new GenericArrayData(out)
  }

  /** One-pass Gopher top-n-gram stats: [total_chars, mx2, mx3, mx4]
    * where total_chars counts codepoints of the space-joined lowercased
    * token string and mxN = max over word n-grams of
    * count(gram) × codepoints(gram) — the numerators/denominator of the
    * top-n-gram char fractions (Rae et al. 2021). The aggregation key
    * is the document itself, so this never needs a shuffle — the
    * relational formulation (explode → (doc, n, gram) count) shipped
    * every gram occurrence across the wire for a doc-local answer.
    */
  def topgramStats(s: UTF8String): ArrayData = {
    val toks = tokenize(s)
    var tc = 0L
    var t = 0
    while (t < toks.length) {
      tc += toks(t).codePointCount(0, toks(t).length)
      t += 1
    }
    if (toks.length > 0) tc += toks.length - 1 // joining spaces
    val out = Array[Any](tc, 0L, 0L, 0L)
    var n = 2
    while (n <= 4) {
      if (toks.length >= n) {
        val m = new java.util.HashMap[String, Long]()
        val sb = new java.lang.StringBuilder
        var mx = 0L
        var i = 0
        while (i + n <= toks.length) {
          joinGram(sb, toks, i, n)
          val g = sb.toString
          val c = m.merge(g, 1L, (a, b) => a + b)
          val v = c * g.codePointCount(0, g.length)
          if (v > mx) mx = v
          i += 1
        }
        out(n - 1) = mx
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass per-document term frequencies: [(term, tf)] structs over
    * lowercased whitespace tokens, first-occurrence order — parity with
    * explode + groupBy(doc_id, term).count(), computed where the
    * document already lives so no token occurrence ever crosses a
    * shuffle (the q54 tf build: only DISTINCT (doc, term) rows leave
    * the scan).
    */
  def termCounts(s: UTF8String): ArrayData = {
    val toks = tokenize(s)
    val m = new java.util.LinkedHashMap[String, Array[Long]]()
    var i = 0
    while (i < toks.length) {
      val c = m.get(toks(i))
      if (c == null) m.put(toks(i), Array(1L)) else c(0) += 1L
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass per-document QUERY-term frequencies: for a fixed m-term
    * query, returns [tf(term_0), …, tf(term_{m-1}), dl] as m+1 longs —
    * the BM25 scoring inputs — in a single tokenize pass. Replaces the
    * term_counts → per-term array `filter` probe chain (m interpreted
    * lambda passes over the tf array per document) with one hash lookup
    * per token; dl rides along for free so the aggregate() fold over
    * the tf array disappears too.
    */
  /** Precomputed query-term lookup: built ONCE per expression (a
    * codegen reference object) instead of per document row — the
    * per-row HashMap build + duplicate canonicalization was millions
    * of redundant map constructions on the BM25 scoring hot path.
    */
  final class QueryTfLookup(terms: Array[String]) extends Serializable {
    val m: Int = terms.length
    val idx = new java.util.HashMap[String, Integer](terms.length * 2)
    locally {
      var t = 0
      while (t < terms.length) { idx.putIfAbsent(terms(t), t); t += 1 }
    }
    /** canonical (first-occurrence) slot per term position. */
    val canon: Array[Int] =
      terms.map(t => idx.get(t).intValue())
  }

  def queryTf(s: UTF8String, lut: QueryTfLookup): ArrayData = {
    val toks = tokenize(s)
    val out = new Array[Long](lut.m + 1)
    var i = 0
    while (i < toks.length) {
      val j = lut.idx.get(toks(i))
      if (j != null) out(j.intValue()) += 1L
      i += 1
    }
    // a duplicated query term copies its canonical (first-occurrence)
    // slot's count, matching the old per-term filter probes where every
    // duplicate saw the same tf — putIfAbsent left non-canonical slots at 0
    var t = 0
    while (t < lut.m) {
      val c = lut.canon(t)
      if (c != t) out(t) = out(c)
      t += 1
    }
    out(lut.m) = toks.length.toLong
    new GenericArrayData(out)
  }

  /** Per-document distinct (w1, w2, count) bigram rows in one pass —
    * the pair-level sibling of [[termCounts]]: `explode(bigram_counts)`
    * replaces the explode-pairs → groupBy(doc, w1, w2) corpus shuffle
    * with a map-side per-document aggregation (the doc id is part of
    * that group key, so the shuffle only ever combined rows that were
    * already partition-local — pure wasted exchange). Empty for
    * documents with < 2 tokens, matching `len(toks) >= 2`.
    */
  def bigramCounts(s: UTF8String): ArrayData = {
    val toks = tokenize(s)
    if (toks.length < 2) return new GenericArrayData(new Array[Any](0))
    // nested maps (never a delimited composite key: a token may contain
    // any non-whitespace char, so no in-band separator is collision-free)
    val m = new java.util.LinkedHashMap[String,
      java.util.LinkedHashMap[String, Array[Long]]]()
    var i = 0
    var nPairs = 0
    while (i < toks.length - 1) {
      var inner = m.get(toks(i))
      if (inner == null) {
        inner = new java.util.LinkedHashMap[String, Array[Long]]()
        m.put(toks(i), inner)
      }
      val c = inner.get(toks(i + 1))
      if (c == null) { inner.put(toks(i + 1), Array(1L)); nPairs += 1 }
      else c(0) += 1L
      i += 1
    }
    val out = new Array[Any](nPairs)
    var j = 0
    val it1 = m.entrySet().iterator()
    while (it1.hasNext) {
      val e1 = it1.next()
      val w1 = UTF8String.fromString(e1.getKey)
      val it2 = e1.getValue.entrySet().iterator()
      while (it2.hasNext) {
        val e2 = it2.next()
        out(j) = new GenericInternalRow(Array[Any](
          w1, UTF8String.fromString(e2.getKey), e2.getValue()(0)))
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Dedup text normalization in ONE linear scan: lowercase, map every
    * char outside [a-z0-9] to a separator, collapse separator runs to a
    * single space, trim. Exactly equivalent to the regex chain
    * trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9 ]', ' '),
    * ' +', ' ')) that the DuckDB oracles keep: the char class is per
    * code point, and a surrogate pair scanned as two units yields two
    * separators that collapse to the same single space. The regex chain
    * cost two full pattern passes over every document on the dedup hot
    * path (q20/q60/q73/q79 and the streaming twins).
    */
  def normText(s: UTF8String): UTF8String = {
    val str = s.toLowerCase.toString
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSep = false
    var started = false
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSep && started) sb.append(' ')
        sb.append(c)
        started = true
        pendingSep = false
      } else pendingSep = true
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  // Bloom membership (bloomHit below) short-circuits on the first clear
  // bit, and the bitmap rides as a generated-code reference object: the
  // round-5 formulation embedded it as a typedLit array<long> literal
  // referenced 4× per probe site, and every AQE replan
  // walked/canonicalized those 4096-long literals — measured ~0.7 s of
  // pure plan processing per q73 delivery at mBits=2^18.

  /** Position i for a 32-hex-char md5 digest: the unsigned 32-bit value
    * of hex chars [8i, 8i+8) mod mBits. The digest IS an md5 already —
    * its four 32-bit slices are independent, so no further hashing is
    * needed (the "less hashing, same performance" observation); deriving
    * positions by re-hashing h || "#i" cost 4 extra md5 calls per digest
    * on BOTH the build and probe paths. Oracle twin:
    * CAST(('0x' || substr(hh, 1 + 8*i, 8)) AS BIGINT) % m.
    */
  private def bloomPosOf(h: UTF8String, i: Int, mBits: Long): Long = {
    var v = 0L
    var j = 8 * i
    val end = j + 8
    while (j < end) {
      val c = h.getByte(j)
      val nib =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else throw new IllegalArgumentException(
          s"bloom: digest is not hex (byte '${c.toChar}') — positions " +
            "would silently corrupt")
      v = (v << 4) | nib
      j += 1
    }
    v % mBits
  }

  /** Set the k slice-derived bit positions of a hex md5 digest in
    * `bitmap` (the update half of the bloomHit probe below — same
    * position math, used by the map-side bitmap-building aggregate).
    */
  def bloomSet(h: UTF8String, bitmap: Array[Long], k: Int): Unit = {
    // position math reads hex chars [8i, 8i+8) via UNCHECKED getByte —
    // out-of-range k or a short digest would read adjacent memory and
    // yield garbage positions (silent false negatives), not an error
    if (k < 1 || k > 4 || h.numBytes < 8 * k)
      throw new IllegalArgumentException(
        s"bloom: need 1 <= k <= 4 and a >= ${8 * math.max(k, 1)}-hex-char " +
          s"digest (got k=$k, ${h.numBytes} chars)")
    val mBits = bitmap.length * 64L
    var i = 0
    while (i < k) {
      val p = bloomPosOf(h, i, mBits)
      bitmap((p >> 6).toInt) |= 1L << (p & 63)
      i += 1
    }
  }

  def bloomHit(h: UTF8String, bitmap: Array[Long], k: Int): Boolean = {
    if (k < 1 || k > 4 || h.numBytes < 8 * k)
      throw new IllegalArgumentException(
        s"bloom: need 1 <= k <= 4 and a >= ${8 * math.max(k, 1)}-hex-char " +
          s"digest (got k=$k, ${h.numBytes} chars)")
    val mBits = bitmap.length * 64L
    var i = 0
    while (i < k) {
      val p = bloomPosOf(h, i, mBits)
      if ((bitmap((p >> 6).toInt) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** BIGINT dot product of a sparse [(f, x)] feature row against a
    * micro-unit weight vector (the bias entry rides in the row itself)
    * — the q75/q78 margin. Weights arrive as a generated-code reference
    * object, so the per-iteration plan source never embeds the values
    * (codegen compiles ONCE across GD iterations) and the hot loop is
    * two array reads + one multiply per element.
    */
  def dotMicro(arr: ArrayData, w: Array[Long]): Long = {
    var acc = 0L
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"dot_micro: null feature struct at position $i — sparse rows " +
            "must not contain null elements")
      val s = arr.getStruct(i, 2)
      val f = s.getLong(0)
      if (f < 0 || f >= w.length)
        throw new IllegalArgumentException(
          s"dot_micro: feature index $f outside the model's [0, ${w.length}) " +
            "range — features and weights were built with different dims")
      acc += w(f.toInt) * s.getLong(1)
      i += 1
    }
    acc
  }

  /** Double-weight twin of [[dotMicro]]: Σ x·w(f) over a sparse [(f,x)]
    * feature row against a per-feature double weight vector (the Naive
    * Bayes log-likelihood-ratio score). Summation runs in the row's
    * feature order; consumers round the result (the q57 ln discipline)
    * so cross-engine summation-order ulps never surface.
    */
  def dotWeights(arr: ArrayData, w: Array[Double]): Double = {
    var acc = 0.0
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"dot_weights: null feature struct at position $i — sparse " +
            "rows must not contain null elements")
      val s = arr.getStruct(i, 2)
      val f = s.getLong(0)
      if (f < 0 || f >= w.length)
        throw new IllegalArgumentException(
          s"dot_weights: feature index $f outside the model's " +
            s"[0, ${w.length}) range — features and weights were built " +
            "with different dims")
      acc += w(f.toInt) * s.getLong(1)
      i += 1
    }
    acc
  }

  /** Consecutive k-token blocks of whitespace-split text (ORIGINAL
    * case — reconstruction operators must preserve the text), space-
    * joined, one pass. Parity with
    * `transform(sequence(0, (n-1)/k), i => array_join(slice(toks, i*k+1, k), " "))`
    * over `filter(split(text, "\s+"), _ != "")` — the interpreted
    * split+slice+join chain allocates per block; this allocates once.
    */
  /** Original-case whitespace tokens with the leading-empty strip —
    * the one tokenizer the original-case kernels (tokenBlocks,
    * windowDigests, scrubSpans) share; [[tokenize]] is its lowercasing
    * twin. Keep the empty-strip rule HERE so the four call sites cannot
    * drift (review r11).
    */
  private def tokenizeKeepCase(s: UTF8String): Array[String] = {
    val raw = wsRe.split(s.toString)
    if (raw.nonEmpty && raw(0).isEmpty)
      java.util.Arrays.copyOfRange(raw, 1, raw.length) else raw
  }

  def tokenBlocks(s: UTF8String, k: Int): ArrayData = {
    val toks = tokenizeKeepCase(s)
    if (toks.length == 0) return new GenericArrayData(Array.empty[Any])
    val n = (toks.length - 1) / k + 1
    val out = new Array[Any](n)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < n) {
      sb.setLength(0)
      var i = b * k
      val end = math.min(i + k, toks.length)
      while (i < end) {
        if (i > b * k) sb.append(' ')
        sb.append(toks(i)); i += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** 16-hex md5 digests of every OVERLAPPING k-token window of
    * whitespace-split text (ORIGINAL case — span-scrub reconstruction
    * preserves the text), space-joined before hashing. Window i covers
    * tokens [i, i+k-1]; a text with fewer than k tokens has no windows.
    * Parity: `substr(md5(array_to_string(toks[i+1:i+k], ' ')), 1, 16)`
    * over 0-based i in both engines. This is the ExactSubstr primitive
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better") at token granularity: overlapping windows, unlike
    * [[tokenBlocks]]' disjoint aligned blocks, detect repeated passages
    * at ANY offset.
    */
  def windowDigests(s: UTF8String, k: Int): ArrayData = {
    require(k >= 1, s"windowDigests: k must be >= 1, got $k")
    val toks = tokenizeKeepCase(s)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(toks(j)); j += 1
      }
      out(i) = UTF8String.fromString(graft.ops.Hashing.md5Hex(sb.toString, 16))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [n_removed, n_spans] for a SORTED array of flagged window starts
    * over an n-token document: windows are k tokens wide, overlapping
    * or adjacent windows merge into maximal covered runs ("spans");
    * n_removed counts covered tokens, n_spans the merged runs. Loud
    * contract: starts must be ascending (the upstream array_sort) —
    * an unsorted array throws rather than silently under-counting.
    */
  def spanStats(starts: ArrayData, k: Int, n: Int): ArrayData = {
    var ci = 0
    while (ci < starts.numElements()) {
      if (starts.isNullAt(ci))
        throw new IllegalArgumentException(
          "span_stats: null element in the starts array")
      ci += 1
    }
    require(k >= 1, s"spanStats: k must be >= 1, got $k")
    var removed = 0L
    var spans = 0L
    var prevEnd = -1 // exclusive end of the covered prefix so far
    var prev = Int.MinValue
    var i = 0
    val m = starts.numElements()
    while (i < m) {
      val st = starts.getInt(i)
      if (st < prev) throw new IllegalArgumentException(
        s"spanStats: starts must be sorted ascending (saw $prev then $st)")
      prev = st
      val st0 = math.max(st, 0) // scrubSpans clamps too — keep siblings agreeing
      val e = math.min(st + k, n)
      // a span with no effective coverage (entirely below 0 or past n)
      // must count nothing — scrubSpans removes nothing for it
      if (e > st0) {
        if (st0 > prevEnd) spans += 1
        if (e > math.max(st0, prevEnd)) removed += e - math.max(st0, prevEnd)
        if (e > prevEnd) prevEnd = e
      }
      i += 1
    }
    new GenericArrayData(Array[Any](removed, spans))
  }

  /** Text with every token covered by a flagged k-window removed:
    * tokens outside the union of [st, st+k-1] ranges, re-joined with
    * single spaces (the whitespace normalization both engines share).
    * Start order is irrelevant here — coverage is a union.
    */
  def scrubSpans(s: UTF8String, starts: ArrayData, k: Int): UTF8String = {
    var ci = 0
    while (ci < starts.numElements()) {
      if (starts.isNullAt(ci))
        throw new IllegalArgumentException(
          "scrub_spans: null element in the starts array")
      ci += 1
    }
    require(k >= 1, s"scrubSpans: k must be >= 1, got $k")
    val toks = tokenizeKeepCase(s)
    val n = toks.length
    if (n == 0) return UTF8String.fromString("")
    val covered = new Array[Boolean](n)
    var i = 0
    val m = starts.numElements()
    while (i < m) {
      var j = math.max(starts.getInt(i), 0)
      val e = math.min(starts.getInt(i) + k, n)
      while (j < e) { covered(j) = true; j += 1 }
      i += 1
    }
    val sb = new java.lang.StringBuilder
    var first = true
    i = 0
    while (i < n) {
      if (!covered(i)) {
        if (!first) sb.append(' ')
        sb.append(toks(i)); first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** One-pass printable-ASCII character entropy: [nAscii, H] where H =
    * -Σ p_c ln p_c over chars 32..126 (call on lowercased text). Buckets
    * are summed in char-code order; the cross-engine contract is the
    * round-6 value (the q57/q61 float-tolerance convention). Low-entropy
    * documents are boilerplate/repetition (the C4/Gopher signal family);
    * near-uniform entropy flags encoded blobs.
    */
  def charEntropy(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new Array[Int](95)
    var t = 0
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c >= 32 && c <= 126) { counts(c - 32) += 1; t += 1 }
      i += 1
    }
    var h = 0.0
    if (t > 0) {
      var j = 0
      while (j < 95) {
        val n = counts(j)
        if (n > 0) { val p = n.toDouble / t; h -= p * math.log(p) }
        j += 1
      }
    }
    new GenericArrayData(Array[Any](t.toDouble, h))
  }

  /** Unicode NFC normalization (java.text.Normalizer — the JDK's
    * Unicode-conformant implementation). Canonical composition is a
    * property of the Unicode standard, not the library, so the output
    * is bit-identical to DuckDB's utf8proc `nfc_normalize` — the q180
    * oracle parity. Fast path: pure-ASCII text (the overwhelmingly
    * common case in a curation scan) is already NFC; skip the
    * Normalizer allocation entirely and return the input reference.
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    var ascii = true
    var i = 0
    while (ascii && i < str.length) {
      if (str.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    if (ascii || java.text.Normalizer.isNormalized(
        str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  // ---- PII redaction: hand scanners matching the three fixed regexes
  // email  [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}
  // ipv4   \b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b
  // phone  \+[0-9]{1,2}-[0-9]{3}-[0-9]{4}
  // exactly (incl. leftmost-first + greedy-backtrack semantics, pinned
  // against java.util.regex in OpsSpec and against RE2 by the oracle).
  // Linear scans: ~10× cheaper than Java regex on the per-document path.

  private def isAlphaC(c: Char) =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  private def isDigitC(c: Char) = c >= '0' && c <= '9'
  private def isWordC(c: Char) = isAlphaC(c) || isDigitC(c) || c == '_'
  private def isLocalC(c: Char) = isAlphaC(c) || isDigitC(c) ||
    c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
  private def isDomainC(c: Char) = isAlphaC(c) || isDigitC(c) ||
    c == '.' || c == '-'

  private def redactEmail(s: String, tok: String): String = {
    val sb = new java.lang.StringBuilder
    var scan = 0
    var i = s.indexOf('@')
    var any = false
    while (i >= 0) {
      if (i >= scan) {
        var lo = i
        while (lo > scan && isLocalC(s.charAt(lo - 1))) lo -= 1
        if (lo < i) {
          var r = i + 1
          while (r < s.length && isDomainC(s.charAt(r))) r += 1
          // rightmost '.' with a nonempty domain prefix and ≥2 letters
          // after it — the greedy + backtrack order of `+\.[A-Za-z]{2,}`
          var d = r - 1; var end = -1
          while (d >= i + 2 && end < 0) {
            if (s.charAt(d) == '.') {
              var e = d + 1
              while (e < s.length && isAlphaC(s.charAt(e))) e += 1
              if (e - d - 1 >= 2) end = e
            }
            d -= 1
          }
          if (end > 0) {
            sb.append(s, scan, lo).append(tok)
            scan = end; any = true
          }
        }
      }
      i = s.indexOf('@', i + 1)
    }
    if (!any) s else sb.append(s, scan, s.length).toString
  }

  private def redactIp(s: String, tok: String): String = {
    val sb = new java.lang.StringBuilder
    var scan = 0; var i = 0; var any = false
    while (i < s.length) {
      if (isDigitC(s.charAt(i)) && (i == 0 || !isWordC(s.charAt(i - 1)))) {
        // four 1-3 digit groups; each group's maximal run must be
        // followed by '.' (groups 1-3) / a non-word char (group 4)
        var ok = true; var p = i; var g = 0
        while (g < 4 && ok) {
          var e = p
          while (e < s.length && isDigitC(s.charAt(e))) e += 1
          val len = e - p
          if (len < 1 || len > 3) ok = false
          else if (g < 3) {
            if (e < s.length && s.charAt(e) == '.') p = e + 1 else ok = false
          } else if (e < s.length && isWordC(s.charAt(e))) ok = false
          else p = e
          g += 1
        }
        if (ok) { sb.append(s, scan, i).append(tok); scan = p; i = p; any = true }
        else i += 1
      } else i += 1
    }
    if (!any) s else sb.append(s, scan, s.length).toString
  }

  private def redactPhone(s: String, tok: String): String = {
    val sb = new java.lang.StringBuilder
    var scan = 0; var any = false
    var i = s.indexOf('+')
    while (i >= 0) {
      if (i >= scan) {
        var e = i + 1
        while (e < s.length && isDigitC(s.charAt(e))) e += 1
        val l1 = e - i - 1
        if (l1 >= 1 && l1 <= 2 && e < s.length && s.charAt(e) == '-') {
          var f = e + 1
          while (f < s.length && isDigitC(s.charAt(f))) f += 1
          if (f - e - 1 == 3 && f < s.length && s.charAt(f) == '-') {
            var g = f + 1
            while (g < s.length && isDigitC(s.charAt(g))) g += 1
            if (g - f - 1 >= 4) {
              sb.append(s, scan, i).append(tok)
              scan = f + 5; any = true
            }
          }
        }
      }
      i = s.indexOf('+', i + 1)
    }
    if (!any) s else sb.append(s, scan, s.length).toString
  }

  /** Redact email → ipv4 → phone (three linear passes, same order as
    * the regexp_replace chain it replaces).
    */
  def piiRedact(s: UTF8String): UTF8String =
    UTF8String.fromString(
      redactPhone(redactIp(redactEmail(s.toString, "<EMAIL>"), "<IP>"),
        "<PHONE>"))

  // word char of the q23 tokenizer class [a-zà-ÿäöüß]: a-z plus
  // U+00E0-U+00FF (à-ÿ) plus ß (U+00DF); äöü fall inside à-ÿ
  private def isLangC(c: Char) =
    (c >= 'a' && c <= 'z') || (c >= 'ß' && c <= 'ÿ')

  /** Per-language stopword hit counts in one pass (the interpreted
    * 4×filter/array_contains chain costs ~150 µs/doc; this ~8 µs).
    * Tokenization ≡ filter(split(lower(text), "[^a-zà-ÿäöüß]+"), _≠"").
    */
  def langHits(s: UTF8String,
      sets: Array[java.util.HashSet[String]]): ArrayData = {
    val str = s.toLowerCase.toString
    val counts = new Array[Int](sets.length)
    val n = str.length
    var i = 0
    while (i < n) {
      while (i < n && !isLangC(str.charAt(i))) i += 1
      var j = i
      while (j < n && isLangC(str.charAt(j))) j += 1
      if (j > i) {
        val tok = str.substring(i, j)
        var l = 0
        while (l < sets.length) {
          if (sets(l).contains(tok)) counts(l) += 1
          l += 1
        }
      }
      i = if (j > i) j else i + 1
    }
    new GenericArrayData(counts.map(c => c: Any))
  }

  /** Distinct character n-grams PACKED into 64-bit codes (n <= 8): the
    * sliding n-byte window of the (ASCII, normalized) input, one byte
    * per char — a bijection on ASCII n-grams, so grouping on the code
    * is exactly grouping on the gram while every downstream shuffle,
    * hash and sort touches an 8-byte long instead of a UTF8String.
    * Callers never surface the gram text, only use it as a join/group
    * key. Codes are never 0 (normalized chars are >= 0x20), so 0 can
    * serve as the open-addressing empty slot.
    */
  def charNgramCodes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val cnt = len - n + 1
    var cap = 4
    while (cap < cnt * 2) cap <<= 1
    val table = new Array[Long](cap)
    val out = new Array[Long](cnt)
    val mask = if (n == 8) -1L else (1L << (8 * n)) - 1
    var code = 0L
    var i = 0
    while (i < n - 1) { code = (code << 8) | (bytes(i) & 0xffL); i += 1 }
    var m = 0
    var zeroSeen = false // code 0 (all-NUL gram) collides with the
                         // empty-slot sentinel — dedup it out of band
    while (i < len) {
      code = ((code << 8) | (bytes(i) & 0xffL)) & mask
      if (code == 0L) {
        if (!zeroSeen) { zeroSeen = true; out(m) = 0L; m += 1 }
      } else {
        var h = java.lang.Long.hashCode(code * -7046029254386353131L) & (cap - 1)
        var seen = false
        while (table(h) != 0L && !seen) {
          if (table(h) == code) seen = true else h = (h + 1) & (cap - 1)
        }
        if (!seen) { table(h) = code; out(m) = code; m += 1 }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** All value-ordered pairs [a,b] with a <= b from a list of DISTINCT
    * ids, INCLUDING the self-pairs [x,x]. Feeding these through one
    * `GROUP BY (a, b) COUNT(*)` yields pair co-occurrence counts on the
    * off-diagonal AND per-id list-membership counts on the diagonal —
    * the trick that lets the n-gram Jaccard join compute common-gram
    * counts and per-doc set sizes in a single aggregation.
    */
  def sortedPairs(v: ArrayData): ArrayData = {
    val n = v.numElements()
    // n*(n+1)/2 wraps negative in Int arithmetic at n >= 65536 — fail
    // with the real reason, not a NegativeArraySizeException
    require(n <= 65535,
      s"sorted_pairs: $n ids give a ${n.toLong * (n + 1) / 2}-pair " +
        "triangle — cap the posting list (maxDf) below 65536")
    val a = new Array[Long](n)
    var i = 0
    while (i < n) {
      // an unchecked getLong on a null slot fabricates a 0 (Unsafe) or
      // NPEs (Generic) — both corrupt co-occurrence counts silently
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          "sorted_pairs: null element in the id array")
      a(i) = v.getLong(i); i += 1
    }
    java.util.Arrays.sort(a)
    val out = new Array[Any](n * (n + 1) / 2)
    var idx = 0
    i = 0
    while (i < n) {
      var j = i
      while (j < n) {
        out(idx) = new GenericArrayData(Array[Any](a(i), a(j)))
        idx += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def lshProbes(sig: Int, bits: Int): ArrayData = {
    val out = new Array[Int](bits + 1)
    out(0) = sig
    var b = 0
    while (b < bits) { out(b + 1) = sig ^ (1 << b); b += 1 }
    new GenericArrayData(out)
  }

  /** 8-bit scalar dequantization of one component: lo + round((x-lo)/
    * (hi-lo)*255)/255*(hi-lo), with round = half-away-from-zero decided
    * by an EXACT fraction comparison (t - floor(t) is exact for t ≥ 0 by
    * Sterbenz, so the decision never suffers the lossy `t + 0.5` double
    * rounding) — bit-identical to both DuckDB's ROUND(double) and Spark's
    * round(col, 0) on the nonnegative scaled offsets this sees.
    */
  def sq8Dequant(x: Double, l: Double, h: Double): Double =
    if (h == l) l
    else {
      val t = (x - l) / (h - l) * 255.0
      val f = math.floor(t)
      val code = if (t - f >= 0.5) f + 1.0 else f
      l + code / 255.0 * (h - l)
    }

  /** Cosine of an sq8-dequantized float vector against a pre-dequantized
    * query — the one-pass fused kernel of the scalar-quantized ANN scan
    * (dequantize + dot + both norms per component; the interpreted
    * transform/zip_with/aggregate chain re-evaluated the dequantization
    * once per aggregate and paid HOF interpretation per element).
    */
  def sq8Cosine(v: ArrayData, lo: Array[Double], hi: Array[Double],
      q: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = v.numElements()
    // a shorter vector would silently compute a PREFIX cosine (wrong,
    // plausible-looking similarity); a longer one a bare AIOOBE —
    // the pqEncode/centroidCosine loud-dims rule applies here too
    if (n != lo.length || n != q.length)
      throw new IllegalArgumentException(
        s"sq8_cosine: vector dims $n != quantizer dims ${lo.length} / " +
          s"query dims ${q.length}")
    var i = 0
    while (i < n) {
      val x = sq8Dequant(v.getFloat(i).toDouble, lo(i), hi(i))
      val qi = q(i)
      dot += x * qi; na += x * x; nb += qi * qi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Product-quantization encoding: per subspace s, the index of the
    * L2-nearest codebook entry (strict <, ascending scan — ties resolve
    * to the lowest code, the ROW_NUMBER(ORDER BY dist, c) rule a SQL
    * oracle reproduces). cb(s)(c)(i): subspace s, code c, within-
    * subspace dim i; subspace width = cb(s)(0).length.
    */
  def pqEncode(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    var expect = 0
    var s0 = 0
    while (s0 < m) { expect += cb(s0)(0).length; s0 += 1 }
    if (v.numElements() != expect)
      throw new IllegalArgumentException(
        s"pq_encode: input vector has ${v.numElements()} dims, codebook " +
          s"expects $expect ($m subspaces) — ragged or truncated embedding row")
    val out = new Array[Int](m)
    var s = 0
    var off = 0
    while (s < m) {
      val cents = cb(s)
      val sub = cents(0).length
      var best = 0
      var bestD = Double.PositiveInfinity
      // non-finite coordinates would otherwise encode silently as code 0
      // (NaN/Inf distances never win the strict < comparison)
      var i0 = 0
      while (i0 < sub) {
        val x = v.getFloat(off + i0)
        if (!java.lang.Float.isFinite(x))
          throw new IllegalArgumentException(
            s"pq_encode: non-finite coordinate $x at dim ${off + i0}")
        i0 += 1
      }
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0
        var i = 0
        while (i < sub) {
          val diff = v.getFloat(off + i).toDouble - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      off += sub
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Cosine of a vector against the centroid of its ASSIGNED cluster —
    * the per-row prototypicality score of SSL-prototypes pruning
    * (labels must mirror the assignment's label set; unknown labels
    * yield 0, which callers never see when label comes from the same
    * centroid table).
    */
  def centroidCosine(v: ArrayData, label: Int, labels: Array[Int],
      cents: Array[Array[Double]]): Double = {
    var idx = -1
    var j = 0
    while (j < labels.length && idx < 0) {
      if (labels(j) == label) idx = j
      j += 1
    }
    if (idx < 0) return 0.0
    val cent = cents(idx)
    val n = v.numElements()
    if (n != cent.length)
      throw new IllegalArgumentException(
        s"centroid_cosine: input vector has $n dims, centroids have " +
          s"${cent.length} — ragged or truncated embedding row")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      val c = cent(i)
      dot += x * c; na += x * x; nb += c * c; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Asymmetric-distance (ADC) cosine from PQ codes: the per-subspace
    * dot products against the query and the per-subspace squared norms
    * are precomputed lookup tables (m × k doubles, a bounded model), so
    * the scan does m table reads + m adds per row — the reason PQ scans
    * beat float scans at 100 TB (the corpus is m bytes/vector, 32×
    * smaller than float32 at m=8, and cache-resident LUTs replace
    * multiplies). qNorm is the exact query norm.
    */
  def pqAdcCosine(codes: ArrayData, dotLut: Array[Array[Double]],
      normLut: Array[Array[Double]], qNorm: Double): Double = {
    var dot = 0.0; var n2 = 0.0
    val m = codes.numElements()
    // loud dims rule (pqEncode/sq8Cosine convention): a truncated codes
    // row silently returned a plausible-looking prefix ADC cosine, and
    // a corrupted code threw a contextless AIOOBE
    if (m != dotLut.length)
      throw new IllegalArgumentException(
        s"pq_adc_cosine: $m codes for ${dotLut.length} subspaces — codes " +
          "and codebook were built with different m")
    var s = 0
    while (s < m) {
      val c = codes.getInt(s)
      if (c < 0 || c >= dotLut(s).length)
        throw new IllegalArgumentException(
          s"pq_adc_cosine: code $c outside the codebook's " +
            s"[0, ${dotLut(s).length}) range in subspace $s")
      dot += dotLut(s)(c); n2 += normLut(s)(c); s += 1
    }
    dot / (math.sqrt(n2) * qNorm)
  }
}

/** Column wrappers of the sketch, text, vector and media kernels of
  * [[SketchEval]].
  *
  * How a kernel is declared: a static method on an eval object
  * ([[SketchEval]], [[GeoEval]], [[VectorEval]]) over Catalyst's
  * internal types, plus one Column wrapper that builds a single
  * [[Kernel.kernel]] call of it (a Spark `StaticInvoke`). The wrapper
  * validates the caller's constants (`require`), and passes them as
  * arguments: plan-shape ints as literals, data-derived doubles as
  * [[ParamLiteral]]s, reference tables as [[Kernel.ref]]s. SQL names
  * ([[text.register]], [[geo.register]]) are built from the same
  * wrappers. A null input gives a null result without a call; a kernel
  * that may return null itself (a media decoder on bytes it cannot
  * read) says so with `nullableResult`. No hand-written expression
  * class: a source scan (`KernelAuditSpec`) fails on an expression class
  * in `graft/functions` whose codegen is one call into an eval object.
  *
  * Classes that remain in `graft/functions`, each for its reason:
  *  - [[SortedPairsGen]] and [[HammingPairsOwned]]: generators (and
  *    `CodegenFallback`), which stream pair rows instead of building one
  *    array per bucket.
  *  - [[ParamLiteral]]: a `Literal` whose codegen reads its value from
  *    the generated class's references instead of spelling it.
  */
object SketchExpressions {
  import GraftBridge.{column => col, expression => ex}

  /** [[SketchEval]]`.method` over `args` (see [[Kernel.kernel]]). */
  private def sketch(method: String, dataType: DataType, args: Seq[Expression],
      inputTypes: Seq[DataType], nullableResult: Boolean = false): Column =
    col(kernel(SketchEval, method, dataType, args, inputTypes, nullableResult))

  /** A kernel of one text column and int constants. */
  private def ofText(method: String, dataType: DataType, text: Column,
      consts: Int*): Column =
    sketch(method, dataType, ex(text) +: consts.map(Literal(_)),
      StringType +: consts.map(_ => IntegerType))

  /** A kernel of one column of type `inputType` and reference tables. */
  private def withRefs(method: String, dataType: DataType, input: Column,
      inputType: DataType, refs: AnyRef*): Column =
    sketch(method, dataType, ex(input) +: refs.map(ref),
      inputType +: refs.map(refType))

  /** A media decoder of one payload column: null for bytes it cannot
    * decode.
    */
  private def ofPayload(method: String, dataType: DataType, payload: Column,
      consts: Literal*): Column =
    sketch(method, dataType, ex(payload) +: consts,
      BinaryType +: consts.map(_.dataType), nullableResult = true)

  private def strict(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def longFields(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))

  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val doubles = ArrayType(DoubleType, containsNull = false)
  private val floats = ArrayType(FloatType)
  private val featureRow = strict("f" -> LongType, "x" -> LongType)

  /** n-permutation MinHash signature of a (normalized) text column. */
  def minhash_sig(text: Column, numHashes: Int, shingleK: Int): Column =
    ofText("minhash", longs, text, numHashes, shingleK)

  /** 64-bit SimHash fingerprint of a (normalized) text column. */
  def simhash64(text: Column): Column = ofText("simhash64", LongType, text)

  /** Exact word-shingle Jaccard similarity (candidate verification). */
  def jaccard_sim(a: Column, b: Column, shingleK: Int): Column =
    sketch("jaccard", DoubleType, Seq(ex(a), ex(b), Literal(shingleK)),
      Seq(StringType, StringType, IntegerType))

  /** b-bit sign-random-projection LSH signature of a float-array column. */
  def lsh_sig(vec: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 32,
      s"lsh_signature: bits must be in 1..32 (Int signature), got $bits")
    sketch("lsh", IntegerType, Seq(ex(vec), Literal(bits)), Seq(floats, IntegerType))
  }

  /** Nearest-centroid IVF list assignment (argmax cosine, lowest index
    * wins ties via strict >). The centroid table is a reference argument.
    */
  def ivf_assign(vec: Column, cents: Array[Array[Float]]): Column =
    withRefs("ivfAssign", IntegerType, vec, floats, cents)

  /** Nearest-centroid k-means assignment over (label, centroid) pairs —
    * like [[ivf_assign]] but with double centroids (fixed-point Lloyd
    * updates) and explicit labels so empty clusters drop out without
    * renumbering the survivors. `labels` must be ascending: the strict
    * `>` argmax then resolves ties to the lowest label.
    */
  def kmeans_assign(vec: Column, labels: Array[Int],
      cents: Array[Array[Double]]): Column =
    withRefs("kmeansAssign", IntegerType, vec, floats, labels, cents)

  /** Distinct character n-grams of a string, insertion order. */
  def char_ngrams(text: Column, n: Int): Column = {
    require(n >= 1, s"char_ngrams: n must be >= 1, got $n")
    ofText("charNgrams", strings, text, n)
  }

  /** Distinct n-grams as packed 64-bit codes ([[SketchEval.charNgramCodes]]). */
  def char_ngram_codes(text: Column, n: Int): Column = {
    require(n >= 1 && n <= 8, "packed n-gram codes need 1 <= n <= 8")
    ofText("charNgramCodes", longs, text, n)
  }

  /** Value-ordered within-list pairs incl. self-pairs ([[SketchEval.sortedPairs]]). */
  def sorted_pairs(ids: Column): Column =
    sketch("sortedPairs", ArrayType(longs, containsNull = false), Seq(ex(ids)),
      Seq(ArrayType(LongType)))

  /** Streaming generator form of [[sorted_pairs]]: same value-ordered
    * incl-self-pairs triangle, emitted one row at a time. The array form
    * materializes all n(n+1)/2 pairs as boxed GenericArrayData BEFORE
    * explode — at maxDf 10⁴ that is a ~50M-element transient per hot
    * bucket (round-15 RecallCurve found the executor OOM), even though
    * the df-cap bounds the EMITTED row count just fine. This generator
    * keeps per-bucket state at the sorted long[] only; the cap² cost is
    * paid in streamed rows the downstream aggregate consumes, never in
    * one allocation. CodegenFallback is deliberate: Spark only codegens
    * its built-in explode family, and the consumers (pair-count hash
    * aggregates) dominate the profile, not the generate boundary.
    */
  case class SortedPairsGen(child: Expression)
      extends UnaryExpression with Generator with CodegenFallback {
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_pairs_gen needs array<bigint>, got ${child.dataType}")
    override def elementSchema: StructType = new StructType()
      .add("id_a", LongType, nullable = false)
      .add("id_b", LongType, nullable = false)
    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) Iterator.empty
      else {
        val ad = v.asInstanceOf[ArrayData]
        val n = ad.numElements()
        val a = new Array[Long](n)
        var idx = 0
        while (idx < n) {
          // an unchecked getLong on a null slot fabricates a 0 (Unsafe)
          // or NPEs (Generic) — both corrupt co-occurrence counts
          if (ad.isNullAt(idx))
            throw new IllegalArgumentException(
              "sorted_pairs_gen: null element in the id array")
          a(idx) = ad.getLong(idx); idx += 1
        }
        java.util.Arrays.sort(a)
        new Iterator[InternalRow] {
          private var i = 0
          private var j = 0
          override def hasNext: Boolean = i < n
          override def next(): InternalRow = {
            // fresh row per pair (the built-in generators' contract —
            // downstream operators may buffer references)
            val r = new GenericInternalRow(Array[Any](a(i), a(j)))
            j += 1
            if (j == n) { i += 1; j = i }
            r
          }
        }
      }
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
  }

  def sorted_pairs_gen(ids: Column): Column =
    GraftBridge.column(SortedPairsGen(GraftBridge.expression(ids)))

  /** Exactly-once ownership pair GENERATOR ([[SketchEval]] ownership
    * rule): `bucketBand` is the posting row's band index, `hotPacked`
    * the sorted dropped-bucket keys (carried as an expression reference;
    * ≤ 4n/cap keys by construction). Round-15: a Generator, not an
    * array-returning expression — an all-near-identical bucket at the
    * cap emits O(cap²) matching pairs, and the array form materialized
    * them per bucket before explode (the SortedPairsGen OOM class); the
    * generator streams (id_a, id_b, hamming) rows while holding only
    * the bucket's three long[]. The O(cap²) Hamming SCAN is inherent
    * (that is what the cap bounds); only the output buffering changed.
    */
  case class HammingPairsOwned(first: Expression, second: Expression,
      third: Expression, fourth: Expression, maxHamming: Int,
      hotPacked: Array[Long])
      extends Expression with Generator with CodegenFallback {
    override def children: Seq[Expression] = Seq(first, second, third, fourth)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(first, second, third).forall(e =>
        e.dataType.isInstanceOf[ArrayType] &&
          e.dataType.asInstanceOf[ArrayType].elementType == LongType) &&
        fourth.dataType == IntegerType
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hamming_pairs_owned needs (array<bigint> x3, int), got " +
          children.map(_.dataType).mkString(", "))
    }
    override def elementSchema: StructType = new StructType()
      .add("id_a", LongType, nullable = false)
      .add("id_b", LongType, nullable = false)
      .add("hamming", LongType, nullable = false)
    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val idsV = first.eval(input)
      val hisV = second.eval(input)
      val losV = third.eval(input)
      val bandV = fourth.eval(input)
      if (idsV == null || hisV == null || losV == null || bandV == null)
        return Iterator.empty
      val idsA = idsV.asInstanceOf[ArrayData]
      val hisA = hisV.asInstanceOf[ArrayData]
      val losA = losV.asInstanceOf[ArrayData]
      val bucketBand = bandV.asInstanceOf[Int]
      val n = idsA.numElements()
      require(hisA.numElements() == n && losA.numElements() == n,
        s"hamming_pairs: posting arrays misaligned " +
          s"($n/${hisA.numElements()}/${losA.numElements()})")
      require(n <= 65535,
        s"hamming_pairs: $n-entry bucket — cap postings below 65536")
      val ids = idsA.toLongArray()
      val his = hisA.toLongArray()
      val los = losA.toLongArray()
      var v = 0
      while (v < n) {
        require(his(v) >= 0 && his(v) < 4294967296L &&
            los(v) >= 0 && los(v) < 4294967296L,
          "hamming_pairs: hashes must be 32-bit halves (aHash contract)")
        v += 1
      }
      @inline def bandOf(b: Int, hi: Long, lo: Long): Long = b match {
        case 0 => lo % 65536L
        case 1 => lo / 65536L
        case 2 => hi % 65536L
        case _ => hi / 65536L
      }
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        private var nextRow: InternalRow = null
        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && i < n - 1) {
            val ai = ids(i); val hi = his(i); val li = los(i)
            val aj = ids(j)
            if (ai != aj) {
              val hj = his(j); val lj = los(j)
              val d = java.lang.Long.bitCount(hi ^ hj) +
                java.lang.Long.bitCount(li ^ lj)
              if (d <= maxHamming) {
                // owner = first agreeing band whose bucket survived
                var owner = -1
                var b = 0
                while (owner < 0 && b < 4) {
                  val bv = bandOf(b, hi, li)
                  if (bv == bandOf(b, hj, lj) &&
                      java.util.Arrays.binarySearch(hotPacked,
                        (b.toLong << 16) | bv) < 0)
                    owner = b
                  b += 1
                }
                if (owner == bucketBand)
                  nextRow = new GenericInternalRow(Array[Any](
                    math.min(ai, aj), math.max(ai, aj), d.toLong))
              }
            }
            j += 1
            if (j == n) { i += 1; j = i + 1 }
          }
        }
        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): InternalRow = {
          val r = nextRow; advance(); r
        }
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]) =
      copy(first = newChildren(0), second = newChildren(1),
        third = newChildren(2), fourth = newChildren(3))
    // Array[Long] case-class equality is reference-based — without this,
    // two semantically identical expressions never canonicalize equal,
    // defeating subexpression reuse (and the census can be large, so
    // compare contents, not identity)
    override def equals(other: Any): Boolean = other match {
      case o: HammingPairsOwned =>
        first == o.first && second == o.second && third == o.third &&
          fourth == o.fourth && maxHamming == o.maxHamming &&
          java.util.Arrays.equals(hotPacked, o.hotPacked)
      case _ => false
    }
    // cached: planning calls hashCode repeatedly (canonicalization,
    // plan-node maps) and the census can be large at high doc counts
    private lazy val hotHash = java.util.Arrays.hashCode(hotPacked)
    override def hashCode(): Int =
      java.util.Objects.hash(first, second, third, fourth,
        Integer.valueOf(maxHamming), Integer.valueOf(hotHash))
  }

  def hamming_pairs_owned(ids: Column, his: Column, los: Column,
      bucketBand: Column, maxHamming: Int, hotPacked: Array[Long]): Column =
    GraftBridge.column(HammingPairsOwned(GraftBridge.expression(ids),
      GraftBridge.expression(his), GraftBridge.expression(los),
      GraftBridge.expression(bucketBand), maxHamming, hotPacked))

  /** Distinct k-word shingles (lowercase, whitespace-tokenized). */
  def word_shingles(text: Column, k: Int): Column = {
    require(k >= 1, s"wordshingles: k must be >= 1, got ${k}")
    ofText("wordShingles", strings, text, k)
  }

  /** Positional 60-bit k-gram hashes ([[SketchEval.gramHashSeq]]). */
  def gram_hash_seq(text: Column, k: Int): Column = {
    require(k >= 1, s"gramhashseq: k must be >= 1, got ${k}")
    ofText("gramHashSeq", longs, text, k)
  }

  /** One-pass md5-min calibration signature ([[SketchEval.md5MinhashSigs]]). */
  def md5_minhash_sigs(sset: Column, seeds: Int): Column = {
    require(seeds > 0, s"md5_minhash_sigs: seeds must be positive, got $seeds")
    sketch("md5MinhashSigs", longs, Seq(ex(sset), Literal(seeds)),
      Seq(strings, IntegerType))
  }

  /** Agreeing-position count of two long arrays ([[SketchEval.arrayMatchCount]]). */
  def array_match_count(a: Column, b: Column): Column =
    sketch("arrayMatchCount", LongType, Seq(ex(a), ex(b)), Seq(longs, longs))

  /** Merge-count of two sorted string sets ([[SketchEval.sortedIntersectCount]]). */
  def sorted_intersect_count(a: Column, b: Column): Column =
    sketch("sortedIntersectCount", LongType, Seq(ex(a), ex(b)), Seq(strings, strings))

  /** [[sorted_intersect_count]] for long arrays (packed 64-bit frame
    * hashes): exact overlap of two sorted duplicate-free long sets in
    * one codegen merge pass — no relational explode/join-back per pair.
    */
  def sorted_intersect_count_long(a: Column, b: Column): Column =
    sketch("sortedIntersectCountLong", LongType, Seq(ex(a), ex(b)), Seq(longs, longs))

  /** Exact string-set intersection count accelerated by per-element
    * hashes ([[SketchEval.hashedIntersectCount]]): inputs are
    * struct<h: long, s: string> arrays sorted by (h, s).
    */
  def hashed_intersect_count(a: Column, b: Column): Column = {
    // fields declared nullable so lambda-built structs (typed nullable
    // by the analyzer) bind without a cast; the kernel contract is
    // non-null elements (producers are transform over non-null sets),
    // and the kernel throws on a null it reads
    val hashed = ArrayType(StructType(Seq(
      StructField("h", LongType), StructField("s", StringType))))
    sketch("hashedIntersectCount", LongType, Seq(ex(a), ex(b)), Seq(hashed, hashed))
  }

  /** Rademacher random-projection values of a float-array column
    * ([[SketchEval.randProject]] — same ±1 family as [[lsh_sig]]).
    */
  def rand_project(vec: Column, nPlanes: Int): Column = {
    require(nPlanes >= 1, s"rand_project: nPlanes must be >= 1, got $nPlanes")
    sketch("randProject", doubles, Seq(ex(vec), Literal(nPlanes)), Seq(floats, IntegerType))
  }

  /** Sorted distinct winnowing fingerprints ([[SketchEval.winnow]]). */
  def winnow(text: Column, shingleK: Int, window: Int): Column = {
    // window = 0 read one past the hash array (AIOOBE mid-task); the
    // siblings (window_digests/span_stats/scrub_spans) all validate
    require(shingleK >= 1 && window >= 1,
      s"winnow: shingleK and window must be >= 1, got ($shingleK, $window)")
    ofText("winnow", strings, text, shingleK, window)
  }

  /** [nTokens, nDistinctTokens, maxBigramCount] in one pass. */
  def rep_stats(text: Column): Column = ofText("repStats", ints, text)

  /** [nWords, nBpeTokens] under a learned merge list (see SketchEval).
    * The merge list becomes two reference arrays; patterns/replacements
    * are prebuilt delimited strings so the hot loop is pure
    * String.replace.
    */
  def bpe_stats(text: Column, merges: Seq[(String, String)]): Column = {
    val D = "␟"
    val pats = merges.map { case (l, r) => D + l + D + D + r + D }.toArray
    val reps = merges.map { case (l, r) => D + l + r + D }.toArray
    withRefs("bpeStats", longs, text, StringType, pats, reps)
  }

  /** f-ascending hashed-BoW [(f, x)] rows + bias (see SketchEval). */
  def token_hash_counts(text: Column, dims: Int): Column = {
    require(dims >= 1,
      s"token_hash_counts: dims must be >= 1, got $dims") // % dims / array alloc
    ofText("tokenHashCounts", ArrayType(featureRow, containsNull = false), text, dims)
  }

  /** Per-document top-n-gram stats (see SketchEval.topgramStats). */
  def topgram_stats(text: Column): Column = ofText("topgramStats", longs, text)

  /** Per-document [(term, tf)] rows (see SketchEval.termCounts). */
  def term_counts(text: Column): Column =
    ofText("termCounts", ArrayType(strict("term" -> StringType, "tf" -> LongType),
      containsNull = false), text)

  /** [tf(term_0), …, tf(term_{m-1}), dl] for a fixed query-term list
    * (see SketchEval.queryTf) — the one-pass BM25 scoring kernel. The
    * term lookup is built once here and rides as one reference (the
    * per-row HashMap build it replaces dominated the BM25 scoring loop).
    */
  def query_tf(text: Column, terms: Seq[String]): Column =
    withRefs("queryTf", longs, text, StringType,
      new SketchEval.QueryTfLookup(terms.toArray))

  /** Per-document [(w1, w2, c)] bigram rows (see SketchEval.bigramCounts). */
  def bigram_counts(text: Column): Column =
    ofText("bigramCounts", ArrayType(strict("w1" -> StringType,
      "w2" -> StringType, "c" -> LongType), containsNull = false), text)

  /** One-pass dedup normalization (see SketchEval.normText). */
  def norm_text(text: Column): Column = ofText("normText", StringType, text)

  /** Bloom probe of a hex digest (see SketchEval.bloomHit). */
  def bloom_hit(digest: Column, bitmap: Array[Long], k: Int): Column =
    sketch("bloomHit", BooleanType, Seq(ex(digest), ref(bitmap), Literal(k)),
      Seq(StringType, refType(bitmap), IntegerType))

  /** Sparse [(f, x)] row ⋅ micro-unit weights (see SketchEval.dotMicro). */
  def dot_micro(fs: Column, weights: Array[Long]): Column =
    withRefs("dotMicro", LongType, fs, ArrayType(featureRow), weights)

  /** Sparse [(f, x)] row ⋅ double weights (see SketchEval.dotWeights). */
  def dot_weights(fs: Column, weights: Array[Double]): Column =
    withRefs("dotWeights", DoubleType, fs, ArrayType(featureRow), weights)

  /** Consecutive k-token blocks (original case), space-joined. */
  def token_blocks(text: Column, k: Int): Column = {
    require(k >= 1, s"tokenblocks: k must be >= 1, got ${k}")
    ofText("tokenBlocks", strings, text, k)
  }

  /** 16-hex md5 of every overlapping k-token window (ExactSubstr
    * primitive — see SketchEval.windowDigests).
    */
  def window_digests(text: Column, k: Int): Column = {
    require(k >= 1, s"window_digests: k must be >= 1, got $k")
    ofText("windowDigests", strings, text, k)
  }

  /** [n_removed, n_spans] from sorted flagged k-window starts over an
    * n-token doc (overlap/adjacency-merged maximal runs).
    */
  def span_stats(starts: Column, k: Int, nTokens: Column): Column = {
    require(k >= 1, s"span_stats: k must be >= 1, got $k")
    sketch("spanStats", longs, Seq(ex(starts), Literal(k), ex(nTokens)),
      Seq(ArrayType(IntegerType), IntegerType, IntegerType))
  }

  /** Text with every token covered by a flagged k-window removed
    * (single-space re-join — the shared whitespace normalization).
    */
  def scrub_spans(text: Column, starts: Column, k: Int): Column = {
    require(k >= 1, s"scrub_spans: k must be >= 1, got $k")
    sketch("scrubSpans", StringType, Seq(ex(text), ex(starts), Literal(k)),
      Seq(StringType, ArrayType(IntegerType), IntegerType))
  }

  /** [nAsciiChars, entropy] in one pass (printable-ASCII char entropy). */
  def char_entropy(text: Column): Column = ofText("charEntropy", doubles, text)

  /** Unicode NFC normalization ([[SketchEval.nfcNormalize]]) — the
    * canonical-composition cleanup every text-curation pipeline runs
    * before dedup/tokenization (decomposed `e`+U+0301 and composed `é`
    * must hash identically). ASCII fast path skips the Normalizer.
    */
  def nfc_normalize(text: Column): Column = ofText("nfcNormalize", StringType, text)

  /** Payload resize as a codegen kernel ([[SketchEval.resizePayload]])
    * — keeps the q188 stage inside whole-stage codegen where the former
    * `mapPartitions` form broke it and paid Row boxing per field
    * (round-16, VERDICT r15 #6). Target dims are plan-time constants.
    */
  def resize_payload(payload: Column, targetW: Int, targetH: Int): Column =
    sketch("resizePayload", BinaryType,
      Seq(ex(payload), Literal(targetW), Literal(targetH)),
      Seq(BinaryType, IntegerType, IntegerType))

  /** Decoded luminance stats struct ([[SketchEval.lumStats]]): (dec_w,
    * dec_h, lum_sum), null for undecodable payloads. Struct-returning so
    * ONE decode serves all three columns — three scalar kernels would
    * decode three times.
    */
  def lum_stats(payload: Column): Column =
    ofPayload("lumStats", longFields("dec_w", "dec_h", "lum_sum"), payload)

  /** Media-meta decode ([[SketchEval.decodedMeta]] — round-17, VERDICT
    * r16 #2). Null payload / null media type are legitimate INPUT VALUES
    * (the decodeStub contract returns a struct for both), so this one
    * call does not propagate nulls: they reach the kernel as Java nulls,
    * and the struct itself is never null.
    */
  def decoded_meta(payload: Column, mediaType: Column): Column =
    col(StaticInvoke(SketchEval.getClass, graft.ops.Multimodal.mediaMetaType,
      "decodedMeta", Seq(ex(payload), ex(mediaType)), Seq(BinaryType, StringType),
      propagateNull = false, returnNullable = false))

  /** Average-hash struct (hi, lo) ([[SketchEval.aHash]]): one decode
    * feeds both hash halves; null for undecodable payloads.
    */
  def a_hash(payload: Column): Column =
    ofPayload("aHash", longFields("hi", "lo"), payload)

  /** Decoded-audio feature struct (sample_rate, n_samples, peak,
    * sum_sq, zero_cross) ([[SketchEval.audioFeatures]]): ONE decode
    * feeds all five columns; null for payloads that don't parse as
    * 16-bit PCM mono.
    */
  def audio_features(payload: Column): Column =
    ofPayload("audioFeatures", longFields("sample_rate", "n_samples", "peak",
      "sum_sq", "zero_cross"), payload)

  /** Decoded-audio envelope fingerprint ([[SketchEval.audioFp]]):
    * nullable long — null for undecodable payloads.
    */
  def audio_fp(payload: Column): Column = ofPayload("audioFp", LongType, payload)

  /** Per-sampled-frame GIF stats array ([[SketchEval.gifFrameStats]]):
    * one (frame_idx, n_frames, sum_lum) entry per kept frame; null for
    * undecodable payloads (explode emits no rows). `everyN` is a
    * plan-time constant like [[resize_payload]]'s target dims.
    */
  def gif_frame_stats(payload: Column, everyN: Int): Column =
    ofPayload("gifFrameStats", ArrayType(strict("frame_idx" -> LongType,
      "n_frames" -> LongType, "sum_lum" -> LongType), containsNull = false),
      payload, Literal(everyN))

  /** Distinct per-frame aHash array ([[SketchEval.frameHashes]]): one
    * (n_frames, frame_hi, frame_lo) entry per distinct decoded frame
    * hash; null for undecodable payloads.
    */
  def frame_hashes(payload: Column): Column =
    ofPayload("frameHashes", ArrayType(strict("n_frames" -> LongType,
      "frame_hi" -> LongType, "frame_lo" -> LongType), containsNull = false),
      payload)

  /** Scene-change reduction struct (n_frames, n_cuts, first_cut,
    * activity) ([[SketchEval.sceneStats]]): one decode per container,
    * null for undecodable payloads. `threshold` is a plan-time constant.
    */
  def scene_stats(payload: Column, threshold: Long): Column =
    ofPayload("sceneStats", StructType(Seq(
      StructField("n_frames", LongType, nullable = false),
      StructField("n_cuts", LongType, nullable = false),
      StructField("first_cut", LongType, nullable = true),
      StructField("activity", LongType, nullable = false))),
      payload, Literal(threshold))

  /** Email/IPv4/phone redaction (linear hand scanners ≡ the fixed
    * regex chain — see SketchEval.piiRedact).
    */
  def pii_redact(text: Column): Column = ofText("piiRedact", StringType, text)

  /** Per-language stopword hit counts (one tokenize pass, hash-set
    * probes). The sets are built once here and ride as one reference.
    */
  def lang_hits(text: Column, lists: Array[Array[String]]): Column = {
    val sets: Array[java.util.HashSet[String]] = lists.map { ws =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add); s
    }
    withRefs("langHits", ints, text, StringType, sets)
  }

  /** Multi-probe set for an LSH signature: the bucket plus every 1-bit
    * flip (bits + 1 ints).
    */
  def lsh_probes(sig: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 32,
      s"lsh_probes: bits must be in 1..32, got $bits") // 1<<b wraps mod 32
    sketch("lshProbes", ints, Seq(ex(sig), Literal(bits)), Seq(IntegerType, IntegerType))
  }

  /** Fused sq8 dequantize-and-cosine vs a pre-dequantized query vector.
    * The quantizer (lo/hi per dimension) and query are bounded models
    * riding as reference arguments — same contract as [[ivf_assign]].
    */
  def sq8_cosine(vec: Column, lo: Array[Double], hi: Array[Double],
      q: Array[Double]): Column =
    withRefs("sq8Cosine", DoubleType, vec, floats, lo, hi, q)

  /** Product-quantization encode: array<int> of per-subspace codes. */
  def pq_encode(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    withRefs("pqEncode", ints, vec, floats, cb)

  /** ADC cosine over PQ codes via precomputed per-subspace LUTs; the
    * query norm is a [[ParamLiteral]], so a new query compiles nothing.
    */
  def pq_adc_cosine(codes: Column, dotLut: Array[Array[Double]],
      normLut: Array[Array[Double]], qNorm: Double): Column =
    sketch("pqAdcCosine", DoubleType,
      Seq(ex(codes), ref(dotLut), ref(normLut), ParamLiteral(qNorm)),
      Seq(ArrayType(IntegerType), refType(dotLut), refType(normLut), DoubleType))

  /** Prototypicality: cosine of a vector against its assigned cluster's
    * centroid (the centroid table rides as a reference argument).
    */
  def centroid_cosine(vec: Column, label: Column, labels: Array[Int],
      cents: Array[Array[Double]]): Column =
    sketch("centroidCosine", DoubleType,
      Seq(ex(vec), ex(label), ref(labels), ref(cents)),
      Seq(floats, IntegerType, refType(labels), refType(cents)))
}
