package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Primitive compute kernels behind the custom Catalyst expressions
  * (see [[GraftFunctions]]). Called from generated code — static,
  * allocation-free loops over Spark's unsafe array format. These
  * exist because the equivalent higher-order-function expressions
  * (`aggregate`/`zip_with`/`transform`) don't participate in codegen
  * and cost ~30× in interpreted eval on hot paths (measured on the
  * sf0.1 similarity/dedup benchmarks).
  */
object VectorKernels {

  /** Cosine similarity of two float vectors, accumulated in double in
    * one pass, same floating-point order as the HOF/DuckDB
    * formulation (sequential dot, then norms). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def vecSum(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Asymmetric-distance (ADC) score: Σ_sub lut[sub·ksub + codes[sub]].
    * The per-pair cost of a PQ scan — `m` table lookups instead of a
    * `dim`-element dot product ([[PqCodebook]] builds the per-query
    * lut). Codes beyond the lut's range score 0 (never produced by
    * [[PqCodebook.encode]]; guards codegen against malformed input). */
  def adcDot(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    val nl = lut.numElements()
    var s = 0.0; var sub = 0
    while (sub < m) {
      val slot = sub * ksub + codes.getInt(sub)
      if (slot < nl) s += lut.getDouble(slot)
      sub += 1
    }
    s
  }

  /** Signed-random-projection b-bit signature: bit p = sign of
    * Σᵢ ±vᵢ with the sign from the parity of xxhash64(p, i) —
    * bit-identical to the HOF spelling it replaces
    * (`xxhash64(p, i) & 1`, Spark's seed-42 iterative long hash),
    * but one codegen'd bits×dim loop instead of interpreted
    * nested `aggregate`/`zip_with`. */
  def srpSignature(v: ArrayData, bits: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < bits) {
      var s = 0.0
      var i = 0
      while (i < n) {
        // int inputs hash via hashInt (matches SQL xxhash64 over the
        // int sequences the HOF used)
        var h = XXH64.hashInt(p, 42L)
        h = XXH64.hashInt(i, h)
        val x = v.getFloat(i).toDouble
        s += (if ((h & 1L) == 1L) x else -x)
        i += 1
      }
      sig = (sig << 1) | (if (s > 0) 1L else 0L)
      p += 1
    }
    sig
  }

  /** WIDE signed-random-projection banding: one chunk value per band,
    * bit p = band·bitsPerBand + j hashed exactly like
    * [[srpSignature]] — the effective signature is bands×bitsPerBand
    * bits with no 64-bit packing limit. The width matters for REAL
    * near-dup thresholds: at cos ≥ 0.9 a band needs ≥16 bits before
    * unrelated pairs stop colliding (0.5¹⁶ ≈ 1.5e-5 per band), and
    * recall then needs ~32 such bands — 512 signature bits, which the
    * packed-long variant cannot express. Emitting chunks directly
    * also removes the shift/mask extraction from the query plan. */
  def srpBandChunks(v: ArrayData, bands: Int, bitsPerBand: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var chunk = 0L
      var j = 0
      while (j < bitsPerBand) {
        val p = b * bitsPerBand + j
        var s = 0.0
        var i = 0
        while (i < n) {
          var h = XXH64.hashInt(p, 42L)
          h = XXH64.hashInt(i, h)
          val x = v.getFloat(i).toDouble
          s += (if ((h & 1L) == 1L) x else -x)
          i += 1
        }
        chunk = (chunk << 1) | (if (s > 0) 1L else 0L)
        j += 1
      }
      out(b) = chunk
      b += 1
    }
    new GenericArrayData(out)
  }

  def vecL2Norm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      s += x * x; i += 1
    }
    math.sqrt(s)
  }

  private def hashString(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** MinHash signature banded to LSH bucket keys in one pass: for
    * each of `numHashes` seeded xxhash64 functions take the min over
    * shingles, then fold each group of `numHashes/bands` consecutive
    * minhashes into one band hash. Returns `bands` longs. String and
    * pre-hashed (long) shingle variants. */
  def minHashBands(shingles: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      var j = 0
      while (j < numHashes) {
        val h = hashString(s, j)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    fold(mins, numHashes, bands)
  }

  def minHashBandsLong(shingles: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val s = shingles.getLong(i)
      var j = 0
      while (j < numHashes) {
        val h = XXH64.hashLong(s, j)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    fold(mins, numHashes, bands)
  }

  /** Sorted distinct 64-bit hashes of word n-gram shingles, straight
    * from the token array: hash each token once, chain-hash each
    * n-window — no shingle string is ever materialized (the
    * `concat_ws`+`array_distinct`+`array_sort` spelling allocated
    * ~|tokens| strings per row and dominated the near-dup pipelines). */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val total = tokens.numElements()
    val m = total - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](total)
    var i = 0
    while (i < total) { th(i) = hashString(tokens.getUTF8String(i), 7L); i += 1 }
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var acc = 0x51ed270b9a7d1fbdL
      var j = 0
      while (j < n) { acc = XXH64.hashLong(th(i + j), acc); j += 1 }
      out(i) = acc
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0; i = 0
    while (i < m) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** Positional 128-bit span fingerprints for substring dedup
    * ([[graft.ops.Dedup.dedupSpans]]): one (pos, h, h2) struct per
    * k-token window, both hash lanes chain-hashed from per-token
    * hashes computed ONCE per token (two independently-seeded lanes —
    * the same construction as [[shingleHashes]], doubled). Replaces
    * the interpreted `transform(sequence(...), i ->
    * named_struct(..., xxhash64(array_join(slice(...)))))` spelling,
    * which built the k-token shingle STRING twice per position and
    * ran outside codegen. The fingerprint only needs to be injective
    * per distinct token window (grouping key — never surfaced, and
    * the oracle replays the grouping with string shingles), which
    * chained XXH64 gives at the same 128-bit collision margin as the
    * old double-xxhash64: windows are token sequences, tokens are
    * space-free, so window ↦ hash-chain is injective modulo XXH64
    * collisions (~10⁻¹⁴ expected at 10¹² shingles). */
  def spanFingerprints(tokens: ArrayData, k: Int): ArrayData = {
    val total = tokens.numElements()
    val m = total - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val t1 = new Array[Long](total)
    val t2 = new Array[Long](total)
    var i = 0
    while (i < total) {
      val s = tokens.getUTF8String(i)
      t1(i) = hashString(s, 7L)
      t2(i) = hashString(s, 0x9E3779B97F4A7C15L)
      i += 1
    }
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      var h1 = 0x51ed270b9a7d1fbdL
      var h2 = 0x2545F4914F6CDD1DL
      var j = 0
      while (j < k) {
        h1 = XXH64.hashLong(t1(i + j), h1)
        h2 = XXH64.hashLong(t2(i + j), h2)
        j += 1
      }
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i, h1, h2))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Remove every k-token span starting at a position in `spans` from
    * the token array — the [[graft.ops.Dedup.dedupSpans]] rebuild as
    * one merged-interval sweep (O(T + S log S)) instead of the
    * interpreted `filter(..., x -> NOT exists(spans, p -> ...))`
    * (O(T·S) per doc, outside codegen). Token i is dropped iff some
    * span p satisfies p ≤ i < p + k — exactly the old predicate. */
  def spanFilter(tokens: ArrayData, spans: ArrayData, k: Int): ArrayData = {
    val total = tokens.numElements()
    val s = spans.toIntArray()
    java.util.Arrays.sort(s)
    val kept = new Array[AnyRef](total)
    var w = 0
    var si = 0
    var coveredUntil = 0 // exclusive end of the merged covering interval
    var i = 0
    while (i < total) {
      while (si < s.length && s(si) <= i) {
        val e = s(si) + k
        if (e > coveredUntil) coveredUntil = e
        si += 1
      }
      if (i >= coveredUntil) { kept(w) = tokens.getUTF8String(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(kept, w).asInstanceOf[Array[Any]])
  }

  /** Winnowing-style fingerprint: the minimum 16-hex-char md5 prefix
    * over word n-gram shingles — byte-identical to the SQL
    * `min(substr(md5(shingle), 1, 16))` the DuckDB oracle runs, in
    * one kernel pass (the HOF spelling re-split the document per
    * shingle via CollapseProject inlining and md5'd in interpreted
    * eval — 228 s at sf0.1 vs ~1 s here). Null for docs shorter than
    * n words, matching the SQL left join. */
  def winnowFp(tokens: ArrayData, n: Int): UTF8String = {
    val total = tokens.numElements()
    val m = total - n + 1
    if (m <= 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder(64)
    var best: String = null
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens.getUTF8String(i + j).toString)
        j += 1
      }
      md.reset()
      val digest = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new java.lang.StringBuilder(16)
      var b = 0
      while (b < 8) { // 16 hex chars = first 8 bytes
        hex.append(Character.forDigit((digest(b) >> 4) & 0xf, 16))
        hex.append(Character.forDigit(digest(b) & 0xf, 16))
        b += 1
      }
      val h = hex.toString
      if (best == null || h.compareTo(best) < 0) best = h
      i += 1
    }
    UTF8String.fromString(best)
  }

  private def fold(mins: Array[Long], numHashes: Int, bands: Int): ArrayData = {
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0x27d4eb2f165667c5L + b
      var r = 0
      while (r < rows) { acc = XXH64.hashLong(mins(b * rows + r), acc); r += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit Charikar SimHash over the token array: per-bit ±1 votes
    * weighted by token frequency (tokens appear as often as they
    * occur), bit set iff the vote is positive. */
  def simHash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = hashString(tokens.getUTF8String(i), 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }
}

/** The coarse-quantizer model for IVF assignment/probing: the centroid
  * matrix (k × dim floats, ids sorted ascending) with precomputed L2
  * norms, shipped to executors inside the serialized plan — the
  * "broadcast centroid array" that replaces the corpus × k row
  * explosion (`join(broadcast(centroids), lit(true))` + `max_by`) with
  * one argmax loop per input row, emitting exactly one output row per
  * input row.
  *
  * Cosine per centroid is bit-identical to [[VectorKernels.cosine]]
  * (same sequential accumulation; multiplication commutes, so
  * dot(centroid, v) ≡ dot(v, centroid); centroid norms precomputed by
  * the same x² loop). Double comparisons use `java.lang.Double.compare`
  * so NaN ranks greatest — matching Spark's ordering in the
  * `max_by(struct(cdist, -centroid_id))` / TopK-aggregator spellings
  * this kernel replaces. Ties pick the lowest centroid id (ids are
  * iterated in ascending order; updates require strictly-greater).
  *
  * Size: the model is k × dim — at k=65536, dim=1024 it's 256 MB,
  * which at that scale belongs in an explicit `SparkContext.broadcast`
  * feeding a `mapPartitions`; at IVF-typical k (≤ 4096 per shard) the
  * plan-embedded reference object is the simpler, equivalent ship. */
final class CentroidIndex(val ids: Array[Long],
    val matrix: Array[Array[Float]]) extends Serializable {
  require(ids.nonEmpty, "empty centroid set")
  require(ids.length == matrix.length, "ids and matrix length mismatch")
  require((1 until ids.length).forall(i => ids(i - 1) < ids(i)),
    "centroid ids must be strictly ascending")

  private val norms: Array[Double] = matrix.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { val x = c(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  val size: Int = ids.length

  /** cos(centroid j, v) with the same FP order as the one-pass
    * cosine kernel (norms truncated to min-length on ragged input,
    * matching [[VectorKernels.cosine]] exactly). */
  private def cos(j: Int, v: ArrayData): Double = {
    val c = matrix(j)
    val n = math.min(c.length, v.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += c(i).toDouble * v.getFloat(i).toDouble; i += 1 }
    if (n == c.length && n == v.numElements()) {
      // uniform-dimension fast path: precomputed norms are exact
      var nv = 0.0; i = 0
      while (i < n) { val x = v.getFloat(i).toDouble; nv += x * x; i += 1 }
      dot / (norms(j) * math.sqrt(nv))
    } else {
      // ragged: recompute both norms over the truncated range, the
      // one-pass kernel's semantics
      var nc = 0.0; var nv = 0.0; i = 0
      while (i < n) {
        val x = c(i).toDouble; val y = v.getFloat(i).toDouble
        nc += x * x; nv += y * y; i += 1
      }
      dot / (math.sqrt(nc) * math.sqrt(nv))
    }
  }

  /** Nearest centroid id by cosine (argmax; NaN greatest, tie →
    * lowest id). One output value per input row — no row explosion. */
  def nearest(v: ArrayData): Long = {
    var bestId = ids(0)
    var bestS = cos(0, v)
    var j = 1
    while (j < matrix.length) {
      val s = cos(j, v)
      if (java.lang.Double.compare(s, bestS) > 0) { bestS = s; bestId = ids(j) }
      j += 1
    }
    bestId
  }

  /** Top-n nearest centroid ids, ordered (cosine desc, id asc) — the
    * probe set, same ordering contract as TypedAggregators.TopK.
    * Insertion sort over an n-sized buffer: n (nProbe) is tiny. */
  def nearestN(v: ArrayData, n: Int): ArrayData = {
    val cap = math.min(n, matrix.length)
    val topS = new Array[Double](cap)
    val topId = new Array[Long](cap)
    var filled = 0
    var j = 0
    while (j < matrix.length) {
      val s = cos(j, v)
      // find insert position: before the first entry this beats
      // (strictly greater score; ties keep earlier=lower id)
      if (filled < cap || java.lang.Double.compare(s, topS(filled - 1)) > 0) {
        var pos = if (filled < cap) filled else cap - 1
        while (pos > 0 && java.lang.Double.compare(s, topS(pos - 1)) > 0) {
          topS(pos) = topS(pos - 1); topId(pos) = topId(pos - 1); pos -= 1
        }
        topS(pos) = s; topId(pos) = ids(j)
        if (filled < cap) filled += 1
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(topId, filled))
  }
}

/** Character-n-gram language-profile model (the Cavnar–Trenkle
  * "N-Gram-Based Text Categorization" method, 1994 — public): each
  * language contributes a rank-ordered list of its most frequent
  * character n-grams; a gram's weight is `profileSize − rank`, and a
  * document's score for a language is the sum, over every n-gram
  * OCCURRENCE in the (lowercased) text, of that gram's weight. Latin
  * profiles use trigrams (spaces included, so word boundaries count);
  * CJK degrades to unigrams — hanzi are morpheme-level, which is the
  * standard CT adaptation. Integer arithmetic end-to-end, so the
  * DuckDB oracle reproduces scores exactly (SparkEntry generates the
  * oracle's VALUES profile from the same [[graft.ops.TextOps
  * .trigramProfiles]] data).
  *
  * Shipped to executors inside the serialized plan like
  * [[CentroidIndex]]; one table lookup per window position per gram
  * length, all languages scored in a single pass. */
final class LangProfileIndex(profiles: Seq[(String, Seq[String])])
    extends Serializable {
  val nLangs: Int = profiles.size
  require(nLangs >= 1, "empty profile set")

  /** gram → per-language weight vector. */
  private val table: java.util.HashMap[String, Array[Int]] = {
    val t = new java.util.HashMap[String, Array[Int]]()
    profiles.zipWithIndex.foreach { case ((_, grams), li) =>
      grams.zipWithIndex.foreach { case (g, gi) =>
        val w = t.computeIfAbsent(g, _ => new Array[Int](nLangs))
        w(li) += grams.size - gi
      }
    }
    t
  }

  /** Distinct gram lengths present (e.g. [1, 3]) — one window sweep
    * each. */
  private val lens: Array[Int] =
    profiles.flatMap(_._2).map(_.length).distinct.sorted.toArray

  /** Per-language scores for (already-lowercased) text. BMP-safe:
    * java code units == codepoints == DuckDB substr characters for
    * the ASCII + BMP-CJK inputs this models. */
  def scores(text: UTF8String): ArrayData = {
    val s = text.toString
    val acc = new Array[Int](nLangs)
    var li = 0
    while (li < lens.length) {
      val L = lens(li)
      var i = 0
      val last = s.length - L
      while (i <= last) {
        val w = table.get(s.substring(i, i + L))
        if (w != null) {
          var j = 0
          while (j < nLangs) { acc(j) += w(j); j += 1 }
        }
        i += 1
      }
      li += 1
    }
    new GenericArrayData(acc)
  }
}

/** Product-quantization codebook (Jégou/Douze/Schmid, "Product
  * Quantization for Nearest Neighbor Search", PAMI 2011 — public):
  * the vector space splits into `m` contiguous subspaces of `dsub`
  * dims; each subspace carries ≤ `ksub` centroids (k-means-trained),
  * and a vector encodes as `m` small codes — `m` bytes standing in
  * for `4·dsub·m` float bytes (32× at dim 64 / m 8). Query-side, a
  * per-query lookup table of sub-dot-products turns each candidate
  * score into `m` table adds ([[VectorKernels.adcDot]]) — the
  * asymmetric-distance scan that makes exhaustive ranking affordable
  * over a compressed corpus that fits in memory at 100 TB raw.
  *
  * `flat((sub·ksub + code)·dsub + i)` = coordinate `i` of centroid
  * `code` in subspace `sub`; `counts(sub)` ≤ ksub is the live
  * centroid count (Lloyd rounds may empty cells — unassigned slots
  * stay zero and are never encoded). Ships to executors inside the
  * serialized plan via `ctx.addReferenceObj`, like [[CentroidIndex]].
  */
final class PqCodebook(val dsub: Int, val ksub: Int,
    val counts: Array[Int], val flat: Array[Float]) extends Serializable {
  val m: Int = counts.length
  require(m >= 1, "empty codebook")
  require(flat.length == m * ksub * dsub, "flat length mismatch")
  require(counts.forall(c => c >= 1 && c <= ksub), "invalid live counts")

  def dim: Int = m * dsub

  /** Encode: per subspace, the L2-argmin centroid (tie → lowest
    * code). Missing trailing dims (ragged input) read as 0. */
  def encode(v: ArrayData): ArrayData = {
    val codes = new Array[Int](m)
    val nv = v.numElements()
    var sub = 0
    while (sub < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < counts(sub)) {
        val base = (sub * ksub + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val off = sub * dsub + i
          val x = (if (off < nv) v.getFloat(off).toDouble else 0.0) -
            flat(base + i).toDouble
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(sub) = best
      sub += 1
    }
    new GenericArrayData(codes)
  }

  /** Per-query ADC table: lut[sub·ksub + code] = Σᵢ q[sub·dsub+i] ·
    * centroid[i] — computed ONCE per query, reused for every
    * candidate. Dead slots stay 0 (never looked up). */
  def lut(q: ArrayData): ArrayData = {
    val t = new Array[Double](m * ksub)
    val nq = q.numElements()
    var sub = 0
    while (sub < m) {
      var c = 0
      while (c < counts(sub)) {
        val base = (sub * ksub + c) * dsub
        var s = 0.0
        var i = 0
        while (i < dsub) {
          val off = sub * dsub + i
          if (off < nq) s += q.getFloat(off).toDouble * flat(base + i).toDouble
          i += 1
        }
        t(sub * ksub + c) = s
        c += 1
      }
      sub += 1
    }
    new GenericArrayData(t)
  }
}

/** A broadcast-weights LINEAR CLASSIFIER HEAD — the inference-model
  * column operator (the spark-nlp role in the reference's clusters,
  * reference resources/spark.py:67): per row, one fused
  * `nClasses × dim` multiply-accumulate over the embedding column,
  * logits out, argmax label out. The model object rides the plan via
  * `ctx.addReferenceObj` (plan-broadcast, like [[CentroidIndex]] /
  * [[PqCodebook]]) — model-sized serialization once per executor,
  * zero per-row allocation beyond the logits array. Accumulation is
  * sequential double over float inputs (index order), so scores are
  * reproducible bit-for-bit by any engine that evaluates
  * `Σᵢ w[c][i]·x[i] + b[c]` left to right — the DuckDB oracle does
  * (`list_reduce`). An ONNX-style trained head drops in by
  * constructing this class from its weight matrix. */
final class LinearModel(val weights: Array[Array[Double]],
    val bias: Array[Double]) extends Serializable {
  require(weights.nonEmpty && weights.length == bias.length,
    s"weights ${weights.length} x dim vs bias ${bias.length}")
  val nClasses: Int = weights.length
  val dim: Int = weights(0).length

  /** All class logits for one vector (min(dim, |v|) terms). */
  def logits(v: ArrayData): ArrayData = {
    val out = new Array[Double](nClasses)
    val n = math.min(dim, v.numElements())
    var c = 0
    while (c < nClasses) {
      val w = weights(c)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getFloat(i).toDouble * w(i); i += 1 }
      out(c) = s + bias(c)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Argmax class id (first max wins — deterministic tie-break). */
  def predict(v: ArrayData): Int = {
    val l = logits(v)
    var best = 0
    var bestV = l.getDouble(0)
    var c = 1
    while (c < nClasses) {
      val x = l.getDouble(c)
      if (x > bestV) { bestV = x; best = c }
      c += 1
    }
    best
  }
}

object LinearModel {
  /** Deterministic pseudo-random head for gates/specs: integer Knuth
    * multiplicative hashing → [−0.5, 0.5), exactly reproducible in
    * SQL (`((k*2654435761) % 1000003) / 1000003.0 - 0.5` with
    * k = c·dim + i + 1). A trained model would replace this
    * constructor, nothing downstream changes. */
  def hashHead(nClasses: Int, dim: Int): LinearModel = {
    val w = Array.tabulate(nClasses, dim) { (c, i) =>
      val k = (c.toLong * dim + i + 1) * 2654435761L
      (k % 1000003L).toDouble / 1000003.0 - 0.5
    }
    val b = Array.tabulate(nClasses)(c => 0.01 * (c + 1))
    new LinearModel(w, b)
  }

  /** Load an EXPORTED trained head from a plain JSON weights file —
    * `{"weights": [[w00, w01, …], …], "bias": [b0, …]}` (row-major,
    * one row per class), the shape any training framework can dump
    * with one line (`json.dump({"weights": W.tolist(), "bias":
    * b.tolist()})`). Resolved through the Hadoop FileSystem so the
    * same call reads `file:`, HDFS or object-store paths. Numbers
    * parse as IEEE doubles — the kernel then accumulates EXACTLY what
    * the file says, so kernel-vs-driver bit-identity holds for loaded
    * weights the same as for [[hashHead]]. */
  def load(path: String, conf: org.apache.hadoop.conf.Configuration)
      : LinearModel = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val bytes = {
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(bytes)
    val wNode = root.get("weights")
    val bNode = root.get("bias")
    require(wNode != null && wNode.isArray && wNode.size() > 0,
      s"$path: missing/empty 'weights' (expected [[double, …], …])")
    require(bNode != null && bNode.isArray && bNode.size() == wNode.size(),
      s"$path: 'bias' must be an array of length ${if (wNode == null) 0 else wNode.size()}")
    val dim = wNode.get(0).size()
    val w = Array.tabulate(wNode.size()) { c =>
      val row = wNode.get(c)
      require(row.isArray && row.size() == dim,
        s"$path: weights row $c has ${row.size()} values, expected $dim")
      Array.tabulate(dim)(i => row.get(i).asDouble())
    }
    val b = Array.tabulate(bNode.size())(c => bNode.get(c).asDouble())
    new LinearModel(w, b)
  }
}
