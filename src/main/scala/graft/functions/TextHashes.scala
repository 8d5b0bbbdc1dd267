package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Imperative Catalyst kernels for the dedup/fingerprint hot path.
  *
  * The declarative forms (`transform(ws, w -> conv(substring(md5(w),1,8),
  * 16,10))`, 16 stacked `array_min(transform(...))` signatures, 16
  * `aggregate(...)` bit sums) are correct but interpreted: Spark's
  * higher-order functions are CodegenFallback and evaluate their lambda
  * per ELEMENT through the expression interpreter. These expressions
  * compute the same values in one JVM pass per ROW — bit-identical to the
  * declarative forms and to the DuckDB oracle (the hash is the first 4
  * md5 bytes as an unsigned int = the first 8 hex chars as an integer).
  */
object TextHashes {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** 4 bytes of md5(bytes) starting at `off` as an unsigned 32-bit value.
    * `off` 0 = the first 8 hex chars (the ubiquitous hash32); `off` 4 =
    * hex chars 9-16 — an INDEPENDENT 32-bit family from the same digest,
    * used where two decorrelated hashes of the same token are needed
    * (e.g. the two halves of the 64-bit SimHash). */
  def md5_32_at(bytes: Array[Byte], off: Int): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
      ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)
  }

  /** First 4 bytes of md5(bytes) as an unsigned 32-bit value. */
  def md5_32(bytes: Array[Byte]): Long = md5_32_at(bytes, 0)

  /** Non-null elements of a string array, compacted. The SQL-registered
    * kernels must not NPE on hand-built arrays with null elements — the
    * rule [[WinnowFps]] already documents (r17 data-plane review #2);
    * `tokens()` never emits nulls, so this only fires on degenerate
    * inputs. A null element is treated as ABSENT, matching the
    * declarative twins (md5(NULL) is null and drops out of aggregates /
    * concat_ws skips nulls). */
  private def nonNullUtf8(a: ArrayData)
      : Array[org.apache.spark.unsafe.types.UTF8String] = {
    val n = a.numElements()
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    var k = 0
    while (i < n) {
      val u = a.getUTF8String(i)
      if (u != null) { out(k) = u; k += 1 }
      i += 1
    }
    if (k == n) out else java.util.Arrays.copyOf(out, k)
  }

  /** hash32_array(array<string>) -> array<long>: md5_32_at per element.
    * `byteOffset` 0 (default) is the standard hash32 family; 4 selects the
    * independent second family (digest bytes 4-7 = hex chars 9-16). */
  case class Hash32Array(child: Expression, byteOffset: Int = 0)
      extends UnaryExpression with KernelCodegenUnary {
    require(byteOffset >= 0 && byteOffset <= 12,
      s"byteOffset must address 4 bytes inside the 16-byte md5, got $byteOffset")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(arr: Any): Any = {
      val toks = nonNullUtf8(arr.asInstanceOf[ArrayData])
      val out = new Array[Long](toks.length)
      var i = 0
      while (i < out.length) {
        out(i) = md5_32_at(toks(i).getBytes, byteOffset)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** minhash_sigs(array<long>) -> array<long>: for each per-coordinate
    * key K, min over elements of mix32((mix32(h XOR K) + K) mod 2^32),
    * where mix32 is the public-domain two-round avalanche mixer
    * (x ^= x>>16; x *= 0x45d9f3b, twice, then x ^= x>>16 — Mueller's
    * 32-bit hash, derived by avalanche optimization; widely published).
    *
    * Family history, all MEASURED by the r12 `ngram_recall` gate against
    * exhaustive within-block ground truth: the round-3 2-independent
    * linear family (a·h+b) mod P had per-coordinate match probability
    * ~6pp BELOW the true Jaccard (2-independence provably does not give
    * minwise independence — Pătraşcu–Thorup), compounding through 8
    * bands to 0.81 observed recall where theory says 0.90; a single
    * mix32(h XOR K) round removed the mean bias but left family-to-
    * family spread (one 16-key family read −12σ, its sibling +9σ at
    * sf0.1); the double-mix with the key re-injected between rounds
    * brought BOTH families within ~1.5 binomial σ of the theoretical
    * expectation at every tested SF. All intermediates stay below 2^59
    * (inputs are 32-bit, the multiplier is 27-bit), so the identical
    * arithmetic runs exactly in DuckDB BIGINTs — the oracle twin is
    * generated from the same constants. Null on an empty array (as
    * array_min would be). */
  case class MinHashSigs(child: Expression, keys: Seq[Long])
      extends UnaryExpression with KernelCodegenUnary {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    // an EMPTY gram set has no signature: nullSafeEval returns null on
    // non-null input, so nullability must not be inherited from the child
    // — with a non-nullable child the generated path would throw where
    // the interpreted path returns null (round-8 advice)
    override def nullable: Boolean = true
    override protected def nullSafeEval(arr: Any): Any = {
      val h = arr.asInstanceOf[ArrayData]
      val n = h.numElements()
      if (n == 0) return null
      val k = keys.length
      val mins = Array.fill(k)(Long.MaxValue)
      val kArr = keys.toArray
      var i = 0
      while (i < n) {
        val hv = h.getLong(i)
        var j = 0
        while (j < k) {
          var z = hv ^ kArr(j)
          z = ((z ^ (z >>> 16)) * 73244475L) & 0xFFFFFFFFL
          z = ((z ^ (z >>> 16)) * 73244475L) & 0xFFFFFFFFL
          z = z ^ (z >>> 16)
          z = (z + kArr(j)) & 0xFFFFFFFFL
          z = ((z ^ (z >>> 16)) * 73244475L) & 0xFFFFFFFFL
          z = ((z ^ (z >>> 16)) * 73244475L) & 0xFFFFFFFFL
          z = z ^ (z >>> 16)
          if (z < mins(j)) mins(j) = z
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** simhash16(array<long>) -> long: sign-aggregated 16-bit fingerprint
    * over bits 0..15 of each element hash. */
  case class SimHash16(child: Expression)
      extends UnaryExpression with KernelCodegenUnary {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(arr: Any): Any = {
      val h = arr.asInstanceOf[ArrayData]
      val counts = new Array[Long](16)
      var i = 0
      val n = h.numElements()
      while (i < n) {
        val hv = h.getLong(i)
        var j = 0
        while (j < 16) {
          counts(j) += ((hv >> j) & 1L) * 2 - 1
          j += 1
        }
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < 16) {
        if (counts(j) > 0) fp |= 1L << j
        j += 1
      }
      fp
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** simhash_bits(array<long>, bits) -> long: [[SimHash16]] generalized to
    * any width up to 32 — bit j of the fingerprint is the sign of
    * Σ_elements (±1 by bit j of the element hash). Two 32-bit fingerprints
    * over independent hash families form the 64-bit SimHash without ever
    * touching the BIGINT sign bit on either engine. */
  case class SimHashBits(child: Expression, bits: Int)
      extends UnaryExpression with KernelCodegenUnary {
    require(bits >= 1 && bits <= 32, s"bits must be in [1,32], got $bits")
    override def dataType: DataType = LongType
    override protected def nullSafeEval(arr: Any): Any = {
      val h = arr.asInstanceOf[ArrayData]
      val counts = new Array[Long](bits)
      var i = 0
      val n = h.numElements()
      while (i < n) {
        val hv = h.getLong(i)
        var j = 0
        while (j < bits) {
          counts(j) += ((hv >> j) & 1L) * 2 - 1
          j += 1
        }
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < bits) {
        if (counts(j) > 0) fp |= 1L << j
        j += 1
      }
      fp
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** simhash64(array<string>) -> struct<sh_lo, sh_hi>: both 32-bit halves
    * of the 64-bit SimHash in ONE pass — each element is md5-digested
    * once and both 4-byte windows (bytes 0-3 and 4-7) feed their half's
    * 32 sign counters. Value-identical to `simhash_bits(hash32_array(ws),
    * 32)` + `simhash_bits(hash32_array_at(ws, 4), 32)` at half the digest
    * cost and without materializing the two hash arrays. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with KernelCodegenUnary {
    override def dataType: DataType = StructType(Seq(
      StructField("sh_lo", LongType, nullable = false),
      StructField("sh_hi", LongType, nullable = false)))
    override protected def nullSafeEval(arr: Any): Any = {
      val toks = nonNullUtf8(arr.asInstanceOf[ArrayData])
      val counts = new Array[Long](64) // 0-31 lo, 32-63 hi
      val md = digests.get()
      var i = 0
      val n = toks.length
      while (i < n) {
        md.reset()
        val d = md.digest(toks(i).getBytes)
        val lo = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val hi = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var j = 0
        while (j < 32) {
          counts(j) += ((lo >> j) & 1L) * 2 - 1
          counts(j + 32) += ((hi >> j) & 1L) * 2 - 1
          j += 1
        }
        i += 1
      }
      var shLo = 0L
      var shHi = 0L
      var j = 0
      while (j < 32) {
        if (counts(j) > 0) shLo |= 1L << j
        if (counts(j + 32) > 0) shHi |= 1L << j
        j += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](shLo, shHi))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** char_grams_distinct(string, n) -> array<string>: all distinct
    * character n-grams in first-occurrence order — identical to
    * `array_distinct(transform(sequence(1, length-n+1), i ->
    * substr(s, i, n)))` (substrings via UTF8String.substringSQL, the same
    * code-point semantics as the substr Column). */
  case class CharGramsDistinct(child: Expression, n: Int)
      extends UnaryExpression with KernelCodegenUnary {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(s: Any): Any = {
      val str = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val total = str.numChars() - n + 1
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      var i = 1
      while (i <= total) {
        seen.add(str.substringSQL(i, n))
        i += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** bpe_count(string) -> long: count of matches of the BPE-ish token
    * pattern `[a-z]+|[0-9]+|[^a-z0-9 ]` — one state-machine pass instead
    * of a java.util.regex scan (regexp_count was the whole cost of the
    * token_count row at the 100x decade; the classes are DISJOINT, so
    * greedy alternation ≡ run-length counting: each maximal a-z run = 1,
    * each maximal digit run = 1, every other non-space CODE POINT = 1,
    * spaces match nothing). Byte-level UTF-8 walk: ASCII classified
    * directly, a multi-byte lead byte counts one "other" code point and
    * its continuation bytes are skipped — exactly the per-code-point
    * semantics of Java regex and DuckDB's RE2 on the same string. */
  case class BpeCount(child: Expression)
      extends UnaryExpression with KernelCodegenUnary {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(s: Any): Any = {
      val str = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val n = str.numBytes()
      var i = 0
      var count = 0L
      var state = 0 // 0 = none/space, 1 = in a-z run, 2 = in digit run
      while (i < n) {
        val b = str.getByte(i) & 0xFF
        if (b < 0x80) {
          if (b >= 'a' && b <= 'z') {
            if (state != 1) { count += 1; state = 1 }
          } else if (b >= '0' && b <= '9') {
            if (state != 2) { count += 1; state = 2 }
          } else if (b == ' ') state = 0
          else { count += 1; state = 0 }
          i += 1
        } else {
          count += 1; state = 0
          i += 1
          while (i < n && (str.getByte(i) & 0xC0) == 0x80) i += 1
        }
      }
      count
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** The elements of a long array, sorted ascending and distinct: the
    * set form [[jaccardSorted]] merges. Sorts `a` in place. */
  private[graft] def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }

  /** |A∩B| / (|A|+|B|-|A∩B|) of two sorted distinct sets, by merge. */
  private[graft] def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** jaccard_long(array<long>, array<long>) -> double: DISTINCT-set
    * Jaccard = |A∩B| / (|A|+|B|-|A∩B|) via sort-merge (no boxing, no
    * intermediate arrays) — same value as
    * `len(list_intersect(a,b)) / (len(list_distinct(a)) +
    * len(list_distinct(b)) - len(list_intersect(a,b)))` in DuckDB. */
  case class JaccardLong(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with KernelCodegenBinary {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(l: Any, r: Any): Any =
      jaccardSorted(sortedDistinct(l.asInstanceOf[ArrayData].toLongArray()),
        sortedDistinct(r.asInstanceOf[ArrayData].toLongArray()))
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** A gram-set band index held in memory: per band j, the probe keys
    * of that band mapped to the indices of the base reps that carry them;
    * per rep, its id and its gram-hash set, sorted and distinct, stored
    * once however many bands it sits in. Built on the driver and
    * broadcast; [[NgramNearDup]] reads it on the executors. */
  final class NgramBandMap(val bands: Array[Map[String, Array[Int]]],
                           val ids: Array[Long],
                           val sets: Array[Array[Long]]) extends Serializable

  /** ngram_near_dup(probe keys, gram hashes) -> struct(n_collisions,
    * max_jaccard, example_base_doc): the banded gram-set probe of one doc
    * against a broadcast [[NgramBandMap]], in one pass. Element j of the
    * key array is the doc's band-j probe key. Every rep the key finds is
    * a candidate; a candidate counts when its Jaccard, rounded half-up to
    * 6 places as SQL `round(j, 6)` rounds, is at least `threshold`. The
    * result is the count of such (band, rep) collisions, their largest
    * rounded Jaccard and their smallest rep id, or null when no
    * candidate passes: the per-doc rollup of the equi-join form. */
  case class NgramNearDup(left: Expression, right: Expression,
      index: org.apache.spark.broadcast.Broadcast[NgramBandMap],
      threshold: Double)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with KernelCodegenBinary {
    override def dataType: DataType = StructType(Seq(
      StructField("n_collisions", LongType, nullable = false),
      StructField("max_jaccard", DoubleType, nullable = false),
      StructField("example_base_doc", LongType, nullable = false)))
    override def nullable: Boolean = true
    override protected def nullSafeEval(k: Any, h: Any): Any = {
      val keys = k.asInstanceOf[ArrayData]
      val m = index.value
      val set = sortedDistinct(h.asInstanceOf[ArrayData].toLongArray())
      var n = 0L
      var best = 0.0
      var example = Long.MaxValue
      var j = 0
      while (j < keys.numElements() && j < m.bands.length) {
        if (!keys.isNullAt(j)) {
          val reps = m.bands(j).getOrElse(keys.getUTF8String(j).toString, null)
          if (reps != null) reps.foreach { r =>
            val jac = java.math.BigDecimal.valueOf(jaccardSorted(set, m.sets(r)))
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (jac >= threshold) {
              n += 1
              best = math.max(best, jac)
              example = math.min(example, m.ids(r))
            }
          }
        }
        j += 1
      }
      if (n == 0) null
      else org.apache.spark.sql.catalyst.InternalRow(n, best, example)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** mod_filter_stats(array<long>, mod) -> struct(n_fp, fp_min, fp_max,
    * fp_sum): count/min/max/sum of the elements ≡ 0 (mod `mod`) in ONE
    * pass — identical values to the declarative
    * `filter(hs, h -> h % mod = 0)` followed by size / array_min /
    * array_max / aggregate(…, 0L, +), each of which is an interpreted
    * per-element lambda. min/max are NULL on an empty sample (as
    * array_min/array_max would be); sum is 0 (as the aggregate's seed). */
  case class ModFilterStats(child: Expression, mod: Int)
      extends UnaryExpression with KernelCodegenUnary {
    require(mod > 0, "mod must be positive")
    override def dataType: DataType = StructType(Seq(
      StructField("n_fp", LongType, nullable = false),
      StructField("fp_min", LongType, nullable = true),
      StructField("fp_max", LongType, nullable = true),
      StructField("fp_sum", LongType, nullable = false)))
    override protected def nullSafeEval(arr: Any): Any = {
      val a = arr.asInstanceOf[ArrayData]
      val n = a.numElements()
      var cnt = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var sum = 0L
      var i = 0
      while (i < n) {
        val h = a.getLong(i)
        if (h % mod == 0) {
          cnt += 1
          if (h < mn) mn = h
          if (h > mx) mx = h
          sum += h
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](cnt, if (cnt == 0) null else mn, if (cnt == 0) null else mx,
          sum))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** stopword_hits(array<string>) -> array<long>: per language-table count
    * of tokens present in that table — one pass over tokens with hashed
    * membership, same counts as `size(filter(tokens, t -> t IN (...)))`
    * per language. */
  case class StopwordHits(child: Expression, tables: Seq[Seq[String]])
      extends UnaryExpression with KernelCodegenUnary {
    @transient private lazy val sets: Array[Set[org.apache.spark.unsafe.types.UTF8String]] =
      tables.map(_.map(org.apache.spark.unsafe.types.UTF8String.fromString).toSet).toArray
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(arr: Any): Any = {
      val toks = nonNullUtf8(arr.asInstanceOf[ArrayData])
      val counts = new Array[Long](sets.length)
      var i = 0
      val n = toks.length
      while (i < n) {
        val tok = toks(i)
        var j = 0
        while (j < sets.length) {
          if (sets(j).contains(tok)) counts(j) += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(counts)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** max_count(array<string>) -> long: multiplicity of the most frequent
    * element, 0 for an empty array — one hashed pass, same value as the
    * explode → groupBy(count) → max chain (and DuckDB's
    * `list_max(map_values(list_aggregate(toks, 'histogram')))`) without
    * the two shuffles. Powers the repetition quality rule. */
  case class MaxCount(child: Expression)
      extends UnaryExpression with KernelCodegenUnary {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(arr: Any): Any = {
      val toks = nonNullUtf8(arr.asInstanceOf[ArrayData])
      val n = toks.length
      val counts =
        new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
      var best = 0L
      var i = 0
      while (i < n) {
        val c = counts.computeIfAbsent(toks(i), _ => new Array[Long](1))
        c(0) += 1
        if (c(0) > best) best = c(0)
        i += 1
      }
      best
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** word_grams_hashed(array<string>, n) -> array<long>: md5_32 of every
    * space-joined word n-gram, distinct, first-occurrence order; empty
    * array when fewer than n tokens. Identical value set to the DuckDB
    * `list_distinct(list_transform(<n-gram strings>, g -> CAST('0x' ||
    * substr(md5(g),1,8) AS BIGINT)))` twin (hash-then-distinct on both
    * sides, so a hash collision collapses identically). */
  case class WordGramsHashed(child: Expression, n: Int)
      extends UnaryExpression with KernelCodegenUnary {
    require(n > 0, "n must be positive")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(arr: Any): Any = {
      val toks = nonNullUtf8(arr.asInstanceOf[ArrayData])
      val total = toks.length - n + 1
      if (total <= 0) return new GenericArrayData(Array.emptyLongArray)
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < total) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j).toString)
          j += 1
        }
        seen.add(md5_32(
          org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString).getBytes))
        i += 1
      }
      val out = new Array[Long](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** repetition_stats(array<string>) -> struct(n_bigrams, top_bigram,
    * top_bigram_count, n_5grams, dup_5gram_occ): the Gopher-style
    * repetition signals in ONE pass over the token array — overlapping
    * word bigrams and 5-grams counted per document, the most frequent
    * bigram (ties broken by the lexicographically SMALLEST gram, matching
    * `ORDER BY cnt DESC, gram ASC`), and the number of 5-gram occurrences
    * whose gram appears more than once. Values identical to the
    * explode → groupBy → window chain without any shuffle at all:
    * repetition is a per-document property, so at 100 TB this runs at
    * scan speed inside the corpus pass instead of pushing every gram of
    * every document through an exchange. */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression with KernelCodegenUnary {
    override def dataType: DataType = StructType(Seq(
      StructField("n_bigrams", LongType, nullable = false),
      StructField("top_bigram", StringType, nullable = true),
      StructField("top_bigram_count", LongType, nullable = false),
      StructField("n_5grams", LongType, nullable = false),
      StructField("dup_5gram_occ", LongType, nullable = false)))
    override protected def nullSafeEval(arr: Any): Any = {
      val toks = nonNullUtf8(arr.asInstanceOf[ArrayData])
      val n = toks.length
      def gram(i: Int, w: Int): org.apache.spark.unsafe.types.UTF8String = {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < w) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j).toString)
          j += 1
        }
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      }
      // bigrams
      val big = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
      val nBigrams = math.max(n - 1, 0)
      var i = 0
      while (i < nBigrams) {
        big.computeIfAbsent(gram(i, 2), _ => new Array[Long](1))(0) += 1
        i += 1
      }
      var topG: org.apache.spark.unsafe.types.UTF8String = null
      var topC = 0L
      val bit = big.entrySet().iterator()
      while (bit.hasNext) {
        val e = bit.next()
        val c = e.getValue()(0)
        if (c > topC || (c == topC && topG != null &&
            e.getKey.compareTo(topG) < 0)) {
          topC = c; topG = e.getKey
        }
      }
      // 5-grams
      val five = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
      val n5 = math.max(n - 4, 0)
      i = 0
      while (i < n5) {
        five.computeIfAbsent(gram(i, 5), _ => new Array[Long](1))(0) += 1
        i += 1
      }
      var dupOcc = 0L
      val fit = five.values().iterator()
      while (fit.hasNext) {
        val c = fit.next()(0)
        if (c > 1) dupOcc += c
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](nBigrams.toLong, topG, topC, n5.toLong, dupOcc))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** nfc(string) -> string: Unicode canonical composition (NFC) via
    * `java.text.Normalizer` — the canonicalization step before any
    * cross-source text hashing ("e" + COMBINING ACUTE and precomposed
    * "é" must fingerprint identically or cross-corpus dedup silently
    * misses). Matches DuckDB's utf8proc `nfc_normalize`: both implement
    * the Unicode-standard canonical composition, so NFC output is
    * engine-independent. Fast path: `Normalizer.isNormalized` is a cheap
    * scan that skips the rewrite for already-NFC text (the overwhelming
    * majority of real corpora), keeping this near scan speed. */
  case class NfcNormalize(child: Expression)
      extends UnaryExpression with KernelCodegenUnary {
    override def dataType: DataType = StringType
    override protected def nullSafeEval(s: Any): Any = {
      val str = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val jstr = str.toString
      if (java.text.Normalizer.isNormalized(jstr,
          java.text.Normalizer.Form.NFC)) str
      else org.apache.spark.unsafe.types.UTF8String.fromString(
        java.text.Normalizer.normalize(jstr, java.text.Normalizer.Form.NFC))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** winnow_fps(array<string> toks, W, K) -> array<string>: the winnowed
    * span-fingerprint set (Schleimer/Wilkerson/Aiken 2003) in ONE
    * compiled pass per doc — value-identical to the declarative form in
    * `graft.operators.Curation.winnowFingerprints` (md5-hex window
    * hashes → K-wide sliding minimum → array_distinct), which runs on
    * Spark's INTERPRETED higher-order functions and re-slices the hash
    * array per selection index. Here:
    *
    *  - each W-token window is md5-digested once over the space-joined
    *    token bytes (the same bytes `md5(concat_ws(" ", slice(...)))`
    *    digests);
    *  - the K-wide sliding minimum is a monotonic deque — O(1) amortized
    *    per window instead of the interpreted O(K) slice+array_min;
    *  - minima compare as UNSIGNED 16-byte digests, which orders exactly
    *    like their lowercase-hex encodings (hex is a per-byte monotonic
    *    code), so hex encoding happens only for the distinct survivors;
    *  - distinct keeps first-occurrence order, as array_distinct does.
    *
    * Boundary rule as in the declarative form: fewer than K windows →
    * every window hash is kept (a doc must not go unfingerprinted);
    * fewer than W tokens → empty set. */
  case class WinnowFps(child: Expression, windowWords: Int, winnowK: Int)
      extends UnaryExpression with KernelCodegenUnary {
    require(windowWords >= 1 && winnowK >= 1)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(arr: Any): Any = {
      val a = arr.asInstanceOf[ArrayData]
      val n = a.numElements()
      val W = windowWords
      val K = winnowK
      val nw = n - W + 1
      if (nw < 1) return new GenericArrayData(Array.empty[Any])
      val md = digests.get()
      // null elements are SKIPPED, exactly as the declarative twin's
      // concat_ws does (no phantom separators) — tokens() never emits
      // nulls, but the SQL-registered winnow_fps must not NPE on a
      // hand-built array while the declarative form returns a value
      val tb = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val u = a.getUTF8String(i)
        tb(i) = if (u == null) null else u.getBytes
        i += 1
      }
      val hs = new Array[Array[Byte]](nw)
      i = 0
      while (i < nw) {
        md.reset()
        var j = 0
        var first = true
        while (j < W) {
          val t = tb(i + j)
          if (t != null) {
            if (!first) md.update(' '.toByte)
            md.update(t)
            first = false
          }
          j += 1
        }
        hs(i) = md.digest()
        i += 1
      }
      val sel = new java.util.LinkedHashSet[java.nio.ByteBuffer]()
      if (nw < K) {
        i = 0
        while (i < nw) { sel.add(java.nio.ByteBuffer.wrap(hs(i))); i += 1 }
      } else {
        // monotonic deque of indices with increasing digest values;
        // popping on >= keeps the LATEST of equal minima — the min VALUE
        // (all that is emitted) is identical either way
        val dq = new Array[Int](nw)
        var head = 0
        var tail = 0
        i = 0
        while (i < nw) {
          while (tail > head && java.util.Arrays.compareUnsigned(
              hs(dq(tail - 1)), hs(i)) >= 0) tail -= 1
          dq(tail) = i
          tail += 1
          if (dq(head) <= i - K) head += 1
          if (i >= K - 1) sel.add(java.nio.ByteBuffer.wrap(hs(dq(head))))
          i += 1
        }
      }
      val out = new Array[Any](sel.size())
      val it = sel.iterator()
      i = 0
      while (it.hasNext) {
        val d = it.next().array()
        val hex = new Array[Byte](32)
        var j = 0
        while (j < 16) {
          hex(2 * j) = HexDigits((d(j) >> 4) & 0xf)
          hex(2 * j + 1) = HexDigits(d(j) & 0xf)
          j += 1
        }
        out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(hex)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  private val HexDigits: Array[Byte] =
    "0123456789abcdef".getBytes("US-ASCII")

  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def nfc(c: Column): Column = column(NfcNormalize(expression(c)))
  def hash32_array(c: Column): Column = column(Hash32Array(expression(c)))
  def hash32_array_at(c: Column, byteOffset: Int): Column =
    column(Hash32Array(expression(c), byteOffset))
  def stopword_hits(c: Column, tables: Seq[Seq[String]]): Column =
    column(StopwordHits(expression(c), tables))
  def jaccard_long(a: Column, b: Column): Column =
    column(JaccardLong(expression(a), expression(b)))
  def ngram_near_dup(keys: Column, hgs: Column,
      index: org.apache.spark.broadcast.Broadcast[NgramBandMap],
      threshold: Double): Column =
    column(NgramNearDup(expression(keys), expression(hgs), index, threshold))
  def char_grams_distinct(c: Column, n: Int): Column =
    column(CharGramsDistinct(expression(c), n))
  def bpe_count(c: Column): Column = column(BpeCount(expression(c)))
  def mod_filter_stats(c: Column, mod: Int): Column =
    column(ModFilterStats(expression(c), mod))
  def minhash_sigs(c: Column, keys: Seq[Long]): Column =
    column(MinHashSigs(expression(c), keys))
  def simhash16(c: Column): Column = column(SimHash16(expression(c)))
  def simhash_bits(c: Column, bits: Int): Column =
    column(SimHashBits(expression(c), bits))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def max_count(c: Column): Column = column(MaxCount(expression(c)))
  def repetition_stats(c: Column): Column =
    column(RepetitionStats(expression(c)))
  def word_grams_hashed(c: Column, n: Int): Column =
    column(WordGramsHashed(expression(c), n))
  def winnow_fps(c: Column, w: Int, k: Int): Column =
    column(WinnowFps(expression(c), w, k))
}
