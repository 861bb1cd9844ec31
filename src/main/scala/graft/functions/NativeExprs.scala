package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The shape of a one-argument [[NativeExprs]] expression: it declares
  * its `dataType` and `compute`, and this base evaluates it on both
  * paths. The interpreted path calls `compute` through its erased
  * bridge. The generated code embeds the expression as one reference
  * object and calls its `compute` on the child's Java value. The
  * contract of `compute` is in the [[NativeExprs]] header. */
abstract class NativeUnaryExpr[I, O] extends UnaryExpression {
  def compute(in: I): O
  override protected def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[I])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(nodeName, this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
}

/** [[NativeUnaryExpr]] for a two-argument expression. */
abstract class NativeBinaryExpr[L, R, O] extends BinaryExpression {
  def compute(l: L, r: R): O
  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[L], r.asInstanceOf[R])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(nodeName, this)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
  }
}

/** Native Catalyst expressions for the hot per-row loops of the dedup /
  * similarity operators.
  *
  * Why: Spark's higher-order array functions (transform/aggregate/
  * zip_with) are evaluated interpreted, one Catalyst expression tree
  * walk per element. A 128-permutation MinHash over ~400 shingles costs
  * 51k interpreted evaluations per row that way. These expressions do
  * the same math in a tight JVM loop over the unsafe array data —
  * 10-40× faster — while staying real Catalyst `Expression`s: null
  * semantics, column pruning, and filter pushdown around them are
  * unaffected. (Preference order per the Spark-first contract: builtin
  * functions > custom Expression > UDF; these are the middle tier,
  * used only where the builtin form is quadratic-in-practice.)
  *
  * Every expression but [[DotProductExpr]] extends [[NativeUnaryExpr]]
  * or [[NativeBinaryExpr]] and keeps only its fields, `dataType`,
  * `compute`, private helpers and the child copy. The contract of
  * `compute`:
  *  - it is public (the generated code, another class, calls it);
  *  - its argument and result are the Java types of the children's and
  *    the expression's data types (`UTF8String`, `ArrayData`,
  *    `InternalRow`, or a primitive);
  *  - a primitive result is declared as the Scala primitive (`Double`,
  *    `Long`, `Int`, `Boolean`), so the generated assignment binds to the
  *    subclass's own `compute` and nothing is boxed.
  * Only [[DotProductExpr]] writes its own codegen: its loop is inlined
  * into the generated Java. */
object NativeExprs {

  /** splitmix64 finalizer — the per-permutation mixer. */
  @inline private[functions] def mix64(z0: Long): Long = {
    var z = z0
    z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33; z *= 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** FNV-1a 64 over UTF-8 bytes — the base shingle/token hash. */
  @inline private[functions] def fnv64(bytes: Array[Byte]): Long =
    fnv64(bytes, 0, bytes.length)

  @inline private[functions] def fnv64(bytes: Array[Byte], off: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var b = off
    val end = off + len
    while (b < end) { h ^= bytes(b) & 0xffL; h *= 0x100000001b3L; b += 1 }
    h
  }

  /** MinHash signature: element j = min over the input string array of
    * mix64(fnv64(s) + j*GOLDEN). One pass, H mins updated per element. */
  case class MinHashSigExpr(child: Expression, numHashes: Int)
      extends NativeUnaryExpr[ArrayData, ArrayData] {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    def compute(arr: ArrayData): ArrayData = {
      val mins = Array.fill(numHashes)(Long.MaxValue)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val base = fnv64(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < numHashes) {
          val x = mix64(base + j * 0x9e3779b97f4a7c15L)
          if (x < mins(j)) mins(j) = x
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
      copy(child = newChild)
  }

  /** Shared min-signature kernel of [[MinHashSigTextExpr]] and
    * [[MinHashBandBucketsExpr]] — the signature computed STRAIGHT from
    * the text: the k-char windows are hashed in place (byte windows on
    * ASCII text — one `getBytes` per row, zero per-window allocation;
    * code-point windows otherwise), so no shingle array is ever
    * materialized and no interpreted substr-per-window transform runs.
    * Identical output to `MinHashSigExpr(charShingles(text, k))`:
    * duplicate windows cannot change a minimum, so skipping the
    * distinct is value-neutral. Texts shorter than k hash one (short)
    * window — charShingles parity. */
  private[functions] def minhashMins(s: UTF8String,
                                     k: Int, numHashes: Int): Array[Long] = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    @inline def update(base: Long): Unit = {
      var j = 0
      while (j < numHashes) {
        val x = mix64(base + j * 0x9e3779b97f4a7c15L)
        if (x < mins(j)) mins(j) = x
        j += 1
      }
    }
    val nChars = s.numChars()
    val bytes = s.getBytes
    if (bytes.length == nChars) { // pure ASCII: byte windows == char windows
      val windows = math.max(1, nChars - k + 1)
      var i = 0
      while (i < windows) {
        update(fnv64(bytes, i, math.min(k, nChars - i)))
        i += 1
      }
    } else {
      val windows = math.max(1, nChars - k + 1)
      var i = 0
      while (i < windows) {
        update(fnv64(s.substring(i, math.min(i + k, nChars)).getBytes))
        i += 1
      }
    }
    mins
  }

  case class MinHashSigTextExpr(child: Expression, k: Int, numHashes: Int)
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    def compute(s: UTF8String): ArrayData =
      new GenericArrayData(minhashMins(s, k, numHashes))
    override protected def withNewChildInternal(newChild: Expression): MinHashSigTextExpr =
      copy(child = newChild)
  }

  /** Fused text → LSH band buckets: the minhash signature and the
    * banding collapse into ONE native pass — no 128-long signature
    * array is materialized, cached, or re-read, and the interpreted
    * per-band `transform` of the Column-form banding disappears.
    * Element b is the bucket key of band b (band id = array position,
    * ready for posexplode). Bucket derivation is BIT-IDENTICAL to
    * `TextFunctions.lshBands` over `minhashSigTextNative`:
    * xxhash64(seed 42) of the comma-joined decimal minhashes of the
    * band — so candidate sets (and every downstream gate) are
    * unchanged. */
  case class MinHashBandBucketsExpr(child: Expression, k: Int, numHashes: Int,
                                    bands: Int, rowsPerBand: Int)
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    require(bands * rowsPerBand <= numHashes,
      s"bands($bands) x rowsPerBand($rowsPerBand) exceeds numHashes($numHashes)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    def compute(s: UTF8String): ArrayData = {
      val mins = minhashMins(s, k, numHashes)
      val out = new Array[Long](bands)
      val sb = new java.lang.StringBuilder(rowsPerBand * 21)
      var b = 0
      while (b < bands) {
        sb.setLength(0)
        var r = 0
        while (r < rowsPerBand) {
          if (r > 0) sb.append(',')
          sb.append(mins(b * rowsPerBand + r))
          r += 1
        }
        val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out(b) = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
        b += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): MinHashBandBucketsExpr =
      copy(child = newChild)
  }

  /** Sequential-order dot product of two array<double> columns (same
    * left-to-right summation as `aggregate(zip_with(...))` and DuckDB's
    * list_sum, so cross-engine doubles stay bit-identical).
    *
    * The one expression with its own `doGenCode`: the loop is inlined
    * into the whole-stage-generated Java — no per-row InternalRow
    * materialization, no interpreted dispatch — per the Spark-first
    * contract ("a native Catalyst Expression WITH doGenCode beats a
    * Scala UDF"). */
  case class DotProductExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProductExpr =
      copy(left = newLeft, right = newRight)
  }

  /** Fused hashed-linear classifier scoring — the
    * TextFunctions.hashedLinearScore DEFAULT path in one native pass:
    * tokenize on \s+ runs, md5 each token, bucket = first-60-bits %
    * dim, milli-weight = bucket % 2001 - 1000, integer sum, score =
    * round(sum / (1000·n), 6); empty text scores 0. Bit-identical to
    * the Column formulation (filter(split(trim(text))) →
    * transform(md5 → substr → conv → %) → aggregate): the whitespace
    * predicate is regex \s exactly (space + \t\n\x0B\f\r), the 60-bit
    * value is the first 15 hex chars parsed straight from the digest
    * bytes (no hex string, no conv string-parse), one per-thread
    * digest reused across tokens, the divide-then-round matches
    * Spark's Round(HALF_UP on BigDecimal.valueOf). The Column chain
    * paid per-token hex-string + conv + per-element expression
    * overhead — ~100 µs/doc at the sf10 rehearsal, md5-string-bound,
    * the same reason the round-5 minhash rewrite fused its text path. */
  case class HashedLinearScoreExpr(child: Expression, dim: Int)
      extends NativeUnaryExpr[UTF8String, Double] {
    require(dim > 0, s"dim=$dim")
    override def dataType: DataType = DoubleType
    def compute(text: UTF8String): Double = {
      var n = 0
      var ms = 0L
      foreachGramHash(text.toString, 1) { v => ms += (v % dim) % 2001 - 1000; n += 1 }
      if (n == 0) 0.0
      else java.math.BigDecimal.valueOf(ms.toDouble / (n * 1000.0))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    override protected def withNewChildInternal(newChild: Expression): HashedLinearScoreExpr =
      copy(child = newChild)
  }

  /** [[HashedLinearScoreExpr]] with TRAINED weights: the same
    * tokenize → md5-bucket → integer milli-weight sum → length
    * normalization, but the per-bucket weight comes from a model
    * array carried as ONE reference object (broadcast with the task
    * closure — `weights.length` buckets × 4 B; a fastText-sized 256k
    * table is 1 MiB). Setting `weights(i) = i % 2001 - 1000`
    * reproduces the hash-derived stand-in bit-for-bit (spec-pinned),
    * which is the documented swap-in contract: training changes the
    * array contents, never the plan shape. */
  case class WeightedLinearScoreExpr(child: Expression, weights: Array[Int])
      extends NativeUnaryExpr[UTF8String, Double] {
    require(weights.nonEmpty, "weights must be non-empty")
    override def dataType: DataType = DoubleType
    def compute(text: UTF8String): Double = {
      var n = 0
      var ms = 0L
      foreachGramHash(text.toString, 1) { v => ms += weights((v % weights.length).toInt); n += 1 }
      if (n == 0) 0.0
      else java.math.BigDecimal.valueOf(ms.toDouble / (n * 1000.0))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    override protected def withNewChildInternal(newChild: Expression): WeightedLinearScoreExpr =
      copy(child = newChild)
  }

  /** Fused duplicate-span hashing: ONE tokenize pass emits the
    * DISTINCT md5-15 hashes of every sliding `n`-token window — the
    * per-row half of [[graft.operators.Dedup.duplicateSpanPairs]].
    * Bit-identical to the Column chain `array_distinct(transform(
    * wordNgrams(tokens, n), g -> conv(substr(md5(g),1,15),16,10)
    * .cast(long)))`: same `split(trim(text), "\s+")` tokenization
    * (including the empty-string token of whitespace-only docs —
    * which can never fill an n≥2 window alone), windows joined with
    * single spaces, digest of the UTF-8 bytes, high 60 bits of
    * digest bytes 0–7. The Column form pays per-window string
    * concat + hex-string conv parsing on top of the digest; this
    * pass builds each window's bytes once and hashes straight off
    * the digest — the same fusion arc as MinHash/BM25/classifier. */
  case class SpanHashesExpr(child: Expression, n: Int)
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    require(n >= 1, s"n=$n")
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    def compute(text: UTF8String): ArrayData = {
      val toks = columnTokens(text)
      if (toks.length < n) return new GenericArrayData(Array.empty[Any])
      val md = md5Digest()
      val words = java.util.Arrays.asList(toks: _*)
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i + n <= toks.length) {
        seen.add(md5High60(md, String.join(" ", words.subList(i, i + n))))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): SpanHashesExpr =
      copy(child = newChild)
  }

  /** All positional q-gram TOKENS of a string as 64-bit hashes, for
    * the edit-distance join's count/prefix filter
    * ([[graft.operators.Dedup.editDistancePairs]]). The c-th
    * occurrence (0-based) of gram g maps to `mix64(fnv64(g) + c)` —
    * occurrence numbering turns the q-gram MULTISET into a set, so
    * the ED-Join count-filter bound (one edit destroys at most q
    * grams, hence at most q tokens) transfers to plain set
    * intersection, and hash collisions can only MERGE tokens
    * consistently across strings (candidates grow, never shrink —
    * completeness is preserved; see the operator's scaladoc for the
    * bound). Grams are code-point windows (`UTF8String.substring`),
    * matching the code-point edit model of `levenshtein`. Strings
    * shorter than q yield an empty array. */
  case class PosQGramTokensExpr(child: Expression, q: Int)
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    require(q >= 1, s"q=$q")
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    def compute(text: UTF8String): ArrayData = {
      val nChars = text.numChars()
      if (nChars < q) return new GenericArrayData(Array.empty[Any])
      val nTok = nChars - q + 1
      val occ = new java.util.HashMap[java.lang.Long, Integer](nTok * 2)
      val out = new Array[Any](nTok)
      var i = 0
      while (i < nTok) {
        val g = java.lang.Long.valueOf(fnv64(text.substring(i, i + q).getBytes))
        val c = occ.merge(g, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
        out(i) = mix64(g.longValue + (c.intValue - 1))
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): PosQGramTokensExpr =
      copy(child = newChild)
  }

  /** Exact long margin of the hashed-feature model in ONE tokenize
    * pass: `w(dim) + Σ_tokens w(bucket(tok))` over micro-unit long
    * weights (`weights.length = dim + 1`, last slot = intercept,
    * counted once). The weight array rides as ONE reference object —
    * a fastText-sized 262k-bucket model is 2 MiB shipped once per
    * task, NOT a 262k-element plan literal — which is what lets
    * [[graft.operators.Training]] hold any `dim`. Value-identical to
    * `Σ_j w_j·x_j` over the hashed token counts `x_j` by
    * distributivity (integer adds commute); same md5-15 bucket law and
    * empty-token-free tokenization as [[NgramBucketsExpr]] at n = 1. */
  case class HashedMarginExpr(child: Expression, weights: Array[Long])
      extends NativeUnaryExpr[UTF8String, Long] {
    require(weights.length >= 2, s"weights=${weights.length}")
    override def dataType: DataType = LongType
    def compute(text: UTF8String): Long = {
      val dim = weights.length - 1
      var m = weights(dim) // intercept
      foreachGramHash(text.toString, 1)(v => m += weights((v % dim).toInt))
      m
    }
    override protected def withNewChildInternal(newChild: Expression): HashedMarginExpr =
      copy(child = newChild)
  }

  /** K class margins in ONE tokenize pass: row k of `weights` is a
    * [[HashedMarginExpr]] weight vector (dim+1 micro-longs, last =
    * intercept); every token's bucket is hashed once and added into
    * all K accumulators — the multiclass face of the family, used by
    * the softmax trainer. Output: array<long> length K. */
  case class HashedMarginsExpr(child: Expression, weights: Array[Array[Long]])
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    require(weights.nonEmpty && weights.forall(_.length == weights(0).length)
      && weights(0).length >= 2, "ragged or empty weights")
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    def compute(text: UTF8String): ArrayData = {
      val k = weights.length
      val dim = weights(0).length - 1
      val m = Array.tabulate(k)(c => weights(c)(dim)) // intercepts
      foreachGramHash(text.toString, 1) { v =>
        val j = (v % dim).toInt
        var c = 0
        while (c < k) { m(c) += weights(c)(j); c += 1 }
      }
      new GenericArrayData(m.map(x => x: Any))
    }
    override protected def withNewChildInternal(newChild: Expression): HashedMarginsExpr =
      copy(child = newChild)
  }

  /** Hashed word n-gram buckets: ONE tokenize pass emits the md5
    * bucket of every n consecutive tokens joined by a single space; at
    * n = 1 these are the per-token buckets the trainer explodes
    * (`hashedBucketsNative`). Bucket law is the family's md5 law on
    * the JOINED gram string (`conv(substr(md5(gram),1,15),16,10) %
    * dim` — the high 60 bits of digest bytes 0–7), so the DuckDB
    * oracle form is `CAST(concat('0x', substr(md5(concat(t1, ' ',
    * t2)), 1, 15)) AS BIGINT) % dim`. Docs with fewer than n tokens
    * emit an empty array. Feature side of the DSIR importance-weight
    * family ([[graft.operators.Curation.dsirLogWeights]]). */
  case class NgramBucketsExpr(child: Expression, n: Int, dim: Int)
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    require(n > 0, s"n=$n")
    require(dim > 0, s"dim=$dim")
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    def compute(text: UTF8String): ArrayData = {
      val out = new java.util.ArrayList[Any]()
      foreachGramHash(text.toString, n)(v => out.add(java.lang.Long.valueOf(v % dim)))
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): NgramBucketsExpr =
      copy(child = newChild)
  }

  /** `split(trim(text), "\s+")`, the Column tokenization: a space-only
    * trim, then a Java regex split with limit -1, so a text that starts
    * with a tab keeps a leading empty token and "" gives `[""]`. */
  private def columnTokens(text: UTF8String): Array[String] =
    text.trim().toString.split("\\s+", -1)

  /** The md5 family's whitespace: regex `\s` exactly (space and
    * `\t\n\x0B\f\r`). */
  @inline private def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** The md5 family's 60-bit value of a string: the high 60 bits of
    * digest bytes 0–7 of its UTF-8 bytes, which is the first 15 hex
    * chars of `md5(s)` (`conv(substr(md5(s), 1, 15), 16, 10)`) read
    * straight off the digest, with no hex string. */
  private def md5High60(md: java.security.MessageDigest, s: String): Long = {
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
    v >>> 4
  }

  /** The md5 family's token walk: the whitespace-run tokens of `s` (no
    * empty token), each run of `n` consecutive tokens joined by one
    * space, and `emit` gets each gram's [[md5High60]], in order. A text
    * with fewer than `n` tokens emits nothing. One per-thread digest
    * serves every gram. */
  private def foreachGramHash(s: String, n: Int)(emit: Long => Unit): Unit = {
    val md = md5Digest()
    val gram = if (n > 1) new java.util.ArrayDeque[String](n) else null
    val len = s.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val tok = s.substring(start, i)
        if (n == 1) emit(md5High60(md, tok))
        else {
          gram.addLast(tok)
          if (gram.size > n) gram.removeFirst()
          if (gram.size == n) emit(md5High60(md, String.join(" ", gram)))
        }
      }
    }
  }

  /** Per-document n-gram weight sum: the SCORING side of the DSIR
    * family — [[NgramBucketsExpr]]'s tokenize → gram → md5-bucket
    * pass fused with an integer weight fold, the bucket weights
    * carried as ONE reference object (`lamMicro.length` = dim longs,
    * broadcast with the task closure — 512 KiB at dim 65536). Output
    * is the raw integer micro-unit sum (order-independent,
    * cross-engine stable; no length normalization — a log-likelihood
    * ratio is a sum, not a mean). Docs with fewer than n tokens score
    * 0. */
  case class NgramWeightSumExpr(child: Expression, n: Int,
                                lamMicro: Array[Long])
      extends NativeUnaryExpr[UTF8String, Long] {
    require(n > 0, s"n=$n")
    require(lamMicro.nonEmpty, "lamMicro must be non-empty")
    override def dataType: DataType = LongType
    def compute(text: UTF8String): Long = {
      var sum = 0L
      foreachGramHash(text.toString, n)(v => sum += lamMicro((v % lamMicro.length).toInt))
      sum
    }
    override protected def withNewChildInternal(newChild: Expression): NgramWeightSumExpr =
      copy(child = newChild)
  }

  /** Fused BM25 scoring: ONE tokenize pass per document scores EVERY
    * query — tf counting for all query terms rides a single hash-map
    * lookup per token, then per query the quantized contribution sum
    * `Σ_t round(idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))·1e6)` folds
    * in integer micro-units (order-independent, cross-engine stable).
    * Tokenization is EXACTLY the Column law `split(trim(text), "\s+")`
    * (space-only trim, Java regex split, so the empty-string token of
    * whitespace-only docs counts in dl just as the oracle's does).
    * Arithmetic parity with the DuckDB oracle is per-operation:
    * `(1−b)+((b·dl)/avgdl)` then `·k1`; `((idf·tf)·(k1+1))/(tf+dln)`
    * then `·1e6`, rounded HALF_UP via BigDecimal — the same law Spark
    * `round` applies. The unrolled Column form (15 `array_remove`
    * scans per row) cost 12.6 s at sf1; this pass costs ~1 s.
    * Output: array<struct<query_id: long, s: long>> (micro-units),
    * one entry per query in the given order. */
  case class Bm25ScoresExpr(child: Expression,
      terms: Seq[(Long, String, Double)],
      k1: Double, b: Double, avgdl: Double) extends NativeUnaryExpr[UTF8String, ArrayData] {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("s", LongType, nullable = false))), containsNull = false)
    @transient private lazy val qids: Array[Long] =
      terms.map(_._1).distinct.toArray
    // one tf slot per DISTINCT term string; a term shared by several
    // queries is counted once and read by each of them
    @transient private lazy val termIdx: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      terms.foreach { t => if (!m.containsKey(t._2)) m.put(t._2, m.size) }
      m
    }
    // per query: its (tf slot, idf) entries
    @transient private lazy val byQuery: Array[Array[(Int, Double)]] =
      qids.map(q => terms.collect {
        case (tq, t, idf) if tq == q => (termIdx.get(t).intValue(), idf)
      }.toArray)
    def compute(text: UTF8String): ArrayData = {
      val toks = columnTokens(text)
      val dl = toks.length
      val tfs = new Array[Int](termIdx.size)
      var i = 0
      while (i < dl) {
        val idx = termIdx.get(toks(i))
        if (idx != null) tfs(idx.intValue()) += 1
        i += 1
      }
      val dln = k1 * (1.0 - b + (b * dl) / avgdl)
      val out = new Array[Any](qids.length)
      var q = 0
      while (q < qids.length) {
        var sum = 0L
        val idxs = byQuery(q)
        var j = 0
        while (j < idxs.length) {
          val e = idxs(j)
          val tf = tfs(e._1).toDouble
          sum += graft.functions.Quantize.quantizeDouble(
            e._2 * tf * (k1 + 1.0) / (tf + dln), 6)
          j += 1
        }
        out(q) = InternalRow(qids(q), sum)
        q += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Bm25ScoresExpr =
      copy(child = newChild)
  }

  /** Fused HLL (reg, rho) for the md5-based 32-bit hash — the
    * Sketches per-row path in ONE native pass. Bit-identical to the
    * Column chain `md5Hash32(key)` (= conv of the first 8 md5 hex
    * chars: the first 4 digest bytes, big-endian unsigned) followed
    * by `instr(lpad(bin(low), w, '0'), '1')` rho: the hex parse
    * comes straight off the digest bytes and the first-one index is
    * w - floor(log2(low)) via numberOfLeadingZeros (low = 0 → w+1) —
    * integer ops replacing 6 string allocations per row (md5 hex,
    * substring, conv parse, bin, lpad, instr). Output
    * struct(reg: long, rho: int); the register aggregation above it
    * is unchanged, so the sketch (and its DuckDB oracle, which keeps
    * the lpad/bin/instr form) is unaffected. */
  case class HllRegRhoExpr(child: Expression, p: Int)
      extends NativeUnaryExpr[UTF8String, InternalRow] {
    require(p >= 4 && p <= 16, s"p=$p out of range")
    private val w = 32 - p
    override def dataType: DataType = StructType(Seq(
      StructField("reg", LongType, nullable = false),
      StructField("rho", IntegerType, nullable = false)))
    def compute(key: UTF8String): InternalRow = {
      val dig = md5Digest().digest(key.getBytes)
      val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      val reg = h >>> w
      val low = h & ((1L << w) - 1)
      val rho =
        if (low == 0L) w + 1
        else w - (63 - java.lang.Long.numberOfLeadingZeros(low))
      InternalRow(reg, rho)
    }
    override protected def withNewChildInternal(newChild: Expression): HllRegRhoExpr =
      copy(child = newChild)
  }

  /** Nearest-centroid id under the k-means argmin law: score(j) =
    * dot(c_j, c_j) - 2·dot(v, c_j) (the squared-L2 argmin, dot(v,v)
    * constant per row), both dots accumulated in ascending-dim order,
    * ties to the LOWER cluster id — bit-identical to the
    * struct-array/array_min formulation Clustering.assign previously
    * built from k separate literal expressions. One compact loop
    * regardless of k: the per-centroid-literal expansion was fine at
    * k=8 but a codegen/analysis explosion at the derived
    * k ~ n/targetClusterSize of semantic dedup (k=240 at the sf3
    * rehearsal; thousands web-scale). The centroid matrix rides the
    * expression as one reference object, not k typedLits. */
  case class ArgminCentroidExpr(child: Expression, centroids: Seq[Seq[Double]],
                                offset: Int = 0)
      extends NativeUnaryExpr[ArrayData, Int] {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(offset >= 0, s"offset=$offset")
    override def dataType: DataType = IntegerType
    private lazy val cs: Array[Array[Double]] = centroids.map(_.toArray).toArray
    // dot(c,c) folded once, same sequential order as the executors'
    // per-row dots (and as the previous driver-side foldLeft).
    private lazy val dcc: Array[Double] = cs.map { c =>
      var a = 0.0; var i = 0
      while (i < c.length) { a += c(i) * c(i); i += 1 }
      a
    }
    /** `offset` reads the dot against v[offset ..) — the PQ subspace
      * form: argmin over codebook entries of a vector SLICE without
      * materializing the slice (bit-identical to
      * `ArgminCentroidExpr(slice(v, offset+1, subDim), cb)`: the dot
      * accumulates over min(len-offset, |c|) elements in the same
      * ascending order, exactly as the slice's copy would). */
    def compute(v: ArrayData): Int = {
      var best = 0
      var bestS = Double.PositiveInfinity
      var j = 0
      while (j < cs.length) {
        val c = cs(j)
        val n = math.min(v.numElements() - offset, c.length)
        var acc = 0.0
        var i = 0
        while (i < n) { acc += v.getDouble(offset + i) * c(i); i += 1 }
        val s = dcc(j) - 2.0 * acc
        if (s < bestS) { bestS = s; best = j }
        j += 1
      }
      best
    }
    override protected def withNewChildInternal(newChild: Expression): ArgminCentroidExpr =
      copy(child = newChild)
  }

  /** Per-thread MessageDigest — expressions run in task threads; this
    * avoids a getInstance allocation per row. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private[functions] def md5Digest(): java.security.MessageDigest = {
    val md = md5Local.get()
    md.reset()
    md
  }

  /** Lowercase hex of an MD5 digest (matches DuckDB's md5()). */
  private[functions] def md5Hex(dig: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    var b = 0
    while (b < dig.length) {
      val v = dig(b) & 0xff
      sb.append(Character.forDigit(v >>> 4, 16)).append(Character.forDigit(v & 0xf, 16))
      b += 1
    }
    sb.toString
  }

  /** 64-bit SimHash over a string array using the first 8 bytes of each
    * element's MD5 as the per-token hash — bit b (0 = MSB of digest
    * byte 0) is voted on across tokens. MD5 is computable in ANSI SQL
    * engines, so a DuckDB oracle can reproduce the hash bit-for-bit
    * (bit b of the hex form = bit 3-(b mod 4) of hex digit b/4). The
    * result packs bit b at position 63-b (big-endian byte order). */
  case class SimHashMd5Expr(child: Expression)
      extends NativeUnaryExpr[ArrayData, Long] {
    override def dataType: DataType = LongType
    def compute(arr: ArrayData): Long = {
      val counts = new Array[Int](64)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val d = md5Digest().digest(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((d(b >> 3) >> (7 - (b & 7))) & 1) == 1) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) out |= (1L << (63 - b)); b += 1 }
      out
    }
    override protected def withNewChildInternal(newChild: Expression): SimHashMd5Expr =
      copy(child = newChild)
  }

  /** Dot of `v` with Lehmer-LCG direction `j` of `seed`, summed in
    * ascending d: component (seed, j, d) is (h2 % 1000)/1000 - 0.5, with
    * h2 two steps of the multiplier-48271 LCG modulo 2^31 - 1. The
    * direction law of [[HyperplaneBucketLcgExpr]] and
    * [[RandomProjectionLcgExpr]]. */
  private def lcgDot(v: ArrayData, seed: Long, j: Int): Double = {
    val M = 2147483647L // 2^31 - 1
    val n = v.numElements()
    var dot = 0.0
    var d = 0
    while (d < n) {
      val x = Math.floorMod(seed * 1000003L + j * 8191L + d * 127L + 1L, M)
      val h2 = (48271L * ((48271L * x) % M)) % M
      dot += v.getDouble(d) * ((h2 % 1000L).toDouble / 1000.0 - 0.5)
      d += 1
    }
    dot
  }

  /** Random-hyperplane LSH bucket of an array<double> vector: bit j of
    * the result is the sign of <v, h_j>. The hyperplane components come
    * from a Lehmer LCG (modulus 2^31-1, multiplier 48271) on the
    * (seed, plane, dim) triple — no RNG state, identical on every
    * executor, and pure integer arithmetic that an ANSI SQL oracle can
    * evaluate exactly. Component grid: (h % 1000)/1000 - 0.5. The dot
    * product accumulates sequentially over dims (same order as DuckDB's
    * list_sum), so the sign — and hence the bucket — is bit-identical
    * cross-engine. */
  case class HyperplaneBucketLcgExpr(child: Expression, bits: Int, seed: Long)
      extends NativeUnaryExpr[ArrayData, Long] {
    override def dataType: DataType = LongType
    def compute(v: ArrayData): Long = {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        if (lcgDot(v, seed, j) > 0) bucket |= (1L << j)
        j += 1
      }
      bucket
    }
    override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketLcgExpr =
      copy(child = newChild)
  }

  /** Banded Levenshtein distance with a threshold — value-identical to
    * the builtin `levenshtein(l, r, k)` (exact code-point edit
    * distance if <= k, else -1; null in, null out), restructured for
    * the ED-join's verify loop where per-candidate cost is the whole
    * stage (§1.2 step 2):
    *
    *  - common prefix AND suffix are stripped before the DP —
    *    edit distance is invariant under shared affixes, and near-dup
    *    titles share most of both, so the DP usually runs on a
    *    fragment (often empty: equal strings never touch the matrix);
    *  - the length band is re-checked on the STRIPPED remainders
    *    (|n - m| > k bails before any allocation);
    *  - the DP itself is Ukkonen-banded (only the 2k+1 diagonal
    *    band is computed) with a per-row minimum early exit: the row
    *    minimum is non-decreasing in i, so a row whose reachable
    *    cells all exceed k proves the pair fails — candidates the
    *    filter stack lets through but the DP would reject at k+1 cost
    *    O(k·(rows so far)), never O(n·m).
    *
    * Early exits only reject pairs whose distance provably exceeds k
    * (exact-DP facts, not heuristics), so the verified pair set — and
    * the exact distances on survivors — are unchanged. ASCII inputs
    * compare raw UTF-8 bytes; any non-ASCII input falls back to a
    * code-point array (the same edit model the builtin uses). */
  case class LevenshteinBandedExpr(left: Expression, right: Expression, k: Int)
      extends NativeBinaryExpr[UTF8String, UTF8String, Int] {
    require(k >= 0, s"k=$k")
    override def dataType: DataType = IntegerType
    def compute(a: UTF8String,
                b: UTF8String): Int = {
      val ab = a.getBytes
      val bb = b.getBytes
      // code-point arrays; ASCII (bytes == chars) skips the decode
      val s: Array[Int] =
        if (ab.length == a.numChars()) { val r = new Array[Int](ab.length); var i = 0; while (i < ab.length) { r(i) = ab(i); i += 1 }; r }
        else a.toString.codePoints().toArray
      val t: Array[Int] =
        if (bb.length == b.numChars()) { val r = new Array[Int](bb.length); var i = 0; while (i < bb.length) { r(i) = bb(i); i += 1 }; r }
        else b.toString.codePoints().toArray
      // strip shared prefix/suffix: d(s, t) == d(core_s, core_t)
      var lo = 0
      var sHi = s.length
      var tHi = t.length
      while (lo < sHi && lo < tHi && s(lo) == t(lo)) lo += 1
      while (sHi > lo && tHi > lo && s(sHi - 1) == t(tHi - 1)) { sHi -= 1; tHi -= 1 }
      var n = sHi - lo
      var m = tHi - lo
      if (n > m) { // symmetric: iterate rows over the shorter core
        val tmp = n; n = m; m = tmp
        bandedCore(t, s, lo, n, m)
      } else bandedCore(s, t, lo, n, m)
    }
    /** DP over the stripped cores s[lo, lo+n), t[lo, lo+m), n <= m. */
    private def bandedCore(s: Array[Int], t: Array[Int], lo: Int,
                           n: Int, m: Int): Int = {
      if (m - n > k) return -1
      if (n == 0) return m // m - n <= k, so within threshold
      val inf = k + 1
      var prev = new Array[Int](m + 1)
      var cur = new Array[Int](m + 1)
      var j = 0
      while (j <= m) { prev(j) = if (j <= k) j else inf; j += 1 }
      var i = 1
      while (i <= n) {
        java.util.Arrays.fill(cur, inf)
        cur(0) = if (i <= k) i else inf
        var rowMin = cur(0)
        val jLo = math.max(1, i - k)
        val jHi = math.min(m, i + k)
        val sc = s(lo + i - 1)
        j = jLo
        while (j <= jHi) {
          val sub = prev(j - 1) + (if (sc == t(lo + j - 1)) 0 else 1)
          val del = prev(j) + 1
          val ins = cur(j - 1) + 1
          var v = if (sub < del) sub else del
          if (ins < v) v = ins
          cur(j) = v
          if (v < rowMin) rowMin = v
          j += 1
        }
        // row minima are non-decreasing in i (every d(i,j) >= some
        // d(i-1,·) or a same-row cell chaining to one), so a row with
        // no cell <= k proves the final distance exceeds k
        if (rowMin > k) return -1
        val sw = prev; prev = cur; cur = sw
        i += 1
      }
      if (prev(m) <= k) prev(m) else -1
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): LevenshteinBandedExpr =
      copy(left = newLeft, right = newRight)
  }

  /** Per-document shared-shingle counts against a bounded probe set,
    * in ONE pass: the contamination sweep's corpus side
    * ([[graft.operators.Dedup.contaminationPairs]]) without
    * materializing the shingle array, without the per-doc explode, and
    * without the (c_id, p_id) count shuffle. The probe documents'
    * DISTINCT k-gram shingle sets ride the expression as one reference
    * object (bounded by contract — an eval set, not a corpus); each
    * corpus document's distinct code-point k-windows are looked up in
    * the inverted shingle→probes map, and the output is one
    * (p_id, n_shared) struct per probe with n_shared >= 1.
    *
    * Law parity with `charShingles(text, k)` (what both the previous
    * Column form and the DuckDB oracle compute): windows are CODE
    * POINT based (`UTF8String.substring`), texts shorter than k emit
    * exactly one (short) shingle — including the empty shingle of an
    * empty text — and counts are DISTINCT-set intersection sizes (the
    * first occurrence of a window counts, duplicates don't). */
  case class SharedShingleCountsExpr(child: Expression, k: Int,
                                     probes: Seq[(Long, String)])
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    require(k >= 1, s"k=$k")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("p_id", LongType, nullable = false),
      StructField("n_shared", LongType, nullable = false))), containsNull = false)
    @transient private lazy val pids: Array[Long] = probes.map(_._1).toArray
    // shingle -> indices of probes containing it (a shingle can sit in
    // several probes; each gets its own count)
    @transient private lazy val inverted
        : java.util.HashMap[UTF8String, Array[Int]] = {
      val m = new java.util.HashMap[UTF8String,
        java.util.ArrayList[Integer]]()
      probes.zipWithIndex.foreach { case ((_, text), pi) =>
        val s = UTF8String.fromString(text)
        val seen = new java.util.HashSet[UTF8String]()
        foreachWindow(s) { sh =>
          if (seen.add(sh))
            m.computeIfAbsent(sh, _ => new java.util.ArrayList[Integer]())
              .add(Integer.valueOf(pi))
        }
      }
      val out = new java.util.HashMap[UTF8String, Array[Int]](
        m.size() * 2)
      m.forEach((sh, list) => out.put(sh,
        Array.tabulate(list.size())(i => list.get(i).intValue())))
      out
    }
    @inline private def foreachWindow(
        s: UTF8String)(
        f: UTF8String => Unit): Unit = {
      val n = s.numChars()
      val windows = math.max(1, n - k + 1)
      var i = 0
      while (i < windows) { f(s.substring(i, math.min(i + k, n))); i += 1 }
    }
    def compute(text: UTF8String): ArrayData = {
      val counts = new Array[Long](pids.length)
      val seen = new java.util.HashSet[UTF8String]()
      val inv = inverted
      foreachWindow(text) { sh =>
        if (seen.add(sh)) {
          val hits = inv.get(sh)
          if (hits != null) {
            var j = 0
            while (j < hits.length) { counts(hits(j)) += 1L; j += 1 }
          }
        }
      }
      val out = new java.util.ArrayList[Any]()
      var p = 0
      while (p < counts.length) {
        if (counts(p) > 0L)
          out.add(InternalRow(pids(p), counts(p)))
        p += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): SharedShingleCountsExpr =
      copy(child = newChild)
  }

  /** Shared 96-bit key law of the segment/window dedup family —
    * (xxhash64 seed 42, crc32), both over the UTF-8 bytes, exactly
    * Spark's `struct(xxhash64(s), crc32(s))`. */
  @inline private[functions] def key96(bytes: Array[Byte]): (Long, Long) = {
    val xx = XXH64.hashUnsafeBytes(bytes,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, 0, bytes.length)
    (xx, crc.getValue)
  }

  /** Consecutive `segWords`-word segment keys of a text in ONE pass —
    * the per-row half of the segment-dedup family
    * ([[graft.operators.Dedup.dropDuplicateSegments]] /
    * `dropFrequentSegments`): element i is the 96-bit [[key96]] of
    * words [i·w, i·w+w) joined by one space. Bit-identical to the
    * Column chain `transform(sequence(0, nseg-1), i ->
    * struct(xxhash64(seg_i), crc32(seg_i)))` over
    * `split(trim(text), "\s+")` — space-only trim, Java regex split
    * (a leading tab/newline yields the leading empty token exactly as
    * the builtin split does), nseg = max(1, ceil(nwords/w)), last
    * segment short. The Column form paid an interpreted
    * transform + slice + array_join per segment plus the seg STRING
    * materialization through the explode; this emits only the keys. */
  case class SegmentKeysExpr(child: Expression, segWords: Int)
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    require(segWords >= 1, s"segWords=$segWords")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("xx", LongType, nullable = false),
      StructField("crc", LongType, nullable = false))), containsNull = false)
    def compute(text: UTF8String): ArrayData = {
      val words = columnTokens(text)
      val nseg = math.max(1, (words.length + segWords - 1) / segWords)
      val out = new Array[Any](nseg)
      var i = 0
      while (i < nseg) {
        val sb = new java.lang.StringBuilder
        var j = i * segWords
        val end = math.min(words.length, j + segWords)
        while (j < end) {
          if (j > i * segWords) sb.append(' ')
          sb.append(words(j))
          j += 1
        }
        val (xx, crc) = key96(sb.toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out(i) = InternalRow(xx, crc)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): SegmentKeysExpr =
      copy(child = newChild)
  }

  /** Sliding character-window keys — the window sibling of
    * [[SegmentKeysExpr]] for the duplicated-substring sweep
    * ([[graft.operators.Dedup.duplicatedWindowStats]]): the [[key96]]
    * of each `width`-code-point window at stride `stride` (windows
    * only while fully inside the text; texts shorter than `width`
    * emit an empty array). Bit-identical to the Column chain
    * `transform(sequence(0, nWin-1), j -> struct(xxhash64(w_j),
    * crc32(w_j)))` over `substr(j·stride+1, width)`. */
  case class WindowKeysExpr(child: Expression, width: Int, stride: Int)
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    require(width >= 1, s"width=$width")
    require(stride >= 1, s"stride=$stride")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("xx", LongType, nullable = false),
      StructField("crc", LongType, nullable = false))), containsNull = false)
    def compute(text: UTF8String): ArrayData = {
      val n = text.numChars()
      if (n < width) return new GenericArrayData(Array.empty[Any])
      val nWin = (n - width) / stride + 1
      val out = new Array[Any](nWin)
      var j = 0
      while (j < nWin) {
        val w = text.substring(j * stride, j * stride + width)
        val (xx, crc) = key96(w.getBytes)
        out(j) = InternalRow(xx, crc)
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): WindowKeysExpr =
      copy(child = newChild)
  }

  /** Johnson–Lindenstrauss-style random projection onto `dims`
    * Lehmer-LCG pseudo-random directions — the SAME direction
    * construction as [[HyperplaneBucketLcgExpr]] (seed, j, d ↦
    * component in [-0.5, 0.5)), returning the raw dot values instead of
    * sign bits. Deterministic and oracle-reproducible: the directions
    * are pure arithmetic on (seed, j, d), so an engine with integer
    * modular math can regenerate them exactly; the dot accumulates in
    * ascending-d order to match list-fold evaluation. The
    * dimensionality-reduction step ahead of ANN/clustering at scale:
    * 64-dim float payloads shrink 4× at dims=16 while JL preserves
    * pairwise distances within ~1±ε. */
  case class RandomProjectionLcgExpr(child: Expression, dims: Int, seed: Long)
      extends NativeUnaryExpr[ArrayData, ArrayData] {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    def compute(v: ArrayData): ArrayData = {
      val out = new Array[Double](dims)
      var j = 0
      while (j < dims) { out(j) = lcgDot(v, seed, j); j += 1 }
      ArrayData.toArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): RandomProjectionLcgExpr =
      copy(child = newChild)
  }

  /** Winnowing fingerprint over MD5 window hashes: the k-char windows
    * of the text are MD5-hashed (lowercase hex), and the rightmost
    * minimum of each w-window of hashes is selected (per-position
    * dedup — selected positions are non-decreasing, so consecutive
    * dedup ≡ distinct). Returns array<struct<pos:int, gh:string>>
    * ordered by position: the standard winnowing scheme — two
    * documents sharing a long-enough substring share a fingerprint
    * hash, robust to position shifts — with an oracle-computable hash
    * (md5 + substr are ANSI SQL). */
  case class WinnowMd5Expr(child: Expression, k: Int, w: Int)
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("pos", IntegerType, nullable = false),
        StructField("gh", StringType, nullable = false))), containsNull = false)
    def compute(s: UTF8String): ArrayData = {
      val n = s.numChars()
      val m = math.max(1, n - k + 1)
      // Selection compares raw digests (unsigned byte order == hex
      // lexicographic order); only the selected ~m/w positions are
      // hex-encoded.
      val hs = new Array[Array[Byte]](m)
      val bytes = s.getBytes
      val ascii = bytes.length == n // byte windows == char windows
      var i = 0
      while (i < m) {
        val md = md5Digest()
        hs(i) =
          if (ascii) { md.update(bytes, i, math.min(k, n - i)); md.digest() }
          else md.digest(s.substring(i, math.min(i + k, n)).getBytes)
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var lastPos = -1
      var st = 0
      val windows = math.max(1, m - w + 1)
      while (st < windows) {
        var minPos = st
        var j = st
        val end = math.min(st + w, m)
        while (j < end) {
          if (java.util.Arrays.compareUnsigned(hs(j), hs(minPos)) <= 0) minPos = j
          j += 1
        }
        if (minPos != lastPos) {
          out += InternalRow(
            minPos, UTF8String.fromString(md5Hex(hs(minPos))))
          lastPos = minPos
        }
        st += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): WinnowMd5Expr =
      copy(child = newChild)
  }

  /** Minimum MD5 hex over the k-gram shingles of a string — the 1-perm
    * MinHash fingerprint. Identical output to
    * array_min(transform(shingles, md5)) and the DuckDB oracle
    * (min over lowercase hex strings == lexicographic min), without one
    * interpreted expression-tree walk per shingle. Shingling is done
    * inside the expression too (substring windows over the UTF8 bytes,
    * matching substr semantics for ASCII and multi-byte text alike via
    * code-point windows). */
  case class MinMd5ShingleExpr(child: Expression, k: Int)
      extends NativeUnaryExpr[UTF8String, UTF8String] {
    override def dataType: DataType = StringType
    def compute(s: UTF8String): UTF8String = {
      val n = s.numChars()
      // Unsigned byte-order of digests == lexicographic order of their
      // lowercase hex (fixed-width order-preserving encoding), so the
      // min is found on raw digests and hex-encoded exactly once.
      var best: Array[Byte] = null
      val windows = math.max(1, n - k + 1)
      val bytes = s.getBytes
      val ascii = bytes.length == n // byte windows == char windows
      var i = 0
      while (i < windows) {
        val md = md5Digest()
        val dig =
          if (ascii) { md.update(bytes, i, math.min(k, n - i)); md.digest() }
          else md.digest(s.substring(i, math.min(i + k, n)).getBytes)
        if (best == null || java.util.Arrays.compareUnsigned(dig, best) < 0) best = dig
        i += 1
      }
      UTF8String.fromString(md5Hex(best))
    }
    override protected def withNewChildInternal(newChild: Expression): MinMd5ShingleExpr =
      copy(child = newChild)
  }

  /** Set-Jaccard of two string arrays: |A∩B| / |A∪B| over DISTINCT
    * elements — the same integer counts as array_intersect/array_union,
    * so results are bit-identical to the builtin form (and the DuckDB
    * oracle), computed with hash sets instead of one interpreted tree
    * walk per element per pair. */
  case class JaccardExpr(left: Expression, right: Expression)
      extends NativeBinaryExpr[ArrayData, ArrayData, Double] {
    override def dataType: DataType = DoubleType
    def compute(a: ArrayData, b: ArrayData): Double = {
      val sa = new java.util.HashSet[UTF8String]()
      var i = 0
      while (i < a.numElements()) { sa.add(a.getUTF8String(i)); i += 1 }
      val sb = new java.util.HashSet[UTF8String]()
      var inter = 0
      var j = 0
      while (j < b.numElements()) {
        val s = b.getUTF8String(j)
        if (sb.add(s) && sa.contains(s)) inter += 1
        j += 1
      }
      val union = sa.size + sb.size - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardExpr =
      copy(left = newLeft, right = newRight)
  }

  /** Open-addressing primitive long set (linear probe, power-of-two
    * table) for the packed-window jaccard fast path — no boxing, no
    * rehash churn at the ~hundreds-of-windows sizes involved. */
  private final class PackedWindowSet(capacityHint: Int) {
    private val cap = Integer.highestOneBit(math.max(8, capacityHint * 2) - 1) << 1
    private val mask = cap - 1
    private val table = Array.fill(cap)(EmptySlot)
    var size = 0
    def add(v: Long): Boolean = {
      var i = java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L) & mask
      while (true) {
        val cur = table(i)
        if (cur == EmptySlot) { table(i) = v; size += 1; return true }
        if (cur == v) return false
        i = (i + 1) & mask
      }
      false
    }
    def contains(v: Long): Boolean = {
      var i = java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L) & mask
      while (true) {
        val cur = table(i)
        if (cur == EmptySlot) return false
        if (cur == v) return true
        i = (i + 1) & mask
      }
      false
    }
  }
  // ASCII window packs never produce all-ones (bytes < 0x80, sentinel
  // 0x80|len, zero fill), so -1 is a safe empty slot.
  private val EmptySlot = -1L

  /** Exact char-k-gram Jaccard computed STRAIGHT from two texts — the
    * verification kernel for near-dup candidates. Byte-identical to
    * `JaccardExpr(charShingles(a, k), charShingles(b, k))` (distinct
    * window sets, inter/(|A|+|B|-inter) in the same double division)
    * but no shingle ARRAY is ever materialized or shuffled: candidate
    * joins ship the ~L-byte text instead of the ~8L-byte shingle set,
    * and the set arithmetic happens inside the join projection.
    * Fast path: ASCII text with k <= 8 packs each window BIJECTIVELY
    * into one long (bytes left-aligned, 0x80|len sentinel when the
    * window is shorter than 8 — ASCII bytes are < 0x80, so lengths
    * can't collide), so set ops run on primitive longs with zero
    * collision risk; non-ASCII or k > 8 falls back to UTF8String
    * window sets — same values, charShingles parity either way. */
  case class JaccardTextsExpr(left: Expression, right: Expression, k: Int)
      extends NativeBinaryExpr[UTF8String, UTF8String, Double] {
    require(k >= 1, "k must be positive")
    override def dataType: DataType = DoubleType
    private def packable(s: UTF8String,
                         bytes: Array[Byte]): Boolean =
      k <= 8 && bytes.length == s.numChars()
    // Per-THREAD 2-slot cache text → distinct-window set (+ a values
    // array so the pair projection can scan the smaller side). The
    // verify join streams sum-of-bucket-size² pairs per task with the
    // STREAMED side's text repeating consecutively (one run per
    // buffered-block replay) — a 2-slot cache captures that run
    // exactly, halving the per-pair build work, while being immune to
    // the LRU cycle-thrash a bounded map suffers when the BUFFERED
    // side's block outgrows the capacity (every buffered text then
    // misses every cycle and pays clone + map overhead on top of the
    // build — measured +26% on a big-bucket corpus with a 512-LRU).
    // Window sets are ~10 KB each, so a cycle-proof capacity
    // (≥ block cap × threads) is not affordable the way the token
    // memo's 2 KB entries are. ThreadLocal (the reference object is
    // shared across task threads); keys cloned (join rows reuse
    // buffers).
    private final class WinSlot {
      var key: UTF8String = null
      var packed: (PackedWindowSet, Array[Long]) = null
      var strs: java.util.HashSet[UTF8String] = null
    }
    @transient private lazy val slots = new ThreadLocal[(WinSlot, WinSlot)] {
      override def initialValue() = (new WinSlot, new WinSlot)
    }
    // Returns the slot holding `u` (filling it if absent), evicting
    // the slot that is NOT `other` — so a pair's two texts never evict
    // each other within one compute().
    private def slotFor(u: UTF8String,
                        other: WinSlot): WinSlot = {
      val (s1, s2) = slots.get()
      if (s1.key != null && s1.key.equals(u)) s1
      else if (s2.key != null && s2.key.equals(u)) s2
      else {
        val victim = if (s1 eq other) s2 else s1
        victim.key = u.clone()
        victim.packed = null
        victim.strs = null
        victim
      }
    }
    private def packedSet(slot: WinSlot): (PackedWindowSet, Array[Long]) = {
      if (slot.packed == null) {
        val bytes = slot.key.getBytes
        val w = math.max(1, bytes.length - k + 1)
        val set = new PackedWindowSet(w)
        val vals = new Array[Long](w)
        var n = 0
        var i = 0
        while (i < w) {
          val v = pack(bytes, i)
          if (set.add(v)) { vals(n) = v; n += 1 }
          i += 1
        }
        slot.packed = (set, java.util.Arrays.copyOf(vals, n))
      }
      slot.packed
    }
    private def strSet(slot: WinSlot)
        : java.util.HashSet[UTF8String] = {
      if (slot.strs == null) {
        val owned = slot.key // already a clone — windows may alias it
        val n = owned.numChars()
        val w = math.max(1, n - k + 1)
        val set = new java.util.HashSet[UTF8String](w * 2)
        var i = 0
        while (i < w) { set.add(owned.substring(i, math.min(i + k, n))); i += 1 }
        slot.strs = set
      }
      slot.strs
    }
    def compute(ua: UTF8String, ub: UTF8String): Double = {
      val ba = ua.getBytes
      val bb = ub.getBytes
      val slotA = slotFor(ua, null)
      val slotB = slotFor(ub, slotA)
      if (packable(ua, ba) && packable(ub, bb)) {
        val (seta, valsa) = packedSet(slotA)
        val (setb, valsb) = packedSet(slotB)
        val (smallVals, big) =
          if (seta.size <= setb.size) (valsa, setb) else (valsb, seta)
        var inter = 0
        var i = 0
        while (i < smallVals.length) {
          if (big.contains(smallVals(i))) inter += 1
          i += 1
        }
        val union = seta.size + setb.size - inter
        if (union == 0) 0.0 else inter.toDouble / union
      } else {
        val sa = strSet(slotA)
        val sb = strSet(slotB)
        val (small, big) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
        var inter = 0
        val it = small.iterator()
        while (it.hasNext) { if (big.contains(it.next())) inter += 1 }
        val union = sa.size + sb.size - inter
        if (union == 0) 0.0 else inter.toDouble / union
      }
    }
    private def pack(bytes: Array[Byte], off: Int): Long = {
      val len = math.min(k, bytes.length - off)
      var v = 0L
      var i = 0
      while (i < len) { v |= (bytes(off + i) & 0xffL) << (56 - 8 * i); i += 1 }
      if (len < 8) v |= (0x80L | len.toLong) << (56 - 8 * len)
      v
    }
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardTextsExpr =
      copy(left = newLeft, right = newRight)
  }

  /** Exact whitespace-token-set Jaccard computed STRAIGHT from two
    * texts — the token-level sibling of [[JaccardTextsExpr]], for the
    * fingerprint-blocked dedup family: byte-identical to
    * `JaccardExpr(tokenSet(a), tokenSet(b))` (same trim+split
    * tokenization as the Column form, distinct sets, same double
    * division) without materializing or shuffling token arrays through
    * the block join. */
  case class JaccardTokenSetsExpr(left: Expression, right: Expression)
      extends NativeBinaryExpr[UTF8String, UTF8String, Double] {
    override def dataType: DataType = DoubleType
    // Per-THREAD memo text → distinct-token set. The expression sits
    // in the projection of pair-verify joins, where one task streams
    // sum-of-block-size² pairs: the streamed side's text repeats
    // consecutively and every buffered-side text replays once per
    // streamed row — tokenizing per PAIR made the verify quadratic in
    // tokenization work, not just in pair count (the per-pair cost
    // was ~µs of regex split + HashSet build on ~300-byte texts).
    // With the memo each block text tokenizes ~once per task and the
    // pair projection collapses to a set intersection. ThreadLocal,
    // NOT instance state: the same reference object is invoked from
    // every task thread of a local[n] executor. Keys are CLONED
    // UTF8Strings (join rows hand out views over reused buffers);
    // Capacity 2048 > the dedup family's 1000-row block caps: an
    // access-order LRU smaller than the BUFFERED side's replay cycle
    // degrades to 100% misses plus map overhead (cycle thrash — see
    // JaccardTextsExpr, whose ~10 KB window sets get a 2-slot cache
    // instead for exactly this reason). Token sets are ~2 KB each,
    // so covering a full capped block costs ~4 MB/thread.
    @transient private lazy val tokenMemo =
      new ThreadLocal[java.util.LinkedHashMap[
          UTF8String, java.util.HashSet[String]]] {
        override def initialValue() =
          new java.util.LinkedHashMap[
              UTF8String, java.util.HashSet[String]](
              64, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[UTF8String,
                                       java.util.HashSet[String]]): Boolean =
              size() > 2048
          }
      }
    private def tokenSet(u: UTF8String)
        : java.util.HashSet[String] = {
      val m = tokenMemo.get()
      val hit = m.get(u)
      if (hit != null) hit
      else {
        val toks = columnTokens(u)
        val s = new java.util.HashSet[String](toks.length * 2)
        var i = 0
        while (i < toks.length) { s.add(toks(i)); i += 1 }
        m.put(u.clone(), s)
        s
      }
    }
    def compute(a: UTF8String, b: UTF8String): Double = {
      val sa = tokenSet(a)
      val sb = tokenSet(b)
      // sets are shared via the memo — read-only from here. Intersect
      // by scanning the smaller side (identical count to the old
      // build-sb-while-probing-sa loop).
      val (small, big) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
      var inter = 0
      val it = small.iterator()
      while (it.hasNext) { if (big.contains(it.next())) inter += 1 }
      val union = sa.size + sb.size - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardTokenSetsExpr =
      copy(left = newLeft, right = newRight)
  }

  /** All three repetition-quality stats in ONE tokenize+count pass:
    * struct(dup2, top2, dup3) where dup_n = 1 - distinct_n/total_n over
    * word n-grams and top2 = share of the most frequent bigram. Exact
    * parity with the Column form in `TextFunctions.ngramRepStats`
    * (spec-asserted on random corpora): tokens are
    * `split(trim(text), "\s+")` — UTF8String.trim (0x20 only) then a
    * Java regex split with limit -1, so a doc starting with a tab keeps
    * its leading empty token, and "" tokenizes to [""] — and the final
    * division + 6-dp HALF_UP round reproduces Spark's `Round` on
    * doubles bit-for-bit (BigDecimal.valueOf path). The higher-order
    * Column form walks an interpreted expression tree per array
    * element; this is the same math in one HashMap pass per row. */
  case class RepStatsExpr(child: Expression) extends NativeUnaryExpr[UTF8String, InternalRow] {
    override def dataType: DataType = StructType(Seq(
      StructField("dup2", DoubleType, nullable = false),
      StructField("top2", DoubleType, nullable = false),
      StructField("dup3", DoubleType, nullable = false)))
    @inline private def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def compute(s: UTF8String): InternalRow = {
      val toks = columnTokens(s)
      val n = toks.length
      val total2 = n - 1
      val total3 = n - 2
      var dup2 = 0.0; var top2 = 0.0; var dup3 = 0.0
      if (total2 > 0) {
        val m2 = new java.util.HashMap[String, Integer](total2 * 2)
        var best2 = 0
        val m3 = if (total3 > 0) new java.util.HashMap[String, Integer](total3 * 2) else null
        var i = 0
        while (i < total2) {
          val c = m2.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
          if (c > best2) best2 = c
          if (i < total3)
            m3.merge(toks(i) + " " + toks(i + 1) + " " + toks(i + 2), 1, (a, b) => a + b)
          i += 1
        }
        dup2 = round6(1.0 - m2.size.toDouble / total2)
        top2 = round6(best2.toDouble / total2)
        if (total3 > 0) dup3 = round6(1.0 - m3.size.toDouble / total3)
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](dup2, top2, dup3))
    }
    override protected def withNewChildInternal(newChild: Expression): RepStatsExpr =
      copy(child = newChild)
  }

  // ---- Column wrappers -------------------------------------------------

  def minhashSigNative(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(shingles), numHashes))

  def minhashSigTextNative(text: Column, k: Int, numHashes: Int): Column =
    ColumnBridge.column(MinHashSigTextExpr(ColumnBridge.expression(text), k, numHashes))

  def minhashBandBucketsNative(text: Column, k: Int, numHashes: Int,
                               bands: Int, rowsPerBand: Int): Column =
    ColumnBridge.column(MinHashBandBucketsExpr(ColumnBridge.expression(text),
      k, numHashes, bands, rowsPerBand))

  def jaccardTextsNative(a: Column, b: Column, k: Int): Column =
    ColumnBridge.column(JaccardTextsExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b), k))

  def jaccardTokenSetsNative(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardTokenSetsExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def simhashMd5Native(tokens: Column): Column =
    ColumnBridge.column(SimHashMd5Expr(ColumnBridge.expression(tokens)))

  def hyperplaneBucketLcgNative(vec: Column, bits: Int, seed: Long = 42L): Column =
    ColumnBridge.column(HyperplaneBucketLcgExpr(ColumnBridge.expression(vec), bits, seed))

  def randomProjectionLcgNative(vec: Column, dims: Int, seed: Long = 42L): Column =
    ColumnBridge.column(RandomProjectionLcgExpr(ColumnBridge.expression(vec), dims, seed))

  def winnowMd5Native(text: Column, k: Int = 8, w: Int = 4): Column =
    ColumnBridge.column(WinnowMd5Expr(ColumnBridge.expression(text), k, w))

  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def argminCentroidNative(vec: Column, centroids: Seq[Seq[Double]],
                           offset: Int = 0): Column =
    ColumnBridge.column(ArgminCentroidExpr(ColumnBridge.expression(vec),
      centroids, offset))

  def hashedLinearScoreNative(text: Column, dim: Int): Column =
    ColumnBridge.column(HashedLinearScoreExpr(ColumnBridge.expression(text), dim))

  def bm25ScoresNative(text: Column, terms: Seq[(Long, String, Double)],
                       k1: Double, b: Double, avgdl: Double): Column =
    ColumnBridge.column(Bm25ScoresExpr(ColumnBridge.expression(text),
      terms, k1, b, avgdl))

  def spanHashesNative(text: Column, n: Int): Column =
    ColumnBridge.column(SpanHashesExpr(ColumnBridge.expression(text), n))

  def posQGramTokensNative(text: Column, q: Int): Column =
    ColumnBridge.column(PosQGramTokensExpr(ColumnBridge.expression(text), q))

  def levenshteinBandedNative(left: Column, right: Column, k: Int): Column =
    ColumnBridge.column(LevenshteinBandedExpr(
      ColumnBridge.expression(left), ColumnBridge.expression(right), k))

  def sharedShingleCountsNative(text: Column, k: Int,
                                probes: Seq[(Long, String)]): Column =
    ColumnBridge.column(SharedShingleCountsExpr(
      ColumnBridge.expression(text), k, probes))

  def segmentKeysNative(text: Column, segWords: Int): Column =
    ColumnBridge.column(SegmentKeysExpr(ColumnBridge.expression(text), segWords))

  def windowKeysNative(text: Column, width: Int, stride: Int): Column =
    ColumnBridge.column(WindowKeysExpr(ColumnBridge.expression(text), width, stride))

  def hashedMarginsNative(text: Column, weights: Array[Array[Long]]): Column =
    ColumnBridge.column(HashedMarginsExpr(ColumnBridge.expression(text), weights))

  def hashedMarginNative(text: Column, weights: Array[Long]): Column =
    ColumnBridge.column(HashedMarginExpr(ColumnBridge.expression(text), weights))

  /** Per-token md5 buckets, one per token occurrence: [[NgramBucketsExpr]] at n = 1. */
  def hashedBucketsNative(text: Column, dim: Int): Column = ngramBucketsNative(text, 1, dim)

  def ngramBucketsNative(text: Column, n: Int, dim: Int): Column =
    ColumnBridge.column(NgramBucketsExpr(ColumnBridge.expression(text), n, dim))

  def ngramWeightSumNative(text: Column, n: Int, lamMicro: Array[Long]): Column =
    ColumnBridge.column(NgramWeightSumExpr(ColumnBridge.expression(text), n, lamMicro))

  def weightedLinearScoreNative(text: Column, weights: Array[Int]): Column =
    ColumnBridge.column(WeightedLinearScoreExpr(ColumnBridge.expression(text), weights))

  def hllRegRhoNative(key: Column, p: Int): Column =
    ColumnBridge.column(HllRegRhoExpr(ColumnBridge.expression(key), p))

  def jaccardNative(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def minMd5ShingleNative(text: Column, k: Int = 8): Column =
    ColumnBridge.column(MinMd5ShingleExpr(ColumnBridge.expression(text), k))

  def repStatsNative(text: Column): Column =
    ColumnBridge.column(RepStatsExpr(ColumnBridge.expression(text)))

  /** Order-0 character entropy of a string, in bits — the classic
    * gibberish/boilerplate quality signal (uniform noise scores high,
    * repeated filler low). One pass: code-point histogram, then
    * H = log2(N) − (Σ c·log2 c)/N with the Σ taken in ASCENDING code
    * point order — the same sequence DuckDB's `list(... ORDER BY c)` +
    * `list_sum` folds, so the 6-dp-rounded value is cross-engine
    * stable. Empty/null-less strings score 0. */
  case class CharEntropyExpr(child: Expression) extends NativeUnaryExpr[UTF8String, Double] {
    override def dataType: DataType = DoubleType
    def compute(s: UTF8String): Double = {
      val str = s.toString
      if (str.isEmpty) return 0.0
      val counts = new java.util.TreeMap[Integer, Long]()
      var i = 0
      var total = 0L
      while (i < str.length) {
        val cp = str.codePointAt(i)
        counts.merge(cp, 1L, (a, b) => a + b)
        total += 1
        i += Character.charCount(cp)
      }
      // exact for powers of two (DuckDB's log2(8) is exactly 3.0 where
      // Math.log(8)/ln2 is one ulp off); generic log otherwise — the
      // residual 1-ulp libm drift is absorbed by the 6-dp gate rounding
      def log2(x: Long): Double =
        if ((x & (x - 1)) == 0L) java.lang.Long.numberOfTrailingZeros(x).toDouble
        else math.log(x.toDouble) / 0.6931471805599453
      var acc = 0.0
      val it = counts.values.iterator() // ascending code point order
      while (it.hasNext) {
        val c = it.next()
        acc += c.toDouble * log2(c)
      }
      log2(total) - acc / total
    }
    override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
      copy(child = newChild)
  }

  def charEntropyNative(text: Column): Column =
    ColumnBridge.column(CharEntropyExpr(ColumnBridge.expression(text)))

  // ---- Bloom filter (build + probe share one hash) ---------------------

  /** Bloom bit positions of a long key under Kirsch–Mitzenmacher double
    * hashing: pos_i = (h1 + i·h2) mod m for i < k, with h1/h2 two
    * seeded XXH64 draws (h2 forced odd so the probe walk cycles every
    * slot of a power-of-two filter). The build side of
    * [[BloomMightContainExpr]] — one hash implementation shared by
    * both expressions, so filter and probe can never drift apart. */
  case class BloomPositionsExpr(child: Expression, m: Long, k: Int)
      extends NativeUnaryExpr[Long, ArrayData] with ImplicitCastInputTypes {
    // declared input type: int keys then cast to long at analysis time,
    // so interpreted eval (constant folding, non-codegen paths) sees the
    // same Long the codegen path casts to — without this an int key
    // works under codegen but ClassCastExceptions under eval().
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    def compute(v: Long): ArrayData = {
      val h1 = XXH64.hashLong(v, 42L)
      val h2 = XXH64.hashLong(v, 0x9e3779b97f4a7c15L) | 1L
      val out = new Array[Long](k)
      var i = 0
      while (i < k) {
        out(i) = java.lang.Math.floorMod(h1 + i.toLong * h2, m)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): BloomPositionsExpr =
      copy(child = newChild)
  }

  /** Bloom membership probe over a long key: true iff all k probe bits
    * are set in `words` (the filter is m = 64·words.length bits). The
    * bit array rides the expression as one reference object inside the
    * generated code — a single per-executor copy, no UDF boxing, and
    * the probe stays inside whole-stage codegen so it lands directly
    * on the parquet scan it is pruning. False positives possible
    * (rate ≈ (1−e^{−kn/m})^k), false negatives impossible. */
  case class BloomMightContainExpr(child: Expression, words: Array[Long], k: Int)
      extends NativeUnaryExpr[Long, Boolean] with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = BooleanType
    private val m: Long = words.length.toLong * 64L
    def compute(v: Long): Boolean = {
      val h1 = XXH64.hashLong(v, 42L)
      val h2 = XXH64.hashLong(v, 0x9e3779b97f4a7c15L) | 1L
      var i = 0
      while (i < k) {
        val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, m)
        if ((words((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L)
          return false
        i += 1
      }
      true
    }
    override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
      copy(child = newChild)
  }

  def bloomPositionsNative(key: Column, m: Long, k: Int): Column =
    ColumnBridge.column(BloomPositionsExpr(ColumnBridge.expression(key), m, k))

  def bloomMightContainNative(key: Column, words: Array[Long], k: Int): Column =
    ColumnBridge.column(BloomMightContainExpr(ColumnBridge.expression(key), words, k))

  // ---- BPE encode (trained merges) -------------------------------------

  /** BPE tokenization of whitespace-split text under a trained, ranked
    * merge table ([[TextFunctions.bpeTrainMerges]]): per word, the
    * LOWEST-rank merge present in the symbol sequence is applied (all
    * its adjacent occurrences, left to right) until no table pair
    * remains — the standard BPE encode, matching the training
    * trajectory by construction. The merge table rides the expression
    * as one reference object (driver-bounded by maxVocab); the hot
    * loop is plain JVM string work inside codegen, no UDF boxing.
    * Tokens keep the `</w>` end-of-word sentinel, so the encoding is
    * invertible: concat(tokens).replace(sentinel, " ") == the
    * whitespace-normalized input (the txt_bpe_roundtrip gate law). */
  case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
      extends NativeUnaryExpr[UTF8String, ArrayData] {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    @transient private lazy val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.length * 2)
      merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, i) }
      m
    }
    private def encodeWord(w: String, out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
      var syms = TextFunctions.codePointSymbols(w) :+ TextFunctions.BpeEndOfWord
      var continue = true
      while (continue && syms.length > 1) {
        var bestRank = Int.MaxValue
        var bestPair: (String, String) = null
        var j = 0
        while (j < syms.length - 1) {
          val r = rank.get(syms(j) + " " + syms(j + 1))
          if (r != null && r < bestRank) { bestRank = r; bestPair = (syms(j), syms(j + 1)) }
          j += 1
        }
        if (bestPair == null) continue = false
        else syms = TextFunctions.mergePair(syms, bestPair)
      }
      syms.foreach(s => out += UTF8String.fromString(s))
    }
    def compute(s: UTF8String): ArrayData = {
      val words = s.toString.trim.split("\\s+")
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      words.foreach(encodeWord(_, out))
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
      copy(child = newChild)
  }

  def bpeEncodeNative(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncodeExpr(ColumnBridge.expression(text), merges))
}
