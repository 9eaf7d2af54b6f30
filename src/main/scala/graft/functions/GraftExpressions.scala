package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's vector/hash hot paths.
  *
  * These replace higher-order-function folds (`aggregate`/`zip_with`
  * lambdas), which evaluate interpreted per element and dominated
  * benchmark time (dd03 was 151 s at sf0.1 from lambda overhead
  * alone). Each expression here stays inside whole-stage codegen:
  * [[DotProduct]] emits a hand-written loop; the hash expressions
  * emit a call into [[GraftHashOps]]'s tight JVM loops.
  *
  * Float folds are sequential in index order, so results are
  * bit-identical to DuckDB's list_inner_product over DOUBLE[] —
  * required for oracle hash-parity.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** sqrt(dot(v, v)) — the vector's L2 norm, one codegen'd pass. */
case class L2Norm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.l2norm(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHashOps.l2norm($c)")

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** 64-bit SimHash over an array<string> of tokens (tf-weighted sign
  * sums of xxhash64 token bits) — one pass per document instead of a
  * 64-lambda interpreted fold.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.simhash64(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHashOps.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** xxhash64-chained rolling hash of every `width`-token window:
  * returns array<long> of window hashes (empty if fewer tokens than
  * `width`).
  */
case class RollingHashes(child: Expression, width: Int)
    extends UnaryExpression {
  require(width >= 1,
    s"rolling-hash width must be >= 1 (width <= 0 would emit n+1 identical zero hashes): $width")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rolling_hashes"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.rollingHashes(a.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftHashOps.rollingHashes($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashes =
    copy(child = newChild)
}

/** k-permutation MinHash signature straight from the token array:
  * per `width`-token shingle, one string hash + k seeded long hashes,
  * elementwise-min across shingles — one pass per document, no
  * explode/shuffle needed for signature construction.
  */
case class MinHashSig(child: Expression, k: Int, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.minhashSig(a.asInstanceOf[ArrayData], k, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftHashOps.minhashSig($c, $k, $width)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Indices of the `n` nearest centroids (by dot product — cosine
  * order when the centroid rows are pre-normalized) for an
  * array<double> vector, against a driver-resident centroid matrix.
  * The matrix rides into generated code as a reference object, so
  * cell assignment is a NARROW codegen'd map over the corpus — no
  * join, no window, no shuffle — which is what lets k-means
  * assignment and IVF query routing run at corpus scale. Ties break
  * toward the lower cell index (deterministic).
  */
case class NearestCells(child: Expression, cents: Array[Array[Double]], n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.nearestCells(a.asInstanceOf[ArrayData], cents, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftHashOps.nearestCells($c, $ref, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** Packed LSH band keys of an array<double> vector against a
  * driver-resident random-hyperplane matrix: `nBands` keys, each a
  * long with the band id in the high 32 bits and the band's
  * `rowsPerBand` sign bits (sign of dot(v, plane)) in the low bits —
  * the same single-join-column packing as the MinHash band keys
  * (Dedup.bandKeysOf), so one equi-join on the key IS the bucketing.
  * Like [[NearestCells]], the plane matrix rides into generated code
  * as a reference object: signature construction is a NARROW
  * codegen'd map over the scan — no join, no shuffle.
  */
case class HyperplaneBands(child: Expression, planes: Array[Array[Double]],
                           nBands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(rowsPerBand >= 1 && rowsPerBand <= 32,
    s"rowsPerBand must be in [1, 32] (sign bits share the packed key's low word with the band id): $rowsPerBand")
  require(planes.length >= nBands * rowsPerBand,
    s"need ${nBands * rowsPerBand} hyperplanes, got ${planes.length}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_bands"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.hyperplaneBands(a.asInstanceOf[ArrayData], planes, nBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftHashOps.hyperplaneBands($c, $ref, $nBands, $rowsPerBand)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}

/** Character-distribution statistics of a string in ONE pass:
  * struct(n_chars, n_alphabet, entropy) — code-point count, distinct
  * code-point count, Shannon entropy (bits) of the code-point
  * distribution. Exists because every declarative formulation of
  * per-row frequency counting runs through higher-order array
  * lambdas, which evaluate INTERPRETED per element: the
  * count-per-distinct-char version measured 6.1 s at sf0.1 and even
  * the array_sort + run-boundary rewrite still paid ~3 s for the
  * interpreted sort comparator. This expression is a plain JVM loop
  * (ASCII fast path + map fallback) inside whole-stage codegen.
  */
case class CharStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_alphabet", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def prettyName: String = "graft_char_stats"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.charStats(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHashOps.charStats($c)")

  override protected def withNewChildInternal(newChild: Expression): CharStats =
    copy(child = newChild)
}

/** Token-repetition statistics of an array<string> in ONE pass:
  * struct(n_tokens, n_uniq, n_big_uniq, top_count) — token count,
  * distinct tokens, distinct adjacent bigrams, and the highest
  * single-token count. All INTEGERS, so the repetition ratios built
  * from them (tx08, pp02's quality gate) keep exact oracle parity
  * while replacing three interpreted higher-order lambdas with one
  * codegen'd JVM pass (same rationale as [[CharStats]]). Bigram
  * identity uses the literal token pair (byte-equality, like SQL
  * string equality), not a hash — no collision can change a count.
  */
case class TokenStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_uniq", LongType, nullable = false),
    StructField("n_big_uniq", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false)))
  override def prettyName: String = "graft_token_stats"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.tokenStats(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHashOps.tokenStats($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** Product-quantization code of an array<double> vector against a
  * driver-resident codebook set: the vector is L2-NORMALIZED, split
  * into `m = books.length` contiguous subspaces, each subvector
  * snapped to its nearest (L2) codeword, and the `m` codeword ids
  * packed big-endian into ONE long at `bits` bits each — the whole
  * corpus index is 8 bytes/vector regardless of dimensionality
  * (64 dims × 8-byte doubles → 64× scan compression; that IO ratio
  * is PQ's entire point at 100 TB). Like [[NearestCells]], the
  * codebooks ride into generated code as a reference object:
  * encoding is a NARROW codegen'd map over the scan.
  */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]],
                    bits: Int)
    extends UnaryExpression {
  require(books.length * bits <= 64,
    s"${books.length} codes x $bits bits do not pack into a long")
  require(books.forall(_.length <= (1 << bits)),
    s"a codebook exceeds 2^$bits codewords")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_encode"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.pqEncode(a.asInstanceOf[ArrayData], books, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftHashOps.pqEncode($c, $ref, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) scores of a packed PQ code against a
  * driver-resident per-query lookup-table matrix: for query q,
  * `score = Σ_j luts(q)(j·ksub + code_j)` where each table entry is
  * the exact dot of the query's j-th subvector with codeword b —
  * so the score is dot(query, decode(code)) without ever
  * reconstructing the vector. Output is one array<double> of
  * `luts.length` scores per row (the query set is driver-sized by
  * definition, like the centroid matrix). Scoring is a NARROW
  * codegen'd map over the 8-byte code column — the corpus's raw
  * vectors are never read.
  */
case class PqAdcScores(child: Expression, luts: Array[Array[Double]],
                       m: Int, ksub: Int, bits: Int)
    extends UnaryExpression {
  require(luts.forall(_.length == m * ksub),
    s"each LUT must be m x ksub = ${m * ksub} entries")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_adc"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.pqAdcScores(a.asInstanceOf[Long], luts, m, ksub, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("luts", luts, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftHashOps.pqAdcScores($c, $ref, $m, $ksub, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcScores =
    copy(child = newChild)
}

/** [[PqAdcScores]] against exactly ONE of the lookup tables, picked
  * per row by the `qi` child — the probe shape when each corpus row
  * is already routed to its query (ann06's per-cell broadcast join):
  * scoring every LUT and selecting one entry afterwards costs q×m
  * lookups per row where this costs m.
  */
case class PqAdcScoreAt(left: Expression, right: Expression,
                        luts: Array[Array[Double]],
                        m: Int, ksub: Int, bits: Int)
    extends BinaryExpression {
  require(luts.forall(_.length == m * ksub),
    s"each LUT must be m x ksub = ${m * ksub} entries")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_at"

  override protected def nullSafeEval(code: Any, qi: Any): Any =
    GraftHashOps.pqAdcScoreAt(code.asInstanceOf[Long],
      qi.asInstanceOf[Int], luts, m, ksub, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("luts", luts, "double[][]")
    defineCodeGen(ctx, ev, (c, q) =>
      s"graft.functions.GraftHashOps.pqAdcScoreAt($c, $q, $ref, $m, $ksub, $bits)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScoreAt =
    copy(left = newLeft, right = newRight)
}

/** Cardinality of a serialized bitmap sketch (see
  * [[BitmapAgg]] / [[BitmapUnionAgg]]) — a codegen'd popcount over
  * the sketch bytes.
  */
case class BitmapCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitmap_count"

  override protected def nullSafeEval(a: Any): Any =
    GraftHashOps.bitmapCount(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHashOps.bitmapCount($c)")

  override protected def withNewChildInternal(newChild: Expression): BitmapCount =
    copy(child = newChild)
}

/** Cardinality of a serialized SPARSE bitmap sketch (see
  * [[SparseBitmapAgg]] / [[SparseBitmapUnionAgg]]) — a codegen'd walk
  * over the container headers that never touches the payloads, so the
  * read costs O(#containers) regardless of key count. Throws on the
  * dense [[BitmapAgg]] format (magic check) rather than popcounting
  * header bytes into a silently wrong "exact" count.
  */
case class SparseBitmapCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitmap64_count"

  override protected def nullSafeEval(a: Any): Any =
    SparseBitmap.countSerialized(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SparseBitmap$$.MODULE$$.countSerialized($c)")

  override protected def withNewChildInternal(newChild: Expression): SparseBitmapCount =
    copy(child = newChild)
}

/** EXACT membership probe against a serialized sparse bitmap sketch
  * (see [[SparseBitmapAgg]]) — the bitmap analog of
  * [[BloomMightContain]] with zero false positives: a filter built
  * from a sketch COLUMN or a driver-collected sketch literal answers
  * exact key membership, so an ingest gate or semi-join prune off a
  * persisted sparse sketch needs no verify join behind it. Probes go
  * through a small per-thread MRU of soft-referenced parsed sketches
  * (identity fast path for a literal sketch, content-equality
  * fallback for a sketch column; see
  * [[SparseBitmap.containsSerialized]]) and pay a chunk binary
  * search + container probe per key. A plan interleaving MORE
  * distinct sketches than the MRU holds per thread re-parses per
  * row — restructure such a plan as a join instead.
  */
case class SparseBitmapContains(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bitmap64_contains"

  override protected def nullSafeEval(sketch: Any, key: Any): Any =
    SparseBitmap.containsSerialized(sketch.asInstanceOf[Array[Byte]],
      key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, k) =>
      s"graft.functions.SparseBitmap$$.MODULE$$.containsSerialized($b, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SparseBitmapContains =
    copy(left = newLeft, right = newRight)
}

/** Membership probe against a bloom sketch (see [[BloomAgg]]). The
  * sketch side is any binary expression — in q53 it is a driver-
  * collected filter as a `Literal`, which Janino hoists into the
  * generated class like NearestCells' centroids, so the probe is a
  * narrow codegen'd filter on the fact scan with no join in the plan
  * at all; a sketch COLUMN (e.g. one bloom row per partition-bucket
  * joined in) works through the same expression. False positives
  * only; the exact join downstream removes them.
  */
case class BloomMightContain(left: Expression, right: Expression,
                             numHashes: Int)
  extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override protected def nullSafeEval(bloom: Any, key: Any): Any =
    GraftHashOps.bloomMightContain(bloom.asInstanceOf[Array[Byte]],
      key.asInstanceOf[Long], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, k) =>
      s"graft.functions.GraftHashOps.bloomMightContain($b, $k, $numHashes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/** JVM loops the generated code calls into (and interpreted eval
  * reuses). xxhash64 here matches Spark's SQL xxhash64 (XXH64 over
  * UTF-8 bytes, seed 42) so native and SQL paths hash identically.
  */
object GraftHashOps {
  private val SEED = 42L

  // --- bloom: Kirsch–Mitzenmotte double hashing; m is a power of
  // two so the probe index is one AND. h2 forced odd keeps the probe
  // stride coprime with m.
  private def bloomH1(key: Long) =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(key, SEED)
  private def bloomH2(key: Long) =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(key, 0x9E3779B97F4A7C15L) | 1L

  def bloomSet(bits: Array[Long], key: Long, numHashes: Int): Unit = {
    val m = bits.length.toLong * 64
    val h1 = bloomH1(key)
    val h2 = bloomH2(key)
    var i = 0
    while (i < numHashes) {
      val idx = (h1 + i * h2) & (m - 1)
      bits((idx >>> 6).toInt) |= 1L << (idx & 63)
      i += 1
    }
  }

  // 9-byte sketch header: 8 magic bytes + the numHashes the sketch
  // was BUILT with. The header exists because a probe with the WRONG
  // k reads bit positions the build never set and silently
  // false-negatives present keys; with it, that mistake fails loudly
  // instead — as does a probe of bytes that are not a published
  // sketch at all (no header).
  private val BloomMagic: Array[Byte] = "GRAFTBLM".getBytes("US-ASCII")

  def bloomBytesWithHeader(bits: Array[Long], numHashes: Int): Array[Byte] = {
    val words = longsToBytes(bits)
    val out = new Array[Byte](9 + words.length)
    System.arraycopy(BloomMagic, 0, out, 0, 8)
    out(8) = numHashes.toByte
    System.arraycopy(words, 0, out, 9, words.length)
    out
  }

  /** The k a headered sketch was built with; None = no header. */
  def bloomHeaderHashes(bloom: Array[Byte]): Option[Int] =
    if (bloom.length >= 9 && bloom.length % 8 == 1 &&
        java.util.Arrays.equals(java.util.Arrays.copyOf(bloom, 8), BloomMagic))
      Some(bloom(8) & 0xff)
    else None

  def bloomMightContain(bloom: Array[Byte], key: Long, numHashes: Int): Boolean = {
    val k = bloomHeaderHashes(bloom).getOrElse(throw new IllegalArgumentException(
      s"bloom sketch of ${bloom.length} bytes has no GRAFTBLM header — " +
        "only graft_bloom's published sketches can be probed"))
    if (k != numHashes) throw new IllegalArgumentException(
      s"bloom probe numHashes=$numHashes != the sketch's built k=$k — " +
        "a wrong-k probe would silently FALSE-NEGATIVE present keys")
    val off = 9
    val m = (bloom.length - off).toLong * 8
    val h1 = bloomH1(key)
    val h2 = bloomH2(key)
    var i = 0
    while (i < numHashes) {
      val idx = (h1 + i * h2) & (m - 1)
      if ((bloom(off + (idx >>> 3).toInt) & (1 << (idx & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }

  def longsToBytes(ws: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](ws.length * 8)
    var i = 0
    while (i < ws.length) {
      var j = 0
      while (j < 8) { out(i * 8 + j) = ((ws(i) >>> (8 * j)) & 0xff).toByte; j += 1 }
      i += 1
    }
    out
  }

  def bytesToLongs(bs: Array[Byte]): Array[Long] = {
    require(bs.length % 8 == 0, s"bloom byte length ${bs.length} not a whole word count")
    val out = new Array[Long](bs.length / 8)
    var i = 0
    while (i < out.length) {
      var w = 0L
      var j = 0
      while (j < 8) { w |= (bs(i * 8 + j) & 0xffL) << (8 * j); j += 1 }
      out(i) = w
      i += 1
    }
    out
  }

  private def hashString(s: UTF8String, seed: Long): Long =
    XxHash64Function.hash(s, StringType, seed)

  private def hashLong(v: Long, seed: Long): Long =
    XxHash64Function.hash(v, LongType, seed)

  private val LOG2 = math.log(2.0)

  def tokenStats(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var top = 0L
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        val slot = counts.get(t)
        val c = if (slot == null) { counts.put(t, Array(1L)); 1L }
                else { slot(0) += 1; slot(0) }
        if (c > top) top = c
      }
      i += 1
    }
    var bigrams = 0L
    if (n >= 2) {
      val bg = new java.util.HashSet[String]()
      i = 0
      while (i < n - 1) {
        val a = toks.getUTF8String(i)
        val b = toks.getUTF8String(i + 1)
        // length-prefixed pair identity: a plain space join collides
        // ("x","y z") with ("x y","z") when tokens can contain spaces,
        // silently inflating n_big_uniq — the prefix pins the boundary
        // byte-exactly (whitespace tokenizers never produce such
        // tokens, so oracle parity on the shipped pipelines is
        // unchanged)
        if (a != null && b != null)
          bg.add(a.numBytes() + ":" + a.toString + " " + b.toString)
        i += 1
      }
      bigrams = bg.size.toLong
    }
    new GenericInternalRow(Array[Any](n.toLong, counts.size.toLong, bigrams, top))
  }

  def charStats(s: UTF8String): InternalRow = {
    val str = s.toString
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var i = 0
    var total = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Array[Long]]()
        val slot = other.get(cp)
        if (slot == null) other.put(cp, Array(1L)) else slot(0) += 1
      }
      total += 1
      i += Character.charCount(cp)
    }
    var alphabet = 0L
    var ent = 0.0
    val nD = total.toDouble
    var c = 0
    while (c < 128) {
      if (ascii(c) > 0) {
        alphabet += 1
        val p = ascii(c) / nD
        ent -= p * (math.log(p) / LOG2)
      }
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        alphabet += 1
        val p = it.next()(0) / nD
        ent -= p * (math.log(p) / LOG2)
      }
    }
    new GenericInternalRow(Array[Any](total, alphabet, ent))
  }

  def l2norm(v: ArrayData): Double = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  def simhash64(toks: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      // null elements skip (tokenStats' rule) — a registered SQL
      // function must not NPE on array('a', NULL, 'b')
      val t = toks.getUTF8String(i)
      if (t != null) {
        val h = hashString(t, SEED)
        var j = 0
        while (j < 64) {
          if (((h >>> (63 - j)) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { sig = (sig << 1) | (if (counts(j) > 0) 1L else 0L); j += 1 }
    sig
  }

  def minhashSig(toks: ArrayData, k: Int, width: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = toks.numElements()
    if (n >= width) {
      val sb = new java.lang.StringBuilder
      var w = 0
      while (w <= n - width) {
        sb.setLength(0)
        var j = 0
        while (j < width) {
          if (j > 0) sb.append(' ')
          // a null element shingles as the empty token instead of
          // NPE-ing the task (a registered SQL function's posture)
          val t = toks.getUTF8String(w + j)
          if (t != null) sb.append(t.toString)
          j += 1
        }
        val base = hashString(UTF8String.fromString(sb.toString), SEED)
        var i = 0
        while (i < k) {
          val h = hashLong(i.toLong, base) // seeded family, one per perm
          if (h < sig(i)) sig(i) = h
          i += 1
        }
        w += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Top-`n` centroid indices by dot product, descending; ties keep
    * the lower index. Insertion-select over a small `n` — `k` (cell
    * count) stays in the hundreds, `n` is 1 (assignment) or nProbe.
    */
  def nearestCells(v: ArrayData, cents: Array[Array[Double]], n: Int): ArrayData = {
    val k = cents.length
    val m = math.min(n, k)
    val best = new Array[Int](m)
    val bestS = new Array[Double](m)
    var filled = 0
    var c = 0
    while (c < k) {
      val ct = cents(c)
      val d = math.min(v.numElements(), ct.length)
      var s = 0.0
      var i = 0
      while (i < d) { s += v.getDouble(i) * ct(i); i += 1 }
      // a NaN dot (NaN centroid or vector) must rank LAST, not first:
      // the descending insert below never displaces a stored NaN
      // (every comparison is false), so an unguarded NaN lands at
      // index 0 and silently wins every routing decision — TopKByScore
      // excludes NaN for the same ordering reason
      if (java.lang.Double.isNaN(s)) s = Double.NegativeInfinity
      // strictly-greater displaces, so equal scores stay index-ordered
      var pos = filled
      while (pos > 0 && bestS(pos - 1) < s) pos -= 1
      if (pos < m) {
        var j = math.min(filled, m - 1)
        while (j > pos) { bestS(j) = bestS(j - 1); best(j) = best(j - 1); j -= 1 }
        bestS(pos) = s
        best(pos) = c
        if (filled < m) filled += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(best, filled))
  }

  /** Packed band keys: band id << 32 | sign bits of the band's
    * `rows` hyperplane dots. A zero dot counts as positive (bit set)
    * so the mapping is total and deterministic.
    */
  def hyperplaneBands(v: ArrayData, planes: Array[Array[Double]],
                      nBands: Int, rows: Int): ArrayData = {
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var bits = 0L
      var r = 0
      while (r < rows) {
        val p = planes(b * rows + r)
        val d = math.min(v.numElements(), p.length)
        var s = 0.0
        var i = 0
        while (i < d) { s += v.getDouble(i) * p(i); i += 1 }
        bits = (bits << 1) | (if (s >= 0.0) 1L else 0L)
        r += 1
      }
      out(b) = (b.toLong << 32) | bits
      b += 1
    }
    new GenericArrayData(out)
  }

  def pqAdcScoreAt(code: Long, qi: Int, luts: Array[Array[Double]],
                   m: Int, ksub: Int, bits: Int): Double = {
    val mask = (1L << bits) - 1L
    val lut = luts(qi)
    var s = 0.0
    var c = code
    var j = m - 1
    while (j >= 0) { s += lut(j * ksub + (c & mask).toInt); c >>>= bits; j -= 1 }
    s
  }

  def bitmapCount(bytes: Array[Byte]): Long = {
    // the reverse of SparseBitmapCount's magic check: a sparse sketch
    // fed to the dense count would popcount headers into a plausible
    // but wrong "exact" answer — reject it loudly instead (the walk
    // only runs when the 4-byte magic matches, so the guard costs one
    // int compare per row)
    require(!SparseBitmap.looksSerialized(bytes),
      "graft_bitmap_count got a graft_bitmap64 sketch — use graft_bitmap64_count")
    var c = 0L
    var i = 0
    // popcount 8 bytes at a time over the tail-padded words
    while (i + 8 <= bytes.length) {
      var w = 0L
      var j = 0
      while (j < 8) { w |= (bytes(i + j) & 0xffL) << (8 * j); j += 1 }
      c += java.lang.Long.bitCount(w)
      i += 8
    }
    while (i < bytes.length) { c += Integer.bitCount(bytes(i) & 0xff); i += 1 }
    c
  }

  /** Normalize, snap each subspace to its nearest-L2 codeword, pack
    * the codeword ids big-endian at `bits` bits each. A zero vector
    * encodes against the unnormalized zeros (total, deterministic).
    * Ties keep the lower codeword id.
    */
  def pqEncode(v: ArrayData, books: Array[Array[Array[Double]]], bits: Int): Long = {
    val dim = v.numElements()
    var s = 0.0
    var i = 0
    while (i < dim) { val x = v.getDouble(i); s += x * x; i += 1 }
    val inv = if (s > 0.0) 1.0 / math.sqrt(s) else 1.0
    val m = books.length
    var code = 0L
    var off = 0
    var j = 0
    while (j < m) {
      val cb = books(j)
      val dsub = cb(0).length
      var best = 0
      var bestD = Double.MaxValue
      var b = 0
      while (b < cb.length) {
        val c = cb(b)
        var dd = 0.0
        var k = 0
        while (k < dsub && off + k < dim) {
          val x = v.getDouble(off + k) * inv - c(k)
          dd += x * x
          k += 1
        }
        if (dd < bestD) { bestD = dd; best = b }
        b += 1
      }
      code = (code << bits) | best.toLong
      off += dsub
      j += 1
    }
    code
  }

  def pqAdcScores(code: Long, luts: Array[Array[Double]],
                  m: Int, ksub: Int, bits: Int): ArrayData = {
    val codes = new Array[Int](m)
    val mask = (1L << bits) - 1L
    var c = code
    var j = m - 1
    while (j >= 0) { codes(j) = (c & mask).toInt; c >>>= bits; j -= 1 }
    val out = new Array[Double](luts.length)
    var q = 0
    while (q < luts.length) {
      val lut = luts(q)
      var s = 0.0
      var jj = 0
      while (jj < m) { s += lut(jj * ksub + codes(jj)); jj += 1 }
      out(q) = s
      q += 1
    }
    new GenericArrayData(out)
  }

  def rollingHashes(toks: ArrayData, width: Int): ArrayData = {
    val n = toks.numElements()
    if (n < width) return new GenericArrayData(Array.empty[Long])
    // hash each token once, then chain per window (seeded fold,
    // same shape as SQL xxhash64(acc, x))
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      // null elements hash as the empty token (tokenStats' rule)
      val t = toks.getUTF8String(i)
      th(i) = hashString(if (t == null) UTF8String.EMPTY_UTF8 else t, SEED)
      i += 1
    }
    val out = new Array[Long](n - width + 1)
    var w = 0
    while (w < out.length) {
      var acc = 0L
      var k = 0
      while (k < width) { acc = hashLong(th(w + k), hashLong(acc, SEED)); k += 1 }
      out(w) = acc
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** Column builders for the native expressions (attribute-name based;
  * resolved by the analyzer). Expression→Column wrapping goes through
  * [[org.apache.spark.sql.graft.ColumnBridge]].
  */
object GraftFunctions {
  import org.apache.spark.sql.graft.ColumnBridge.column

  private def attr(name: String) = UnresolvedAttribute.quoted(name)

  def dot(a: String, b: String): Column = column(DotProduct(attr(a), attr(b)))
  def l2norm(a: String): Column = column(L2Norm(attr(a)))
  def simhash64(toks: String): Column = column(SimHash64(attr(toks)))
  def rollingHashes(toks: String, width: Int): Column =
    column(RollingHashes(attr(toks), width))
  def minhashSig(toks: String, k: Int = 64, width: Int = 3): Column =
    column(MinHashSig(attr(toks), k, width))
  def nearestCells(v: String, cents: Array[Array[Double]], n: Int): Column =
    column(NearestCells(attr(v), cents, n))
  def hyperplaneBands(v: String, planes: Array[Array[Double]],
                      nBands: Int, rowsPerBand: Int): Column =
    column(HyperplaneBands(attr(v), planes, nBands, rowsPerBand))
  def charStats(text: String): Column = column(CharStats(attr(text)))
  def pqEncode(v: String, books: Array[Array[Array[Double]]], bits: Int): Column =
    column(PqEncode(attr(v), books, bits))
  def pqAdcScores(code: String, luts: Array[Array[Double]],
                  m: Int, ksub: Int, bits: Int): Column =
    column(PqAdcScores(attr(code), luts, m, ksub, bits))
  def pqAdcScoreAt(code: String, qi: String, luts: Array[Array[Double]],
                   m: Int, ksub: Int, bits: Int): Column =
    column(PqAdcScoreAt(attr(code), Cast(attr(qi), IntegerType), luts, m, ksub, bits))
  def tokenStats(toks: String): Column = column(TokenStats(attr(toks)))
  def topK(score: String, id: String, k: Int): Column =
    column(TopKByScore(
      Cast(attr(score), DoubleType), Cast(attr(id), LongType), k)
      .toAggregateExpression())
  /** topK with set semantics on (score, id): duplicate pairs occupy
    * one slot, so a bottom-k sketch can consume an un-distinct stream
    * and still sample the value SET — the global `distinct()` shuffle
    * the non-set formulation needs just disappears.
    */
  def topKDistinct(score: String, id: String, k: Int): Column =
    column(TopKByScore(
      Cast(attr(score), DoubleType), Cast(attr(id), LongType), k,
      distinct = true)
      .toAggregateExpression())
  def heavyHitters(item: String, capacity: Int): Column =
    column(HeavyHitters(attr(item), capacity).toAggregateExpression())
  def bitmapAgg(key: String, maxKey: Int): Column =
    column(BitmapAgg(Cast(attr(key), LongType), maxKey).toAggregateExpression())
  def bitmapUnion(sketch: String): Column =
    column(BitmapUnionAgg(attr(sketch)).toAggregateExpression())
  def bitmapCount(sketch: String): Column = column(BitmapCount(attr(sketch)))
  def bitmap64Agg(key: String): Column =
    column(SparseBitmapAgg(Cast(attr(key), LongType)).toAggregateExpression())
  def bitmap64Union(sketch: String): Column =
    column(SparseBitmapUnionAgg(attr(sketch)).toAggregateExpression())
  def bitmap64Count(sketch: String): Column = column(SparseBitmapCount(attr(sketch)))
  def bitmap64Contains(key: String, sketch: Array[Byte]): Column =
    column(SparseBitmapContains(Literal(sketch, BinaryType),
      Cast(attr(key), LongType)))
  def bloomAgg(key: String, numBits: Int, numHashes: Int): Column =
    column(BloomAgg(Cast(attr(key), LongType), numBits, numHashes)
      .toAggregateExpression())
  def bloomMightContain(key: String, bloom: Array[Byte], numHashes: Int): Column =
    column(BloomMightContain(Literal(bloom, BinaryType),
      Cast(attr(key), LongType), numHashes))
  /** The transposed probe: the SKETCH is a column (one bloom per row —
    * e.g. a per-file sidecar index) and the key is a constant. Used by
    * [[graft.operators.MergeTable.scanEqualsBloom]] to decide, per
    * manifest entry, whether the file can contain the probe value.
    */
  def bloomColMightContain(sketchCol: String, key: Long, numHashes: Int): Column =
    column(BloomMightContain(attr(sketchCol), Literal(key, LongType), numHashes))
}
