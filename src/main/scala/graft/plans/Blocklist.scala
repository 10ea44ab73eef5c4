package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern matcher — the blocklist gate every
  * large-scale training-data pipeline runs (C4's banned-word list,
  * Raffel et al. 2020 §2.2; CCNet/RefinedWeb domain+term gates). One
  * automaton walk per document finds every blocklist term at once:
  * O(len(text) + matches), independent of blocklist size — at 100 TB
  * with a multi-thousand-term list this is the difference between one
  * scan and thousands of `contains` passes.
  *
  * Match semantics are leftmost non-overlapping PER PATTERN (what
  * `replace(t, p, '')` counts, so the DuckDB oracle states the same
  * counts in closed form): occurrences of different patterns may
  * overlap each other, occurrences of one pattern never self-overlap.
  * Matching is case-sensitive — callers lowercase via Spark's `lower`
  * so case folding stays in the engine (symmetric with the oracle's
  * `lower(text)`), not re-implemented here.
  *
  * The automaton rebuilds lazily from the pattern array after
  * serialization (fields are @transient), so shipping the expression to
  * executors ships only the strings; each executor compiles once.
  */
final class AhoCorasick(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "blocklist patterns must be non-empty strings")

  // trie arrays, built on first use on each JVM
  @transient private lazy val built: AhoCorasick.Built = AhoCorasick.build(patterns)

  /** Per-pattern leftmost-non-overlapping match counts over `text`,
    * index-aligned with `patterns`. Static-shaped output: every row
    * yields an array of exactly `patterns.length` longs.
    *
    * Decodes the UTF8String's bytes to UTF-16 units in place — no
    * per-row String copy in the codegen hot path; positions and match
    * results are identical to walking `text.toString` (trie edges are
    * UTF-16 units, surrogate pairs feed as two steps).
    */
  def counts(text: UTF8String): GenericArrayData = {
    val b = built
    val out = new Array[Long](patterns.length)
    val lastEnd = new Array[Int](patterns.length)
    var node = 0
    var ci = 0 // UTF-16 unit index, as String.charAt would count
    var bi = 0
    val n = text.numBytes
    // java.nio-exact UTF-8 decode (one U+FFFD per MALFORMED UNIT, where
    // the unit length follows JDK UTF_8's rules: overlong/range-invalid
    // first continuation -> 1; later non-continuation -> bytes consumed
    // so far; surrogate triple / truncated tail -> whole prefix) so
    // match positions are identical to walking text.toString on ANY
    // byte content, valid or not — property-fuzzed in TextAnalysisSpec.
    @inline def cont(i: Int): Boolean =
      i < n && (text.getByte(i) & 0xc0) == 0x80
    while (bi < n) {
      val b0 = text.getByte(bi) & 0xff
      var cp = 0xfffd
      var len = 1
      if (b0 < 0x80) { cp = b0 }
      else if (b0 < 0xc2) () // stray continuation or overlong lead C0/C1
      else if (b0 < 0xe0) { // 2-byte
        if (cont(bi + 1)) {
          cp = ((b0 & 0x1f) << 6) | (text.getByte(bi + 1) & 0x3f); len = 2
        }
      } else if (b0 < 0xf0) { // 3-byte
        val b1 = if (bi + 1 < n) text.getByte(bi + 1) & 0xff else -1
        if (b1 >= 0 && !(b0 == 0xe0 && (b1 & 0xe0) == 0x80) && (b1 & 0xc0) == 0x80) {
          if (bi + 2 >= n) len = 2 // truncated tail: one U+FFFD for both
          else if (!cont(bi + 2)) len = 2
          else {
            val c = ((b0 & 0x0f) << 12) | ((b1 & 0x3f) << 6) |
              (text.getByte(bi + 2) & 0x3f)
            len = 3
            if (c < 0xd800 || c > 0xdfff) cp = c // surrogate -> FFFD over all 3
          }
        }
      } else if (b0 <= 0xf4) { // 4-byte
        val b1 = if (bi + 1 < n) text.getByte(bi + 1) & 0xff else -1
        val b1ok = b1 >= 0 && ((b0 == 0xf0 && b1 >= 0x90 && b1 <= 0xbf) ||
          (b0 >= 0xf1 && b0 <= 0xf3 && (b1 & 0xc0) == 0x80) ||
          (b0 == 0xf4 && (b1 & 0xf0) == 0x80))
        if (b1ok) {
          if (bi + 2 >= n) len = 2
          else if (!cont(bi + 2)) len = 2
          else if (bi + 3 >= n) len = 3
          else if (!cont(bi + 3)) len = 3
          else {
            cp = ((b0 & 0x07) << 18) | ((b1 & 0x3f) << 12) |
              ((text.getByte(bi + 2) & 0x3f) << 6) | (text.getByte(bi + 3) & 0x3f)
            len = 4
          }
        }
      } // else F5-FF: malformed lead, one FFFD
      bi += len
      // feed one or (astral cp) two UTF-16 units through the automaton
      var unit = 0
      val units = if (cp >= 0x10000) 2 else 1
      while (unit < units) {
        val c: Char =
          if (units == 2 && unit == 0) (0xd800 + ((cp - 0x10000) >>> 10)).toChar
          else if (units == 2) (0xdc00 + ((cp - 0x10000) & 0x3ff)).toChar
          else cp.toChar
        var next = b.step(node, c)
        while (next < 0 && node != 0) { node = b.fail(node); next = b.step(node, c) }
        node = if (next < 0) 0 else next
        // emit every pattern ending here (output links pre-flattened)
        val outs = b.out(node)
        var j = 0
        while (j < outs.length) {
          val pid = outs(j)
          val start = ci + 1 - b.patLen(pid)
          if (start >= lastEnd(pid)) { out(pid) += 1L; lastEnd(pid) = ci + 1 }
          j += 1
        }
        ci += 1
        unit += 1
      }
    }
    new GenericArrayData(out)
  }
}

object AhoCorasick {

  /** Flattened automaton: per-node sorted char edges (binary-searched),
    * fail links, and pre-flattened output pattern ids (each node's own
    * terminal patterns plus everything reachable via fail links, so the
    * match loop never chases fail links for output).
    */
  final case class Built(
      edgeChars: Array[Array[Char]],
      edgeTo: Array[Array[Int]],
      fail: Array[Int],
      out: Array[Array[Int]],
      patLen: Array[Int]) {
    def step(node: Int, c: Char): Int = {
      val cs = edgeChars(node)
      var lo = 0
      var hi = cs.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val m = cs(mid)
        if (m == c) return edgeTo(node)(mid)
        else if (m < c) lo = mid + 1
        else hi = mid - 1
      }
      -1
    }
  }

  def build(patterns: Array[String]): Built = {
    import scala.collection.mutable
    val next = mutable.ArrayBuffer(mutable.TreeMap.empty[Char, Int])
    val term = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Int])
    // trie insertion
    var pid = 0
    while (pid < patterns.length) {
      var node = 0
      val p = patterns(pid)
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        node = next(node).getOrElse(c, {
          next += mutable.TreeMap.empty[Char, Int]
          term += mutable.ArrayBuffer.empty[Int]
          val id = next.length - 1
          next(node)(c) = id
          id
        })
        i += 1
      }
      term(node) += pid
      pid += 1
    }
    // BFS fail links; flatten outputs through fail chains as we go
    val n = next.length
    val fail = new Array[Int](n)
    val out = new Array[Array[Int]](n)
    out(0) = term(0).toArray
    val queue = mutable.Queue.empty[Int]
    for (v <- next(0).valuesIterator) { fail(v) = 0; queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      out(u) = (term(u) ++ out(fail(u))).toArray.sorted
      for ((c, v) <- next(u)) {
        var f = fail(u)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(v) = next(f).get(c).filter(_ != v).getOrElse(0)
        queue += v
      }
    }
    Built(
      edgeChars = next.map(_.keysIterator.toArray).toArray,
      edgeTo = next.map(_.valuesIterator.toArray).toArray,
      fail = fail,
      out = out,
      patLen = patterns.map(_.length))
  }
}

/** Per-pattern blocklist match counts as a native codegen expression:
  * `array<long>` index-aligned with the (literal) pattern list. The
  * automaton object rides along as a codegen reference, so the call
  * stays inside the whole-stage span — no UDF island in the middle of
  * the per-document gate projection.
  */
case class BlocklistCountsExpr(child: Expression, patterns: Seq[String])
    extends UnaryExpression with CostlyKernel {

  @transient private lazy val automaton = new AhoCorasick(patterns.toArray)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "blocklist_counts"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (patterns.isEmpty || patterns.exists(_.isEmpty))
      // surface a bad pattern list at analysis time, not when the lazy
      // automaton's require fires on an executor mid-job
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a non-empty list of non-empty patterns")
    else if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    automaton.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blocklistAutomaton", automaton,
      classOf[AhoCorasick].getName)
    defineCodeGen(ctx, ev, c => s"$ref.counts($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BlocklistCountsExpr =
    copy(child = newChild)
}
