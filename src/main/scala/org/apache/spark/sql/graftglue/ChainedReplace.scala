package org.apache.spark.sql.graftglue

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply a literal (search → replacement) list in order, in ONE expression.
  *
  * Semantically identical to folding `functions.replace` — each step is
  * `UTF8String.replace` (all non-overlapping occurrences, left-to-right),
  * exactly what a chain of `StringReplace` nodes evaluates. The difference
  * is plan shape: a BPE merge list is hundreds of steps today and 10⁴-10⁵
  * in production, and a fold is an expression TREE that deep — when the
  * projection runs interpreted (e.g. a CodegenFallback lambda elsewhere in
  * the projection forces it, as Bpe.symbolize's `filter` HOF did) every row
  * pays per-step virtual dispatch and a fresh intermediate per node, and
  * under codegen the emitted source grows linearly with the chain until it
  * blows the generated-method size limit. Here the whole list is one
  * expression node looping over a reference-object array — constant plan
  * size and constant generated code no matter how long the tokenizer's
  * merge table grows (q_bpe_segment's Project carries its codegen star
  * with this + the regexp symbolize; the 268-node fold shape is gone).
  *
  * Null input → null; search strings must be non-empty (an empty search is
  * a replace no-op that would differ between engines).
  *
  * `memoSize > 0` (r15) adds a per-THREAD bounded LRU over input →
  * output. The chain is a pure function, and its dominant consumer —
  * BPE segmentation — evaluates it over corpus tokens, which repeat with
  * Zipf frequency: one distinct token pays the O(steps × length) scan
  * once per executor thread, every repeat is a hash hit. That matters
  * more, not less, at scale: a production merge table is 10⁴-10⁵ steps,
  * so the per-MISS cost grows with the tokenizer while the hit cost
  * stays O(length). Thread-local (no contention, no shared-state races
  * across speculative tasks), access-ordered, capped at `memoSize`
  * entries per thread. Keys AND never-replaced results are CLONED
  * before caching — codegen hands row-buffer-backed UTF8Strings whose
  * bytes the next row overwrites, and `UTF8String.replace` returns the
  * INPUT object when nothing matched.
  */
case class ChainedReplace(child: Expression, steps: Seq[(String, String)],
                          memoSize: Int = 0)
    extends UnaryExpression with ExpectsInputTypes {

  require(steps.forall(_._1.nonEmpty), "ChainedReplace: empty search string")
  require(memoSize >= 0, s"ChainedReplace: negative memoSize $memoSize")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "chained_replace"

  @transient private lazy val searches: Array[UTF8String] =
    steps.map(s => UTF8String.fromString(s._1)).toArray
  @transient private lazy val replacements: Array[UTF8String] =
    steps.map(s => UTF8String.fromString(s._2)).toArray

  @transient private lazy val memo:
      ThreadLocal[java.util.LinkedHashMap[UTF8String, UTF8String]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[UTF8String, UTF8String](
          math.min(memoSize, 1024), 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[UTF8String, UTF8String]): Boolean =
          size() > memoSize
      })

  private def replaceAll(s0: UTF8String): UTF8String = {
    var s = s0
    var i = 0
    while (i < searches.length) {
      s = s.replace(searches(i), replacements(i))
      i += 1
    }
    s
  }

  /** eval body, shared with the generated code. */
  def apply(v: UTF8String): UTF8String =
    if (memoSize <= 0) replaceAll(v)
    else {
      val m = memo.get()
      val hit = m.get(v)
      if (hit != null) hit
      else {
        val k = v.clone() // detach from the reused row buffer
        val out = replaceAll(k) // returns k itself when nothing matched
        m.put(k, out)
        out
      }
    }

  override def nullSafeEval(v: Any): Any = apply(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      if (memoSize > 0) {
        val self = ctx.addReferenceObj("chainedReplace", this,
          classOf[ChainedReplace].getName)
        s"${ev.value} = $self.apply($in);"
      } else {
        val cls = "org.apache.spark.unsafe.types.UTF8String[]"
        val se = ctx.addReferenceObj("searches", searches, cls)
        val re = ctx.addReferenceObj("replacements", replacements, cls)
        val s = ctx.freshName("s")
        val i = ctx.freshName("i")
        s"""
           |org.apache.spark.unsafe.types.UTF8String $s = $in;
           |for (int $i = 0; $i < ${steps.length}; $i++) {
           |  $s = $s.replace($se[$i], $re[$i]);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

  override protected def withNewChildInternal(newChild: Expression): ChainedReplace =
    copy(child = newChild)
}
