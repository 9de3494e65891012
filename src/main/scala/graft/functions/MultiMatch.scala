package graft.functions

import graft.core.AcAutomaton
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `multi_match(text, patterns...)` → array<long>: per-pattern counts of
  * ALL substring occurrences (overlapping included) in one pass over the
  * text, via an Aho–Corasick automaton (Aho & Corasick, CACM 1975) built
  * once per query and shared by every row.
  *
  * This is the scale path for PHRASE blocklists and contamination probes:
  * k patterns cost one text traversal, not k `regexp_count`/`replace`
  * passes — at 100 TB the naive formulation re-reads the corpus k times
  * inside the scan stage, while the automaton's per-byte work is one array
  * lookup regardless of k. Matching is raw substring (not token-bounded;
  * compose with the token-exact [[graft.ops.CorpusSignals.blocklistGate]]
  * when Scunthorpe safety matters), byte-level over UTF-8 — exact byte
  * equality of a valid UTF-8 pattern coincides with character equality, so
  * counts match any char-positional oracle.
  *
  * The automaton is the expression's private constant: built lazily on
  * first use, attached to generated code as a reference object (the plan
  * ships the PATTERNS, each executor materializes the automaton once).
  */
case class MultiMatch(child: Expression, patterns: Seq[String])
    extends UnaryExpression {

  require(patterns.nonEmpty, "multi_match: need at least one pattern")
  require(patterns.forall(_.nonEmpty), "multi_match: patterns must be non-empty")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"multi_match expects string, got ${child.dataType}")

  @transient private lazy val automaton = AcAutomaton.ofBytes(
    patterns.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else MultiMatch.compute(v.asInstanceOf[UTF8String], automaton)
  }

  /** Static-call codegen (the GramStats pattern); the automaton rides the
    * generated class's reference array, so the per-row code is one call.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val auto = ctx.addReferenceObj("acAutomaton", automaton,
      classOf[AcAutomaton].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MultiMatch.compute($c, $auto);")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatch =
    copy(child = newChild)
}

object MultiMatch {
  /** Shared interpreted/generated kernel: one byte-level automaton walk,
    * incrementing every pattern that ends at the current position (the
    * node's precomputed output set already includes suffix-link outputs,
    * so overlapping and nested matches all count).
    */
  def compute(v: UTF8String, a: AcAutomaton): ArrayData = {
    val bytes = v.getBytes
    val counts = new Array[Long](a.nPatterns)
    var s = 0
    var i = 0
    while (i < bytes.length) {
      s = a.delta(s)(bytes(i) & 0xff)
      val out = a.outputs(s)
      if (out != null) {
        var j = 0
        while (j < out.length) { counts(out(j)) += 1L; j += 1 }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** Register `multi_match(text, 'p1', 'p2', ...)` as a session function
    * (patterns must be string literals — they compile into the automaton).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "multi_match",
      (exprs: Seq[Expression]) => {
        require(exprs.length >= 2, "multi_match(text, pattern, ...)")
        val pats = exprs.tail.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, StringType) =>
            v.toString
          case other => throw new IllegalArgumentException(
            s"multi_match: patterns must be string literals, got $other")
        }
        MultiMatch(exprs.head, pats)
      },
      "built-in")
}
