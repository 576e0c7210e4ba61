package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native n-gram shingle hasher: whitespace-tokenize the string and emit
  * the portable polynomial hash of every n-token window ("t1 t2 t3"
  * joined with single spaces), in one codegen'd pass.
  *
  * Arithmetic is identical to
  * `transform(wordShingles(text, n), polyHash)` (TextOps) — the HOF
  * chain re-evaluates the tokenizer per reference and interprets a
  * lambda per window (CodegenFallback), which dominated the near-dup
  * suites' wall-clock; this is one O(chars · n) primitive loop.
  * Token semantics match Spark's `split(text, "\\s+")` with limit -1
  * (leading/trailing empties preserved) so the equivalence is exact on
  * any input, not just clean text.
  */
case class ShingleHash(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hash requires (STRING, n>=1), got ${child.dataType.sql}, n=$n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hash"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHash.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHash.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash =
    copy(child = newChild)
}

object ShingleHash {
  import PolyHash.{Prime => P}

  def compute(s: UTF8String, n: Int): ArrayData = {
    // split exactly like Spark's split(text, "\s+") with limit -1
    val toks = s.toString.split("\\s+", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](toks.length - n + 1)
    var w = 0
    while (w < out.length) {
      var acc = 0L
      var j = 0
      while (j < n) {
        val t = toks(w + j)
        var i = 0
        val len = t.length
        while (i < len) {
          val cp = t.codePointAt(i)
          acc = (acc * 31L + cp) % P
          i += Character.charCount(cp)
        }
        if (j < n - 1) acc = (acc * 31L + ' '.toInt) % P
        j += 1
      }
      out(w) = acc
      w += 1
    }
    new GenericArrayData(out)
  }
}
