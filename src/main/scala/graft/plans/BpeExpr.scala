package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Merge-accurate BPE token counting at REAL merges-table size
  * (round-12 VERDICT directive 7). The composed HOF form
  * (TextOps.bpeTokenCountComposed) unrolls one interpreted
  * `aggregate(...)` lambda per merge rule into the expression tree —
  * exact, oracle-replayable, and measured fine at 25 rules, but a
  * published tokenizer ships 32k-50k merges and the tree (and its
  * per-element interpreted evaluation) grows linearly with the table:
  * 250 rules was already ~50× the 25-rule wall (PLANS.md round-13
  * curve). Here the merges table is DATA, not expression structure:
  * one compiled loop per row applies the rules in rank order with the
  * IDENTICAL greedy left-to-right semantics (differential-spec'd
  * against the composed form, and the registered t22 runs THIS
  * expression against the unchanged DuckDB twin), with an O(1)
  * symbol-presence prune that skips the rules a word cannot fire.
  *
  * The merges ship inside the expression (broadcast-a-small-dim in
  * expression space — a 50k-rule table is ~1 MB); codebook-style
  * content equality keeps Catalyst CSE working (PqExprs' lesson).
  *
  * Round 14 (r13 VERDICT directive 3): the rule-scan loop below
  * ([[BpeApply.countTokens]]) is O(rules · word) per word even with
  * the presence prune — at a published tokenizer's 32k-50k rules
  * that's ~100k hash probes per WORD, measured unusable (PLANS.md,
  * "BPE at published-tokenizer size").
  * The execution path is now the standard PAIR-RANK greedy merge
  * ([[BpeApply.countTokensRanked]]): hash each adjacent pair to its
  * rule rank, merge the best (lowest) rank first, repeat — per-word
  * cost is O(len²) in the (tiny) word length and INDEPENDENT of the
  * table size. For a well-formed merges table (every composite symbol
  * a rule references is created by a strictly earlier rule — how BPE
  * training emits them), best-rank-first is equivalent to the
  * sequential rank-order pass: once rule i's pass has run, no later
  * merge can recreate its pair, because that would require a later
  * rule to create rule i's left or right symbol. The sequential form
  * is kept verbatim as the differential-spec reference
  * (TextLayoutSpec pins ranked == sequential on the full synthetic
  * table and the gate corpus; t22's DuckDB twin is unchanged). */
object BpeApply {
  /** Reference form: sequential greedy BPE token count — split(' ',
    * -1), per word split('', -1) minus empties, one greedy
    * left-to-right pass per rule in rank order, sum of final symbol
    * counts. O(rules · word) per word: spec/oracle duty only. */
  def countTokens(text: UTF8String, lefts: Array[String], rights: Array[String]): Long = {
    val words = text.toString.split(" ", -1)
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var syms = w.split("", -1).filter(_.nonEmpty)
        // prune: a rule (l, r) can only fire if BOTH symbols are
        // present; the set only grows with merged symbols
        val present = new java.util.HashSet[String]()
        var i = 0
        while (i < syms.length) { present.add(syms(i)); i += 1 }
        var ri = 0
        while (ri < lefts.length && syms.length > 1) {
          val l = lefts(ri); val r = rights(ri)
          if (present.contains(l) && present.contains(r)) {
            val out = new Array[String](syms.length)
            var n = 0
            var j = 0
            var fired = false
            while (j < syms.length) {
              val x = syms(j)
              if (n > 0 && out(n - 1) == l && x == r) {
                out(n - 1) = l + r
                fired = true
              } else { out(n) = x; n += 1 }
              j += 1
            }
            if (fired) {
              syms = java.util.Arrays.copyOf(out, n)
              present.add(l + r)
            }
          }
          ri += 1
        }
        total += syms.length
      }
      wi += 1
    }
    total
  }

  /** Execution form: pair-rank greedy merge. Each round scans the
    * word's adjacent pairs against the rank index, fires ONE greedy
    * left-to-right pass of the best-ranked rule (identical pass
    * semantics to the sequential form), and repeats until no adjacent
    * pair is a rule. Table-size-independent per word. */
  def countTokensRanked(text: UTF8String, table: BpeTable): Long = {
    val ranks = table.ranks
    val words = text.toString.split(" ", -1)
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var syms = w.split("", -1).filter(_.nonEmpty)
        var done = syms.length <= 1
        while (!done) {
          var best = Integer.MAX_VALUE
          var i = 0
          while (i < syms.length - 1) {
            val r = ranks.get(syms(i) + "\u0000" + syms(i + 1))
            if (r != null && r.intValue() < best) best = r.intValue()
            i += 1
          }
          if (best == Integer.MAX_VALUE) done = true
          else {
            val l = table.lefts(best); val r = table.rights(best)
            val out = new Array[String](syms.length)
            var n = 0
            var j = 0
            while (j < syms.length) {
              val x = syms(j)
              if (n > 0 && out(n - 1) == l && x == r) out(n - 1) = l + r
              else { out(n) = x; n += 1 }
              j += 1
            }
            syms = java.util.Arrays.copyOf(out, n)
            if (syms.length <= 1) done = true
          }
        }
        total += syms.length
      }
      wi += 1
    }
    total
  }
}

/** The merges table as a shippable value: rule arrays plus a lazily
  * rebuilt (per JVM) pair → rank hash index. On duplicate pairs the
  * LOWEST rank wins — the only occurrence the sequential form can
  * fire. */
class BpeTable(val lefts: Array[String], val rights: Array[String])
    extends Serializable {
  @transient lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](lefts.length * 2)
    var i = 0
    while (i < lefts.length) {
      val k = lefts(i) + "\u0000" + rights(i)
      if (!m.containsKey(k)) m.put(k, Integer.valueOf(i))
      i += 1
    }
    m
  }
}

case class BpeCountExpr(child: Expression,
    lefts: Array[String], rights: Array[String]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if lefts.length == rights.length =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_count: ragged merges table (${lefts.length} lefts, ${rights.length} rights)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_count requires a string column, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_count"

  // one table instance per expression; the rank index rebuilds lazily
  // on each executor after deserialization
  @transient private lazy val table = new BpeTable(lefts, rights)

  override protected def nullSafeEval(input: Any): Any =
    BpeApply.countTokensRanked(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("bpeTable", table, "graft.plans.BpeTable")
    defineCodeGen(ctx, ev, t =>
      s"graft.plans.BpeApply.countTokensRanked($t, $tRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // content-based merges equality so two identically-parameterized
  // counters canonicalize equal (PqCodesExpr's CSE rationale)
  override def equals(other: Any): Boolean = other match {
    case b: BpeCountExpr => b.child == child &&
      java.util.Arrays.equals(b.lefts.asInstanceOf[Array[AnyRef]], lefts.asInstanceOf[Array[AnyRef]]) &&
      java.util.Arrays.equals(b.rights.asInstanceOf[Array[AnyRef]], rights.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(getClass, child,
    Integer.valueOf(java.util.Arrays.hashCode(lefts.asInstanceOf[Array[AnyRef]])),
    Integer.valueOf(java.util.Arrays.hashCode(rights.asInstanceOf[Array[AnyRef]])))
}
