package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.debug.codegenStringSeq

/** Fleet-wide generated-method bytecode audit (r11 verdict task #3).
  *
  * Background: HotSpot refuses to JIT any method over 8000 bytecodes
  * (-XX:DontCompileHugeMethods), while Spark's whole-stage-codegen
  * fallback threshold (`spark.sql.codegen.hugeMethodLimit`) defaults to
  * 65535 — so a generated method in (8000, 65535] compiles under Janino
  * but executes as INTERPRETED bytecode forever (Cliff #6, found r11:
  * 13x on the sized-LSH probe). `Graft.init` now aligns the limit to
  * 8000, which makes oversized stages CORRECT but Volcano-slow: they
  * fall back to per-operator execution instead of fused codegen. This
  * audit makes the discovery structural: it walks EVERY
  * `SparkEntry.queries` plan, compiles each WholeStageCodegen subtree via
  * the public `debug.codegenStringSeq` hook (which reports
  * `ByteCodeStats.maxMethodCodeSize` from the real Janino output), and
  * names the queries whose stages exceed the JIT window — so wide-unroll
  * plans are restructured (or accepted) deliberately, never silently.
  *
  * `graft.Tool bytecode` prints the fleet report; results recorded in
  * BASELINE.md; BytecodeAuditSpec enforces the whitelist in the suite.
  */
object BytecodeAudit {
  /** HotSpot's DontCompileHugeMethods default: the bytecode size above
    * which a method is never JIT-compiled.
    */
  val JitLimit = 8000

  /** (query, wholestage-subtree count, max generated-method bytecode size,
    * subtrees over the JIT window) for each name, built against `d`.
    * maxMethodCodeSize is -1 when a subtree's Janino stats are
    * unavailable (counted as 0 stages over — compile failures surface in
    * the suite's execution tests, not here).
    *
    * Runs on an AQE-OFF sibling session: debug.codegenStringSeq cannot
    * descend into an un-executed AdaptiveSparkPlanExec (it found 3 of
    * ~1100 subtrees with AQE on — measured), and generated-method sizes
    * are driven by expression/operator complexity, which AQE's runtime
    * re-planning does not change materially. The caller's session is
    * untouched.
    */
  def audit(spark: SparkSession, d: String,
            names: Seq[String]): Seq[(String, Int, Int, Int)] = {
    val s = Graft.init(spark.newSession())
    s.conf.set("spark.sql.adaptive.enabled", "false")
    names.map { n =>
      val df = SparkEntry.queries(n)(s, d)
      // Persisted subtrees hide their build plan behind an
      // InMemoryTableScan: the cache-FILL stages (e.g. a 60-column vote
      // aggregate) still execute once per query but are absent from the
      // executed plan's own WholeStageCodegen walk. Descend into every
      // cachedPlan (recursively — a cached plan can scan another cache)
      // so a .persist() can never move a stage out of the audit's sight.
      def plans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.collect {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            plans(m.relation.cachedPlan)
        }.flatten
      val stages = plans(df.queryExecution.executedPlan)
        .flatMap(codegenStringSeq(_))
      Graft.releaseCaches(s)
      val sizes = stages.map(_._3.maxMethodCodeSize)
      (n, stages.size, if (sizes.isEmpty) 0 else sizes.max,
        sizes.count(_ > JitLimit))
    }
  }
}
