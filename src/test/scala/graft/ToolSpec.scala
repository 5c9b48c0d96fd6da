package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `graft.Tool`'s subcommands, driven as functions on the suite session
  * (a `newSession()` child where confs change, so no other suite sees
  * them).
  */
class ToolSpec extends SparkSpecBase {

  // a row_number() top-k that the GroupTopK rule rewrites
  private val topK = "q_min_price_per_part"
  private val killSwitch = "spark.graft.groupTopK.enabled"

  test("time with one --conf runs both arms in every rep, alternating which goes first") {
    val s = spark.newSession()
    // whether each noop-sink write ran the GroupTopK operator, in order
    val usedTopK = new ConcurrentLinkedQueue[Boolean]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (funcName == "overwrite") usedTopK.add(qe.executedPlan.toString.contains("GroupTopK"))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val runs = Tool.time(s, Seq(topK), sfDir, None, 2, Seq(killSwitch -> "false"))
      assert(runs.map(r => (r.rep, r.arm)) ==
        Seq(1 -> "base", 1 -> "conf", 2 -> "conf", 2 -> "base"))
      assert(runs.forall(r => r.query == topK && r.seconds > 0 && r.compiles >= 0))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (usedTopK.size < 4 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(usedTopK.asScala.toSeq == Seq(true, false, false, true),
        "the conf arm must run with the kill switch set, the base arm without")
    } finally s.listenerManager.unregister(listener)
  }

  test("time restores each conf's prior value, set or unset") {
    val s = spark.newSession()
    val unsetKey = "spark.graft.maxPerKey.enabled"
    s.conf.set(killSwitch, "true")
    assert(s.conf.getOption(unsetKey).isEmpty)
    Tool.time(s, Seq(topK), sfDir, None, 1, Seq(killSwitch -> "false", unsetKey -> "false"))
    assert(s.conf.getOption(killSwitch).contains("true"))
    assert(s.conf.getOption(unsetKey).isEmpty)
  }

  test("time releases what each warm and timed run registered") {
    val before = Graft.registered(spark)
    // dedup_minhash_pairs fills its signature relation (CacheOwnershipSpec)
    val runs = Tool.time(spark, Seq("dedup_minhash_pairs"), sfDir, Some(sfDir), 1, Nil)
    assert(runs.map(_.arm) == Seq("base"))
    val left = Graft.registered(spark).filterNot(r => before.exists(_ eq r))
    assert(left.isEmpty, s"${left.size} relations still registered after Tool.time")
  }

  test("plan writes the formatted plan, and an ERROR file for an unknown query") {
    val out = Files.createTempDirectory("graft-tool-plan")
    try {
      Tool.plan(spark, out.toString, "t", Seq(topK, "no_such_query"), sfDir)
      val known = Files.readString(out.resolve(s"${topK}_t.txt"))
      assert(known.contains("== Physical Plan =="), known)
      assert(Files.readString(out.resolve("no_such_query_t.txt")) ==
        "ERROR: unknown query 'no_such_query'")
    } finally Files.walk(out).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }
}
