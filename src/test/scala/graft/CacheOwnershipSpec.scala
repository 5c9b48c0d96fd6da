package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.operators.Dedup

/** The cache-ownership contract of [[Graft.persist]], [[Graft.fill]] and
  * [[Graft.releaseCaches]]: graft releases exactly what graft persisted,
  * never a relation the caller cached, and every fill job is named.
  */
class CacheOwnershipSpec extends SparkSpecBase {

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("releaseCaches keeps the caller's cache and releases every graft-registered plan") {
    // the caller caches the very relation the query scans
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").persist()
    try {
      docs.count()
      Dedup.queries("dedup_minhash_pairs")(spark, sfDir).collect()
      val owned = Graft.registered(spark)
      assert(owned.nonEmpty, "dedup_minhash_pairs fills its signature relation")
      assert(!owned.exists(_ eq docs))
      Graft.releaseCaches(spark)
      assert(cached(docs), "releaseCaches dropped the caller's cache")
      assert(owned.forall(!cached(_)), "a graft-registered plan is still cached")
      val left = Graft.registered(spark)
      assert(!owned.exists(o => left.exists(_ eq o)), "released entries must leave the registry")
    } finally docs.unpersist()
  }

  test("persist and fill leave an already-cached plan unregistered") {
    val mine = spark.range(0, 997).selectExpr("id", "id * 31 AS v").persist()
    try {
      Graft.persist(mine)
      assert(Graft.fill(mine, "spec/already-cached") == 997L)
      // a DataFrame with the same plan is the same cache entry
      val twin = spark.range(0, 997).selectExpr("id", "id * 31 AS v")
      Graft.persist(twin)
      assert(!Graft.registered(spark).exists(r => (r eq mine) || (r eq twin)))
      Graft.releaseCaches(spark)
      assert(cached(mine), "graft released a cache it did not create")
    } finally mine.unpersist()

    val fresh = spark.range(0, 991).selectExpr("id", "id * 37 AS v")
    assert(Graft.fill(fresh, "spec/fresh") == 991L)
    assert(cached(fresh) && Graft.registered(spark).exists(_ eq fresh))
    Graft.releaseCaches(spark)
    assert(!cached(fresh))
  }

  test("each fill job is described graft.fill:<site> under the caller's job group") {
    val sc = spark.sparkContext
    val group = s"cache-ownership-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller group")
      sc.setJobDescription("caller description")
      Dedup.queries("dedup_minhash_pairs")(spark, sfDir)
      Graft.fill(spark.range(0, 983).selectExpr("id", "id * 41 AS v"), "spec/site")
      assert(sc.getLocalProperty("spark.job.description") == "caller description")
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      val want = Set("graft.fill:Dedup.minhashPairsFor/sig", "graft.fill:spec/site")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!want.subsetOf(seen.asScala.toSet) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(want.subsetOf(seen.asScala.toSet), s"jobs seen in the group: ${seen.asScala}")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setJobDescription(null)
      Graft.releaseCaches(spark)
    }
  }
}
