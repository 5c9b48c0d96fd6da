package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.operators.Components

/** Connected components on a small subgraph runs a fixed number of jobs:
  * the kernel is picked from the undirected edge count, and below
  * [[Graft.IterRowsPerPartition]] rows the labels come from one collect and
  * a union-find on the driver, however many rounds the distributed loop
  * would need. The round loop's job count grows with its rounds on the
  * same inputs, so this fails if the driver-side path is lost.
  */
class ComponentsJobsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Jobs `f` launches on this thread, counted by a listener under a job
    * group of their own. A marker job closes the window: listener events
    * arrive in posting order, so once the marker is seen every job of `f`
    * has been counted.
    */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"components-jobs-${System.nanoTime()}"
    val marker = "components-jobs-marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ComponentsJobsSpec")
      f
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), s"marker job not seen; jobs so far: ${seen.asScala}")
      seen.size - 1
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setJobDescription(null)
    }
  }

  /** Checkpointed (nodes, edges) of a path over ids 1..n, so the count
    * covers only the components kernel, not the input's lineage.
    */
  private def path(n: Long): (DataFrame, DataFrame) =
    ((1L to n).toDF("id").localCheckpoint(),
      (1L until n).map(v => (v, v + 1)).toDF("src", "dst").localCheckpoint())

  private def jobs(kernel: (DataFrame, DataFrame) => DataFrame, n: Long): Int = {
    val (nodes, edges) = path(n)
    jobsOf(assert(kernel(nodes, edges).count() == n))
  }

  test("connectedComponents runs as many jobs for a 64-node path as for a 2-node pair") {
    val cc = Components.connectedComponents(_: DataFrame, _: DataFrame)
    val loop = Components.connectedComponentsRounds(_: DataFrame, _: DataFrame)
    val (pair, deep) = (jobs(cc, 2), jobs(cc, 64))
    assert(pair == deep, s"driver-side kernel: $pair jobs for 2 nodes, $deep for 64")
    // the guard bites: on the same inputs the round loop pays per round
    val (loopPair, loopDeep) = (jobs(loop, 2), jobs(loop, 64))
    assert(loopDeep > loopPair, s"round loop: $loopPair jobs for 2 nodes, $loopDeep for 64")
    assert(deep < loopDeep)
  }
}
