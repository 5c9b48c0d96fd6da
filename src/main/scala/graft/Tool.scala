package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode

/** Dev measurement tool on the contract session ([[Graft.session]]);
  * `Usage` lists the subcommands. `--sf` defaults to
  * `$SPARK_GRAFT_SF_DIR`, as in Bench. Every query is followed by
  * [[Graft.releaseCaches]], so no run reads a cache a predecessor filled.
  * The subcommands are functions on a session, so a spec can drive them.
  */
object Tool {

  /** One timed execution of `query`: `arm` is "base", or "conf" when it
    * ran with the `--conf` settings. `compileMs` is Janino compile time.
    */
  case class Run(query: String, rep: Int, arm: String, seconds: Double,
                 compiles: Long, compileMs: Double, gcMs: Long)

  private val Usage =
    """usage: graft.Tool time <q,..> [--sf DIR] [--warm DIR] [--reps N] [--conf k=v]...
      |       graft.Tool plan <outDir> <suffix> <q,..> [--sf DIR]
      |       graft.Tool bytecode [--sf DIR]""".stripMargin

  def main(args: Array[String]): Unit = {
    val (pos, opts) = parse(args.toList)
    def fail(msg: String): Nothing = {
      System.err.println(s"$msg\n$Usage")
      sys.exit(2)
    }
    def allow(flags: String*): Unit =
      (opts.keySet -- flags).headOption.foreach(f => fail(s"unknown option $f"))
    def one(flag: String): Option[String] = opts.get(flag).map(_.last)
    def sf: String = one("--sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(fail("--sf DIR (or SPARK_GRAFT_SF_DIR) is required"))
    val command: SparkSession => Unit = pos match {
      case List("time", qs) =>
        allow("--sf", "--warm", "--reps", "--conf")
        val reps = one("--reps").fold(3)(n =>
          n.toIntOption.filter(_ > 0).getOrElse(fail(s"--reps $n: not a positive integer")))
        val confs = opts.getOrElse("--conf", Nil).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) if k.nonEmpty => k -> v
            case _ => fail(s"--conf $kv: expected k=v")
          }
        }
        val (sfDir, warm) = (sf, one("--warm"))
        s => time(s, SparkEntry.names(qs), sfDir, warm, reps, confs)
      case List("plan", outDir, suffix, qs) =>
        allow("--sf")
        val sfDir = sf
        s => plan(s, outDir, suffix, SparkEntry.names(qs), sfDir)
      case List("bytecode") =>
        allow("--sf")
        val sfDir = sf
        s => bytecode(s, sfDir)
      case _ => fail(s"bad arguments: ${args.mkString(" ")}")
    }
    val spark = Graft.session()
    try command(spark) finally spark.stop()
  }

  /** Positional arguments, and the values of each `--flag value` pair in
    * the order given.
    */
  private def parse(args: List[String]): (List[String], Map[String, List[String]]) =
    args match {
      case f :: v :: rest if f.startsWith("--") =>
        val (pos, opts) = parse(rest)
        (pos, opts.updated(f, v :: opts.getOrElse(f, Nil)))
      case a :: rest =>
        val (pos, opts) = parse(rest)
        (a :: pos, opts)
      case Nil => (Nil, Map.empty)
    }

  /** Times each query `reps` times through the noop sink at `sfDir`,
    * printing a line per run and the median per arm. With `confs`, every
    * rep runs the query twice, once as is and once with `confs` set; the
    * two arms alternate order from rep to rep, so a drift of the host
    * falls on both. `warm`, when given, first runs each arm once there,
    * untimed.
    */
  def time(spark: SparkSession, names: Seq[String], sfDir: String,
           warm: Option[String], reps: Int, confs: Seq[(String, String)]): Seq[Run] = {
    val all = SparkEntry.queries
    val arms = if (confs.isEmpty) Seq("base") else Seq("base", "conf")
    names.flatMap { q =>
      val fn = all.getOrElse(q, throw new IllegalArgumentException(s"unknown query '$q'"))
      def run(dir: String, arm: String): Double = {
        val t0 = System.nanoTime()
        try {
          withConfs(spark, if (arm == "conf") confs else Nil) {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
          }
          (System.nanoTime() - t0) / 1e9
        } finally Graft.releaseCaches(spark)
      }
      warm.foreach { dir =>
        // a query degenerate at a tiny warm SF just skips warming
        arms.foreach(arm => try run(dir, arm) catch { case NonFatal(_) => () })
      }
      val runs = (1 to reps).flatMap { rep =>
        (if (rep % 2 == 1) arms else arms.reverse).map { arm =>
          val (c0, ns0, gc0) = (compiles(), CodeGenerator.compileTime, gcMs())
          val seconds = run(sfDir, arm)
          val r = Run(q, rep, arm, seconds, compiles() - c0,
            (CodeGenerator.compileTime - ns0) / 1e6, gcMs() - gc0)
          println(f"TIME $q rep=$rep arm=$arm t=${r.seconds}%.3fs " +
            f"janino_compiles=${r.compiles} janino_ms=${r.compileMs}%.1f gc_ms=${r.gcMs}")
          r
        }
      }
      val medians = arms.map { arm =>
        val s = runs.filter(_.arm == arm).map(_.seconds).sorted
        arm -> (s((s.size - 1) / 2) + s(s.size / 2)) / 2
      }
      val ratio = if (confs.isEmpty) ""
        else f" conf/base=${medians(1)._2 / medians(0)._2}%.3f"
      println(s"MEDIAN $q " +
        medians.map { case (arm, m) => f"$arm=$m%.3fs" }.mkString(" ") + ratio)
      runs
    }
  }

  /** Runs `f` with `confs` set, then restores each key's prior value, or
    * unsets it if it had none.
    */
  private def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(f: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Writes `<outDir>/<q>_<suffix>.txt` per query: its formatted physical
    * plan built against `sfDir`, or an `ERROR:` line for an unknown query
    * or one whose construction throws (for before/after plan records).
    */
  def plan(spark: SparkSession, outDir: String, suffix: String,
           names: Seq[String], sfDir: String): Unit = {
    val all = SparkEntry.queries
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val txt = all.get(n) match {
        case None => s"ERROR: unknown query '$n'"
        case Some(fn) =>
          try fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"ERROR: ${e.getClass.getName}: ${e.getMessage}" }
          // a subtree persisted while building this query would otherwise
          // show up as InMemoryTableScan in a later query's plan
          finally Graft.releaseCaches(spark)
      }
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"wrote $n ($suffix): ${txt.length} chars")
    }
  }

  /** Prints [[BytecodeAudit.audit]] over every query: `AUDIT <name>
    * stages=<n> max_method=<bytecodes> over_jit=<n>` per query, a
    * SUMMARY line, and an OVER line per query over the JIT window.
    */
  def bytecode(spark: SparkSession, sfDir: String): Unit = {
    val rows = BytecodeAudit.audit(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)
    rows.foreach { case (n, st, mx, over) =>
      println(s"AUDIT $n stages=$st max_method=$mx over_jit=$over")
    }
    val offenders = rows.filter(_._4 > 0)
    println(s"SUMMARY queries=${rows.size} " +
      s"stages=${rows.map(_._2).sum} over_jit_queries=${offenders.size}")
    offenders.foreach { case (n, _, mx, over) =>
      println(s"OVER $n max_method=$mx stages_over=$over")
    }
  }
}
