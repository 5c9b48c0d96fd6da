package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Graft, SparkEntry}

/** Runs one workload of the benchmark inside a single JVM and writes what it
  * observed as JSON; `perfbench/run.py` turns that into metrics.
  *
  * Set-up: build the session and `Graft.init` it. Then, unless
  * `--setup-only`, one output pass that dumps each query's result as parquet
  * for the DuckDB check, untimed warm passes, and timed passes over the
  * `--queries` order until `--seconds` have elapsed. Each query goes to the
  * noop sink and `Graft.releaseCaches` follows it.
  *
  * With `--trace 1` timed passes are untraced and traced in turn; traced
  * passes attach a [[Tracer]] and record spans. Layers are timed only from outside:
  * calls into graft's public functions and Spark's public listener APIs.
  *
  * `--oracle-sql FILE` only writes the DuckDB oracle SQL of the given
  * queries to FILE, without starting Spark.
  */
object Harness {

  /** Untimed passes run for this long (at least one) between the output
    * pass and the timed ones, so the JIT has compiled the hot paths.
    */
  val WarmSeconds = 6.0

  final case class Opts(
      queries: Seq[String] = Nil,
      sfDir: String = "",
      outDir: String = "",
      oracleSql: Option[String] = None,
      dumpDir: Option[String] = None,
      seconds: Double = 10.0,
      trace: Boolean = false,
      setupOnly: Boolean = false)

  /** Local-mode cores and shuffle partitions. */
  val Cpus = 4

  def parse(args: Array[String]): Opts = {
    var o = Opts()
    var i = 0
    while (i < args.length) {
      val v = if (i + 1 < args.length) args(i + 1) else ""
      args(i) match {
        case "--queries" => o = o.copy(queries = v.split(",").toSeq)
        case "--sf-dir" => o = o.copy(sfDir = v)
        case "--out-dir" => o = o.copy(outDir = v)
        case "--oracle-sql" => o = o.copy(oracleSql = Some(v))
        case "--dump-dir" => o = o.copy(dumpDir = Some(v))
        case "--seconds" => o = o.copy(seconds = v.toDouble)
        case "--trace" => o = o.copy(trace = v == "1")
        case "--setup-only" => o = o.copy(setupOnly = true); i -= 1
        case other => throw new IllegalArgumentException(s"unknown argument $other")
      }
      i += 2
    }
    require(o.queries.nonEmpty, "--queries is required")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.oracleSql match {
      case Some(file) =>
        Files.writeString(Paths.get(file),
          Json.value(SparkEntry.oracleSql.view.filterKeys(o.queries.toSet).toMap))
      case None =>
        require(o.sfDir.nonEmpty && o.outDir.nonEmpty, "--sf-dir and --out-dir are required")
        run(o)
    }
  }

  def run(o: Opts): Unit = {
    Files.createDirectories(Paths.get(o.outDir))
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val initMs = Clock.timed(Graft.init(spark))._2
    val out = ArrayBuffer[(String, Any)](
      "ready_epoch_ms" -> Clock.now(),
      "init_ms" -> initMs)
    if (!o.setupOnly) {
      val fns = SparkEntry.queries
      val missing = o.queries.filterNot(fns.contains)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
      val queries = o.queries.map(n => n -> fns(n))
      o.dumpDir.foreach(d => out += "check" -> dumpPass(spark, o.sfDir, d, queries))
      val runner = new PassRunner(spark, o.sfDir, queries, if (o.trace) Some(new Tracer) else None)
      val w0 = Clock.now()
      while (runner.passes.isEmpty || Clock.now() - w0 < WarmSeconds * 1000)
        runner.runPass(Warm)
      val t0 = Clock.now()
      // with tracing, timed passes go untraced, traced, traced, untraced, ...
      // (at least one of each), so a drift over the run cancels out of the
      // traced/untraced comparison
      var timed = 0
      while (timed < (if (o.trace) 2 else 1) || Clock.now() - t0 < o.seconds * 1000) {
        runner.runPass(if (o.trace && (timed + 1) % 4 >= 2) Traced else Plain)
        timed += 1
      }
      out += "passes" -> runner.passes.toSeq
      out += "queries" -> runner.records.toSeq.map(_.json)
      if (o.trace)
        Files.write(Paths.get(o.outDir, "spans.jsonl"), runner.spans.asJava)
    }
    Files.writeString(Paths.get(o.outDir, "result.json"), Json.obj(out.toSeq: _*))
    spark.stop()
  }

  /** Heap in use after a full collection. The first collection lets
    * Spark's ContextCleaner see the shuffles and broadcasts that became
    * garbage; the second, after it had a moment to drop them, measures.
    */
  def retainedHeap(): Long = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Output pass: each query once, its result written as one parquet file
    * for the DuckDB comparison. Untimed. After each query, before its caches
    * are released, a full collection measures the heap the query left in
    * use (its persisted intermediates included).
    */
  def dumpPass(spark: SparkSession, sfDir: String, dumpDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Map[String, Any] = {
    val c0 = Codegen.sample()
    val t0 = Clock.now()
    val heap = Map.newBuilder[String, Long]
    val failed = queries.flatMap { case (name, fn) =>
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name")
          None
        } catch { case NonFatal(e) => Some(name -> Json.message(e)) }
      heap += name -> retainedHeap()
      Graft.releaseCaches(spark)
      err
    }
    val (compiles, compileNs) = Codegen.delta(c0)
    Map("wall_ms" -> (Clock.now() - t0), "failed" -> failed.toMap,
      "compiles" -> compiles, "compile_ns" -> compileNs, "heap_bytes" -> heap.result())
  }
}

/** Wall clock with sub-millisecond resolution on the epoch scale that
  * Spark's listener events use.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** JVM-wide Janino counters: compile count and cumulative compile time. */
object Codegen {
  def sample(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  def delta(from: (Long, Long)): (Long, Long) = {
    val (c, t) = sample()
    (c - from._1, t - from._2)
  }
}

/** How a pass runs: untimed warm-up, timed, timed and traced. */
sealed abstract class PassKind(val name: String)
case object Warm extends PassKind("warm")
case object Plain extends PassKind("plain")
case object Traced extends PassKind("traced")

/** One executed query of a pass. Times are epoch ms. */
final case class QueryRun(
    qid: String, name: String, pass: Int, kind: PassKind,
    start: Double, buildEnd: Double, sinkEnd: Double, end: Double,
    error: Option[String], persistedRdds: Int, storedBytes: Long,
    phases: Seq[(String, Double, Double)]) {
  def json: Map[String, Any] = Map(
    "qid" -> qid, "name" -> name, "pass" -> pass, "kind" -> kind.name,
    "start" -> start, "build_end" -> buildEnd, "sink_end" -> sinkEnd, "end" -> end,
    "error" -> error)
}

/** Runs passes over the workload's queries, in order, on the benchmark
  * thread, recording every query and pass.
  */
final class PassRunner(spark: SparkSession, sfDir: String,
    queries: Seq[(String, (SparkSession, String) => DataFrame)], tracer: Option[Tracer]) {
  val records = ArrayBuffer.empty[QueryRun]
  val passes = ArrayBuffer.empty[Map[String, Any]]
  private val sc = spark.sparkContext

  def runPass(kind: PassKind): Unit = {
    val p = passes.size
    if (kind == Traced) tracer.foreach(_.attach(spark))
    val c0 = Codegen.sample()
    val start = Clock.now()
    queries.zipWithIndex.foreach { case ((name, fn), i) =>
      records += runQuery(name, fn, s"p$p.$i", p, kind)
    }
    val end = Clock.now()
    val (compiles, compileNs) = Codegen.delta(c0)
    if (kind == Traced) tracer.foreach(_.detach(spark, s"pb-drain-$p"))
    passes += Map("pass" -> p, "kind" -> kind.name, "start" -> start, "end" -> end,
      "compiles" -> compiles, "compile_ns" -> compileNs)
  }

  /** Span records of every traced query. */
  def spans: Seq[String] =
    tracer.toSeq.flatMap(t => records.filter(_.kind == Traced).flatMap(t.spans))

  private def runQuery(name: String, fn: (SparkSession, String) => DataFrame, qid: String,
      pass: Int, kind: PassKind): QueryRun = {
    val traced = kind == Traced
    // the job group tags every job the query starts with its id
    sc.setJobGroup(qid, name)
    val start = Clock.now()
    var buildEnd = start
    var phases = Seq.empty[(String, Double, Double)]
    val error =
      try {
        val df = fn(spark, sfDir)
        buildEnd = Clock.now()
        if (traced) phases = Tracer.phases(df.queryExecution.tracker)
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case NonFatal(e) =>
          if (buildEnd == start) buildEnd = Clock.now()
          Some(Json.message(e))
      }
    val sinkEnd = Clock.now()
    val persisted = if (traced) sc.getPersistentRDDs.size else 0
    val stored = if (traced) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
    Graft.releaseCaches(spark)
    val end = Clock.now()
    sc.clearJobGroup()
    QueryRun(qid, name, pass, kind, start, buildEnd, sinkEnd, end, error, persisted, stored,
      phases)
  }
}

/** Minimal JSON writer for the harness output. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}
