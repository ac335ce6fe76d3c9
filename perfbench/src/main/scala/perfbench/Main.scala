package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution

import graft.queries.Registry

/** Runs one workload in one JVM and writes its result as a JSON artifact.
  *
  * Protocol: build the session, run an untimed pass that digests every
  * query's output and checks it against the pinned digest, a second untimed
  * pass to warm the JIT, then timed passes until `--seconds` have elapsed
  * (at least two). Each pass visits the workload's queries in an order
  * drawn from `--seed`. A query's timed window is `fn` (plan construction,
  * including any jobs the operators issue), Catalyst planning of the final
  * plan, and a full drain of its rows through `queryExecution.toRdd`.
  * Clearing cached and persisted blocks after each query is outside the
  * window.
  *
  * With `--trace 1` every query of a pass runs twice, untraced and traced.
  * The traced execution attaches [[LayerListener]], records spans and
  * yields the per-layer metrics; the two together give the tracing
  * overhead. */
object Main {
  private val ids = new AtomicLong()
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  private def epochUs(ns: Long): Long = baseUs + (ns - baseNs) / 1000

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = osBean.getProcessCpuTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  private def loadavg: Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim.split("\\s+").take(3).map(_.toDouble).toSeq
  private def peakRssMb: Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  /** (steal, total) jiffies of all CPUs: the share of time the hypervisor
    * gave this machine's CPUs to someone else. */
  private def cpuJiffies: (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).split("\n")(0)
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One query execution: phase times in ns, and the final plan's execution. */
  private final case class Run(buildNs: Long, planNs: Long, drainNs: Long, qe: QueryExecution) {
    def wallNs: Long = buildNs + planNs + drainNs
  }

  /** Order-insensitive digest of a plan's output: row count, wrapping sum of
    * per-row xxhash64, and a hash of the schema. Computed while draining, so
    * the warm-up runs the same physical plan the timed passes do. */
  private def digestDrain(qe: QueryExecution): (Long, String) = {
    val out = qe.executedPlan.output
    val h = BindReferences.bindReference[Expression](new XxHash64(out), out)
    val parts = qe.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      while (it.hasNext) { sum += h.eval(it.next()).asInstanceOf[Long]; n += 1 }
      Iterator((n, sum))
    }.collect()
    val n = parts.map(_._1).sum
    val schema = scala.util.hashing.MurmurHash3.stringHash(qe.analyzed.schema.catalogString)
    (n, f"$n%d:${parts.map(_._2).sum}%016x:$schema%08x")
  }

  private def drain(qe: QueryExecution): Unit =
    qe.toRdd.foreachPartition { it => while (it.hasNext) it.next() }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dataDir = opt("data")
    val outPrefix = opt("out")
    val cores = opt("cores").toInt
    val names = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val pinned: Map[String, String] =
      Files.readAllLines(Paths.get(opt("digests")), UTF_8).asScala.toSeq
        .filterNot(l => l.isBlank || l.startsWith("#"))
        .map(_.split("\t")).map(f => f(0) -> f(2)).toMap
    val loadStart = loadavg

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the session settings of graft.Bench
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", opt("local-dir"))
      .config("spark.sql.warehouse.dir", opt("local-dir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val sc = spark.sparkContext
    val registry = Registry.all
    val fns = names.map(n => n -> registry(n).fn).toMap
    val listener = new LayerListener(ids)
    val rng = new scala.util.Random(seed)

    val runSpan = ids.incrementAndGet()
    val runStartNs = System.nanoTime()
    def span(id: Long, parent: Long, name: String, q: String, t0: Long, t1: Long): Unit =
      listener.addSpan(Span(id, parent, name, q, epochUs(t0), epochUs(t1)))

    /** Runs `name` once; `consume` drains the final plan. Phase spans are
      * recorded when `record`, local properties always, so traced and
      * untraced runs submit identical jobs. */
    def execute(name: String, querySpan: Long, record: Boolean,
                consume: QueryExecution => Unit): Run = {
      sc.setLocalProperty(Props.Query, name)
      def phase[T](p: String)(body: => T): (T, Long) = {
        val id = ids.incrementAndGet()
        sc.setLocalProperty(Props.Phase, p)
        sc.setLocalProperty(Props.Span, id.toString)
        val t0 = System.nanoTime()
        val r = body
        val t1 = System.nanoTime()
        if (record) span(id, querySpan, p, name, t0, t1)
        (r, t1 - t0)
      }
      val (df, b) = phase("queries.build")(fns(name)(spark, dataDir): DataFrame)
      val qe = df.queryExecution
      val (_, p) = phase("catalyst.plan")(qe.executedPlan)
      val (_, d) = phase("exec.drain")(consume(qe))
      Run(b, p, d, qe)
    }

    /** Untimed: drop every cached and persisted block the query left. */
    def cleanup(): Long = {
      val t0 = System.nanoTime()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.nanoTime() - t0
    }

    var attempted = 0L
    var failedRuns = 0L
    var digestMismatches = 0L
    /** first failure reason of each query that failed */
    val failures = mutable.LinkedHashMap.empty[String, String]
    def fail(name: String, why: String): Unit = {
      failedRuns += 1
      if (!failures.contains(name)) failures(name) = why
    }
    def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}".take(400)

    /** One untimed execution; returns its seconds, cleanup included. */
    def untimed(name: String)(body: => Unit): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      try body catch { case e: Throwable => fail(name, describe(e)) }
      cleanup()
      // collect this query's garbage here, not in the next query's window
      System.gc()
      (System.nanoTime() - t0) / 1e9
    }

    // ---- digest pass: untimed, checks correctness ----
    val digests = mutable.LinkedHashMap.empty[String, (Long, String)]
    val digestPassS = mutable.LinkedHashMap.empty[String, Double]
    rng.shuffle(names).foreach { name =>
      digestPassS(name) = untimed(name) {
        var got = (0L, "")
        execute(name, 0L, record = false, qe => got = digestDrain(qe))
        digests(name) = got
        pinned.get(name) match {
          case Some(d) if d == got._2 =>
          case Some(d) => digestMismatches += 1; fail(name, s"digest ${got._2} != pinned $d")
          case None => digestMismatches += 1; fail(name, s"no pinned digest (got ${got._2})")
        }
      }
    }
    // a second untimed pass: after only one, the first timed pass still ran
    // up to 50% slower than the next while the JIT compiled the hot paths
    rng.shuffle(names).foreach(name => untimed(name)(execute(name, 0L, record = false, drain)))
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // ---- timed passes ----
    /** One timed execution: wall and process CPU seconds, and (traced) its layer metrics. */
    final case class Exec(wallS: Double, cpuS: Double, layers: ListMap[String, Double])
    final case class Pass(order: Seq[String], plain: Seq[Exec], traced: Seq[Exec], stealFrac: Double) {
      def wallS: Double = plain.map(_.wallS).sum
      def cpuS: Double = plain.map(_.cpuS).sum
      def tracedWallS: Double = traced.map(_.wallS).sum
    }
    val perQueryWall = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val perQueryLayers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[ListMap[String, Double]]]

    def timed(name: String, passSpan: Long, tracing: Boolean): Exec = {
      attempted += 1
      if (tracing) {
        // start from an empty bus, so no event of an earlier query reaches the listener
        PerfbenchBus.waitUntilEmpty(sc)
        listener.current = name
        sc.addSparkListener(listener)
      }
      val querySpan = ids.incrementAndGet()
      val cpu0 = cpuNs
      val gc0 = gcMs
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val run =
        try Some(execute(name, querySpan, tracing, drain))
        catch { case e: Throwable => fail(name, describe(e)); None }
      val t1 = System.nanoTime()
      val cpu = (cpuNs - cpu0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      val compileS = (CodeGenerator.compileTime - cg0) / 1e9
      val compiles = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble
      val wall = run.map(_.wallNs / 1e9).getOrElse((t1 - t0) / 1e9)
      val cleanupS = cleanup() / 1e9
      val layers =
        if (!tracing) {
          perQueryWall.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wall
          ListMap.empty[String, Double]
        } else {
          span(querySpan, passSpan, "query", name, t0, t1)
          PerfbenchBus.waitUntilEmpty(sc)
          sc.removeSparkListener(listener)
          val c = listener.take(name)
          run.foreach(r => PlanBroadcasts.addTo(c, r.qe.executedPlan))
          val phases = run.map(_.qe.tracker.phases).getOrElse(Map.empty)
          def phaseS(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          val l = ListMap(
            "queries.build_s" -> run.map(_.buildNs / 1e9).getOrElse(0.0),
            "queries.build_jobs" -> c.buildJobs.toDouble,
            "catalyst.analysis_s" -> phaseS(QueryPlanningTracker.ANALYSIS),
            "catalyst.optimization_s" -> phaseS(QueryPlanningTracker.OPTIMIZATION),
            "catalyst.planning_s" -> phaseS(QueryPlanningTracker.PLANNING),
            "codegen.compile_s" -> compileS,
            "codegen.compiles" -> compiles,
            "sources.input_bytes" -> c.inputBytes.toDouble,
            "sources.input_rows" -> c.inputRows.toDouble,
            "exec.drain_s" -> run.map(_.drainNs / 1e9).getOrElse(0.0),
            "exec.jobs" -> c.jobs.toDouble,
            "exec.stages" -> c.stages.toDouble,
            "exec.tasks" -> c.tasks.toDouble,
            "exec.stage_union_s" -> c.stageUnionS,
            "exec.driver_s" -> (wall - c.stageUnionS),
            "exec.sched_delay_s" -> c.schedDelayMs / 1e3,
            "exec.task_run_s" -> c.taskRunMs / 1e3,
            "exec.task_cpu_s" -> c.taskCpuNs / 1e9,
            "shuffle.write_bytes" -> c.shuffleWriteBytes.toDouble,
            "shuffle.read_bytes" -> c.shuffleReadBytes.toDouble,
            "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1e3,
            "mem.spill_bytes" -> c.spillBytes.toDouble,
            "mem.peak_exec_bytes" -> c.stagePeakExec.values.foldLeft(0L)(math.max).toDouble,
            "jvm.gc_s" -> gc,
            "broadcast.count" -> c.broadcasts.toDouble,
            "broadcast.bytes" -> c.broadcastBytes.toDouble,
            "broadcast.build_s" -> c.broadcastMs / 1e3,
            "blocks.puts" -> c.blockPuts.toDouble,
            "blocks.put_bytes" -> c.blockPutBytes.toDouble,
            "blocks.cleanup_s" -> cleanupS)
          perQueryLayers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += l
          l
        }
      // collect this query's garbage outside the window, not in the next query's
      System.gc()
      Exec(wall, cpu, layers)
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    val timedStart = System.nanoTime()
    while (passes.size < (if (traced) 1 else 2) || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val passSpan = ids.incrementAndGet()
      val passT0 = System.nanoTime()
      val jiffies0 = cpuJiffies
      val order = rng.shuffle(names)
      val plain = mutable.ArrayBuffer.empty[Exec]
      val tracedRuns = mutable.ArrayBuffer.empty[Exec]
      order.zipWithIndex.foreach { case (name, i) =>
        if (!traced) plain += timed(name, passSpan, tracing = false)
        else if ((i + passes.size) % 2 == 0) {
          // each query runs untraced and traced back to back, alternating
          // which goes first, so drift on the box charges both alike
          plain += timed(name, passSpan, tracing = false)
          tracedRuns += timed(name, passSpan, tracing = true)
        } else {
          tracedRuns += timed(name, passSpan, tracing = true)
          plain += timed(name, passSpan, tracing = false)
        }
      }
      span(passSpan, runSpan, s"pass ${passes.size}", "", passT0, System.nanoTime())
      val jiffies1 = cpuJiffies
      passes += Pass(order, plain.toSeq, tracedRuns.toSeq,
        (jiffies1._1 - jiffies0._1).toDouble / math.max(1L, jiffies1._2 - jiffies0._2))
    }
    span(runSpan, 0L, s"run $workload seed $seed", "", runStartNs, System.nanoTime())
    val loadEnd = loadavg

    // ---- result ----
    val walls = passes.map(_.wallS).toSeq
    val passLayers = passes.map(p => sumLayers(p.traced.map(_.layers), cores)).toSeq
    val metrics: ListMap[String, (Double, String)] =
      if (!traced) ListMap(
        "wall_s" -> (median(walls) -> "s"),
        "cpu_s" -> (median(passes.map(_.cpuS).toSeq) -> "s"),
        "setup_s" -> (setupS -> "s"),
        "peak_rss_mb" -> (peakRssMb -> "MB"))
      else
        ListMap.from(passLayers.head.keys.map(k => k -> (median(passLayers.map(_(k))) -> Units.of(k)))) ++
          ListMap(
            "check.digest_mismatches" -> (digestMismatches.toDouble -> "count"),
            "trace.overhead_frac" -> ((median(passes.map(_.tracedWallS).toSeq) / median(walls) - 1) -> "frac"))
    val spansFile = s"$outPrefix.spans.jsonl"
    if (traced) Files.write(Paths.get(spansFile), listener.allSpans.sortBy(_.startUs).map { s =>
      Json.render(ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
        "start_us" -> s.startUs, "end_us" -> s.endUs))
    }.asJava, UTF_8)
    val artifact = ListMap(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failedRuns,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "workload" -> workload, "queries" -> names, "seed" -> seed, "trace" -> traced,
      "seconds" -> seconds, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "setup_s" -> setupS, "session_s" -> sessionS, "digest_pass_s" -> digestPassS,
      "wall_s" -> ListMap("median" -> median(walls), "max" -> (if (walls.isEmpty) Double.NaN else walls.max),
        "n" -> walls.size),
      "failed_frac" -> failedRuns.toDouble / attempted,
      "failed_queries" -> failures,
      "passes" -> passes.zip(passLayers).map { case (p, l) => ListMap("order" -> p.order,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "steal_frac" -> p.stealFrac, "traced_wall_s" -> (if (traced) Some(p.tracedWallS) else None),
        "layers" -> l) },
      "per_query" -> ListMap.from(names.map { n =>
        n -> ListMap(
          "rows" -> digests.get(n).map(_._1), "digest" -> digests.get(n).map(_._2),
          "pinned" -> pinned.get(n), "oracle" -> registry(n).oracle.isDefined,
          "wall_s" -> perQueryWall.getOrElse(n, Nil),
          "layers" -> perQueryLayers.getOrElse(n, Nil))
      }),
      "spans_file" -> (if (traced) Some(spansFile) else None))
    Files.write(Paths.get(s"$outPrefix.json"), (Json.render(artifact) + "\n").getBytes(UTF_8))
    spark.stop()
  }

  /** Pass totals of per-query layer metrics: sums, except the peak (a max)
    * and the busy fraction, which is recomputed from the pass sums. */
  private def sumLayers(rows: Seq[ListMap[String, Double]], cores: Int): ListMap[String, Double] =
    if (rows.isEmpty) ListMap.empty
    else {
      val keys = rows.head.keys.toSeq
      val summed = ListMap.from(keys.map { k =>
        k -> (if (k == "mem.peak_exec_bytes") rows.map(_(k)).max else rows.map(_(k)).sum)
      })
      val union = summed("exec.stage_union_s")
      summed + ("exec.busy_frac" -> (if (union > 0) summed("exec.task_run_s") / (cores * union) else 0.0))
    }
}

/** Units of the per-layer metrics, from their name suffix. */
object Units {
  def of(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_bytes") || metric == "broadcast.bytes") "bytes"
    else if (metric.endsWith("_frac")) "frac"
    else "count"
}

/** A minimal JSON renderer for the artifact. */
object Json {
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
