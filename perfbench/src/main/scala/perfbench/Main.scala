package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** What one measured round produced: the seconds of each named part of
  * a cold pass on emptied caches, then the warm unit operations'
  * latencies, and `rows` processed in `seconds`, the throughput's
  * denominator.
  */
final case class Round(cold: Seq[(String, Double)], opSeconds: Seq[Double],
    rows: Long, seconds: Double, opNames: Seq[String] = Nil)

object Round {

  /** Lower median seconds of each named operation over `rounds`: of two
    * samples, the faster, so one sample the host slowed does not count.
    */
  def medians(rounds: Seq[Round]): Map[String, Double] =
    rounds.flatMap(r => r.opNames.zip(r.opSeconds)).groupBy(_._1).view
      .mapValues(s => Stats.lowerMedian(s.map(_._2))).toMap

  /** A cold pass's seconds: the sum over its parts of each part's
    * fastest over the `passes`. A part's cold cost does not vary, and
    * the JIT and the host only ever add to it.
    */
  def coldSeconds(passes: Seq[Seq[(String, Double)]]): Double =
    passes.flatten.groupBy(_._1).values.map(_.map(_._2).min).sum
}

/** The end-to-end figures of the measured rounds; the tail is a quantile
  * over `samples` values, `beyond` of which lie above it.
  */
final case class Summary(p50: Double, tail: Double, rowsPerSecond: Double,
    samples: Int, beyond: Int)

/** One workload: set-up, a warm-up pass, measured rounds, a correctness
  * check and the workload's own per-layer metrics.
  */
trait Workload {

  /** Percentile reported as `op_tail_s`; the output records how many
    * samples it is taken over and how many lie beyond it.
    */
  def tailPercentile: Double

  /** Build the seeded inputs and make them ready to serve. Runs several
    * times; each call replaces what the previous one built.
    */
  def setup(ctx: Ctx): Unit

  /** The first cold pass, on a fresh JVM, which also warms the JIT;
    * returns the seconds of each named part, one more cold sample.
    */
  def warmUp(ctx: Ctx): Seq[(String, Double)]

  /** Measured rounds a run makes at least. */
  def minRounds: Int

  /** One measured round: a cold pass on emptied caches, then warm unit
    * operations for about `seconds`, between [[Ctx.warmBegin]] and
    * [[Ctx.warmEnd]].
    */
  def round(ctx: Ctx, seconds: Double): Round

  /** Check the outputs; report each mismatch through [[Ctx.fail]]. */
  def verify(ctx: Ctx): Unit

  /** Median and tail latency of the unit operation, and throughput,
    * over `rounds`.
    */
  def summarize(rounds: Seq[Round]): Summary

  /** Per-layer metrics only this workload can compute, over the traced
    * rounds.
    */
  def layers(ctx: Ctx, rounds: Seq[Round]): Unit = ()
}

/** What a workload's phases share. `traced` is true in a run that
  * reports per-layer metrics.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val root: String, val traced: Boolean) {
  val recorder = new Recorder
  spark.sparkContext.addSparkListener(recorder)
  val tracer = new Tracer(spark.sparkContext)

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** Set by the main loop for a round whose warm part is traced. */
  var traceRound = false
  /** Spark work done in the traced warm parts. */
  val warmCounts = new Counts
  private var mark: Counts = _

  def warmBegin(): Unit = if (traceRound) {
    mark = recorder.total(spark.sparkContext)
    tracer.enabled = true
  }

  def warmEnd(): Unit = if (traceRound) {
    tracer.enabled = false
    warmCounts += recorder.total(spark.sparkContext).since(mark)
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  /** Run one unit operation and return its seconds. A thrown operation
    * counts as failed, and its time is not returned as a sample.
    */
  def op(name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      tracer.span("bench", name)(body)
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def put(name: String, value: Double, unit: String): Unit =
    layer(name) = (value, unit)

  /** Force planning, then run the order-insensitive checksum over every
    * output column (the action `graft.Bench` times). `count()` would let
    * the optimizer prune the columns under test.
    */
  def checksum(df: DataFrame): Long = {
    val agg = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("__h"))
      .agg(bit_xor(col("__h")))
    tracer.span("spark.plan", "executedPlan")(agg.queryExecution.executedPlan)
    tracer.span("spark.exec", "checksum")(agg.head().getLong(0))
  }

  /** Empties the caches a first run fills: Spark's compiled-code cache
    * and the engine's on-disk artifact caches under `java.io.tmpdir`.
    */
  def emptyCaches(): Unit = {
    org.apache.spark.PerfbenchBus.clearCodegenCache()
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).foreach(Tables.delete)
  }

  def spansOf(layer: String): Seq[Span] = tracer.spans.filter(_.layer == layer)

  def medianSpan(layer: String): Double = {
    val s = spansOf(layer).map(_.seconds)
    if (s.isEmpty) 0.0 else Stats.median(s)
  }

  /** Spark jobs per operation named `name` over the traced phase,
    * counting the jobs of every span the operation nests.
    */
  def jobsPerOp(name: String): Double = {
    val all = tracer.spans
    val ops = all.filter(s => s.layer == "bench" && s.name == name).map(_.op).toSet
    val ids = all.filter(s => ops(s.op)).map(_.id).toSet
    recorder.bySpan(spark.sparkContext).collect {
      case (id, c) if ids(id) => c.jobs
    }.sum.toDouble / math.max(1, ops.size)
  }

  /** Spark jobs started inside spans of `layer`, over the traced phase. */
  def jobsIn(layer: String): Long = {
    val ids = spansOf(layer).map(_.id).toSet
    recorder.bySpan(spark.sparkContext).collect {
      case (id, c) if ids(id) => c.jobs
    }.sum
  }
}

object Main {
  val SetupRepetitions = 3

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def workload(name: String): Workload = name match {
    case "detect-batch" => new DetectBatch
    case "stream-detect" => new StreamDetect
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The static conf `graft.Bench` runs with. */
  def session(cores: Int, root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val root = arg(args, "--root")
    val cores = arg(args, "--cores").toInt
    val wl = workload(name)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, root)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, seed, root, trace)
    import org.apache.spark.metrics.source.CodegenMetrics
    val compileMark = compileMs(CodegenMetrics.METRIC_COMPILATION_TIME)
    val classesMark = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount

    val setupS = (1 to SetupRepetitions).map(_ => timed(wl.setup(ctx)))
    val stealMark = cpuSteal()
    val firstCold = wl.warmUp(ctx)
    // Rounds until `seconds` have passed, at least minRounds, and two in a
    // traced run: it traces the warm parts of its second half of rounds,
    // and the first half gives the untraced figures the tracing overhead
    // is taken against.
    val minRounds = if (trace) math.max(2, wl.minRounds) else wl.minRounds
    val rounds = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    while (rounds.size < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      ctx.traceRound = trace && rounds.size >= minRounds / 2
      rounds += wl.round(ctx, seconds / minRounds)
    }
    ctx.traceRound = false
    val phaseS = (System.nanoTime() - t0) / 1e9
    val stealPct = stealMark.zip(cpuSteal()).map { case ((s0, t0), (s1, t1)) =>
      100.0 * (s1 - s0) / math.max(1L, t1 - t0)
    }
    val verifyS = timed(wl.verify(ctx))

    val threads = ManagementFactory.getThreadMXBean.getThreadCount
    // live threads by name with the digits dropped, the largest groups
    ctx.info("threads_by_name") = Thread.getAllStackTraces.keySet.asScala.toSeq
      .groupBy(_.getName.replaceAll("[0-9]+", "#")).view.mapValues(_.size).toSeq
      .sortBy(-_._2).take(6).toMap
    val heapMb = retainedHeapMb()

    val (untraced, traced) =
      if (trace) rounds.splitAt(minRounds / 2) else (rounds, mutable.ArrayBuffer.empty[Round])
    val measured = if (trace) traced else untraced
    require(measured.forall(_.opSeconds.nonEmpty), s"$name: a measured round completed no operation")
    val sum = wl.summarize(measured.toSeq)
    val coldPasses = firstCold +: rounds.map(_.cold).toSeq
    val endToEnd = Seq(
      "setup_s" -> (Stats.median(setupS), "s"),
      "cold_s" -> (Round.coldSeconds(coldPasses), "s"),
      "op_p50_s" -> (sum.p50, "s"),
      "op_tail_s" -> (sum.tail, "s"),
      "rows_per_s" -> (sum.rowsPerSecond, "rows/s"),
      "retained_heap_mb" -> (heapMb, "MB"))

    if (trace) {
      val c = ctx.warmCounts
      val ops = traced.map(_.opSeconds.size).sum.toDouble
      ctx.put("spark.jobs", c.jobs / ops, "count")
      ctx.put("spark.stages", c.stages / ops, "count")
      ctx.put("spark.tasks", c.tasks / ops, "count")
      ctx.put("spark.task_wait_s", c.taskWaitMs / 1e3 / ops, "s")
      ctx.put("spark.task_run_s", c.taskRunMs / 1e3 / ops, "s")
      ctx.put("spark.task_cpu_s", c.taskCpuNs / 1e9 / ops, "s")
      ctx.put("spark.gc_s", c.gcMs / 1e3 / ops, "s")
      ctx.put("spark.failed_tasks", c.failedTasks.toDouble, "count")
      ctx.put("spark.shuffle_write_bytes", c.shuffleWrite / ops, "bytes")
      ctx.put("spark.shuffle_read_bytes", c.shuffleRead / ops, "bytes")
      ctx.put("spark.spill_bytes", c.spill / ops, "bytes")
      ctx.put("spark.peak_exec_mem_bytes", c.peakExecMem.toDouble, "bytes")
      ctx.put("sources.input_bytes", c.inputBytes / ops, "bytes")
      ctx.put("spark.plan_s", ctx.medianSpan("spark.plan"), "s")
      ctx.put("spark.codegen_compile_s",
        (compileMs(CodegenMetrics.METRIC_COMPILATION_TIME) - compileMark) / 1e3, "s")
      ctx.put("spark.codegen_classes",
        (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - classesMark).toDouble,
        "count")
      ctx.put("jvm.threads", threads.toDouble, "count")
      val self = ctx.tracer.selfSeconds
      Seq("bench", "sources", "relational", "spark.plan", "spark.exec", "ts",
        "pipeline", "streaming").foreach { l =>
        ctx.put(s"self.$l", self.getOrElse(l, 0.0) / ops, "s")
      }
      ctx.put("trace.overhead_s", sum.p50 - wl.summarize(untraced.toSeq).p50, "s")
      wl.layers(ctx, traced.toSeq)
      // the spans leave memory only now, one JSON object per line
      val jobs = ctx.recorder.bySpan(spark.sparkContext)
      java.nio.file.Files.write(java.nio.file.Paths.get(root, "spans.jsonl"),
        ctx.tracer.spans.map(s => Json.render(Map("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "jobs" -> jobs.get(s.id).map(_.jobs).getOrElse(0L),
          "tasks" -> jobs.get(s.id).map(_.tasks).getOrElse(0L)))).asJava)
    }

    val rt = Runtime.getRuntime
    ctx.info ++= Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> rt.availableProcessors(),
      "spark_cores" -> cores, "driver_heap_mb" -> rt.maxMemory() / (1L << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "session_s" -> sessionS,
      "setup_runs_s" -> setupS, "rounds" -> rounds.size,
      "phase_s" -> phaseS, "ops" -> measured.map(_.opSeconds.size).sum,
      "cold_passes_s" -> coldPasses.map(_.map(_._2).sum),
      "tail_percentile" -> wl.tailPercentile,
      "tail_samples" -> sum.samples, "samples_beyond_tail" -> sum.beyond,
      "host_steal_pct" -> stealPct.map(Double.box).orNull,
      "verify_s" -> verifyS,
      "jvm_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "conf" -> Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
        "spark.sql.maxPlanStringLength", "spark.sql.codegen.cache.maxEntries",
        "spark.ui.enabled").map(k => k -> spark.conf.get(k)).toMap,
      "failures" -> ctx.failures.toList)
    spark.stop()

    val metrics = (if (trace) ctx.layer.toSeq else endToEnd)
      .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    println(Json.render(Map(
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> metrics.toMap, "info" -> ctx.info.toMap)))
    sys.exit(if (ctx.failed == 0) 0 else 1)
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) CPU jiffies of the host from /proc/stat, where the
    * platform has it: time a hypervisor gave this machine's CPUs to
    * others, which slows every timing without any change in the engine.
    */
  def cpuSteal(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").tail.map(_.toLong) finally src.close()
    (f(7), f.sum)
  }.toOption

  private def compileMs(h: com.codahale.metrics.Histogram): Double =
    h.getSnapshot.getMean * h.getCount

  /** Heap in use after full collections, in MiB. Spark's context cleaner
    * frees the broadcasts and shuffles of collected plans on its own
    * thread after a collection, so back-to-back collections read the heap
    * too early (by 100-300 MiB in detect-batch). Collections repeat a
    * quarter second apart until four in a row find no new low.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var low = Double.MaxValue
    var still = 0
    var rounds = 0
    while (still < 4 && rounds < 24) {
      System.gc()
      Thread.sleep(250)
      val used = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      if (used < low - 1.0) still = 0 else still += 1
      low = math.min(low, used)
      rounds += 1
    }
    low
  }
}

/** Renders the benchmark's result maps with the engine's JSON writer.
  * Keys are sorted; a non-finite number becomes null.
  */
object Json {
  import graft.util.Json._

  def render(v: Any): String = toJson(v).render

  private def toJson(v: Any): JValue = v match {
    case null => JNull
    case b: Boolean => JBool(b)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JNum(d)
    case n: Int => JNum(n.toDouble)
    case n: Long => JNum(n.toDouble)
    case m: Map[_, _] => JObj(m.toSeq.map { case (k, x) => k.toString -> toJson(x) }.sortBy(_._1))
    case xs: Iterable[_] => JArr(xs.map(toJson).toSeq)
    case other => JStr(other.toString)
  }
}
