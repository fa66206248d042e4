package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.StreamingDetectors
import graft.streaming.StreamingDetectors.{FlaggedPoint, Point, StreamEvent}
import graft.ts.{CusumDetector, DiffDetector, HampelDetector, SeriesSpec}

/** An open loop: one generator thread offers rows at a fixed rate to the
  * diff, Hampel and CUSUM streams, with series churn. The unit operation
  * is one row, timed from when it was due to the commit of the last of
  * the three micro-batches that took it in.
  */
final class StreamDetect extends Workload {
  val RowsPerSecond = 200
  val TickMs = 100
  val TriggerMs = 2000
  // each window starts this long after a trigger fires
  val TriggerOffsetMs = 50
  val ActiveSeries = 12
  // every second this many series go silent and as many new ids appear
  val ChurnPerSecond = 2
  val HampelWindow = 5
  val MaxDiff = 3.0
  val tailPercentile = 99.0

  private val names = Seq("diff", "hampel", "cusum")
  // one source per query: a MemoryStream drops its rows once any reader
  // commits them, so two queries must never share one
  private var diffIn: MemoryStream[Point] = _
  private var cusumIn: MemoryStream[Point] = _
  private var hampelIn: MemoryStream[StreamEvent] = _
  private var queries: Seq[StreamingQuery] = Nil
  private var planned: Array[Point] = _
  private var reference: Dataset[Point] = _
  private var offered = 0 // rows handed to the streams so far
  private val chunkRows = mutable.ArrayBuffer.empty[Int] // rows per offset
  private val chunkDueMs = mutable.ArrayBuffer.empty[Double]
  // query name -> (end offset -> commit epoch ms)
  private val commits = new ConcurrentHashMap[String, ConcurrentHashMap[Long, Double]]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryProgressEvent)]()
  private var listener: StreamingQueryListener = _
  private val stoppedRuns = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private var starts = 0
  private val windowSeconds = mutable.ArrayBuffer.empty[Double]
  private var generatorLagMs = 0.0
  private var backlog = 0L
  private val traceBatches = mutable.ArrayBuffer.empty[(String, QueryProgressEvent)]

  /** Seeded rows in offer order: a random walk per series with noise,
    * planted spikes and random nulls; series ids churn over time.
    */
  private def plan(seed: Long, rows: Int): Array[Point] = {
    val rnd = new scala.util.Random(seed)
    val level = mutable.HashMap.empty[Int, Double]
    var nextId = ActiveSeries
    val active = mutable.ArrayBuffer.tabulate(ActiveSeries)(identity)
    val churnEvery = RowsPerSecond / ChurnPerSecond
    Array.tabulate(rows) { i =>
      if (i > 0 && i % churnEvery == 0) {
        active.remove(rnd.nextInt(active.size))
        active += nextId
        nextId += 1
      }
      val s = active(rnd.nextInt(active.size))
      val v = level.getOrElse(s, rnd.nextDouble() * 10) + rnd.nextGaussian() * 0.5
      level(s) = v
      // a planted spike every 97 rows, so every run has some to flag
      val value: java.lang.Double =
        if (rnd.nextInt(500) == 0) null
        else if (i % 97 == 50) v + 50.0
        else v
      // event time: one row per 1/RowsPerSecond s, so per-series ts are
      // strictly increasing whatever the wall clock does
      Point(f"s$s%05d", new Timestamp(1704067200000L + i * 1000L / RowsPerSecond), value)
    }
  }

  /** Plans the offered rows and loads them as the batch reference. */
  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    Option(reference).foreach(_.unpersist(blocking = true))
    // room for the untraced and traced phases at the offered rate
    planned = plan(ctx.seed, RowsPerSecond * 70)
    reference = spark.createDataset(planned.toSeq).persist()
    reference.count()
  }

  private def startMs(e: QueryProgressEvent): Double =
    java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble

  private def triggerMs(e: QueryProgressEvent): Double =
    e.progress.durationMs.getOrDefault("triggerExecution", 0L).doubleValue()

  /** Seconds the streams spent executing batches that took in rows,
    * averaged over the streams: each stream processes every row.
    */
  private def busySeconds(batches: Seq[QueryProgressEvent]): Double =
    batches.filter(_.progress.numInputRows > 0).map(triggerMs).sum / 1e3 / names.size

  private def progressRows(e: QueryProgressEvent): Long =
    e.progress.sources.headOption.map(_.endOffset).flatMap(o =>
      scala.util.Try(o.trim.stripPrefix("\"").stripSuffix("\"").toLong).toOption)
      .getOrElse(-1L)

  /** A cold start: stops the previous round's queries, empties the
    * caches, and starts the three streams on fresh sources and fresh
    * checkpoints. Times each stream's start to the commit of its first
    * rows.
    */
  private def start(ctx: Ctx): Seq[(String, Double)] = {
    val spark = ctx.spark
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    queries.foreach { q => q.stop(); stoppedRuns.add(q.runId) }
    ctx.emptyCaches()
    starts += 1
    // partitioned like a topic with one partition per core, so a
    // micro-batch reads a few partitions and not one per generator tick
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    diffIn = MemoryStream[Point](parts)(Encoders.product[Point], sqlContext)
    cusumIn = MemoryStream[Point](parts)(Encoders.product[Point], sqlContext)
    hampelIn = MemoryStream[StreamEvent](parts)(Encoders.product[StreamEvent], sqlContext)
    offered = 0
    chunkRows.clear()
    chunkDueMs.clear()
    names.foreach(n => commits.put(n, new ConcurrentHashMap[Long, Double]()))
    if (listener == null) {
      listener = new StreamingQueryListener {
        def onQueryStarted(e: QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryIdle(e: QueryIdleEvent): Unit = ()
        def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val end = progressRows(e)
          // a stopped query's late events must not count in this round
          if (!stoppedRuns.contains(p.runId)) {
            // queued before the commit is, so a waiter that sees the
            // commit also finds the batch's progress
            progress.add(p.name -> e)
            if (p.numInputRows > 0 && end >= 0)
              commits.get(p.name).put(end, startMs(e) + triggerMs(e))
          }
        }
      }
      spark.streams.addListener(listener)
    }
    val trigger = Trigger.ProcessingTime(TriggerMs)
    def launch(name: String, ds: Dataset[FlaggedPoint]): StreamingQuery =
      ds.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"${ctx.root}/checkpoints/s$starts/$name")
        .trigger(trigger).start()
    // the first rows are waiting when the queries start, so the first
    // trigger takes them and no trigger interval is counted as cold.
    // The streams start one after another, each timed from its start to
    // its first commit, so no start waits behind another's.
    offer(TickMs * RowsPerSecond / 1000, System.currentTimeMillis().toDouble)
    val streams = Seq[(String, () => Dataset[FlaggedPoint])](
      "diff" -> (() => StreamingDetectors.diffStream(diffIn.toDS(), MaxDiff)),
      "hampel" -> (() => StreamingDetectors.hampelStream(hampelIn.toDS(), HampelWindow, 3.0)),
      "cusum" -> (() => StreamingDetectors.cusumStream(cusumIn.toDS(), 0.0, 1.0, 20.0)))
    queries = Nil
    streams.map { case (name, ds) =>
      val t0 = System.nanoTime()
      queries :+= launch(name, ds())
      waitCommitted(0, Seq(name))
      name -> (System.nanoTime() - t0) / 1e9
    }
  }

  private def offer(n: Int, dueMs: Double): Unit = {
    val rows = planned.slice(offered, offered + n)
    require(rows.length == n, "the planned rows ran out: raise the plan size")
    diffIn.addData(rows.toSeq)
    cusumIn.addData(rows.toSeq)
    hampelIn.addData(rows.toSeq.map(p => StreamEvent(p.series_id, p.ts, p.value, eos = false)))
    offered += n
    chunkRows += n
    chunkDueMs += dueMs
  }

  private def committed(q: String, offset: Long): Option[Double] =
    commits.get(q).asScala.collect { case (end, at) if end >= offset => at }
      .minOption

  private def waitCommitted(offset: Long, which: Seq[String] = names): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!which.forall(committed(_, offset).isDefined)) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      require(System.nanoTime() < deadline, s"offset $offset was not committed within 60 s")
      Thread.sleep(10)
    }
  }

  def warmUp(ctx: Ctx): Seq[(String, Double)] = start(ctx)

  // two windows, so the lower median of their figures drops one the host
  // slowed
  val minRounds = 2

  /** A cold start, then an open-loop window of `seconds`. */
  def round(ctx: Ctx, seconds: Double): Round = {
    val cold = start(ctx)
    ctx.warmBegin()
    val (lat, busy) = window(ctx, seconds)
    ctx.warmEnd()
    Round(cold, lat, lat.size.toLong, busy)
  }

  /** Offers rows for `seconds` and waits until all three streams
    * committed them. Returns each row's latency and the seconds the
    * streams spent executing the batches that took them in.
    */
  private def window(ctx: Ctx, seconds: Double): (Seq[Double], Double) = {
    val first = chunkRows.size
    val perTick = TickMs * RowsPerSecond / 1000
    val ticks = math.max(1, (seconds * 1000 / TickMs).toInt)
    progress.clear()
    // Processing-time triggers fire at multiples of the interval since the
    // epoch. Starting just after one makes every run cut its rows into the
    // same micro-batches, so batch sizes and waits do not vary with the
    // start time.
    val now = System.currentTimeMillis()
    Thread.sleep((now / TriggerMs + 1) * TriggerMs + TriggerOffsetMs - now)
    val baseMs = System.currentTimeMillis().toDouble
    val baseNs = System.nanoTime()
    var lag = 0.0
    val gen = new Thread(() => {
      (0 until ticks).foreach { k =>
        val dueNs = baseNs + (k + 1) * TickMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lag = math.max(lag, (System.nanoTime() - dueNs) / 1e6)
        offer(perTick, baseMs + (dueNs - baseNs) / 1e6)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    windowSeconds += (System.nanoTime() - baseNs) / 1e9
    ctx.info("window_s") = windowSeconds.toList
    val last = chunkRows.size - 1
    backlog = chunkRows.indices.filter(k => names.exists(committed(_, k).isEmpty))
      .map(chunkRows(_).toLong).sum
    generatorLagMs = math.max(generatorLagMs, lag)
    ctx.info("backlog_rows") = backlog
    ctx.info("generator_lag_s") = generatorLagMs / 1e3
    waitCommitted(last)
    // rows of one tick were due at even steps inside it
    val lat = (first to last).flatMap { k =>
      val done = names.map(committed(_, k).get).max
      val n = chunkRows(k)
      (0 until n).map(j => (done - (chunkDueMs(k) - TickMs * (n - 1 - j).toDouble / n)) / 1e3)
    }
    ctx.attempted += lat.size
    val batches = progress.asScala.toList
    if (ctx.tracer.enabled) batches.foreach { case (n, e) =>
      traceBatches += n -> e
      val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      ctx.tracer.record("streaming", n, (startMs(e) * 1e6).toLong + offsetNs,
        ((startMs(e) + triggerMs(e)) * 1e6).toLong + offsetNs)
    }
    // The offered rate caps rows over wall time, so throughput divides
    // the rows by the time the streams spent on them instead: a slower
    // engine lowers the figure even while it keeps up.
    (lat, busySeconds(batches.map(_._2)))
  }

  /** Each window is summarized on its own, and the figures are lower
    * medians over windows (of two, the better), so a window the host
    * slowed does not count: the median latency is that of the window
    * with the lower median, throughput that of the window whose rows
    * took the least batch time each. The tail is a quantile of every
    * row's latency.
    */
  def summarize(rounds: Seq[Round]): Summary = {
    val all = rounds.flatMap(_.opSeconds)
    val tail = Stats.quantile(all, tailPercentile / 100)
    Summary(Stats.lowerMedian(rounds.map(r => Stats.median(r.opSeconds))),
      tail, 1.0 / Stats.lowerMedian(rounds.map(r => r.seconds / r.rows)),
      all.size, all.count(_ > tail))
  }

  def verify(ctx: Ctx): Unit = {
    queries.foreach(_.processAllAvailable())
    val spark = ctx.spark
    import spark.implicits._
    val rows = planned.take(offered).toSeq
    // the offered rows are the reference's prefix in event time
    val batch = reference.filter($"ts" < planned(offered).ts).toDF()
    val spec = SeriesSpec(seriesId = Seq("series_id"))
    def masks(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Boolean] =
      df.select("series_id", "ts", "is_anomaly").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getBoolean(2)).toMap
    def streamed(name: String) = masks(spark.table(name))
    val want = Map(
      "diff" -> masks(DiffDetector(MaxDiff).detect(batch, spec)),
      "hampel" -> masks(HampelDetector(HampelWindow, 3.0).detect(batch, spec)),
      "cusum" -> masks(CusumDetector(0.0, 1.0, 20.0).detect(batch, spec)))
    val perSeries = rows.groupBy(_.series_id).view.mapValues(_.size).toMap
    names.foreach { n =>
      val got = streamed(n)
      val expectRows =
        if (n == "hampel") perSeries.values.map(c => math.max(0, c - HampelWindow)).sum
        else rows.size
      ctx.check(got.size == expectRows, s"$n stream emitted ${got.size} rows, expected $expectRows")
      val wrong = got.count { case (k, v) => !want(n).get(k).contains(v) }
      ctx.check(wrong == 0, s"$n stream: $wrong masks differ from the batch detector")
    }
    ctx.check(want("diff").values.exists(identity), "no spike was flagged")
    queries.foreach(_.stop())
    spark.streams.removeListener(listener)
    reference.unpersist(blocking = true)
  }

  override def layers(ctx: Ctx, rounds: Seq[Round]): Unit = {
    val ps = traceBatches.map(_._2.progress).toSeq
    val trig = ps.map(_.durationMs.getOrDefault("triggerExecution", 0L).doubleValue() / 1e3)
    ctx.put("streaming.batch_s", if (trig.isEmpty) 0.0 else Stats.median(trig), "s")
    ctx.put("streaming.batches", ps.size.toDouble, "count")
    // state at the end: the latest progress of each query
    val lastOf = traceBatches.groupBy(_._1).values.map(_.maxBy(_._2.progress.batchId)._2.progress)
    val ops = lastOf.flatMap(_.stateOperators.toSeq)
    ctx.put("streaming.state_rows", ops.map(_.numRowsTotal).sum.toDouble, "count")
    ctx.put("streaming.state_bytes", ops.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    val commitS = ps.flatMap(_.stateOperators.map(_.commitTimeMs / 1e3))
    ctx.put("streaming.state_commit_s", if (commitS.isEmpty) 0.0 else Stats.median(commitS), "s")
    ctx.put("streaming.rows_dropped_late",
      ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble, "count")
    ctx.put("streaming.backlog_rows", backlog.toDouble, "count")
    ctx.put("streaming.generator_lag_s", generatorLagMs / 1e3, "s")
  }
}
