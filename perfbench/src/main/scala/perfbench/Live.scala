package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.{QueriesMarket, Tables}
import graft.market.{BookUpdateIn, OrderBookOp}
import graft.streaming.{Ev, RunMode, StateProcs}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One live twin: a stateful operator run incrementally over a stream,
  * checked against the same operator run in batch over the same events.
  * `input` is in event-time order; both runners emit one row per event,
  * carrying the event's `ts`. */
final case class Twin[I](name: String, input: Array[I], ts: I => Long,
    enc: Encoder[I], streaming: Dataset[I] => DataFrame, batch: Dataset[I] => DataFrame)

object Live {
  /** Poisson arrival rate of the open-loop feed, events per second. */
  val Rate = 1000.0
  /** Length of each twin's open-loop feed: ten to fifteen micro-batches here. */
  val OpenSeconds = 6.0
  /** Events per closed-loop drain pass, and per append within it. */
  val DrainEvents = 3000
  val AppendEvents = 1000

  /** The two twins and their inputs, derived from `events` through the
    * library's public entry points: input generation, not timed. Each
    * twin gets the whole table; a run uses a prefix of it. */
  def twins(spark: SparkSession, dir: String): Seq[Twin[_]] = {
    import spark.implicits._
    val updates = QueriesMarket.updatesFromEvents(spark, dir).orderBy("ts", "seq").collect()
    val events = Tables.events(spark, dir).df
      .select(col("user_id").cast("string").as("key"), col("ts"), col("seq"),
        lit(0).as("src"), col("value"))
      .orderBy("ts", "seq").as[Ev].collect()
    val mad = StateProcs.outlierMad(20)
    Seq(
      Twin[BookUpdateIn]("book", updates, _.ts, Encoders.product[BookUpdateIn],
        ds => OrderBookOp.streaming(ds).toDF(), ds => OrderBookOp.batch(ds).toDF()),
      Twin[Ev]("outlier_mad", events, _.ts, Encoders.product[Ev],
        ds => RunMode.streaming(ds, mad).toDF(), ds => RunMode.batch(ds, mad).toDF()))
  }

  /** The foreachBatch sink: collects each micro-batch's rows and stamps
    * the end of the sink call. */
  private final class Sink {
    val batches = ArrayBuffer.empty[(Long, Long, Array[Row])] // (batchId, endNs, rows)
    @volatile var rows = 0L
    def apply(df: DataFrame, id: Long): Unit = {
      val out = df.collect()
      val end = System.nanoTime()
      synchronized { batches += ((id, end, out)); rows += out.length }
    }
    def all: Seq[(Long, Long, Array[Row])] = synchronized(batches.toList)
  }

  private final case class TwinRun(cold: Double, warm: Seq[Double], tracedWarm: Seq[Boolean],
      latenciesMs: Seq[Double], lateMs: Seq[Double], backlogRows: Long,
      progress: Seq[StreamingQueryProgress], drainWindows: Seq[(Long, Long)], warmGcSeconds: Double)

  def run(spark: SparkSession, cfg: Config, twins: Seq[Twin[_]], res: Result): Unit = {
    val rng = new scala.util.Random(cfg.seed)
    val log = if (cfg.trace) Some(new TaskLog) else None
    val budget = cfg.seconds.toDouble / twins.size
    val tracer = new Tracer
    val runSpan = tracer.newId()
    val start = System.nanoTime()
    val runs = twins.map { t =>
      tracer.span(runSpan, "twin", t.name) { id =>
        runTwin(spark, cfg, t.asInstanceOf[Twin[Any]], rng, budget, log, res, tracer, id)
      }
    }
    tracer.record(runSpan, 0, "run", "", start, System.nanoTime())

    // A latency percentile is taken per twin and averaged over the twins.
    // Pooled, the two twins' latencies form two humps (the book twin's
    // batches take longer), and a pooled median falls in the sparse gap
    // between them, where a small shift in either hump moves it far.
    def latency(q: Double) = Stats.mean(runs.map(r => Stats.quantile(r.latenciesMs, q)))
    res.metrics ++= Map(
      "cold_pass_s" -> runs.map(_.cold).sum,
      "pass_s" -> runs.map(r => Stats.median(r.warm)).sum,
      "latency_p50_ms" -> latency(0.5),
      "latency_p90_ms" -> latency(0.9))
    res.info ++= Map("latency_samples" -> runs.map(_.latenciesMs.size).sum,
      "drain_walls_s" -> runs.map(r => r.cold +: r.warm),
      "events_per_s" -> runs.size * DrainEvents / runs.map(r => Stats.median(r.warm)).sum,
      "latency_p99_ms" -> latency(0.99),
      "twin_latency_p50_ms" -> runs.map(r => Stats.median(r.latenciesMs)))

    if (cfg.trace) {
      val windows = runs.flatMap(r => r.drainWindows.zip(r.tracedWarm).collect { case (w, true) => w })
      // A live pass is one drain through each twin: per-pass figures are
      // per-drain figures times the number of twins.
      res.layers ++= log.get.perPass(windows, cfg.cores).map { case (k, v) =>
        k -> (if (k.endsWith("_frac")) v else v * runs.size)
      }
      val overhead = runs.map { r =>
        val (t, u) = r.warm.zip(r.tracedWarm).partition(_._2)
        Stats.median(t.map(_._1)) - Stats.median(u.map(_._1))
      }.sum
      res.layers ++= streamingLayers(runs)
      res.layers ++= Map("trace.overhead_s" -> overhead,
        "jvm.jit_s" -> Jvm.jitSeconds,
        "jvm.gc_s" -> runs.map(r => r.warmGcSeconds / r.warm.size).sum,
        "jvm.code_cache_mb" -> Jvm.codeCacheMb)
      res.spans = tracer.toJsonLines
    }
  }

  private def streamingLayers(runs: Seq[TwinRun]): Map[String, Double] = {
    val ps = runs.flatMap(_.progress)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val nonEmpty = ps.filter(_.numInputRows > 0)
    val lastState = runs.flatMap(_.progress.lastOption).flatMap(_.stateOperators.headOption)
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_per_batch" -> Stats.mean(nonEmpty.map(_.numInputRows.toDouble)),
      "streaming.batch_p50_ms" -> Stats.median(nonEmpty.map(dur(_, "triggerExecution"))),
      "streaming.batch_p99_ms" -> Stats.quantile(nonEmpty.map(dur(_, "triggerExecution")), 0.99),
      "streaming.plan_ms" -> Stats.mean(nonEmpty.map(dur(_, "queryPlanning"))),
      "streaming.exec_ms" -> Stats.mean(nonEmpty.map(dur(_, "addBatch"))),
      "streaming.wal_ms" -> Stats.mean(nonEmpty.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mb" -> lastState.map(_.memoryUsedBytes / 1024.0 / 1024.0).sum,
      "streaming.state_commit_ms" ->
        Stats.mean(nonEmpty.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)),
      "streaming.backlog_rows" -> runs.map(_.backlogRows).sum.toDouble,
      "streaming.empty_batch_frac" ->
        (if (ps.isEmpty) 0.0 else (ps.size - nonEmpty.size).toDouble / ps.size),
      "streaming.gen_late_ms" -> Stats.quantile(runs.flatMap(_.lateMs), 0.99))
  }

  private def runTwin(spark: SparkSession, cfg: Config, twin: Twin[Any],
      rng: scala.util.Random, budget: Double, log: Option[TaskLog], res: Result,
      tracer: Tracer, twinSpan: Int): TwinRun = {
    val input = twin.input
    // Instants: runs of events sharing ts. An append never splits one.
    val starts = (0 +: (1 until input.length).filter(i => twin.ts(input(i)) != twin.ts(input(i - 1))))
      .toArray :+ input.length
    val nInst = starts.length - 1

    // Open loop: Poisson arrivals drawn from the seed, one instant each,
    // every due time fixed before the twin starts. The drains stop `nOpen`
    // instants short of the input's end, so a faster engine fits more warm
    // drains but never leaves the open loop short of arrivals.
    val dueOffsets = ArrayBuffer.empty[Long]
    var at = 0.0
    while (at < OpenSeconds) {
      dueOffsets += (at * 1e9).toLong
      at += -math.log(1.0 - rng.nextDouble()) / Rate
    }
    val nOpen = dueOffsets.size
    val drainLimit = nInst - nOpen // drains offer instants below this
    // Room for one more full drain: it offers under DrainEvents +
    // AppendEvents events, plus at most one instant's worth of overshoot.
    val maxInstant = (0 until nInst).map(k => starts(k + 1) - starts(k)).max
    def roomForDrain(from: Int) =
      from < drainLimit && starts(drainLimit) - starts(from) >= DrainEvents + AppendEvents + maxInstant
    // A cold drain, a settling one and two warm ones at the least.
    require(starts(drainLimit) >= 4 * (DrainEvents + AppendEvents + maxInstant),
      s"${twin.name}: ${input.length} events are too few for the drains and $nOpen open-loop arrivals")

    val mem = MemoryStream[Any](spark, cfg.cores)(twin.enc)
    val sink = new Sink
    val ckpt = s"${cfg.runDir}/ckpt-${twin.name}"
    val query = twin.streaming(mem.toDS()).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
      .start()
    var next = 0 // next instant to offer
    def append(from: Int, until: Int): Unit =
      mem.addData(input.slice(starts(from), starts(until)).toSeq)

    /** Closed loop: fixed-size appends, each processed before the next.
      * Called only while `roomForDrain(next)`, so every drain is whole. */
    def drain(): Double = {
      val t0 = System.nanoTime()
      var sent = 0
      while (sent < DrainEvents) {
        val from = next
        while (starts(next) - starts(from) < AppendEvents) next += 1
        append(from, next)
        query.processAllAvailable()
        sent += starts(next) - starts(from)
      }
      (System.nanoTime() - t0) / 1e9
    }

    val t0 = System.nanoTime()
    val cold = drain()
    res.heapAfterPass(Jvm.heapAfterGcMb())

    // Warm drains while the twin's time and its input allow, at least
    // three (the input-size check above guarantees room for them); the first
    // is a settling drain, left out of the figures like the batch settling
    // pass. In the traced run they alternate between listener attached and
    // detached. The open loop comes last, once JIT has settled.
    val warm = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[(Long, Long)]
    val traced = ArrayBuffer.empty[Boolean]
    val gcs = ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (roomForDrain(next) && (warm.size < 3 || elapsed + warm.last + OpenSeconds + 1 <= budget)) {
      val on = cfg.trace && warm.size % 2 == 0
      log.foreach(_.listen(spark, on))
      val w0 = System.currentTimeMillis()
      val gc0 = Jvm.gcSeconds
      warm += drain()
      gcs += Jvm.gcSeconds - gc0
      windows += ((w0, System.currentTimeMillis()))
      traced += on
    }
    res.heapAfterPass(Jvm.heapAfterGcMb())
    log.foreach(_.listen(spark, on = false))

    // Open loop: latency runs from each arrival's due time.
    val openFrom = next
    val openUntil = openFrom + nOpen
    val lastBatch = sink.all.lastOption.map(_._1).getOrElse(-1L)
    val rowsBefore = sink.rows
    val late = ArrayBuffer.empty[Double]
    val feed0 = System.nanoTime() + 20000000L
    val due = mutable.HashMap.empty[Long, Long] // ts -> due time
    (openFrom until openUntil).foreach(k => due(twin.ts(input(starts(k)))) = feed0 + dueOffsets(k - openFrom))
    while (next < openUntil) {
      val wait = feed0 + dueOffsets(next - openFrom) - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val now = System.nanoTime()
      val from = next
      while (next < openUntil && feed0 + dueOffsets(next - openFrom) <= now) next += 1
      if (next > from) {
        append(from, next)
        (from until next).foreach(k => late += (now - feed0 - dueOffsets(k - openFrom)) / 1e6)
      }
    }
    val offered = (starts(openUntil) - starts(openFrom)).toLong
    val backlog = offered - (sink.rows - rowsBefore)
    query.processAllAvailable()
    val progress = if (cfg.trace) query.recentProgress.toSeq.filter(_.batchId > lastBatch) else Nil

    if (cfg.trace) {
      val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
      query.recentProgress.foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + epochToNano
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        tracer.record(tracer.newId(), twinSpan, "micro_batch", twin.name, s, s + ms * 1000000L)
      }
    }
    query.stop()

    // Latency of every open-loop event: due time to the end of the sink
    // call of the micro-batch that emitted it; never emitted counts as +Inf.
    val emitted = sink.all.flatMap { case (_, end, rows) =>
      rows.iterator.map(_.getAs[Long]("ts")).flatMap(ts => due.get(ts).map(d => (end - d) / 1e6))
    }
    val latencies = emitted ++ Seq.fill((offered - emitted.size).max(0L).toInt)(Double.PositiveInfinity)

    // Outside the timed region: the stream's output must equal the batch
    // twin over exactly the events offered.
    val fed = input.slice(0, starts(next)).toSeq
    val expected = twin.batch(spark.createDataset(fed)(twin.enc)).collect().map(_.toString)
    val got = sink.all.flatMap(_._3).map(_.toString)
    val diff = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    expected.foreach(r => diff(r) += 1)
    got.foreach(r => diff(r) -= 1)
    val wrong = diff.values.map(math.abs).sum
    res.attempted += fed.size
    if (wrong > 0 || latencies.exists(_.isInfinite))
      res.fail(s"${twin.name}: $wrong rows differ from the batch twin, " +
        s"${latencies.count(_.isInfinite)} events never emitted",
        math.max(wrong, latencies.count(_.isInfinite)))
    res.info(s"${twin.name}_events") = fed.size
    TwinRun(cold, warm.drop(1).toSeq, traced.drop(1).toSeq, latencies, late.toSeq, backlog, progress,
      windows.drop(1).toSeq, gcs.drop(1).sum)
  }
}
