package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch workloads: passes over a fixed list of registry queries, in
  * the listed order. (Drawing each pass's order from the seed moved warm
  * pass walls by up to 40 % between seeds, more than any change the
  * benchmark is meant to resolve.) Pass 0 runs in the fresh JVM
  * and is the cold pass, a one-shot replay: it writes every query's output
  * as parquet, which the harness then checks against the DuckDB oracle.
  * Warm passes follow until the run's time is used (at least three); they
  * send every query to Spark's `noop` sink, as `graft.Bench` does. The
  * first warm pass is a settling pass, still slowed by JIT compilation of
  * what the cold pass loaded; the warm figures leave it out. */
object Batch {

  /** Module family of a registry query, named after its per-layer wall sum. */
  def family(name: String): String =
    if (name.startsWith("evt_") || name == "dyn_group") "core.s"
    else if (name.startsWith("aug_")) "augurs.s"
    else if (name.startsWith("book_") || name.startsWith("mkt_")) "market.s"
    else if (name.startsWith("doc_")) "text.s"
    else "similarity.s"

  private final case class Pass(span: Int, wall: Double, traced: Boolean,
      queryWalls: Map[String, Double], window: (Long, Long), gcSeconds: Double)

  def run(spark: SparkSession, cfg: Config, names: Seq[String], res: Result): Unit = {
    val registry = SparkEntry.queries
    val queries = names.map(n => n -> registry(n))
    val tracer = new Tracer
    val runSpan = tracer.newId()
    val log = if (cfg.trace) Some(TaskLog.attach(spark)) else None
    var exchanges = 0.0
    val executions = mutable.Map.empty[String, Int].withDefaultValue(0)

    def output(name: String) = s"${cfg.runDir}/out/$name"
    def sink(df: DataFrame, name: String, cold: Boolean): Unit =
      if (cold) df.write.mode("overwrite").parquet(output(name))
      else df.write.format("noop").mode("overwrite").save()

    def execute(name: String, fn: (SparkSession, String) => DataFrame, pass: Int,
        traced: Boolean, cold: Boolean): Unit =
      if (!traced) sink(fn(spark, cfg.data), name, cold)
      else tracer.span(pass, "query", name) { qid =>
        val df = tracer.span(qid, "build", name)(_ => fn(spark, cfg.data))
        val plan = tracer.span(qid, "plan", name)(_ => df.queryExecution.executedPlan)
        exchanges += plan.treeString.linesIterator
          .count(l => l.matches(""".*\b(Exchange|BroadcastExchange) .*""") && !l.contains("Reused"))
        tracer.span(qid, "execute", name) { _ =>
          if (cold) sink(df, name, cold) else df.queryExecution.toRdd.foreach(_ => ())
        }
      }

    def runPass(index: Int, traced: Boolean): Pass = {
      val walls = mutable.Map.empty[String, Double]
      val startMs = System.currentTimeMillis()
      val gc0 = Jvm.gcSeconds
      val t0 = System.nanoTime()
      val span = tracer.span(runSpan, if (traced) "pass" else "untraced_pass") { pid =>
        queries.foreach { case (name, fn) =>
          val q0 = System.nanoTime()
          try {
            execute(name, fn, pid, traced, cold = index == 0)
            walls(name) = (System.nanoTime() - q0) / 1e9
            executions(name) += 1
          } catch {
            case e: Exception => res.fail(s"$name (pass $index): ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          res.attempted += 1
        }
        pid
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Pass(span, wall, traced, walls.toMap, (startMs, System.currentTimeMillis()),
        Jvm.gcSeconds - gc0)
    }

    // Measured phase: the clock starts at the cold pass.
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val passes = ArrayBuffer.empty[Pass]
    passes += runPass(0, traced = cfg.trace)
    res.heapAfterPass(Jvm.heapAfterGcMb())
    // In the traced run, warm passes alternate traced and untraced, the
    // listener detached for the latter, which gives the tracing overhead.
    def warm = passes.drop(2)
    while (warm.size < 2 || elapsed + passes.last.wall <= cfg.seconds) {
      val traced = cfg.trace && warm.size % 2 == 0
      log.foreach(_.listen(spark, traced))
      passes += runPass(passes.size, traced)
    }
    res.heapAfterPass(Jvm.heapAfterGcMb())
    log.foreach(_.listen(spark, on = false))
    tracer.record(runSpan, 0, "run", "", start, System.nanoTime())
    val jitSeconds = Jvm.jitSeconds

    // A query's latency is its median warm wall; the percentiles run over
    // the queries of the workload.
    val queryWalls = names.map(n => n -> Stats.median(warm.flatMap(_.queryWalls.get(n)).toSeq))
      .filterNot(_._2.isNaN)
    res.metrics ++= Map(
      "cold_pass_s" -> passes.head.wall,
      "pass_s" -> Stats.median(warm.map(_.wall).toSeq),
      "latency_p50_ms" -> Stats.median(queryWalls.map(_._2)) * 1000,
      "latency_p90_ms" -> Stats.quantile(queryWalls.map(_._2), 0.9) * 1000)
    res.info ++= Map("pass_walls_s" -> passes.map(_.wall).toSeq, "query_walls_s" -> queryWalls.toMap)

    if (cfg.trace) {
      val tracedWarm = warm.filter(_.traced).toSeq
      val untracedWarm = warm.filterNot(_.traced).toSeq
      val warmSpans = tracedWarm.map(_.span).toSet
      val families = Seq("core.s", "augurs.s", "market.s", "text.s", "similarity.s").map { f =>
        f -> tracedWarm.map(_.queryWalls.collect { case (n, w) if family(n) == f => w }.sum).sum /
          math.max(1, tracedWarm.size)
      }
      res.layers ++= log.get.perPass(tracedWarm.map(_.window), cfg.cores)
      res.layers ++= families
      res.layers ++= Map(
        "driver.build_s" -> tracer.selfSeconds("build", warmSpans) / tracedWarm.size,
        "driver.plan_s" -> tracer.selfSeconds("plan", warmSpans) / tracedWarm.size,
        "driver.exchanges" -> exchanges / passes.count(_.traced),
        "jvm.jit_s" -> jitSeconds,
        "jvm.gc_s" -> Stats.mean(warm.map(_.gcSeconds).toSeq),
        "jvm.code_cache_mb" -> Jvm.codeCacheMb,
        "trace.overhead_s" ->
          (Stats.median(tracedWarm.map(_.wall)) - Stats.median(untracedWarm.map(_.wall))))
      res.spans = tracer.toJsonLines
    }

    // What the oracle check needs; the check itself runs after the JVM,
    // over the cold pass's outputs in `<runDir>/out/<query>`.
    passes.head.queryWalls.keys.foreach { name =>
      res.oracle += Map("name" -> name, "executions" -> executions(name),
        "sql" -> SparkEntry.oracleSql.get(name).orNull)
    }
  }
}
