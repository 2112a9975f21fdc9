package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One run's settings. `runDir` holds everything the run writes;
  * `launchedNs` is when the harness launched the JVM, in ns since the epoch. */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, data: String, runDir: String, launchedNs: Long)

/** What a run reports back to the harness, written as JSON at its end. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val metrics = mutable.Map.empty[String, Double]
  val layers = mutable.Map.empty[String, Double]
  val info = mutable.Map.empty[String, Any]
  val oracle = ArrayBuffer.empty[Map[String, Any]]
  var spans = ""

  def fail(why: String, count: Long = 1L): Unit = { failed += count; failures += why }
  def heapAfterPass(mb: Double): Unit =
    metrics("heap_peak_mb") = math.max(metrics.getOrElse("heap_peak_mb", 0.0), mb)

  def json: String = Json.obj("attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.toSeq, "metrics" -> metrics.toMap, "layers" -> layers.toMap,
    "info" -> info.toMap, "oracle" -> oracle.toSeq)
}

/** Entry point of one benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --cores <n>
  *  --data <dir> --run-dir <dir> --launched-ns <n>`. */
object Main {
  /** replay_ticks: one query each of the core, augurs and market families
    * over sf0.1 events; aug_outlier_mad and book_top are the batch runs of
    * the two live twins. */
  val ReplayQueries = Seq("evt_sessionize_1h", "aug_outlier_mad", "book_top")
  /** curate: cosine near-duplicate removal over sf0.1 embeddings, where
    * the dotPacked kernel and the pair shuffle do the work, and MinHash
    * signatures over sf0.1 documents, one md5Prefix60 per shingle. */
  val CurateQueries = Seq("emb_dedup_cosine", "doc_minhash")

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("cores").toInt, a("data"), a("run-dir"), a("launched-ns").toLong)
    val res = new Result
    val tables = cfg.workload match {
      case "replay_ticks" | "live_ticks" => Seq("events")
      case "curate" => Seq("embeddings", "documents")
      case other => sys.error(s"unknown workload $other")
    }

    // Setup, what a one-shot user pays before the first call: from the
    // JVM's launch until the session is up and every input is registered
    // (read and counted). It happens once per JVM, so once per run.
    val spark = session(cfg.cores)
    res.info("input_rows") =
      tables.map(t => t -> spark.read.parquet(s"${cfg.data}/$t.parquet").count()).toMap
    val now = Instant.now()
    res.metrics("setup_s") = (now.getEpochSecond * 1000000000L + now.getNano - cfg.launchedNs) / 1e9
    res.info ++= Map("cores" -> cfg.cores, "seed" -> cfg.seed)

    cfg.workload match {
      case "replay_ticks" => Batch.run(spark, cfg, ReplayQueries, res)
      case "curate" => Batch.run(spark, cfg, CurateQueries, res)
      case "live_ticks" => Live.run(spark, cfg, Live.twins(spark, cfg.data), res)
    }
    if (cfg.trace) res.layers ++= Kernels.run(spark)
    spark.stop()
    res.info("jvm_s") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    Files.createDirectories(Paths.get(cfg.runDir))
    if (cfg.trace)
      Files.write(Paths.get(cfg.runDir, "spans.jsonl"), res.spans.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(cfg.runDir, "result.json"), res.json.getBytes(StandardCharsets.UTF_8))
  }
}
