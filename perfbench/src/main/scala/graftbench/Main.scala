package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one run shares with its workload. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    traced: Boolean, tracer: Tracer, engine: EngineCounters, streams: StreamCounters,
    work: Path, data: Path) {
  def deadlineNs(): Long = System.nanoTime() + seconds * 1000000000L
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** The outcome of one run. `endToEnd` holds the untraced metrics
  * (`setup_s` and `p50_s`; `Main` adds `peak_rss_mb`), `perLayer` the
  * traced ones; `report` lines go to standard error. `failed` counts
  * failed or wrong operations out of `attempted`.
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Map[String, Metric], perLayer: Map[String, Metric] = Map.empty,
    report: Seq[String] = Nil)

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <dir> --out <file>`. Runs one workload in one
  * `local[4]` session and writes the result object to `--out`.
  */
object Main {
  val Workloads: Seq[String] = Seq("index_backfill", "registry_mix")
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (known: ${Workloads.mkString(", ")})")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val data = Paths.get(arg("data")).toAbsolutePath
    val out = Paths.get(arg("out")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("stream-ckpt").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new EngineCounters
    spark.sparkContext.addSparkListener(engine)
    val streams = new StreamCounters
    spark.streams.addListener(streams)
    val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}")
    val ctx = Ctx(spark, seed, seconds, trace, tracer, engine, streams, work, data)

    val outcome = workload match {
      case "index_backfill" => IndexBackfill.run(ctx)
      case "registry_mix" => RegistryMix.run(ctx)
    }
    val metrics =
      if (trace) Layers.complete(outcome.perLayer)
      else outcome.endToEnd + ("peak_rss_mb" -> Metric(peakRssMb(), "MB"))
    if (trace) {
      tracer.write(work.resolve("spans.jsonl"))
      outcome.report.foreach(l => System.err.println(l))
    }
    val line = Json.obj(
      "correct" -> outcome.correct,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Map("value" -> m.value, "unit" -> m.unit)
      }.toMap)
    Files.write(out, (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)

  /** Run `body` `SetupRepeats` times; returns the median seconds and the
    * last repetition's value.
    */
  def setups[T](body: Int => T): (Double, T) = {
    var last: Option[T] = None
    val secs = (0 until SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      last = Some(body(i))
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"set-up ${i + 1}/$SetupRepeats: $secs%.3f s")
      secs
    }
    (Stats.median(secs), last.get)
  }
}
