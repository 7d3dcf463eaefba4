package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.indexer.{Ingest, LiveIndexer, Routers}
import graft.sinks.{ManifestCommit, ParquetMergeSink}

/** `DirHeightClient` that counts the bytes it serves: the traced pump's
  * source. The live source builds clients by class name inside tasks, so
  * the count lives in the companion (one JVM under `local[4]`).
  */
class TracingDirClient(dir: String) extends graft.sources.HeightClient {
  private val inner = new graft.sources.DirHeightClient(dir)
  override def latestHeight(): Long = inner.latestHeight()
  override def fetchBlock(height: Long): String = {
    val b = inner.fetchBlock(height)
    TracingDirClient.bytes.addAndGet(b.length.toLong)
    b
  }
}

object TracingDirClient {
  val bytes = new AtomicLong
}

/** The chain pump: the five indexer tables fed from a landing directory
  * by `LiveIndexer`, untraced, or — in traced runs — through the same
  * source with each layer's public function called and materialised in
  * turn so every span holds one layer's work. One checkpoint serves every
  * drain, so each drain resumes where the last one stopped.
  */
final class Pump(ctx: Ctx, val landing: Path, val root: Path, val ckpt: Path) {
  import Pump._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  /** Traced batches: when each began and when it became visible in all
    * five tables (ns).
    */
  private val batchStartNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val committedNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  /** Drain everything landed so far: one `LiveIndexer.start` run over the
    * pump's checkpoint, capped at `cap` heights per batch. `tip` is the
    * highest landed height, for the traced source's poll lag.
    */
  def drain(cap: Long, tip: Long): Unit = {
    val t0 = System.nanoTime()
    val before = committedNs.keySet().asScala.toSet
    val q =
      if (!tr.enabled)
        LiveIndexer.start(spark, landing.toString, root.toString, ckpt.toString,
          maxHeightsPerTrigger = Some(cap))
      else tracedStart(cap, tip)
    q.awaitTermination()
    val t1 = System.nanoTime()
    if (tr.enabled) {
      // trigger overhead: start() → first batch, plus last batch → end
      val mine = batchStartNs.asScala.filter { case (id, _) => !before.contains(id) }
      val overheadNs =
        if (mine.isEmpty) t1 - t0
        else (mine.values.min - t0) + (t1 - mine.keys.map(committedNs.get).max)
      tr.add("live.trigger_overhead_s", overheadNs / 1e9)
      tr.add("live.starts", 1)
    }
  }

  private def tracedStart(cap: Long, tip: Long): StreamingQuery =
    spark.readStream.format("graft.sources.HeightPollSource")
      .option("client", classOf[TracingDirClient].getName)
      .option("clientArg", landing.toString)
      .option("maxHeightsPerTrigger", cap.toString)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, id: Long) => tracedBatch(batch, id, tip))
      .start()

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val m = df.persist(StorageLevel.MEMORY_AND_DISK)
    (m, m.count())
  }

  /** One micro-batch of `LiveIndexer.mergeAll`, layer by layer. */
  private def tracedBatch(batch: DataFrame, id: Long, tip: Long): Unit = {
    batchStartNs.put(id, System.nanoTime())
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(p: (DataFrame, Long)): (DataFrame, Long) = { held += p._1; p }
    try tr.span("live.batch") {
      val (raw, heights) = tr.span("sources.fetch")(keep(materialize(batch)))
      tr.add("live.batches", 1)
      tr.add("live.heights", heights.toDouble)
      val (maxHeight, inputBytes) = ctx.engine.harness(spark.sparkContext) {
        val r = raw.agg(max("height"), sum(length(col("block_json")))).head()
        (r.getLong(0), r.getLong(1))
      }
      tr.add("sources.poll_lag_heights", (tip - maxHeight).toDouble)
      // the per-height envelope split LiveIndexer.tablesOf applies
      val env = raw.select(col("height"),
        coalesce(get_json_object(col("block_json"), "$.block"), col("block_json")).as("block_json"),
        get_json_object(col("block_json"), "$.block_results").as("results_json"))
      val blocks = env.select("height", "block_json")
      val results = env.filter(col("results_json").isNotNull).select("height", "results_json")
      val (blockInfo, txs, decoded, msgs, evts) = tr.span("ingest.parse") {
        val bi = keep(materialize(Ingest.blockInfo(blocks)))
        val tx = keep(materialize(Ingest.txsFromBlocks(blocks)))
        val de = keep(materialize(Ingest.decodeTxs(tx._1, DecoderClass)))
        val ms = keep(materialize(Ingest.messages(de._1)))
        val ev = keep(materialize(Ingest.events(results)))
        (bi, tx, de, ms, ev)
      }
      tr.add("ingest.rows_out", (blockInfo._2 + msgs._2 + evts._2).toDouble)
      tr.add("ingest.txs_seen", txs._2.toDouble)
      tr.add("ingest.txs_decoded", decoded._2.toDouble)
      val (routed, scores, commits) = tr.span("routers.route") {
        (keep(materialize(Routers.routeEvents(evts._1))),
          keep(materialize(Routers.scores(evts._1))),
          keep(materialize(Routers.actorLastCommit(evts._1))))
      }
      tr.add("routers.events_in", evts._2.toDouble)
      tr.add("routers.events_kept", routed._2.toDouble)
      tr.add("routers.score_pairs_valid", scores._2.toDouble)
      tr.add("routers.score_pairs", ctx.engine.harness(spark.sparkContext)(scorePairs(evts._1)).toDouble)
      val frames = Map("block_info" -> blockInfo._1, "messages" -> msgs._1,
        "events" -> routed._1, "scores" -> scores._1, "last_commits" -> commits._1)
      // table names, conflict keys and version columns as LiveIndexer uses them
      LiveIndexer.tablesOf(raw, DecoderClass).foreach { case (name, _, keys, version) =>
        val path = root.resolve(name).toString
        val before = manifestDirs(spark, path)
        tr.span(s"sinks.merge.$name")(ParquetMergeSink.merge(frames(name), path, keys, version))
        val after = manifestDirs(spark, path)
        val rewritten = after.filter { case (b, d) => !before.get(b).contains(d) }
        tr.add("sinks.buckets_rewritten", rewritten.size.toDouble)
        tr.add("sinks.buckets", after.size.toDouble)
        tr.add("sinks.rewrite_bytes", rewritten.values.map(d => dirBytes(spark, path, d)._1).sum.toDouble)
        if (name == LastTable) committedNs.put(id, System.nanoTime())
      }
      tr.add("sinks.input_bytes", inputBytes.toDouble)
    } finally held.foreach(_.unpersist(blocking = false))
  }

  /** Number of (address, score) pairs the scores events carry. */
  private def scorePairs(evts: DataFrame): Long =
    evts.filter(col("type").endsWith("EventScoresSet"))
      .select(size(from_json(map_from_entries(col("attributes")).getItem("addresses"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))).as("n"))
      .agg(coalesce(sum(greatest(col("n"), lit(0))), lit(0L))).head().getLong(0)
}

object Pump {
  val Tables: Seq[String] = Seq("block_info", "messages", "events", "scores", "last_commits")
  val LastTable = "last_commits"
  val DecoderClass: String = classOf[Ingest.JsonPassthroughDecoder].getName

  private def fs(spark: SparkSession, p: String) =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** bucket → relative data dir of the table's current manifest. */
  def manifestDirs(spark: SparkSession, table: String): Map[String, String] = {
    val p = new HPath(table)
    if (!fs(spark, table).exists(p)) Map.empty
    else ManifestCommit.latest(fs(spark, table), p).map(_.dirs).getOrElse(Map.empty)
  }

  /** (bytes, parquet files) under one of a table's data dirs. */
  def dirBytes(spark: SparkSession, table: String, rel: String): (Long, Long) = {
    val f = fs(spark, table)
    val it = f.listFiles(new HPath(new HPath(table), rel), true)
    var bytes, files = 0L
    while (it.hasNext) {
      val st = it.next()
      bytes += st.getLen
      if (st.getPath.getName.endsWith(".parquet")) files += 1
    }
    (bytes, files)
  }

  /** (bytes, parquet files) the current manifests of all five tables reference. */
  def stored(spark: SparkSession, root: Path): (Long, Long) =
    Tables.map { t =>
      val table = root.resolve(t).toString
      manifestDirs(spark, table).values.map(d => dirBytes(spark, table, d))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Compare the five tables under `root` with the generator's model;
    * returns the names of mismatching checks.
    */
  def check(spark: SparkSession, root: Path, exp: ChainGen.Expected): Seq[String] = {
    def read(t: String) = ParquetMergeSink.read(spark, root.resolve(t).toString)
    def one(df: DataFrame, exprs: (String, org.apache.spark.sql.Column)*): Map[String, String] = {
      val row = df.agg(exprs.head._2, exprs.tail.map(_._2): _*).head()
      exprs.map(_._1).zipWithIndex.map { case (k, i) =>
        k -> (row.get(i) match {
          case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
          case null => "0"
          case v => v.toString
        })
      }.toMap
    }
    val got = one(read("block_info"), "block_info.rows" -> count(lit(1)),
        "block_info.height_sum" -> sum("height")) ++
      one(read("messages"), "messages.rows" -> count(lit(1)),
        "messages.height_sum" -> sum("height")) ++
      one(read("events"), "events.rows" -> count(lit(1)),
        "events.height_sum" -> sum("height")) ++
      one(read("scores"), "scores.rows" -> count(lit(1)),
        "scores.value_sum" -> sum("value"), "scores.height_tx_sum" -> sum("height_tx")) ++
      one(read("last_commits"), "last_commits.rows" -> count(lit(1)),
        "last_commits.height_tx_sum" -> sum("height_tx"),
        "last_commits.height_sum" -> sum("height"))
    val want = exp.checksums
    want.keys.toSeq.sorted.filter(k => got.get(k) != want.get(k)).map { k =>
      s"$k: got ${got.getOrElse(k, "-")} want ${want(k)}"
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}
