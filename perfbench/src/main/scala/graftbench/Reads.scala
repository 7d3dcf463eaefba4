package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.GraftCatalog

/** Per-topic and per-actor SQL through `GraftCatalog` (`graft.<table>`)
  * over the pump's tables: score totals over a height window, one actor's
  * score history, latest commits per topic, top-k addresses in a topic and
  * event categories over a window. Every answer is checked against the
  * generator's model.
  */
object Reads {
  val Window = 60

  /** A query and its expected rows, each rendered as one string. */
  final case class Read(kind: String, sql: String, expected: Seq[String], ordered: Boolean)

  private def dec(b: BigDecimal): String = b.bigDecimal.stripTrailingZeros.toPlainString

  /** The next query of the seeded stream. */
  def read(rnd: scala.util.Random, exp: ChainGen.Expected): Read = {
    val topic = 1 + rnd.nextInt(ChainGen.Topics)
    val lo = 1 + rnd.nextInt(math.max(1, exp.blocks.toInt - Window))
    val hi = lo + Window
    val scores = exp.scores.toSeq
    rnd.nextInt(5) match {
      case 0 =>
        Read("window_totals",
          s"SELECT type, count(*) AS n, sum(value) AS total FROM graft.scores " +
            s"WHERE topic_id = $topic AND height_tx BETWEEN $lo AND $hi GROUP BY type",
          scores.filter { case (k, _) => k.topic == topic && k.heightTx >= lo && k.heightTx <= hi }
            .groupBy(_._1.tpe).map { case (t, xs) => s"$t|${xs.size}|${dec(xs.map(_._2).sum)}" }.toSeq,
          ordered = false)
      case 1 =>
        val addr = ChainGen.Addresses(rnd.nextInt(ChainGen.Addresses.size))
        Read("actor_history",
          s"SELECT height_tx, topic_id, type, value FROM graft.scores " +
            s"WHERE address = '$addr' AND height_tx BETWEEN $lo AND $hi " +
            "ORDER BY height_tx, topic_id, type",
          scores.filter { case (k, _) => k.address == addr && k.heightTx >= lo && k.heightTx <= hi }
            .sortBy { case (k, _) => (k.heightTx, k.topic, k.tpe) }
            .map { case (k, v) => s"${k.heightTx}|${k.topic}|${k.tpe}|${dec(v)}" },
          ordered = true)
      case 2 =>
        Read("latest_commits",
          s"SELECT is_worker, height_tx, height FROM graft.last_commits WHERE topic_id = $topic",
          exp.commits.toSeq.collect { case ((t, w), c) if t == topic => s"$w|${c.heightTx}|${c.height}" },
          ordered = false)
      case 3 =>
        Read("topk_addresses",
          s"SELECT address, sum(value) AS total FROM graft.scores WHERE topic_id = $topic " +
            "GROUP BY address ORDER BY total DESC, address LIMIT 5",
          scores.filter(_._1.topic == topic).groupBy(_._1.address)
            .map { case (a, xs) => (a, xs.map(_._2).sum) }.toSeq
            .sortBy { case (a, v) => (-v, a) }.take(5).map { case (a, v) => s"$a|${dec(v)}" },
          ordered = true)
      case _ =>
        Read("window_categories",
          s"SELECT category, count(*) AS n FROM graft.events " +
            s"WHERE height BETWEEN $lo AND $hi GROUP BY category",
          exp.events.toSeq.filter { case (h, _, _) => h >= lo && h <= hi }
            .groupBy { case (_, t, _) => ChainGen.category(t) }
            .map { case (c, xs) => s"$c|${xs.size}" }.toSeq,
          ordered = false)
    }
  }

  def render(r: Row): String = r.toSeq.map {
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case null => "null"
    case v => v.toString
  }.mkString("|")

  def matches(r: Read, rows: Seq[Row]): Boolean = {
    val got = rows.map(render)
    if (r.ordered) got == r.expected else got.sorted == r.expected.sorted
  }

  /** Leaf (scan) nodes of an executed plan, through adaptive wrappers
    * and query stages.
    */
  def scans(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case p if p.children.isEmpty => p +: p.subqueries.flatMap(scans)
    case p => p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }

  /** (files, bytes, rows) one scan node read. */
  def scanned(s: SparkPlan): (Long, Long, Long) = {
    val rows = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    s match {
      case b: BatchScanExec =>
        val files = b.inputPartitions.collect { case fp: FilePartition => fp.files.toSeq }.flatten
        (files.size.toLong, files.map(_.length).sum, rows)
      case _ => (0L, 0L, rows)
    }
  }

  /** Run `n` seeded reads through `GraftCatalog` over the tables under
    * `root`: the read-path layer metrics, and how many answers were wrong.
    */
  def probe(ctx: Ctx, root: java.nio.file.Path, exp: ChainGen.Expected, n: Int)
      : (Map[String, Metric], Int) = {
    val spark = ctx.spark
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root.toString)
    // warm-up: the catalog's first table loads and code generation
    val warm = new scala.util.Random(ctx.seed + 1)
    (0 until 5).foreach(_ => spark.sql(read(warm, exp).sql).collect())
    val rnd = new scala.util.Random(ctx.seed)
    var wrong = 0
    var planMs, files, bytes, scanRows, resultRows = 0.0
    (0 until n).foreach { _ =>
      val r = read(rnd, exp)
      val df = spark.sql(r.sql)
      val rows = ctx.tracer.span(s"catalog.read.${r.kind}")(df.collect().toSeq)
      if (!matches(r, rows)) wrong += 1
      planMs += df.queryExecution.tracker.phases.values.map(_.durationMs).sum
      scans(df.queryExecution.executedPlan).map(scanned).foreach { case (f, b, r) =>
        files += f
        bytes += b
        scanRows += r
      }
      resultRows += rows.size
    }
    (Map(
      "catalog.plan_ms" -> Metric(planMs / n, "ms"),
      "scan.files_read" -> Metric(files / n, "files"),
      "scan.bytes_read" -> Metric(bytes / n, "bytes"),
      "scan.rows_per_result_row" -> Metric(Layers.ratio(scanRows, resultRows), "ratio"),
      "sinks.live_files" -> Metric(Pump.stored(spark, root)._2.toDouble, "files")), wrong)
  }
}
