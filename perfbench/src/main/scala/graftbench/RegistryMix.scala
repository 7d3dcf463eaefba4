package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}

import graft.{SparkEntry, StrategyLog, Tables}

/** `registry_mix`: a focused mix of `SparkEntry.queries` over the
  * benchmark's copy of the sf0.01 tables, one oracle-backed query per
  * family. Each set-up serves the whole mix once from an empty index
  * directory, so it pays code generation and every staged-layout build;
  * each timed pass then runs every query once, in an order drawn from the
  * seed, and checks each result's hash against the recorded one.
  */
object RegistryMix {
  val Mix: Seq[String] = Seq("stream_daily_stats", "dd_dup_spans", "chain_actor_rewards",
    "ev_json_extract", "doc_stats")

  /** Query families of the per-layer report; `overhead` is the driver-side
    * planning time (analysis, optimisation, physical planning) of the mix.
    */
  val Families: Seq[String] = Seq("stream", "dd", "chain", "other", "overhead")

  def family(q: String): String =
    Seq("stream", "dd", "chain").find(f => q.startsWith(f + "_")).getOrElse("other")

  /** StrategyLog operations that record a LayoutCache build or serve. */
  val CacheOps: Seq[String] = Seq("chain_fixture")

  /** Order-insensitive result digest: columns sorted by name, cells
    * rendered (doubles to 9 significant digits), rows sorted, SHA-256.
    */
  def digest(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else new java.math.BigDecimal(d)
        .round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
      case f: Float => cell(f.toDouble)
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }
        .sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString(",").getBytes(UTF_8))
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def loadHashes(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect { case Array(n, h) => n -> h }.toMap

  final case class Timed(query: String, seconds: Double, hash: String, planMs: Double)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.data.resolve("sf0.01").toString
    val hashFile = ctx.data.resolve("registry_hashes.txt")
    val expected = loadHashes(hashFile)
    val queries = SparkEntry.queries

    def once(q: String): Timed = {
      val t0 = System.nanoTime()
      val df: DataFrame = queries(q)(spark, dir)
      val rows = df.collect().toSeq
      val secs = (System.nanoTime() - t0) / 1e9
      val planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      Tables.releaseIntermediates(spark)
      System.err.println(f"registry_mix $q%-24s $secs%8.3f s")
      Timed(q, secs, digest(df.columns.toSeq, rows), planMs)
    }
    val (setupS, _) = Main.setups { i =>
      spark.conf.set("spark.graft.index.dir", ctx.work.resolve(s"index-$i").toString)
      Mix.foreach(once)
    }

    val rnd = new scala.util.Random(ctx.seed)
    def phase(tag: String): (Vector[Vector[Timed]], Int) = ctx.engine.tagged(spark.sparkContext, tag) {
      val deadline = ctx.deadlineNs()
      val passes = Vector.newBuilder[Vector[Timed]]
      var n = 0
      var builds = 0
      while (n < MinPasses || System.nanoTime() < deadline) {
        passes += rnd.shuffle(Mix).toVector.map { q =>
          val before = CacheOps.map(StrategyLog.lastChoice)
          val t = ctx.tracer.span(s"registry.${family(q)}")(once(q))
          builds += CacheOps.zip(before).count { case (op, b) =>
            StrategyLog.lastChoice(op).exists(a => a.startsWith("build") && !b.exists(_ eq a))
          }
          t
        }
        n += 1
      }
      (passes.result(), builds)
    }
    def wrong(passes: Seq[Seq[Timed]]) = passes.flatten.count(t => !expected.get(t.query).contains(t.hash))
    val (passes, _) = phase("registry_mix")
    val total = Stats.median(passes.map(_.map(_.seconds).sum))
    val endToEnd = Map(
      "setup_s" -> Metric(setupS, "s"),
      "p50_s" -> Metric(total, "s"))
    val failed = wrong(passes)
    val mismatched = passes.flatten.filter(t => !expected.get(t.query).contains(t.hash))
      .map(t => s"registry_mix: ${t.query} result hash ${t.hash} does not match ${hashFile.getFileName}")
      .distinct
    if (!ctx.traced) Outcome(failed == 0, passes.map(_.size).sum, failed, endToEnd, report = mismatched)
    else {
      ctx.streams.clear()
      ctx.tracer.enabled = true
      val (traced, builds) = phase("traced")
      ctx.tracer.enabled = false
      val n = traced.size.toDouble
      val self = ctx.tracer.selfSeconds
      val batches = ctx.streams.all
      val layer = Families.filter(_ != "overhead").map(f =>
        s"registry.family_s.$f" -> Metric(self.getOrElse(s"registry.$f", 0.0) / n, "s")).toMap ++ Map(
        "registry.family_s.overhead" -> Metric(traced.flatten.map(_.planMs).sum / 1e3 / n, "s"),
        "streaming.batches" -> Metric(batches.size / n, "count"),
        "streaming.state_rows" -> Metric(batches.map(_.stateRowsUpdated).sum / n, "rows"),
        "streaming.state_commit_ms" -> Metric(batches.map(_.stateCommitMs).sum / n, "ms"),
        "functions.layoutcache_builds" -> Metric(builds.toDouble, "count"),
        "trace.overhead_s" -> Metric(Stats.median(traced.map(_.map(_.seconds).sum)) - total, "s")) ++
        Layers.engine(ctx, "traced")
      val failedAll = failed + wrong(traced)
      Outcome(failedAll == 0, passes.map(_.size).sum + traced.map(_.size).sum, failedAll,
        endToEnd, layer,
        Layers.report("registry_mix", layer,
          "tracing overhead: traced minus untraced median pass total; family times, " +
            "streaming counts and commit time are per pass") ++ mismatched)
    }
  }

  val MinPasses = 2
}
