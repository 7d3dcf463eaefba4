package graftbench

/** `index_backfill`: the pump catching up, one 100-height batch at a time.
  *
  * Each set-up lands the first `Batch` seeded heights into a fresh landing
  * directory and indexes them: one `LiveIndexer.start` run that writes them
  * into empty tables in a single batch. Each round then lands the next
  * `Batch` heights (untimed) and times one `LiveIndexer.start` run that
  * resumes the last set-up's checkpoint and merges them, in one capped
  * batch, into the buckets the earlier batches wrote. Rounds repeat, closed
  * loop, at least `MinRounds` times and until the measuring time is up.
  * After the rounds, the five tables (every height the set-up and the
  * rounds indexed) are checked against the generator's model, outside the
  * timed and tagged windows; a mismatch fails every round of the phase.
  */
object IndexBackfill {
  /** Heights per batch: the set-up's one batch and each round's. */
  val Batch = 100
  val MinRounds = 1
  /** Seeded catalog reads over the tables after the traced rounds. */
  val TracedReads = 40

  def run(ctx: Ctx): Outcome = {
    val sc = ctx.spark.sparkContext
    val gen = new ChainGen(ctx.seed)
    val (setupS, pump) = Main.setups { i =>
      if (i > 0) Pump.deleteTree(ctx.work.resolve(s"setup-${i - 1}"))
      val base = ctx.work.resolve(s"setup-$i")
      val pump = new Pump(ctx, base.resolve("landing"), base.resolve("tables"), base.resolve("ckpt"))
      gen.land(pump.landing, 1, Batch)
      ctx.engine.tagged(sc, "setup")(pump.drain(Batch, Batch))
      pump
    }

    var tip = Batch.toLong
    /** One timed round's seconds. */
    def round(tag: String): Double = {
      gen.land(pump.landing, tip + 1, tip + Batch)
      tip += Batch
      val t0 = System.nanoTime()
      ctx.engine.tagged(sc, tag)(pump.drain(Batch, tip))
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"index_backfill $tag: heights ${tip - Batch + 1}-$tip in $secs%.3f s")
      secs
    }
    /** The rounds' seconds and the mismatching checks of the tables after them. */
    def phase(tag: String): (Vector[Double], Seq[String]) = {
      val deadline = ctx.deadlineNs()
      val rounds = Vector.newBuilder[Double]
      var n = 0
      while (n < MinRounds || System.nanoTime() < deadline) {
        n += 1
        rounds += round(tag)
      }
      (rounds.result(), Pump.check(ctx.spark, pump.root, gen.expect(1, tip)).map(s"$tag: " + _))
    }
    def failures(p: (Vector[Double], Seq[String])) = if (p._2.isEmpty) 0L else p._1.size.toLong

    val untraced = phase("index_backfill")
    val (rounds, errors) = untraced
    val endToEnd = Map(
      "setup_s" -> Metric(setupS, "s"),
      "p50_s" -> Metric(Stats.median(rounds), "s"))
    if (!ctx.traced)
      Outcome(errors.isEmpty, rounds.size, failures(untraced), endToEnd, report = errors)
    else {
      ctx.tracer.enabled = true
      val tracedPhase = phase("traced")
      val traced = tracedPhase._1
      val pumpLayers = Layers.pump(ctx, "traced")
      val (reads, wrongReads) = Reads.probe(ctx, pump.root, gen.expect(1, tip), TracedReads)
      ctx.tracer.enabled = false
      val layer = pumpLayers ++ reads ++ Map(
        "trace.overhead_s" -> Metric(Stats.median(traced) - Stats.median(rounds), "s"))
      val failed = failures(untraced) + failures(tracedPhase) + wrongReads
      Outcome(failed == 0, rounds.size + traced.size + TracedReads, failed, endToEnd, layer,
        Layers.report("index_backfill", layer,
          s"tracing overhead: median traced round minus median untraced round, $Batch heights " +
            "each (traced rounds merge into tables that hold the untraced rounds' heights too); " +
            "engine counters cover the traced rounds' pump runs, including the count() that " +
            "materialises each layer's output, and exclude the harness's checks; read-path " +
            s"layers come from $TracedReads catalog reads over the tables after the traced " +
            "rounds") ++ errors ++ tracedPhase._2)
    }
  }
}
