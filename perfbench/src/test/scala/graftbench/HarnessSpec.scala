package graftbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own logic: generator determinism and coverage, the
  * median and span self-time arithmetic.
  */
class HarnessSpec extends AnyFunSuite {

  private def landed(seed: Long, lo: Long, hi: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    new ChainGen(seed).land(dir, lo, hi)
    val files = dir.toFile.listFiles().toSeq
    try files.map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    finally { files.foreach(_.delete()); dir.toFile.delete() }
  }

  test("the same seed lands byte-identical files; another seed does not") {
    val a = landed(7, 1, 40)
    assert(a.keySet === (1 to 40).map(h => s"$h.json").toSet)
    assert(a === landed(7, 1, 40))
    assert(a("12.json") !== landed(8, 12, 12)("12.json"))
  }

  test("a height's bytes do not depend on which range generated it") {
    assert(landed(3, 1, 30)("25.json") === landed(3, 25, 25)("25.json"))
  }

  test("envelopes cover the whitelist, noise, malformed numerics, duplicates, base64 txs") {
    val gen = new ChainGen(11)
    val hs = (1L to 60L).map(gen.height)
    val types = hs.flatMap(_.events.map(_.tpe)).toSet
    graft.indexer.Routers.eventCategories.foreach { case (m, s, _) =>
      assert(types.exists(t => t.startsWith(m) && t.endsWith(s)), s"no $m*$s event")
    }
    assert(types.exists(t => !ChainGen.isWhitelisted(t)), "no non-whitelisted noise")
    val pairs = hs.flatMap(_.events.flatMap(_.pairs))
    assert(pairs.exists { case (_, v) => ChainGen.Malformed.contains(v) }, "no malformed numerics")
    assert(hs.exists(h => h.events.distinct.size < h.events.size), "no duplicate events")
    assert(hs.flatMap(_.txs).exists(!_.isJson), "no base64 txs")
    val commitKeys = hs.flatMap(_.events.filter(_.commit.nonEmpty)
      .map(e => (e.attr("topic_id"), e.tpe)))
    assert(commitKeys.distinct.size < commitKeys.size, "last-commit keys never repeat")
  }

  test("the table model drops malformed scores and duplicates, keeps the latest commit") {
    val gen = new ChainGen(5)
    val exp = gen.expect(1, 50)
    assert(exp.blocks === 50)
    assert(exp.scorePairsValid < exp.scorePairs)
    assert(exp.scores.size.toLong === exp.scorePairsValid - duplicatePairs(gen, 50))
    assert(exp.events.size < exp.eventsWhitelisted)
    exp.commits.foreach { case ((topic, worker), c) =>
      val newest = (1L to 50L).flatMap(h => gen.height(h).events).filter { e =>
        e.commit.nonEmpty && ChainGen.unquote(e.attr("topic_id").get).toInt == topic &&
          e.tpe.endsWith(ChainGen.WorkerCommit) == worker
      }.map(_.commit.get.heightTx).max
      assert(c.heightTx === newest)
    }
  }

  /** Valid score pairs that repeat a key already seen (verbatim duplicate events). */
  private def duplicatePairs(gen: ChainGen, n: Long): Long =
    (1L to n).map { h =>
      val evs = gen.height(h).events.filter(_.pairs.nonEmpty)
      val valid = evs.map(_.pairs.count { case (_, v) => v.matches("^-?[0-9]+(\\.[0-9]+)?([eE][-+]?[0-9]+)?$") })
      valid.sum - evs.distinct.zip(valid).map(_._2).sum
    }.sum.toLong

  test("the median of an even count averages the middle pair") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) === 2.5)
    assert(Stats.median(Seq(4.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(7.0)) === 7.0)
  }

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Span(1, "root", 0, 100, 0, "r"),
      Span(2, "a", 10, 30, 1, "r"),
      Span(3, "b", 20, 50, 1, "r"), // overlaps a: union [10, 50]
      Span(4, "c", 90, 120, 1, "r"), // clipped to [90, 100]
      Span(5, "a.inner", 12, 28, 2, "r")) // grandchild: not subtracted from root
    val self = Tracer.selfNs(spans)
    assert(self(1) === 100 - 40 - 10)
    assert(self(2) === 20 - 16)
    assert(self(5) === 16)
    assert(Tracer.selfSeconds(spans)("a") === 4e-9)
    assert(Tracer.coveredNs(Seq((0L, 5L), (5L, 9L)), 0, 100) === 9)
  }

  test("the tracer records parents and records nothing while disabled") {
    val tr = new Tracer("t")
    tr.span("off")(())
    assert(tr.recorded.isEmpty)
    tr.enabled = true
    tr.span("outer")(tr.span("inner")(()))
    val byName = tr.recorded.map(s => s.name -> s).toMap
    assert(byName("inner").parent === byName("outer").id)
    assert(byName("outer").parent === 0)
  }

}
