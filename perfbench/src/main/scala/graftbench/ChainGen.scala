package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Seeded landing generator for Allora-shaped `<height>.json` envelopes
  * (`{"block":{…},"block_results":{…}}`, the document the live pump's
  * DirHeightClient serves), plus the plain-Scala model of what the five
  * indexer tables must hold after those heights are indexed.
  *
  * Every height draws from its own generator seeded by (seed, height), so a
  * height's bytes do not depend on which other heights were generated or in
  * what order: the same seed always lands byte-identical files.
  *
  * Each envelope covers:
  *  - all 11 whitelisted event types of `Routers.eventCategories`, spread
  *    over block-level and tx-level events, plus non-whitelisted noise;
  *  - `EventScoresSet` parallel address/score arrays with a fixed share of
  *    malformed numerics (`MalformedShare`);
  *  - verbatim duplicate events inside one block;
  *  - worker/reputer last-commit events whose `(topic_id, is_worker)` keys
  *    repeat across heights;
  *  - base64 (non-JSON) txs next to pre-decoded JSON txs.
  */
final class ChainGen(seed: Long) {
  import ChainGen._

  def height(h: Long): HeightData = {
    val rnd = new scala.util.Random(mix(seed, h))
    def hex(n: Int) = Seq.fill(n)(HexDigits(rnd.nextInt(16))).mkString
    def pick[T](xs: IndexedSeq[T]) = xs(rnd.nextInt(xs.size))
    def quoted(s: String) = "\"" + s + "\""
    def topic() = 1 + rnd.nextInt(Topics)
    def amount() = (1000000L + rnd.nextInt(9000000)).toString
    // a decimal with six fractional digits, sometimes negative
    def score(): String = {
      val v = rnd.nextInt(2000000) - 400000
      val sign = if (v < 0) "-" else ""
      val a = math.abs(v)
      f"$sign${a / 1000000}.${a % 1000000}%06d"
    }
    def addresses(n: Int): IndexedSeq[String] =
      rnd.shuffle(Addresses).take(n).toIndexedSeq

    val events = Vector.newBuilder[Ev]
    // scores: 2-3 events on distinct topics (so no two events of a block
    // share a score key), each a zip of 3-6 address/score pairs
    val scoreTopics = rnd.shuffle((1 to Topics).toVector).take(2 + rnd.nextInt(2))
    for (t <- scoreTopics) {
      val as = addresses(3 + rnd.nextInt(4))
      val ss = as.map(_ => if (rnd.nextDouble() < MalformedShare) pick(Malformed) else score())
      events += Ev(s"emissions.v$EmissionsVersion.EventScoresSet", Seq(
        "topic_id" -> quoted(t.toString),
        "actor_type" -> quoted(pick(ActorTypes)),
        "block_height" -> quoted((h - 1).toString),
        "addresses" -> jsonArray(as),
        "scores" -> jsonArray(ss)), inTx = rnd.nextBoolean(), pairs = as.zip(ss))
    }
    val ras = addresses(3)
    events += Ev(s"emissions.v$EmissionsVersion.EventRewardsSettled", Seq(
      "topic_id" -> quoted(topic().toString),
      "actor_type" -> quoted(pick(ActorTypes)),
      "block_height" -> quoted(h.toString),
      "addresses" -> jsonArray(ras),
      "rewards" -> jsonArray(ras.map(_ => score()))), inTx = false)
    events += Ev(s"emissions.v$EmissionsVersion.EventNetworkLossSet", Seq(
      "topic_id" -> quoted(topic().toString),
      "block_height" -> quoted(h.toString),
      "value_bundle" -> ("{\"combined_value\":\"" + score() + "\"}")), inTx = true)
    events += Ev(s"emissions.v$EmissionsVersion.EventForecastTaskScoreSet", Seq(
      "topic_id" -> quoted(topic().toString),
      "score" -> quoted(score())), inTx = true)
    // last commits: one worker and one reputer per block, few topics, so
    // (topic_id, is_worker) keys repeat across heights
    for (suffix <- Seq(WorkerCommit, ReputerCommit)) {
      val nonce = h - 1 - rnd.nextInt(3)
      events += Ev(s"emissions.v$EmissionsVersion.$suffix", Seq(
        "topic_id" -> quoted(topic().toString),
        "block_height" -> quoted(h.toString),
        "nonce" -> ("{\"block_height\":\"" + nonce + "\"}")),
        inTx = rnd.nextBoolean(), commit = Some(Commit(h, nonce)))
    }
    events += Ev(s"emissions.v$EmissionsVersion.EventTopicRewardsSet", Seq(
      "topic_ids" -> jsonArray(Seq(topic(), topic()).map(_.toString)),
      "rewards" -> jsonArray(Seq(score(), score()))), inTx = false)
    val ema = addresses(2)
    events += Ev(s"emissions.v$EmissionsVersion.EventEMAScoresSet", Seq(
      "topic_id" -> quoted(topic().toString),
      "actor_type" -> quoted(pick(ActorTypes)),
      "nonce" -> quoted((h - 1).toString),
      "addresses" -> jsonArray(ema),
      "scores" -> jsonArray(ema.map(_ => score())),
      "is_active" -> "[true,false]"), inTx = false)
    events += Ev(s"mint.v$MintVersion.EventTokenomicsSet", Seq(
      "staked_token_amount" -> quoted(amount()),
      "circulating_supply" -> quoted(amount()),
      "emissions_amount" -> quoted(amount())), inTx = false)
    events += Ev(s"mint.v$MintVersion.EventEcosystemTokenMintSet", Seq(
      "block_height" -> quoted(h.toString),
      "amount" -> quoted(amount())), inTx = false)
    events += Ev(s"mint.v$MintVersion.EventRewardCurrentBlockEmission", Seq(
      "block_height" -> quoted(h.toString),
      "amount" -> quoted(amount())), inTx = false)
    // non-whitelisted noise, including near misses of the whitelist
    for (_ <- 0 until 2 + rnd.nextInt(3))
      events += Ev(pick(NoiseTypes), Seq(
        "sender" -> pick(Addresses),
        "amount" -> (rnd.nextInt(100000).toString + "uallo")), inTx = rnd.nextBoolean())
    val distinct = events.result()
    // verbatim duplicates within the block
    val dups = distinct.filter(_ => rnd.nextDouble() < DuplicateShare)

    val txs = Vector.tabulate(1 + rnd.nextInt(3)) { i =>
      val msgType = pick(MessageTypes)
      val senderKey = pick(SenderKeys)
      Tx(s"""{"body":{"messages":[{"@type":"$msgType","$senderKey":"${pick(Addresses)}","topic_id":"${topic()}","nonce":"$h-$i"}]},"auth_info":{"fee":{"amount":[{"denom":"uallo","amount":"${rnd.nextInt(5000)}"}]}}}""")
    } ++ Vector.fill(rnd.nextInt(2) + 1)(
      Tx(java.util.Base64.getEncoder.encodeToString(
        Array.fill(60 + rnd.nextInt(60))(rnd.nextInt(256).toByte))))

    val header = Seq(
      s""""version":{"block":"11"}""",
      s""""chain_id":"$ChainId"""",
      s""""height":"$h"""",
      s""""time":"${java.time.Instant.ofEpochSecond(GenesisEpoch + h * BlockSeconds)}"""",
      s""""last_block_id":{"hash":"${hex(64)}","part_set_header":{"total":1,"hash":"${hex(64)}"}}""",
      s""""last_commit_hash":"${hex(64)}"""",
      s""""data_hash":"${hex(64)}"""",
      s""""validators_hash":"${hex(64)}"""",
      s""""next_validators_hash":"${hex(64)}"""",
      s""""consensus_hash":"${hex(64)}"""",
      s""""app_hash":"${hex(64)}"""",
      s""""last_results_hash":"${hex(64)}"""",
      s""""evidence_hash":"${hex(64)}"""",
      s""""proposer_address":"${pick(Proposers)}"""").mkString(",")
    HeightData(h, header, txs, distinct ++ dups)
  }

  /** Write heights `[lo, hi]` into `dir`; each file appears atomically
    * (written aside, then renamed), so a poller never reads a partial
    * envelope. Returns the bytes landed.
    */
  def land(dir: Path, lo: Long, hi: Long): Long = {
    Files.createDirectories(dir)
    var bytes = 0L
    var h = lo
    while (h <= hi) {
      val b = height(h).envelope.getBytes(UTF_8)
      val tmp = dir.resolve(s"$h.json.tmp")
      Files.write(tmp, b)
      Files.move(tmp, dir.resolve(s"$h.json"), StandardCopyOption.ATOMIC_MOVE)
      bytes += b.length
      h += 1
    }
    bytes
  }

  /** The tables' expected content after heights `[lo, hi]` are indexed. */
  def expect(lo: Long, hi: Long): Expected = {
    val e = new Expected
    var h = lo
    while (h <= hi) { e.add(height(h)); h += 1 }
    e
  }
}

object ChainGen {
  val ChainId = "allora-bench-1"
  val EmissionsVersion = 7
  val MintVersion = 5
  val Topics = 12
  val GenesisEpoch = 1714557600L // 2024-05-01T10:00:00Z
  val BlockSeconds = 5L
  val MalformedShare = 0.08
  val DuplicateShare = 0.05
  val Addresses: IndexedSeq[String] =
    (0 until 48).map(i => f"allo1${(i * 2654435761L) & 0xffffffL}%06x${i}%02d")
  val Proposers: IndexedSeq[String] =
    (0 until 8).map(i => f"PROP$i%02d${"A" * 30}")
  val ActorTypes: IndexedSeq[String] = Vector("inferer", "forecaster", "reputer")
  val Malformed: IndexedSeq[String] =
    Vector("NaN", "1.2.3", "", "abc", "-", "1e", "0x1F", "12,5", " 1.0")
  val NoiseTypes: IndexedSeq[String] = Vector("coin_spent", "coin_received",
    "transfer", "message", s"emissions.v$EmissionsVersion.EventScoresSetPending",
    s"mint.v$MintVersion.MintParamsUpdated")
  val MessageTypes: IndexedSeq[String] = Vector(
    s"/emissions.v$EmissionsVersion.MsgInsertWorkerPayload",
    s"/emissions.v$EmissionsVersion.MsgInsertReputerPayload",
    "/cosmos.bank.v1beta1.MsgSend")
  val SenderKeys: IndexedSeq[String] = Vector("sender", "creator", "from_address")
  private val HexDigits = "0123456789ABCDEF"

  val WorkerCommit = "EventWorkerLastCommitSet"
  val ReputerCommit = "EventReputerLastCommitSet"

  private[graftbench] def mix(seed: Long, h: Long): Long = {
    // splitmix64 finalizer over (seed, height)
    var z = seed * 0x9E3779B97F4A7C15L + h * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** JSON string-array literal, as the chain encodes attribute lists. */
  def jsonArray(xs: Seq[String]): String =
    xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One chain event. `pairs` are a scores event's (address, score) zip
    * and `commit` a last-commit event's (height_tx, height), kept
    * structured so the model never re-parses the JSON it wrote.
    */
  final case class Ev(tpe: String, attrs: Seq[(String, String)], inTx: Boolean,
      pairs: Seq[(String, String)] = Nil, commit: Option[Commit] = None) {
    def json: String = attrs.map { case (k, v) =>
      s"""{"key":${jsonString(k)},"value":${jsonString(v)}}"""
    }.mkString(s"""{"type":"$tpe","attributes":[""", ",", "]}")
    def attr(k: String): Option[String] = attrs.collectFirst { case (`k`, v) => v }
    def suffixIs(s: String): Boolean = tpe.endsWith(s)
  }

  final case class Tx(raw: String) {
    def isJson: Boolean = raw.startsWith("{")
  }

  final case class HeightData(h: Long, header: String, txs: Vector[Tx],
      events: Vector[Ev]) {
    def envelope: String = {
      val txArr = txs.map(t => jsonString(t.raw)).mkString("[", ",", "]")
      val block = s"""{"header":{$header},"data":{"txs":$txArr}}"""
      val blockEvents = events.filterNot(_.inTx).map(_.json).mkString(",")
      val txEvents = events.filter(_.inTx).map(_.json).mkString(",")
      val results = s"""{"height":"$h","finalize_block_events":[$blockEvents],""" +
        s""""txs_results":[{"code":0,"events":[$txEvents]}]}"""
      s"""{"block":$block,"block_results":$results}"""
    }
  }

  def unquote(s: String): String = s.stripPrefix("\"").stripSuffix("\"")

  private val NumericRe = "^-?[0-9]+(\\.[0-9]+)?([eE][-+]?[0-9]+)?$".r

  def isWhitelisted(tpe: String): Boolean =
    graftCategories.exists { case (m, s) => tpe.startsWith(m) && tpe.endsWith(s) }

  /** The category `Routers.routeEvents` assigns (its last matching
    * whitelist entry wins), or "none".
    */
  def category(tpe: String): String =
    graft.indexer.Routers.eventCategories.reverse.collectFirst {
      case (m, s, c) if tpe.startsWith(m) && tpe.endsWith(s) => c
    }.getOrElse("none")

  /** (module prefix, suffix) pairs of the indexer's event whitelist. */
  val graftCategories: Seq[(String, String)] =
    graft.indexer.Routers.eventCategories.map { case (m, s, _) => (m, s) }

  final case class ScoreKey(heightTx: Long, topic: Int, tpe: String, address: String)
  final case class Commit(heightTx: Long, height: Long)

  /** Plain-Scala model of the five tables over a range of heights. */
  final class Expected {
    var blocks = 0L
    var blockHeightSum = 0L
    val messages = scala.collection.mutable.HashSet.empty[(Long, String)]
    var messageHeightSum = 0L
    var eventsWhitelisted = 0L
    val events = scala.collection.mutable.HashSet.empty[(Long, String, String)]
    var scorePairs = 0L
    var scorePairsValid = 0L
    val scores = scala.collection.mutable.HashMap.empty[ScoreKey, BigDecimal]
    val commits = scala.collection.mutable.HashMap.empty[(Int, Boolean), Commit]

    def add(d: HeightData): Unit = {
      blocks += 1
      blockHeightSum += d.h
      d.txs.filter(_.isJson).foreach { t =>
        // one message per generated tx; the nonce keeps them distinct
        if (messages.add((d.h, t.raw))) messageHeightSum += d.h
      }
      d.events.foreach { e =>
        if (isWhitelisted(e.tpe)) {
          eventsWhitelisted += 1
          events.add((d.h, e.tpe, e.json))
        }
        if (e.pairs.nonEmpty) {
          val topic = unquote(e.attr("topic_id").get).toInt
          val tpe = unquote(e.attr("actor_type").get)
          e.pairs.foreach { case (a, v) =>
            scorePairs += 1
            if (NumericRe.matches(v)) {
              scorePairsValid += 1
              scores(ScoreKey(d.h, topic, tpe, a)) = BigDecimal(v)
            }
          }
        }
        e.commit.foreach { c =>
          val key = (unquote(e.attr("topic_id").get).toInt, e.suffixIs(WorkerCommit))
          if (commits.get(key).forall(_.heightTx <= c.heightTx)) commits(key) = c
        }
      }
    }

    /** Row counts and checksums of the five tables. */
    def checksums: Map[String, String] = Map(
      "block_info.rows" -> blocks.toString,
      "block_info.height_sum" -> blockHeightSum.toString,
      "messages.rows" -> messages.size.toString,
      "messages.height_sum" -> messageHeightSum.toString,
      "events.rows" -> events.size.toString,
      "events.height_sum" -> events.iterator.map(_._1).sum.toString,
      "scores.rows" -> scores.size.toString,
      "scores.value_sum" -> scores.values.sum.bigDecimal.stripTrailingZeros.toPlainString,
      "scores.height_tx_sum" -> scores.keysIterator.map(_.heightTx).sum.toString,
      "last_commits.rows" -> commits.size.toString,
      "last_commits.height_tx_sum" -> commits.values.map(_.heightTx).sum.toString,
      "last_commits.height_sum" -> commits.values.map(_.height).sum.toString)
  }
}
