package servebench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.schema.Model._

/** One request of the mix with the check against the generator's truth.
  * `check(status, body)` is Right(answer digest) when the answer is
  * correct — the digest feeds the traced-vs-untraced parity check — and
  * Left(reason) otherwise. `cls` is the latency class: point, range,
  * topk, graphql or nojob (runs no Spark job). */
final case class Req(cls: String, shape: String, path: String, gqlBody: String,
    check: (Int, String) => Either[String, String])

object Requests {
  private val mapper = new ObjectMapper()

  // ---- truth over the generator's current chain ---------------------------

  private def blocks(m: ChainModel, lo: Long, hi: Long): Seq[PackedBlock] =
    (lo to hi).map(m.current)
  private def txs(m: ChainModel, lo: Long, hi: Long): Seq[Transaction] =
    blocks(m, lo, hi).flatMap(_.transactions.map(_.tx))
  private def events(m: ChainModel, lo: Long, hi: Long): Seq[(Long, Event)] =
    blocks(m, lo, hi).flatMap(p => p.transactions.flatMap(_.events).map(p.block.number -> _))

  private def evId(e: Event) = s"${e.blockhash}#${e.index}"

  // ---- answer checks -------------------------------------------------------

  private def parse(body: String): Either[String, JsonNode] =
    try Right(mapper.readTree(body)) catch { case _: Exception => Left("unparseable body") }

  private def digest(parts: Seq[String]): String =
    Integer.toHexString(parts.sorted.mkString("|").hashCode)

  private def status(want: Int)(code: Int): Either[String, Unit] =
    if (code == want) Right(()) else Left(s"status $code, want $want")

  private def fieldsEqual(node: JsonNode, want: Seq[(String, String)]): Either[String, String] =
    want.collectFirst {
      case (k, v) if node.path(k).asText() != v => Left(s"$k=${node.path(k).asText()}, want $v")
    }.getOrElse(Right(digest(want.map { case (k, v) => s"$k=$v" })))

  private def idsOf(arr: JsonNode, id: JsonNode => String): Seq[String] =
    arr.elements().asScala.map(id).toSeq

  private def sameIds(got: Seq[String], want: Seq[String]): Either[String, String] =
    if (got.length != want.length) Left(s"length ${got.length}, want ${want.length}")
    else if (got.toSet != want.toSet) Left("identifying fields differ")
    else Right(digest(got))

  private val txId: JsonNode => String = _.path("hash").asText()
  private val blockId: JsonNode => String = _.path("hash").asText()
  private val evJsonId: JsonNode => String =
    n => s"${n.path("blockHash").asText()}#${n.path("index").asText()}"

  private def single(want: Seq[(String, String)]) = (code: Int, body: String) =>
    for { _ <- status(200)(code); j <- parse(body); d <- fieldsEqual(j, want) } yield d

  private def coll(wrapper: String, id: JsonNode => String, want: Seq[String]) =
    (code: Int, body: String) =>
      for {
        _ <- status(200)(code); j <- parse(body)
        arr <- Option(j.get(wrapper)).filter(_.isArray).toRight(s"no $wrapper array")
        d <- sameIds(idsOf(arr, id), want)
      } yield d

  private def gql(field: String)(ok: JsonNode => Either[String, String]) =
    (code: Int, body: String) =>
      for {
        _ <- status(200)(code); j <- parse(body)
        v <- Option(j.path("data").get(field)).filter(!_.isNull)
          .toRight(s"graphql error: ${j.path("errors").path(0).path("message").asText()}")
        d <- ok(v)
      } yield d

  private def badRequest = (code: Int, _: String) => status(400)(code).map(_ => "400")

  // ---- the mix -------------------------------------------------------------

  /** The shapes of the mix, sent in this order, one each in turn: the 25
    * REST arms of `/v1/block`, `/v1/transaction` and `/v1/event`, six
    * GraphQL resolvers, and four routes that run no Spark job (4 of 35,
    * about 11% of the mix). Nothing says how a real client weights them,
    * so every shape has the same weight. Seeds change only the keys. */
  val shapes: IndexedSeq[String] = IndexedSeq(
    "block_number", "block_hash", "block_txs_hash", "block_txs_number", "blocks_range", "blocks_time",
    "tx_hash", "tx_nonce", "deployer_range", "deployer_time", "between_range", "between_time",
    "from_range", "from_time", "to_range", "to_time",
    "event_hash_index", "event_number_index", "events_block", "events_tx", "last_events",
    "events_topics_range", "events_topics_time", "events_contract_range", "events_contract_time",
    "gql_block", "gql_tx_count", "gql_from_count", "gql_events_tx", "gql_block_txs", "gql_last_events",
    "synced", "bad_range", "bad_count", "no_params")

  /** Request i of a seeded stream: shape i of [[shapes]] in turn, its keys
    * from the seed. Heights come from [0, hi] skewed toward `hi`
    * (exponential offset, mean 40 blocks); accounts and contracts follow
    * the chain's Zipf pools. `exactHead` says the store holds exactly
    * [0, hi], so head-relative answers (top-K) can be checked by identity;
    * otherwise only their length and origin are checked. */
  def nth(seed: Long, i: Int, m: ChainModel, hi: Long, exactHead: Boolean): Req =
    make(shapes(i % shapes.length), new SplittableRandom(Hashing.mix(seed, i.toLong, 7)),
      m, hi, exactHead)

  /** One request of every shape over a store holding exactly [0, hi],
    * keyed by shape. */
  def each(seed: Long, m: ChainModel, hi: Long): Seq[(String, Req)] =
    shapes.zipWithIndex.map { case (shape, i) =>
      shape -> make(shape, new SplittableRandom(Hashing.mix(seed, i.toLong, 11)), m, hi, exactHead = true)
    }

  def make(shape: String, r: SplittableRandom, m: ChainModel, hi: Long, exactHead: Boolean): Req = {
    val zAcct = new Zipf(m.accounts.length, m.shape.zipfS)
    val zCon = new Zipf(m.contracts.length, m.shape.zipfS)
    def height(): Long = math.max(0L, hi - (-math.log(1.0 - r.nextDouble()) * 40).toLong)
    def range(): (Long, Long) = { val h = height(); (math.max(0L, h - r.nextInt(16)), h) }
    def time(n: Long) = m.baseTime + n * m.secondsPerBlock
    def acct() = m.accounts(zAcct.sample(r))
    def contract() = m.contracts(zCon.sample(r))
    def someTx(lo: Long, h: Long): Transaction = {
      val p = m.current(lo + r.nextInt((h - lo + 1).toInt))
      p.transactions(r.nextInt(p.transactions.length)).tx
    }
    def someEvent(n: Long): Option[Event] = {
      val evs = m.current(n).transactions.flatMap(_.events)
      if (evs.isEmpty) None else Some(evs(r.nextInt(evs.length)))
    }
    def rest(cls: String, path: String, check: (Int, String) => Either[String, String]) =
      Req(cls, shape, path, null, check)
    def graph(query: String, check: (Int, String) => Either[String, String]) =
      Req("graphql", shape, "/v1/graphql",
        mapper.writeValueAsString(java.util.Map.of("query", query)), check)
    def txRange(byTime: Boolean)(keep: Transaction => Boolean, q: String) = {
      val (lo, h) = range()
      val span = if (byTime) s"fromTime=${time(lo)}&toTime=${time(h)}" else s"fromBlock=$lo&toBlock=$h"
      rest("range", s"/v1/transaction?$q&$span",
        coll("transactions", txId, txs(m, lo, h).filter(keep).map(_.hash)))
    }
    def evRange(byTime: Boolean, withTopic: Boolean) = {
      val (lo, h) = range()
      val c = contract()
      val sig = m.sigs(r.nextInt(m.sigs.length))
      val span = if (byTime) s"fromTime=${time(lo)}&toTime=${time(h)}" else s"fromBlock=$lo&toBlock=$h"
      val topic = if (withTopic) s"&topic0=$sig" else ""
      val want = events(m, lo, h).map(_._2)
        .filter(e => e.origin == c && (!withTopic || e.topics.headOption.contains(sig)))
      rest("range", s"/v1/event?contract=$c$topic&$span", coll("events", evJsonId, want.map(evId)))
    }

    shape match {
      case "block_number" =>
        val n = height(); val b = m.current(n).block
        rest("point", s"/v1/block?number=$n", single(Seq("hash" -> b.hash, "number" -> n.toString)))
      case "block_hash" =>
        val n = height(); val b = m.current(n).block
        rest("point", s"/v1/block?hash=${b.hash}", single(Seq("hash" -> b.hash, "number" -> n.toString)))
      case "block_txs_hash" =>
        val p = m.current(height())
        rest("point", s"/v1/block?hash=${p.block.hash}&tx=yes",
          coll("transactions", txId, p.transactions.map(_.tx.hash)))
      case "block_txs_number" =>
        val p = m.current(height())
        rest("point", s"/v1/block?number=${p.block.number}&tx=yes",
          coll("transactions", txId, p.transactions.map(_.tx.hash)))
      case "blocks_range" =>
        val (lo, h) = range()
        rest("range", s"/v1/block?fromBlock=$lo&toBlock=$h",
          coll("blocks", blockId, blocks(m, lo, h).map(_.block.hash)))
      case "blocks_time" =>
        val (lo, h) = range()
        rest("range", s"/v1/block?fromTime=${time(lo)}&toTime=${time(h)}",
          coll("blocks", blockId, blocks(m, lo, h).map(_.block.hash)))
      case "tx_hash" =>
        val n = height(); val t = someTx(n, n)
        rest("point", s"/v1/transaction?hash=${t.hash}",
          single(Seq("hash" -> t.hash, "blockHash" -> t.blockhash)))
      case "tx_nonce" =>
        val n = height(); val t = someTx(n, n)
        rest("point", s"/v1/transaction?fromAccount=${t.from}&nonce=${t.nonce}",
          single(Seq("hash" -> t.hash, "from" -> t.from)))
      case "deployer_range" => val a = acct(); txRange(false)(t => t.from == a && t.contract.nonEmpty, s"deployer=$a")
      case "deployer_time" => val a = acct(); txRange(true)(t => t.from == a && t.contract.nonEmpty, s"deployer=$a")
      case "between_range" | "between_time" =>
        val (lo, h) = range(); val t = someTx(lo, h)
        val to = if (t.to.nonEmpty) t.to else acct()
        val span = if (shape == "between_time") s"fromTime=${time(lo)}&toTime=${time(h)}"
          else s"fromBlock=$lo&toBlock=$h"
        rest("range", s"/v1/transaction?fromAccount=${t.from}&toAccount=$to&$span",
          coll("transactions", txId,
            txs(m, lo, h).filter(x => x.from == t.from && x.to == to).map(_.hash)))
      case "from_range" => val a = acct(); txRange(false)(_.from == a, s"fromAccount=$a")
      case "from_time" => val a = acct(); txRange(true)(_.from == a, s"fromAccount=$a")
      case "to_range" => val a = acct(); txRange(false)(_.to == a, s"toAccount=$a")
      case "to_time" => val a = acct(); txRange(true)(_.to == a, s"toAccount=$a")
      case "event_hash_index" | "event_number_index" =>
        var n = height(); var e = someEvent(n)
        while (e.isEmpty && n > 0) { n -= 1; e = someEvent(n) }
        val ev = e.get
        val key = if (shape == "event_hash_index") s"blockHash=${ev.blockhash}" else s"blockNumber=$n"
        rest("point", s"/v1/event?$key&logIndex=${ev.index}",
          single(Seq("blockHash" -> ev.blockhash, "index" -> ev.index.toString, "txHash" -> ev.txhash)))
      case "events_block" =>
        val p = m.current(height())
        rest("point", s"/v1/event?blockHash=${p.block.hash}",
          coll("events", evJsonId, p.transactions.flatMap(_.events).map(evId)))
      case "events_tx" =>
        val n = height(); val p = m.current(n)
        val t = p.transactions(r.nextInt(p.transactions.length))
        rest("point", s"/v1/event?txHash=${t.tx.hash}", coll("events", evJsonId, t.events.map(evId)))
      case "last_events" =>
        val c = contract(); val k = if (r.nextBoolean()) 10 else 50
        rest("topk", s"/v1/event?contract=$c&count=$k", lastEvents(m, hi, c, k, exactHead, rest = true))
      case "events_topics_range" => evRange(byTime = false, withTopic = true)
      case "events_topics_time" => evRange(byTime = true, withTopic = true)
      case "events_contract_range" => evRange(byTime = false, withTopic = false)
      case "events_contract_time" => evRange(byTime = true, withTopic = false)
      case "gql_block" =>
        val n = height(); val b = m.current(n).block
        graph(s"""{ blockByNumber(number: "$n") { hash number } }""",
          gql("blockByNumber")(v => fieldsEqual(v, Seq("hash" -> b.hash, "number" -> n.toString))))
      case "gql_tx_count" =>
        val p = m.current(height())
        graph(s"""{ transactionCountByBlockNumber(number: "${p.block.number}") }""",
          gql("transactionCountByBlockNumber")(v =>
            if (v.asLong() == p.transactions.length) Right(v.asText())
            else Left(s"count ${v.asText()}, want ${p.transactions.length}")))
      case "gql_from_count" =>
        val (lo, h) = range(); val a = acct()
        val want = txs(m, lo, h).count(_.from == a)
        graph(s"""{ transactionCountFromAccountByNumberRange(account: "$a", from: "$lo", to: "$h") }""",
          gql("transactionCountFromAccountByNumberRange")(v =>
            if (v.asLong() == want) Right(v.asText()) else Left(s"count ${v.asText()}, want $want")))
      case "gql_events_tx" =>
        var n = height(); var e = someEvent(n)
        while (e.isEmpty && n > 0) { n -= 1; e = someEvent(n) }
        val t = m.current(n).transactions.find(_.tx.hash == e.get.txhash).get
        graph(s"""{ eventsByTxHash(hash: "${t.tx.hash}") { index blockHash } }""",
          gql("eventsByTxHash")(v => sameIds(idsOf(v, evJsonId), t.events.map(evId))))
      case "gql_block_txs" =>
        val p = m.current(height())
        graph(s"""{ transactionsByBlockHash(hash: "${p.block.hash}") { hash } }""",
          gql("transactionsByBlockHash")(v => sameIds(idsOf(v, txId), p.transactions.map(_.tx.hash))))
      case "gql_last_events" =>
        val c = contract()
        graph(s"""{ lastXEventsFromContract(contract: "$c", x: 10) { index blockHash origin } }""",
          lastEvents(m, hi, c, 10, exactHead, rest = false))
      case "synced" =>
        rest("nojob", "/v1/synced", (code, body) =>
          for { _ <- status(200)(code); j <- parse(body)
                _ <- if (j.has("status")) Right(()) else Left("no status") } yield "synced")
      case "bad_range" =>
        rest("nojob", s"/v1/block?fromBlock=0&toBlock=${hi + 5000}", badRequest)
      case "bad_count" =>
        rest("nojob", s"/v1/event?contract=${contract()}&count=51", badRequest)
      case "no_params" =>
        rest("nojob", "/v1/transaction", badRequest)
    }
  }

  /** Top-K events of a contract by (number desc, index desc). With the
    * store's head known, the identities must match; otherwise each
    * returned event must come from the contract and the list be full. */
  private def lastEvents(m: ChainModel, hi: Long, c: String, k: Int, exact: Boolean,
      rest: Boolean): (Int, String) => Either[String, String] = {
    lazy val want = events(m, 0, hi).filter(_._2.origin == c)
      .sortBy { case (n, e) => (-n, -e.index) }.take(k).map(x => evId(x._2))
    def judge(arr: JsonNode): Either[String, String] =
      if (exact) sameIds(idsOf(arr, evJsonId), want)
      else {
        val got = idsOf(arr, evJsonId)
        if (got.length != k) Left(s"length ${got.length}, want $k")
        else if (!arr.elements().asScala.forall(_.path("origin").asText() == c)) Left("foreign origin")
        else Right(s"top$k")
      }
    if (rest) (code: Int, body: String) =>
      for {
        _ <- status(200)(code); j <- parse(body)
        arr <- Option(j.get("events")).filter(_.isArray).toRight("no events array")
        d <- judge(arr)
      } yield d
    else gql("lastXEventsFromContract")(judge)
  }

  /** After the drain: a reorged height must answer with its replacement. */
  def reorgCheck(m: ChainModel, n: Long): Req = {
    val b = m.current(n).block
    Req("point", "reorg_check", s"/v1/block?number=$n", null,
      single(Seq("hash" -> b.hash, "number" -> n.toString)))
  }
}
