package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.time.Duration
import java.util.concurrent.{CompletionStage, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper

/** One websocket connection to the fanout tier holding several
  * subscriptions. Frames are stored raw with their arrival time and
  * parsed after the run, so the listener thread does no work beyond a
  * queue append. */
final class WsSubscriber(port: Int, names: Seq[String]) {
  private val mapper = new ObjectMapper()
  private val acks = new LinkedBlockingQueue[String]()
  val frames = new ConcurrentLinkedQueue[(Long, String)]()
  @volatile private var acked = false

  private val listener = new WebSocket.Listener {
    private val sb = new java.lang.StringBuilder
    override def onText(ws: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
      sb.append(data)
      if (last) {
        val t = System.nanoTime()
        val s = sb.toString
        sb.setLength(0)
        if (!acked && s.startsWith("{\"code\":")) acks.add(s) else frames.add((t, s))
      }
      ws.request(1)
      null
    }
  }

  private val ws: WebSocket = HttpClient.newHttpClient().newWebSocketBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .buildAsync(URI.create(s"ws://127.0.0.1:$port/v1/ws"), listener)
    .get(15, TimeUnit.SECONDS)

  names.foreach { n =>
    ws.sendText(s"""{"name":"$n","type":"subscribe"}""", true).get(10, TimeUnit.SECONDS)
    val ack = acks.poll(10, TimeUnit.SECONDS)
    require(ack != null && ack.contains("\"code\":1"), s"subscription $n not acknowledged: $ack")
  }
  acked = true

  private val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
  private val blockArrivals = scala.collection.mutable.LongMap.empty[Long]

  /** Move newly arrived frames into the run's record and note the first
    * arrival of each block number; returns how many distinct block
    * numbers in [lo, hi] have arrived. */
  def pump(lo: Long, hi: Long): Int = synchronized {
    var f = frames.poll()
    while (f != null) {
      got += f
      if (f._2.contains("\"parenthash\"")) {
        val n = mapper.readTree(f._2).path("number").asLong()
        if (!blockArrivals.contains(n)) blockArrivals(n) = f._1
      }
      f = frames.poll()
    }
    blockArrivals.keysIterator.count(n => n >= lo && n <= hi)
  }

  /** Last first-arrival among block numbers [lo, hi] (nanoTime). */
  def lastArrival(lo: Long, hi: Long): Long = synchronized {
    (lo to hi).flatMap(blockArrivals.get).maxOption.getOrElse(0L)
  }

  /** Every frame received so far, in arrival order. */
  def all(): Seq[(Long, String)] = { pump(0, -1); synchronized(got.toVector) }

  def close(): Unit =
    try ws.sendClose(WebSocket.NORMAL_CLOSURE, "").get(5, TimeUnit.SECONDS)
    catch { case _: Exception => ws.abort() }

  /** Parsed frames: (arrival ns, kind, JSON). Kind is block, transaction
    * or event, told apart by the fields each payload carries. */
  def parsed(): Seq[(Long, String, com.fasterxml.jackson.databind.JsonNode)] =
    all().map { case (t, s) =>
      val j = mapper.readTree(s)
      val kind = if (j.has("origin")) "event" else if (j.has("from")) "transaction" else "block"
      (t, kind, j)
    }
}

/** HTTP client shared by the benchmark's request generators. */
final class Http(port: Int, timeoutS: Int) {
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .version(HttpClient.Version.HTTP_1_1).build()

  /** Send one request; (status, body), or (-1, error) on timeout or a
    * connection error. */
  def send(req: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}"))
      .timeout(Duration.ofSeconds(timeoutS.toLong))
    val r =
      if (req.gqlBody == null) b.GET().build()
      else b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(req.gqlBody)).build()
    try {
      val resp = client.send(r, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch {
      case e: java.io.IOException => (-1, e.getClass.getSimpleName)
    }
  }
}
