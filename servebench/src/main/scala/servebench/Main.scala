package servebench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One answered (or failed) request: start is when it was due (open loop)
  * or sent (closed loop); `answer` is the check's verdict. */
final case class Done(cls: String, shape: String, key: String, start: Long, end: Long,
    answer: Either[String, String])

/** Outcome of checking one deployment's ws record. */
final case class NotifyCheck(expected: Long, failed: Long, latencies: Seq[Double],
    notified: Map[Long, String], messages: Long, bytes: Long, duplicates: Long)

/** What one pass over a workload measured. */
final case class PassResult(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    notifyExpected: Long, notifyFailed: Long,
    queryAttempted: Long, queryFailed: Long,
    notified: Map[Long, String],      // block number -> delivered hash
    reorged: Set[Long],
    answers: Map[String, String],     // request key -> answer digest
    notes: Map[String, String])

/** The serve benchmark: boots the composed deployment (`graft.Serve.run`)
  * in-process, feeds it a seeded synthetic chain through [[BenchFetcher]],
  * drives ws subscribers and REST/GraphQL clients, checks every answer
  * against the generator's truth, and prints one JSON result line.
  *
  *   --workload live_follow|query_mix|live_mixed
  *   --seed N --seconds S --trace 0|1 --work DIR --out DIR
  *
  * `--trace 0` measures with `Serve.run` and prints the end-to-end
  * metrics. `--trace 1` runs the same seed twice in one process, first
  * through `Serve.run` and then through the traced composition, and
  * prints the per-layer metrics of the traced pass; the report file holds
  * the tracing overhead and the parity check of the two passes. */
object Main {

  private val mapper = new ObjectMapper()
  val shape: Shape = Shape(txsPerBlock = 24)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable => // a harness error: no result line, nonzero exit
        e.printStackTrace()
        System.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    val processStart = ProcessHandle.current().info().startInstant().get().toEpochMilli
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - processStart) / 1000.0
    selfTest(a.seed)

    val (line, report) = {
      if (!a.trace) {
        val r = new Workloads(spark, a, cores, sessionS, traced = false, setupReps = 2).run()
        (result(r.e2e, Seq(r)), resultReport(a, Seq("untraced" -> r)))
      } else {
        val u = new Workloads(spark, a, cores, sessionS, traced = false, setupReps = 2).run()
        // the untraced pass warmed the JVM: one preparation is enough here
        val t = new Workloads(spark, a, cores, sessionS, traced = true, setupReps = 1).run()
        val overhead = t.e2e.map { case (k, v) => k -> (v - u.e2e(k)) }
        val parity = Parity.check(u, t)
        val rep = resultReport(a, Seq("untraced" -> u, "traced" -> t)) ++ Map(
          "tracing_overhead" -> overhead,
          "tracing_overhead_share" -> t.e2e.map { case (k, v) =>
            k -> (if (u.e2e(k) == 0) 0.0 else (v - u.e2e(k)) / u.e2e(k)) },
          "parity" -> Map("ok" -> parity.isEmpty, "problems" -> parity.take(20).asJava).asJava)
        (result(t.layers, Seq(u, t), extraFailures = if (parity.isEmpty) 0 else 1), rep)
      }
    }

    val file = a.out.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.write(file, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(deepJava(report)))
    println(s"report: ${file}")
    println(line)
    System.out.flush()
    // client and server threads of the stopped deployments must not keep
    // the process alive once the result is out
    System.exit(0)
  }

  private def deepJava(x: Any): Any = x match {
    case m: Map[_, _] => m.map { case (k, v) => k.toString -> deepJava(v) }.asJava
    case s: Seq[_] => s.map(deepJava).asJava
    case o => o
  }

  private def resultReport(a: Args, passes: Seq[(String, PassResult)]): Map[String, Any] =
    Map("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "cores" -> Runtime.getRuntime.availableProcessors()) ++
      passes.map { case (name, r) =>
        name -> Map("end_to_end" -> r.e2e, "per_layer" -> r.layers, "notes" -> r.notes,
          "notify_expected" -> r.notifyExpected, "notify_failed" -> r.notifyFailed,
          "query_attempted" -> r.queryAttempted, "query_failed" -> r.queryFailed)
      }

  private def result(metrics: Map[String, Double], passes: Seq[PassResult],
      extraFailures: Int = 0): String = {
    val attempted = passes.map(p => p.notifyExpected + p.queryAttempted).sum
    val failed = passes.map(p => p.notifyFailed + p.queryFailed).sum + extraFailures
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> Units.of(k)).asJava
    }
    val m = new java.util.LinkedHashMap[String, Any]()
    ms.foreach { case (k, v) => m.put(k, v) }
    val root = new java.util.LinkedHashMap[String, Any]()
    root.put("correct", failed == 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    root.put("metrics", m)
    mapper.writeValueAsString(root)
  }

  /** The generator is a pure function of the seed: the same seed gives
    * the same chain digest, another seed a different one. */
  def selfTest(seed: Long): Unit = {
    def d(s: Long) = { val m = new ChainModel(s, shape); m.setHead(31); m.digest(31) }
    val (x, y, z) = (d(seed), d(seed), d(seed + 1))
    require(x == y, s"generator not deterministic for seed $seed")
    require(x != z, s"seeds $seed and ${seed + 1} give the same chain")
  }
}

/** Units of every metric the benchmark prints. */
object Units {
  def of(k: String): String =
    if (k == "setup_s") "s"
    else if (k.endsWith("_ms") || k.contains("_ms_") || k.contains("_ms.") || k == "jvm.gc_ms" ||
      k == "streaming.source.fetch_ms") "ms"
    else if (k.endsWith("_mb")) "MB"
    else if (k == "sync_blocks_per_s") "blocks/s"
    else if (k == "query_rps") "1/s"
    else if (k.endsWith("_ratio") || k.contains("share")) "ratio"
    else if (k.contains("bytes")) "B"
    else if (k.contains("blocks")) "blocks"
    else "count"
}

object Stats {
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Traced and untraced passes over one seed must agree: same notified
  * hash for every block that was never replaced (a replaced height may
  * notify either version), same notified numbers, same answer for every
  * request both passes made. */
object Parity {
  def check(u: PassResult, t: PassResult): Seq[String] = {
    val nums = if (u.notified.keySet != t.notified.keySet)
      Seq(s"notified numbers differ: ${(u.notified.keySet diff t.notified.keySet).size} only untraced, " +
        s"${(t.notified.keySet diff u.notified.keySet).size} only traced") else Nil
    val hashes = u.notified.collect {
      case (n, h) if !u.reorged(n) && t.notified.get(n).exists(_ != h) => s"block $n hash differs"
    }
    val answers = u.answers.collect {
      case (k, d) if t.answers.get(k).exists(_ != d) => s"answer $k differs"
    }
    nums ++ hashes ++ answers
  }
}

/** The workloads over one Spark session. */
object Workloads {
  val names = Seq("live_follow", "query_mix", "live_mixed")
  @volatile var warmed = false
}

final class Workloads(spark: SparkSession, a: Main.Args, cores: Int, sessionS: Double,
    traced: Boolean, setupReps: Int) {
  import Stats._

  // ---- parameters ------------------------------------------------------------
  // The chain is synthetic and so are these rates: none is taken from a
  // measured chain or client.
  private val liveInitial = 100L         // live_*: blocks synced at boot
  private val liveRate = 6.0             // live_*: head rate, blocks/s
  private val liveConfirmations = 6L     // small: promotion runs every batch
  private val reorgEvery = 24L           // every 24th live block replaces its parent
  private val buildSteps = 4             // query_mix: head steps while building
  private val buildStep = 20L            //   blocks per step
  private val buildConfirmations = 8L    //   four confirmed segments and an 8-block hot tail
  private val readerRate = 2.0           // live_mixed: open-loop reads/s
  private val freshnessS = 6.0           // live_mixed: reads target heights older than this
  private val drainS = 30.0              // notifications missing this long after the window are lost
  private val timeoutS = 30              // request timeout

  private val subsNames = (m: ChainModel) =>
    Seq("block", s"transaction/${m.accounts(0)}/*", s"event/*/${m.sigs(0)}")

  private val mapper = new ObjectMapper()
  private val tracer = new Tracer
  private val probe = if (traced) new SparkProbe(spark) else null
  private var rootSeq = 0
  private val pass = if (traced) "traced" else "untraced"

  private trait Stoppable { def stop(): Unit }

  private final class Live(val model: ChainModel, val dep: Deployment, val ws: WsSubscriber)
      extends Stoppable {
    def stop(): Unit = { ws.close(); dep.stop() }
  }

  private def boot(confirmations: Long, model: ChainModel): Live = {
    Chain.active = model
    rootSeq += 1
    val root = a.work.resolve(s"$pass-$rootSeq").toString
    val cfg = Deploy.config(root, confirmations)
    val dep = if (traced) Deploy.traced(spark, cfg, tracer) else Deploy.serve(spark, cfg)
    new Live(model, dep, new WsSubscriber(dep.wsPort, subsNames(model)))
  }

  /** Wait until every block number in [lo, hi] has been notified, the
    * stream died, or the deadline passed; true when all arrived. */
  private def awaitNotified(l: Live, lo: Long, hi: Long, deadline: Long): Boolean = {
    val want = (hi - lo + 1).toInt
    while (l.ws.pump(lo, hi) < want && System.nanoTime() < deadline && l.dep.query.isActive)
      Thread.sleep(5)
    l.ws.pump(lo, hi) >= want
  }

  /** Wait for blocks [0, hi] exposed at `from`; the arrival of the last
    * of them, or the moment the wait gave up. */
  private def caughtUp(l: Live, hi: Long, from: Long): Long =
    if (awaitNotified(l, 0, hi, from + nsOf(120))) l.ws.lastArrival(0, hi) else System.nanoTime()

  /** Wait until the stream has no batch running and no data pending. */
  private def awaitIdle(l: Live, deadline: Long): Unit = {
    var quiet = 0
    while (quiet < 4 && System.nanoTime() < deadline && l.dep.query.isActive) {
      val st = l.dep.query.status
      if (!st.isTriggerActive && !st.isDataAvailable) quiet += 1 else quiet = 0
      Thread.sleep(25)
    }
  }

  private def nsOf(s: Double): Long = (s * 1e9).toLong

  // ---- request generators ------------------------------------------------------

  private def sendAll(http: Http, reqs: IndexedSeq[(String, Req)], clients: Int): Seq[Done] = {
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val ts = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.length) {
          val (key, r) = reqs(i)
          val t0 = System.nanoTime()
          val (code, body) = http.send(r)
          out.add(Done(r.cls, r.shape, key, t0, System.nanoTime(), r.check(code, body)))
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    out.asScala.toSeq
  }

  /** `cores` closed-loop clients for `seconds`, taking turns on one
    * seeded request stream. */
  private def closedLoop(l: Live, hi: Long): (Seq[Done], Long, Long) = {
    val http = new Http(l.dep.restPort, timeoutS)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val end = t0 + nsOf(a.seconds)
    val ts = (0 until cores).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < end) {
          val i = next.getAndIncrement()
          val req = Requests.nth(a.seed, i, l.model, hi, exactHead = true)
          val s = System.nanoTime()
          val (code, body) = http.send(req)
          out.add(Done(req.cls, req.shape, s"q$i", s, System.nanoTime(), req.check(code, body)))
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (out.asScala.toSeq, t0, System.nanoTime())
  }

  /** Open-loop readers during a live window: read i is due at
    * t0 + i / readerRate and targets heights settled for `freshnessS`. */
  private def openLoop(l: Live, t0: Long, count: Int): (Seq[Done], Seq[Double]) = {
    val http = new Http(l.dep.restPort, timeoutS)
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val late = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val ts = (0 until math.max(1, cores - 1)).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < count) {
          val due = t0 + nsOf(i / readerRate)
          var now = System.nanoTime()
          while (now < due) { Thread.sleep(math.max(1L, (due - now) / 1000000L)); now = System.nanoTime() }
          late.add((now - due) / 1e6)
          val settled = l.model.settledHead(now, nsOf(freshnessS))
          val req = Requests.nth(a.seed, i, l.model, settled, exactHead = false)
          val (code, body) = http.send(req)
          out.add(Done(req.cls, req.shape, s"o$i", due, System.nanoTime(), req.check(code, body)))
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (out.asScala.toSeq, late.asScala.toSeq.map(_.doubleValue))
  }

  /** One request of every shape, checked but not timed, the first time
    * a deployment in this JVM is ready to serve: the first call of each
    * shape pays its plans' codegen, which later deployments reuse. */
  private val warmDone = mutable.ArrayBuffer.empty[Done]
  private def warmUp(l: Live, hi: Long): Unit =
    if (!Workloads.warmed) {
      Workloads.warmed = true
      warmDone ++= sendAll(new Http(l.dep.restPort, timeoutS),
        Requests.each(a.seed ^ 0x3a7L, l.model, hi).map { case (k, r) => s"w/$k" -> r }.toIndexedSeq,
        cores)
    }

  /** Post-drain requests: every reorged height, plus (when the workload
    * has no readers of its own) two requests of every shape with
    * different keys, so that the query p90 rests on more than a handful
    * of samples beyond it. */
  private def postDrain(l: Live, sweep: Boolean): (Seq[Done], Long, Long) = {
    val hi = l.model.finalHead
    val checks = l.model.reorged.map(n => s"reorg/$n" -> Requests.reorgCheck(l.model, n))
    val mix = if (!sweep) Nil
      else (0 to 1).flatMap(j =>
        Requests.each(a.seed + j, l.model, hi).map { case (k, r) => s"s$j/$k" -> r })
    val t0 = System.nanoTime()
    val done = sendAll(new Http(l.dep.restPort, timeoutS), (mix ++ checks).toIndexedSeq, cores)
    (done, t0, System.nanoTime())
  }

  // ---- notification checks -------------------------------------------------------

  /** Check the ws record of one deployment against the generator: each
    * block number in [0, hi] exactly once with a hash the chain produced
    * for it; transaction and event matches equal to the generator's
    * evaluation of the same filters over the delivered block versions.
    * Latency is measured for blocks in [latLo, hi], from their due time;
    * a block missing at `censorAt` counts as arriving then. */
  private def checkNotifications(l: Live, hi: Long, latLo: Long, censorAt: Long): NotifyCheck = {
    val m = l.model
    val frames = l.ws.parsed()
    val blocks = frames.filter(_._2 == "block")
    val byNum = blocks.groupBy(_._3.path("number").asLong())
    var failed = 0L
    var dups = 0L
    val lat = mutable.ArrayBuffer.empty[Double]
    val notified = mutable.Map.empty[Long, String]
    val wantTx = mutable.ArrayBuffer.empty[String]
    val wantEv = mutable.ArrayBuffer.empty[String]
    val acct = m.accounts(0)
    val sig = m.sigs(0)
    (0L to hi).foreach { n =>
      byNum.get(n) match {
        case None =>
          failed += 1
          if (n >= latLo) lat += (censorAt - m.due(n)) / 1e6
        case Some(got) =>
          if (got.length > 1) { failed += 1; dups += got.length - 1 }
          val h = got.head._3.path("hash").asText()
          if (n >= latLo) lat += (got.head._1 - m.due(n)) / 1e6
          (0 to m.version(n)).find(v => m.blockHash(n, v) == h) match {
            case None => failed += 1
            case Some(v) =>
              notified(n) = h
              val p = m.block(n, v)
              p.transactions.foreach { t =>
                if (t.tx.from.equalsIgnoreCase(acct)) wantTx += t.tx.hash
                t.events.foreach(e =>
                  if (e.topics.headOption.exists(_.equalsIgnoreCase(sig))) wantEv += s"${e.blockhash}#${e.index}")
              }
          }
      }
    }
    val extra = byNum.keySet.count(n => n < 0 || n > hi)
    def setCheck(got: Seq[String], want: Seq[String]): Long = {
      val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
      val w = want.toSet
      want.count(x => !g.contains(x)).toLong +
        g.collect { case (k, c) if !w(k) => c.toLong; case (_, c) if c > 1 => c - 1L }.sum
    }
    val gotTx = frames.filter(_._2 == "transaction").map(_._3.path("hash").asText())
    val gotEv = frames.filter(_._2 == "event").map(f =>
      s"${f._3.path("blockhash").asText()}#${f._3.path("index").asText()}")
    val txDups = gotTx.size - gotTx.distinct.size
    val evDups = gotEv.size - gotEv.distinct.size
    failed += extra + setCheck(gotTx, wantTx.toSeq) + setCheck(gotEv, wantEv.toSeq)
    NotifyCheck(expected = hi + 1 + wantTx.size + wantEv.size, failed = failed,
      latencies = lat.toSeq, notified = notified.toMap, messages = frames.size,
      bytes = l.ws.all().map(_._2.length.toLong).sum, duplicates = dups + txDups + evDups)
  }

  // ---- the workloads -------------------------------------------------------------

  private var prepareTimes = Seq.empty[Double]
  private val cpu0 = Jvm.cpuJiffies
  private var measureFrom = 0L
  private var measureTo = 0L
  private var gc0 = (0L, 0L)
  private val lagSamples = mutable.ArrayBuffer.empty[Double]
  @volatile private var heapPeak = 0L
  @volatile private var lagOf: () => Double = null

  private def openMeasure(): Unit = {
    measureFrom = System.nanoTime()
    gc0 = (Jvm.gcMs, Jvm.gcCount)
    heapPeak = 0L
    lagSamples.synchronized(lagSamples.clear())
  }

  private val sampler = new Thread(() => {
    try while (true) {
      val f = lagOf
      if (f != null) lagSamples.synchronized(lagSamples += f())
      heapPeak = math.max(heapPeak, Jvm.heapUsed)
      Thread.sleep(50)
    } catch { case _: InterruptedException => () }
  })
  sampler.setDaemon(true)

  def run(): PassResult = {
    if (traced) sampler.start()
    try a.workload match {
      case "live_follow" => live(readers = false)
      case "live_mixed" => live(readers = true)
      case "query_mix" => queryMix()
    } finally {
      sampler.interrupt()
      if (probe != null) probe.close()
    }
  }

  /** Repeat `prepare` setupReps times; keep the last result, stop the
    * others, and return the kept one with the median preparation time. */
  private def prepared[T <: Stoppable](prepare: () => T): (T, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var kept: T = null.asInstanceOf[T]
    (1 to setupReps).foreach { i =>
      if (kept != null) kept.stop()
      if (i == setupReps) openMeasure()
      val t0 = System.nanoTime()
      kept = prepare()
      times += (System.nanoTime() - t0) / 1e9
    }
    prepareTimes = times.toSeq
    (kept, sessionS + median(times.toSeq))
  }

  private final class Prepared(val live: Live, val rate: Double) extends Stoppable {
    def stop(): Unit = live.stop()
  }

  private def live(readers: Boolean): PassResult = {
    val (p, setupS) = prepared(() => {
      val l = boot(liveConfirmations, new ChainModel(a.seed, Main.shape))
      if (traced) lagOf = () => (l.model.head() - l.dep.job.latest.get()).toDouble
      val t0 = System.nanoTime()
      l.model.setHead(liveInitial - 1)
      val t1 = caughtUp(l, liveInitial - 1, t0)
      awaitIdle(l, System.nanoTime() + nsOf(drainS))
      warmUp(l, liveInitial - 1)
      new Prepared(l, liveInitial / math.max(1e-3, (t1 - t0) / 1e9))
    })
    val l = p.live
    val blocks = (liveRate * a.seconds).toLong
    val t0 = l.model.startLive(liveRate, blocks, reorgEvery) - nsOf(1 / liveRate)
    // readers keep going for the freshness allowance after the head
    // stops, so every live height is read once it is due to be stored
    val (reads, late) =
      if (readers) openLoop(l, t0, (readerRate * (a.seconds + freshnessS)).toInt) else (Nil, Nil)
    val windowEnd = l.model.lastDue
    while (System.nanoTime() < windowEnd) Thread.sleep(5)
    l.model.head() // the schedule advances on the clock even if the stream stopped polling
    val hi = l.model.finalHead
    val censorAt = windowEnd + nsOf(drainS)
    awaitNotified(l, 0, hi, censorAt)
    awaitIdle(l, censorAt)
    lagOf = null
    val check = checkNotifications(l, hi, liveInitial, censorAt)
    val (post, q0, q1) = postDrain(l, sweep = !readers)
    val done = reads ++ post
    val span = if (readers) nsOf(a.seconds + freshnessS) else q1 - q0
    val notes = Map("reader_late_ms_p50" -> f"${median(late)}%.3f",
      "reader_late_ms_p90" -> f"${pct(late, 0.9)}%.3f",
      "reader_late_ms_max" -> f"${late.maxOption.getOrElse(0.0)}%.3f",
      "reads" -> reads.size.toString)
    finish(l, setupS, p.rate, check, done, span, if (readers) notes else Map.empty)
  }

  private def queryMix(): PassResult = {
    val h = buildSteps * buildStep - 1
    val (p, setupS) = prepared(() => {
      val l = boot(buildConfirmations, new ChainModel(a.seed, Main.shape))
      var busy = 0.0
      (1 to buildSteps).foreach { s =>
        val hi = s * buildStep - 1
        val t0 = System.nanoTime()
        l.model.setHead(hi)
        busy += (caughtUp(l, hi, t0) - t0) / 1e9
        awaitIdle(l, System.nanoTime() + nsOf(drainS))
      }
      warmUp(l, h)
      new Prepared(l, (h + 1) / math.max(1e-3, busy))
    })
    val l = p.live
    val censorAt = System.nanoTime()
    val check = checkNotifications(l, h, 0, censorAt)
    val (done, q0, q1) = closedLoop(l, h)
    finish(l, setupS, p.rate, check, done, q1 - q0, Map.empty)
  }

  // ---- metrics ---------------------------------------------------------------------

  private def finish(l: Live, setupS: Double, syncRate: Double, check: NotifyCheck,
      done: Seq[Done], spanNs: Long, notes0: Map[String, String]): PassResult = {
    measureTo = System.nanoTime()
    val end = measureTo
    val ok = done.filter(_.answer.isRight)
    // a failed request counts as answered at the end of observation
    val qlat = done.map(d => (if (d.answer.isRight) d.end - d.start else end - d.start) / 1e6)
    val nlat = check.latencies
    val terminated = !l.dep.query.isActive || l.dep.query.exception.isDefined
    def describe(e: Throwable) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(600)}"
    val err = l.dep.query.exception.map(describe)
    val root = l.dep.query.exception.map { e =>
      var c: Throwable = e
      while (c.getCause != null && c.getCause != c) c = c.getCause
      describe(c)
    }
    val e2e = Map(
      "setup_s" -> setupS,
      "sync_blocks_per_s" -> syncRate,
      "notify_latency_p50_ms" -> median(nlat),
      "notify_latency_p90_ms" -> pct(nlat, 0.9),
      "notify_ok_ratio" -> (1.0 - check.failed.toDouble / check.expected),
      "query_rps" -> ok.size / (spanNs / 1e9),
      "query_latency_p50_ms" -> median(qlat),
      "query_latency_p90_ms" -> pct(qlat, 0.9),
      "query_ok_ratio" -> (if (done.isEmpty) 0.0 else ok.size.toDouble / done.size),
      "rss_peak_mb" -> Jvm.rssPeakMb)
    val failures = done.filter(_.answer.isLeft)
      .groupBy(d => s"${d.shape}: ${d.answer.left.toOption.get.take(60)}")
      .map { case (k, v) => k -> v.size }
    val notes = notes0 ++ Map(
      "streaming_terminated" -> terminated.toString,
      "first_error" -> err.getOrElse(""),
      "first_error_root_cause" -> root.getOrElse(""),
      "notify_fail_ratio" -> f"${1.0 - e2e("notify_ok_ratio")}%.6f",
      "query_fail_ratio" -> f"${1.0 - e2e("query_ok_ratio")}%.6f",
      "warmup_failed" -> warmDone.count(_.answer.isLeft).toString,
      "query_failures" -> failures.toSeq.sortBy(-_._2).take(8).mkString("; "),
      "notify_samples" -> nlat.size.toString, "query_samples" -> qlat.size.toString,
      "session_s" -> f"$sessionS%.3f", "prepare_s" -> prepareTimes.map(t => f"$t%.3f").mkString(","),
      "cpu_steal_share" -> {
        val (s1, t1) = Jvm.cpuJiffies
        f"${(s1 - cpu0._1).toDouble / math.max(1L, t1 - cpu0._2)}%.4f"
      },
      "measure_s" -> f"${(end - measureFrom) / 1e9}%.3f")
    val layers = if (traced) perLayer(l, done, check, terminated) else Map.empty[String, Double]
    if (traced) writeSpans()
    val warmFailed = warmDone.count(_.answer.isLeft)
    PassResult(e2e, layers,
      notifyExpected = check.expected, notifyFailed = check.failed,
      queryAttempted = done.size + warmDone.size, queryFailed = done.size - ok.size + warmFailed,
      notified = check.notified, reorged = l.model.reorged.toSet,
      answers = done.collect { case Done(_, _, k, _, _, Right(d)) => k -> d }.toMap,
      notes = notes)
  }

  private def writeSpans(): Unit = {
    val f = a.out.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl")
    val lines = tracer.spans.asScala.toSeq.sortBy(_.start).map(s =>
      mapper.writeValueAsString(Map("name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "thread" -> s.thread).asJava))
    Files.write(f, lines.asJava)
  }

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def perLayer(l: Live, done: Seq[Done], check: NotifyCheck,
      terminated: Boolean): Map[String, Double] = {
    val (from, to) = (measureFrom, measureTo)
    val spans = tracer.in(from, to)
    def spanP50(name: String) = median(spans.filter(_.name == name).map(_.ms))
    val intervalMs = (to - from) / 1e6
    val calls = l.model.fetchCalls.sum().toDouble
    val distinct = l.model.fetchedNumbers.size.toDouble
    val fetchMs = l.model.fetchNanos.asScala.toSeq.map(_ / 1e6)
    val prog = probe.progress.asScala.toSeq.filter(p => p.t >= from && p.t <= to && p.blocks > 0)
    def progP50(k: String) = median(prog.map(_.durations.getOrElse(k, 0L).toDouble))
    val jobs = probe.jobs.asScala.toSeq.filter(j => j.t >= from && j.t <= to)
    val stages = probe.stages.asScala.toSeq.filter(j => j.t >= from && j.t <= to)
    val tasks = probe.tasks.asScala.toSeq.filter(t => t.t >= from && t.t <= to)
    val execs = probe.execs.asScala.toSeq.filter(e => e.t >= from && e.t <= to)
    val nReq = math.max(1, done.size).toDouble
    val nBatch = math.max(1, prog.size).toDouble
    val reqTasks = tasks.filter(_.cls == "request")
    val ingTasks = tasks.filter(_.cls == "ingest")
    val storeDir = Paths.get(l.dep.storeRoot)
    val segments = {
      val m = storeDir.resolve("confirmed/blocks/_segments")
      if (Files.exists(m)) Files.readAllLines(m).asScala.count(_.nonEmpty) else 0
    }
    val hotDir = storeDir.resolve("unconfirmed")
    val hotBlocks = if (Files.exists(hotDir)) spark.read.parquet(hotDir.toString).count() else 0L
    val byCls = done.groupBy(_.cls)
    def lat(cls: String, q: Double) = pct(byCls.getOrElse(cls, Nil).map(d => (d.end - d.start) / 1e6), q)
    val planSpans = spans.filter(s => s.name.startsWith("api.query.") &&
      (s.parent == null || !s.parent.startsWith("api.query.")))
    val lags = lagSamples.synchronized(lagSamples.toSeq)
    Map(
      "streaming.source.fetch_calls_per_block" -> (if (distinct == 0) 0.0 else calls / distinct),
      "streaming.source.fetch_ms" -> median(fetchMs),
      "streaming.source.lag_blocks_p90" -> pct(lags, 0.9),
      "streaming.batch.count" -> prog.size.toDouble,
      "streaming.batch.blocks_p50" -> median(prog.map(_.blocks.toDouble)),
      "streaming.batch.trigger_ms_p50" -> progP50("triggerExecution"),
      "streaming.batch.add_batch_ms_p50" -> progP50("addBatch"),
      "streaming.batch.planning_ms_p50" -> progP50("queryPlanning"),
      "streaming.batch.wal_commit_ms_p50" -> progP50("walCommit"),
      "streaming.publish_ms_p50" -> spanP50("streaming.publish"),
      "streaming.terminated" -> (if (terminated) 1.0 else 0.0),
      "ingest.process_batch_ms_p50" -> spanP50("ingest.process_batch"),
      "ingest.store_batch_ms_p50" -> spanP50("ingest.store_batch"),
      "ingest.promote_ms_p50" -> spanP50("ingest.promote"),
      "ingest.store_bytes_per_block" -> du(storeDir).toDouble / math.max(1L, l.model.finalHead + 1),
      "ingest.view_ms_p50" -> spanP50("ingest.view"),
      "ingest.confirmed_segments" -> segments.toDouble,
      "ingest.hot_blocks" -> hotBlocks.toDouble,
      "api.query.plan_build_ms_p50" -> median(planSpans.map(_.ms)),
      "api.ws.messages" -> check.messages.toDouble,
      "api.ws.bytes" -> check.bytes.toDouble,
      "api.ws.duplicates" -> check.duplicates.toDouble,
      "spark.jobs_per_request" -> jobs.count(_.cls == "request") / nReq,
      "spark.stages_per_request" -> stages.count(_.cls == "request") / nReq,
      "spark.tasks_per_request" -> reqTasks.size / nReq,
      "spark.shuffle_bytes_per_request" -> reqTasks.map(_.shuffleBytes).sum / nReq,
      "spark.sql.planning_ms_p50" -> median(execs.map(_.planMs)),
      "spark.sql.exec_ms_p50" -> median(execs.map(_.execMs)),
      "spark.jobs_per_batch" -> jobs.count(_.cls == "ingest") / nBatch,
      "spark.tasks_per_batch" -> ingTasks.size / nBatch,
      "spark.task_busy_share.ingest" -> ingTasks.map(_.durMs).sum / (intervalMs * cores),
      "spark.task_busy_share.request" -> reqTasks.map(_.durMs).sum / (intervalMs * cores),
      "spark.scheduler_delay_ms_p50" -> median(tasks.map(_.schedMs.toDouble)),
      "jvm.gc_ms" -> (Jvm.gcMs - gc0._1).toDouble,
      "jvm.gc_count" -> (Jvm.gcCount - gc0._2).toDouble,
      "jvm.heap_peak_mb" -> heapPeak / 1048576.0) ++
      Seq("point", "range", "topk", "graphql", "nojob").flatMap(c => Seq(
        s"api.rest.latency_p50_ms.$c" -> lat(c, 0.5),
        s"api.rest.latency_p90_ms.$c" -> lat(c, 0.9)))
  }
}
