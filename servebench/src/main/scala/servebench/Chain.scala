package servebench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import graft.schema.Model._
import graft.streaming.BlockFetcher

/** Block shape of the synthetic chain: `txsPerBlock` is the mean (uniform
  * over [t/2, 3t/2]); events per transaction are uniform over 0..4 (mean
  * 2). Senders, receivers and event origins follow a Zipf law over fixed
  * account and contract pools, so a few keys are hot. */
final case class Shape(txsPerBlock: Int, accounts: Int = 400, contracts: Int = 40,
    sigs: Int = 8, zipfS: Double = 1.1)

object Hashing {
  private val md = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("SHA-256"))
  private val hexChars = "0123456789abcdef".toCharArray

  def sha(label: String): Array[Byte] = md.get().digest(label.getBytes(UTF_8))

  def hex(b: Array[Byte], nBytes: Int): String = {
    val out = new Array[Char](2 + 2 * nBytes)
    out(0) = '0'; out(1) = 'x'
    var i = 0
    while (i < nBytes) {
      out(2 + 2 * i) = hexChars((b(i) >> 4) & 0xf)
      out(3 + 2 * i) = hexChars(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def hash32(label: String): String = hex(sha(label), 32)
  def addr20(label: String): String = hex(sha(label), 20)

  /** 64-bit mix of the seed and a block's (number, version). */
  def mix(seed: Long, n: Long, v: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + n * 0xBF58476D1CE4E5B9L + v * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Inverse-CDF Zipf sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** The benchmark's chain: a pure function of (seed, number, version) for
  * block content, plus the head schedule and the reorg-signal log the
  * benchmark's [[BenchFetcher]] exposes to the stream.
  *
  * Heads move in two ways. [[setHead]] jumps the head (every newly exposed
  * block is due at that instant). [[startLive]] advances it open-loop at
  * `rate` blocks/s: block n is due at t0 + (n - h0) / rate. In live mode
  * every `reorgEvery`-th block replaces its parent when it appears: the
  * parent's version is bumped and its height is appended to the signal
  * log. Reorg heights are therefore fixed by the seed and the schedule,
  * not by timing, so two passes over the same seed share one truth.
  *
  * The seed is used only here; the program under test receives blocks. */
final class ChainModel(val seed: Long, val shape: Shape) {
  import Hashing._

  val baseTime = 1700000000L
  val secondsPerBlock = 12L

  val accounts: Array[String] = Array.tabulate(shape.accounts)(i => addr20(s"$seed/acct/$i"))
  val contracts: Array[String] = Array.tabulate(shape.contracts)(i => addr20(s"$seed/contract/$i"))
  val sigs: Array[String] = Array.tabulate(shape.sigs)(i => hash32(s"$seed/sig/$i"))
  private val argPool: Array[String] = Array.tabulate(16)(i => hash32(s"$seed/arg/$i"))
  private val zAcct = new Zipf(shape.accounts, shape.zipfS)
  private val zContract = new Zipf(shape.contracts, shape.zipfS)

  def blockHash(n: Long, v: Int): String = hash32(s"$seed/block/$n/$v")

  // ---- block content ------------------------------------------------------

  private val cache = new ConcurrentHashMap[(Long, Int), PackedBlock]()

  def block(n: Long, v: Int): PackedBlock = {
    val hit = cache.get((n, v))
    if (hit != null) hit
    else { val b = build(n, v); cache.putIfAbsent((n, v), b); b }
  }

  private def bytes(r: SplittableRandom, len: Int): Array[Byte] = {
    val b = new Array[Byte](len); r.nextBytes(b); b
  }

  private def build(n: Long, v: Int): PackedBlock = {
    val r = new SplittableRandom(mix(seed, n, v))
    val bh = blockHash(n, v)
    val nTx = shape.txsPerBlock / 2 + r.nextInt(shape.txsPerBlock + 1)
    var logIndex = 0
    val txs = (0 until nTx).map { j =>
      val txh = hash32(s"$seed/tx/$n/$v/$j")
      val from = accounts(zAcct.sample(r))
      val creation = r.nextInt(20) == 0
      val to = if (creation) "" else accounts(zAcct.sample(r))
      val contract = if (creation) addr20(s"$seed/created/$n/$v/$j") else ""
      val value = BigInt(r.nextLong() >>> 8)
      val gas = 21000L + r.nextInt(200000)
      val gasprice = BigInt(1000000000L + r.nextInt(1000000000))
      val tx = Transaction(hash = txh, from = from, to = to, contract = contract,
        value = value.toString, data = bytes(r, 16 * r.nextInt(3)), gas = gas,
        gasprice = gasprice.toString, cost = (gasprice * gas + value).toString,
        nonce = n * 1000 + j, state = if (r.nextInt(20) == 0) 0 else 1, blockhash = bh)
      val evs = (0 until r.nextInt(5)).map { _ =>
        val topics = sigs(r.nextInt(sigs.length)) +:
          (0 until r.nextInt(4)).map(_ => argPool(r.nextInt(argPool.length)))
        val e = Event(blockhash = bh, index = logIndex,
          origin = contracts(zContract.sample(r)), topics = topics,
          data = bytes(r, 32 * r.nextInt(2)), txhash = txh)
        logIndex += 1
        e
      }
      PackedTransaction(tx, evs)
    }
    val b = Block(hash = bh, number = n, time = baseTime + n * secondsPerBlock,
      parenthash = blockHash(n - 1, 0), difficulty = (BigInt(10).pow(15) + n).toString,
      gasused = 21000L * nTx, gaslimit = 30000000L, nonce = f"0x${mix(seed, n, v)}%016x",
      miner = accounts(r.nextInt(8)), size = 1000.0 + nTx * 120,
      stateroothash = hash32(s"$seed/state/$n/$v"), unclehash = hash32(s"$seed/uncle/$n"),
      txroothash = hash32(s"$seed/txroot/$n/$v"), receiptroothash = hash32(s"$seed/rcpt/$n/$v"),
      extradata = bytes(r, r.nextInt(33)))
    PackedBlock(b, txs)
  }

  // ---- head schedule and reorg log -----------------------------------------

  private var curHead = -1L
  private val versions = mutable.LongMap.empty[Int]
  private val dueNs = mutable.LongMap.empty[Long]
  private val log = mutable.ArrayBuffer.empty[Long]
  @volatile private var logSnapshot: IndexedSeq[Long] = Vector.empty
  // live schedule: head h0 at t0, `rate` blocks/s up to hEnd
  private var liveT0 = 0L
  private var liveH0 = -1L
  private var liveEnd = -1L
  private var liveRate = 0.0
  private var reorgEvery = 0L
  @volatile private var nextChangeNs = Long.MaxValue

  /** Expose every block up to `h` now (no-op if `h` is not ahead). */
  def setHead(h: Long): Unit = synchronized {
    val now = System.nanoTime()
    while (curHead < h) { curHead += 1; dueNs(curHead) = now }
  }

  /** Advance the head open-loop from the current head for `blocks` blocks
    * at `rate` blocks/s, replacing every `reorgEveryBlocks`-th block's
    * parent (0 disables reorgs). Returns the due time of the first block. */
  def startLive(rate: Double, blocks: Long, reorgEveryBlocks: Long): Long = synchronized {
    liveT0 = System.nanoTime()
    liveH0 = curHead
    liveEnd = curHead + blocks
    liveRate = rate
    reorgEvery = reorgEveryBlocks
    (liveH0 + 1 to liveEnd).foreach(n => dueNs(n) = dueOf(n))
    nextChangeNs = dueOf(curHead + 1)
    dueOf(liveH0 + 1)
  }

  private def dueOf(n: Long): Long =
    liveT0 + ((n - liveH0) / liveRate * 1e9).toLong

  private def advance(now: Long): Unit =
    if (now >= nextChangeNs) synchronized {
      while (curHead < liveEnd && dueOf(curHead + 1) <= now) {
        curHead += 1
        if (reorgEvery > 0 && (curHead - liveH0) % reorgEvery == 0 && curHead > 0) {
          val h = curHead - 1
          versions(h) = versions.getOrElse(h, 0) + 1
          log += h
          logSnapshot = log.toVector
        }
      }
      nextChangeNs = if (curHead < liveEnd) dueOf(curHead + 1) else Long.MaxValue
    }

  def head(): Long = { advance(System.nanoTime()); synchronized(curHead) }
  def reorgs(): IndexedSeq[Long] = { advance(System.nanoTime()); logSnapshot }
  def version(n: Long): Int = synchronized(versions.getOrElse(n, 0))
  def due(n: Long): Long = synchronized(dueNs(n))
  def lastDue: Long = synchronized(if (liveEnd >= 0) dueOf(liveEnd) else dueNs(curHead))
  def finalHead: Long = synchronized(math.max(curHead, liveEnd))
  def reorged: Seq[Long] = synchronized(log.distinct.toSeq)

  /** Highest height whose replacement window has closed `allowanceNs`
    * ago: its block and its child are both older than the allowance, so
    * no later reorg touches it and the stream has had the allowance to
    * store it. */
  def settledHead(now: Long, allowanceNs: Long): Long = {
    advance(now)
    synchronized(settledBelow(now, allowanceNs))
  }

  private def settledBelow(now: Long, allowanceNs: Long): Long = {
    var h = curHead - 1
    while (h >= 0 && dueNs(h + 1) > now - allowanceNs) h -= 1
    h
  }

  /** Current content of block n. */
  def current(n: Long): PackedBlock = block(n, version(n))

  // ---- fetch accounting (the connector seam) -------------------------------

  val fetchCalls = new LongAdder
  val fetchNanos = new ConcurrentLinkedQueue[java.lang.Long]()
  val fetchedNumbers: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet()

  def fetch(n: Long): Option[PackedBlock] = {
    val t0 = System.nanoTime()
    advance(t0)
    val b = current(n)
    fetchCalls.increment()
    fetchedNumbers.add(n)
    fetchNanos.add(System.nanoTime() - t0)
    Some(b)
  }

  /** Digest of every block's and transaction's identity up to `h`. */
  def digest(h: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    (0L to h).foreach { n =>
      val p = current(n)
      md.update(p.block.hash.getBytes(UTF_8))
      p.transactions.foreach { t =>
        md.update(t.tx.hash.getBytes(UTF_8)); md.update(t.tx.from.getBytes(UTF_8))
        t.events.foreach(e => md.update(e.origin.getBytes(UTF_8)))
      }
    }
    hex(md.digest(), 32)
  }
}

/** Where the stream's fetcher finds the chain of the running deployment:
  * the fetcher is built by class name with no arguments, and in a
  * `local[n]` session its serialized copies run in the same JVM. */
object Chain {
  @volatile var active: ChainModel = _
}

/** The benchmark's connector, selected through the `Fetcher` config key. */
class BenchFetcher extends BlockFetcher {
  override def head(): Long = Chain.active.head()
  override def fetchBlock(n: Long): Option[PackedBlock] = Chain.active.fetch(n)
  override def reorgs(): IndexedSeq[Long] = Chain.active.reorgs()
}
