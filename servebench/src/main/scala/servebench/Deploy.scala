package servebench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.Serve
import graft.api.{QueryService, RestServer, WsServer}
import graft.ingest.BlockStore
import graft.schema.Schemas
import graft.streaming.{ChainSimSource, IngestJob}

/** A running deployment, booted either by `Serve.run` itself or by the
  * traced composition of the same tiers. */
trait Deployment {
  def restPort: Int
  def wsPort: Int
  def query: StreamingQuery
  def job: IngestJob
  def storeRoot: String
  def stop(): Unit
}

object Deploy {

  def config(root: String, confirmations: Long): Serve.Config = Serve.Config(
    port = 0, wsPort = 0, blockConfirmations = confirmations, storeRoot = root,
    fetcherOverride = classOf[BenchFetcher].getName)

  /** The deployment a user runs: `Serve.run`, untouched. */
  def serve(spark: SparkSession, cfg: Serve.Config): Deployment = {
    val r = Serve.run(spark, cfg)
    new Deployment {
      def restPort = r.restPort
      def wsPort = r.wsPort
      def query = r.query
      def job = r.job
      def storeRoot = s"${cfg.storeRoot}/store"
      def stop() = r.stop()
    }
  }

  /** `Serve.run`, step for step, with timed tiers: every span lands in
    * `tr`. Kept in lockstep with `Serve.run`; the parity check in traced
    * runs compares the two compositions' notifications and answers. */
  def traced(spark: SparkSession, cfg: Serve.Config, tr: Tracer): Deployment = {
    val store = new TimedStore(spark, s"${cfg.storeRoot}/store", tr)
    val fanout = new WsServer(cfg.wsPort)
    fanout.start()
    val ingest = new TimedJob(spark, store, cfg.blockConfirmations,
      df => tr.span("streaming.publish")(fanout.publish(df)), tr)

    val startCount = store.view("blocks").count()
    val startedAtNanos = System.nanoTime()
    val inserted = new AtomicLong(0L)

    val stream = spark.readStream
      .format(classOf[ChainSimSource].getName)
      .option("blocksPerBatch", cfg.sliceBlocks.toString)
      .option("maxNumber", cfg.maxNumber.toString)
      .option("fetcher", cfg.fetcherOption)
      .load()
      .select(from_json(col("value"), Schemas.packedBlock).as("p"))
      .select("p.*")
    val q = ingest.start(stream, s"${cfg.storeRoot}/checkpoint")

    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == q.id) {
          val m = e.progress.observedMetrics.get("ingest")
          if (m != null && !m.isNullAt(m.fieldIndex("blocks_processed")))
            inserted.addAndGet(m.getAs[Long]("blocks_processed"))
        }
    }
    spark.streams.addListener(listener)

    val service = new TimedQueryService(store, cfg.blockRange, cfg.timeRange, tr)
    def status(): RestServer.SyncStatus = {
      val latest = ingest.latest.get()
      val count = startCount + inserted.get()
      RestServer.SyncStatus(latestBlockNumber = latest, blockCountInDB = count,
        processed = inserted.get(), elapsedSeconds = (System.nanoTime() - startedAtNanos) / 1e9,
        state = if (latest >= 0 && count >= latest + 1) "synced" else "syncing")
    }
    val rest = new RestServer(service, () => status(), cfg.port)
    rest.start()

    new Deployment {
      def restPort = rest.boundPort
      def wsPort = fanout.boundPort
      def query = q
      def job = ingest
      def storeRoot = store.root
      private var stopped = false
      def stop() = synchronized {
        if (!stopped) {
          stopped = true
          try q.stop() catch { case scala.util.control.NonFatal(_) => () }
          spark.streams.removeListener(listener)
          rest.stop()
          fanout.stop()
        }
      }
    }
  }
}

final class TimedStore(spark: SparkSession, root: String, tr: Tracer) extends BlockStore(spark, root) {
  override def storeBatch(packed: DataFrame, batchId: Long): Unit =
    tr.span("ingest.store_batch")(super.storeBatch(packed, batchId))
  override def promote(latest: Long, confirmations: Long): Long =
    tr.span("ingest.promote")(super.promote(latest, confirmations))
  override def view(table: String): DataFrame =
    tr.span("ingest.view")(super.view(table))
}

final class TimedJob(spark: SparkSession, store: BlockStore, confirmations: Long,
    onPublish: DataFrame => Unit, tr: Tracer)
    extends IngestJob(spark, store, confirmations, onPublish) {
  override def processBatch(packed: DataFrame, batchId: Long): Unit =
    tr.span("ingest.process_batch")(super.processBatch(packed, batchId))
}

/** Every `QueryService` method timed as an `api.query.<method>` span; the
  * by-name tables resolve through the timed store's `view`. */
final class TimedQueryService(store: BlockStore, blockRange: Long, timeRange: Long, tr: Tracer)
    extends QueryService(store.view("blocks"), store.view("transactions"), store.view("events"),
      maxBlockRange = blockRange, maxTimeRange = timeRange) {
  private def t[T](name: String)(body: => T): T = tr.span(s"api.query.$name")(body)
  type R = Either[String, DataFrame]

  override def blockByHash(hash: String): R = t("blockByHash")(super.blockByHash(hash))
  override def blockByNumber(number: Long): R = t("blockByNumber")(super.blockByNumber(number))
  override def blocksByNumberRange(from: Long, to: Long): R =
    t("blocksByNumberRange")(super.blocksByNumberRange(from, to))
  override def blocksByTimeRange(from: Long, to: Long): R =
    t("blocksByTimeRange")(super.blocksByTimeRange(from, to))
  override def transactionByHash(hash: String): R =
    t("transactionByHash")(super.transactionByHash(hash))
  override def transactionsByBlockHash(hash: String): R =
    t("transactionsByBlockHash")(super.transactionsByBlockHash(hash))
  override def transactionsByBlockNumber(number: Long): R =
    t("transactionsByBlockNumber")(super.transactionsByBlockNumber(number))
  override def transactionFromAccountWithNonce(from: String, nonce: Long): R =
    t("transactionFromAccountWithNonce")(super.transactionFromAccountWithNonce(from, nonce))
  override def transactionsFromAccountByNumberRange(from: String, lo: Long, hi: Long): R =
    t("transactionsFromAccountByNumberRange")(super.transactionsFromAccountByNumberRange(from, lo, hi))
  override def transactionsFromAccountByTimeRange(from: String, lo: Long, hi: Long): R =
    t("transactionsFromAccountByTimeRange")(super.transactionsFromAccountByTimeRange(from, lo, hi))
  override def transactionsToAccountByNumberRange(to: String, lo: Long, hi: Long): R =
    t("transactionsToAccountByNumberRange")(super.transactionsToAccountByNumberRange(to, lo, hi))
  override def transactionsToAccountByTimeRange(to: String, lo: Long, hi: Long): R =
    t("transactionsToAccountByTimeRange")(super.transactionsToAccountByTimeRange(to, lo, hi))
  override def transactionsBetweenAccountsByNumberRange(from: String, to: String, lo: Long, hi: Long): R =
    t("transactionsBetweenAccountsByNumberRange")(
      super.transactionsBetweenAccountsByNumberRange(from, to, lo, hi))
  override def transactionsBetweenAccountsByTimeRange(from: String, to: String, lo: Long, hi: Long): R =
    t("transactionsBetweenAccountsByTimeRange")(
      super.transactionsBetweenAccountsByTimeRange(from, to, lo, hi))
  override def contractCreationsFromAccount(from: String, lo: Long, hi: Long): R =
    t("contractCreationsFromAccount")(super.contractCreationsFromAccount(from, lo, hi))
  override def contractCreationsFromAccountByTimeRange(from: String, lo: Long, hi: Long): R =
    t("contractCreationsFromAccountByTimeRange")(
      super.contractCreationsFromAccountByTimeRange(from, lo, hi))
  override def blockCount(): DataFrame = t("blockCount")(super.blockCount())
  override def transactionCountByBlockHash(hash: String): R =
    t("transactionCountByBlockHash")(super.transactionCountByBlockHash(hash))
  override def transactionCountByBlockNumber(number: Long): R =
    t("transactionCountByBlockNumber")(super.transactionCountByBlockNumber(number))
  override def transactionCountFromAccountByNumberRange(from: String, lo: Long, hi: Long): R =
    t("transactionCountFromAccountByNumberRange")(
      super.transactionCountFromAccountByNumberRange(from, lo, hi))
  override def transactionCountFromAccountByTimeRange(from: String, lo: Long, hi: Long): R =
    t("transactionCountFromAccountByTimeRange")(
      super.transactionCountFromAccountByTimeRange(from, lo, hi))
  override def transactionCountToAccountByNumberRange(to: String, lo: Long, hi: Long): R =
    t("transactionCountToAccountByNumberRange")(
      super.transactionCountToAccountByNumberRange(to, lo, hi))
  override def transactionCountToAccountByTimeRange(to: String, lo: Long, hi: Long): R =
    t("transactionCountToAccountByTimeRange")(
      super.transactionCountToAccountByTimeRange(to, lo, hi))
  override def transactionCountBetweenAccountsByNumberRange(from: String, to: String,
      lo: Long, hi: Long): R =
    t("transactionCountBetweenAccountsByNumberRange")(
      super.transactionCountBetweenAccountsByNumberRange(from, to, lo, hi))
  override def transactionCountBetweenAccountsByTimeRange(from: String, to: String,
      lo: Long, hi: Long): R =
    t("transactionCountBetweenAccountsByTimeRange")(
      super.transactionCountBetweenAccountsByTimeRange(from, to, lo, hi))
  override def eventByBlockHashAndLogIndex(blockHash: String, logIndex: Long): R =
    t("eventByBlockHashAndLogIndex")(super.eventByBlockHashAndLogIndex(blockHash, logIndex))
  override def eventByBlockNumberAndLogIndex(number: Long, logIndex: Long): R =
    t("eventByBlockNumberAndLogIndex")(super.eventByBlockNumberAndLogIndex(number, logIndex))
  override def eventsFromContractByNumberRange(contract: String, lo: Long, hi: Long): R =
    t("eventsFromContractByNumberRange")(super.eventsFromContractByNumberRange(contract, lo, hi))
  override def eventsByBlockHash(hash: String): R =
    t("eventsByBlockHash")(super.eventsByBlockHash(hash))
  override def eventsByTransactionHash(hash: String): R =
    t("eventsByTransactionHash")(super.eventsByTransactionHash(hash))
  override def eventsFromContractByTimeRange(contract: String, lo: Long, hi: Long): R =
    t("eventsFromContractByTimeRange")(super.eventsFromContractByTimeRange(contract, lo, hi))
  override def eventsFromContractWithTopics(contract: String, lo: Long, hi: Long,
      topics: Map[Int, String]): R =
    t("eventsFromContractWithTopics")(super.eventsFromContractWithTopics(contract, lo, hi, topics))
  override def eventsFromContractWithTopicsByTimeRange(contract: String, lo: Long, hi: Long,
      topics: Map[Int, String]): R =
    t("eventsFromContractWithTopicsByTimeRange")(
      super.eventsFromContractWithTopicsByTimeRange(contract, lo, hi, topics))
  override def lastEventsFromContract(contract: String, k: Int): R =
    t("lastEventsFromContract")(super.lastEventsFromContract(contract, k))
  override def transactionsAsJson(df: DataFrame): DataFrame =
    t("transactionsAsJson")(super.transactionsAsJson(df))
  override def blocksAsJson(df: DataFrame): DataFrame = t("blocksAsJson")(super.blocksAsJson(df))
  override def eventsAsJson(df: DataFrame): DataFrame = t("eventsAsJson")(super.eventsAsJson(df))
}
