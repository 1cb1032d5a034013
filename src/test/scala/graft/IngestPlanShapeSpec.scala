package graft

import graft.PlanShape.{nodes, pushes}
import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, IngestConfig}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec,
  SortAggregateExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Plan shapes of one batch-mode [[CdcIngestJob.replayBatch]], captured
  * with a QueryExecutionListener (listeners fire for batch-mode actions;
  * inside a streaming `foreachBatch` they would not):
  *  - the keyed stats scan's `_woff` aggregate is a codegen'd
  *    HashAggregate with a partial stage — max over the DECIMAL offset
  *    encoding, not the struct, which would plan a SortAggregate — and the
  *    watched db/table filter reaches the feed scan's PushedFilters;
  *  - the DDL fetch runs only when the batch carries DDLs, and pushes
  *    `op = 'DDL'` to the scan so row-group stats prune it;
  *  - the merge write holds no aggregate, and its one shuffle besides the
  *    winner broadcast is the bucket repartition. */
class IngestPlanShapeSpec extends SparkSuite with Eventually {

  /** The queries `body` runs, in order. Listener events arrive on one
    * queue in posting order, so once a marker query run after `body` has
    * been seen, so have all of `body`'s. */
  private def captured(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = s"plan-capture-${java.util.UUID.randomUUID()}"
    def isMarker(qe: QueryExecution) = qe.logical.toString.contains(marker)
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(marker)).collect()
      eventually(timeout(60.seconds), interval(20.millis)) {
        assert(seen.asScala.exists(isMarker))
      }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.filterNot(isMarker)
  }

  /** The queries of one replay of a fresh 2,000-event feed into a fresh
    * 8-bucket lake (one batch, one write). */
  private def replayQueries(name: String, cfg: FeedConfig): Seq[QueryExecution] = {
    val feed = tmp(s"feed-$name")
    BinlogFeedGen.writeFeed(spark, cfg, feed)
    captured {
      CdcIngestJob.replayBatch(spark,
        IngestConfig(feed, tmp(s"lake-$name"), tmp(s"cp-$name"), nBuckets = 8))
    }
  }

  private val feedCfg = FeedConfig(nEvents = 2000, nKeys = 150, eventsPerFile = 500)
  private lazy val ddlFree = replayQueries("plain", feedCfg)

  /** Whether `qe` is a DDL fetch: a scan pushing `op = 'DDL'`. */
  private def isDdlFetch(qe: QueryExecution): Boolean =
    nodes(qe.executedPlan).exists {
      case s: FileSourceScanExec => pushes(s, sources.EqualTo("op", "DDL"))
      case _ => false
    }

  test("the keyed stats scan's _woff aggregate is a HashAggregate with a " +
    "partial stage, and the watched-table filter is pushed to the feed scan") {
    val all = ddlFree.flatMap(qe => nodes(qe.executedPlan))
    assert(!all.exists(_.isInstanceOf[SortAggregateExec]),
      ddlFree.map(_.executedPlan).mkString("\n"))
    val woff = all.collect {
      case a: BaseAggregateExec if a.output.exists(_.name == "_woff") => a
    }
    // the cached `keyed` relation's aggregate, seen from each query over it
    assert(woff.nonEmpty, ddlFree.map(_.executedPlan).mkString("\n"))
    woff.foreach { a =>
      assert(a.isInstanceOf[HashAggregateExec], a)
      val partial = nodes(a).collect {
        case h: HashAggregateExec
          if h.aggregateExpressions.exists(_.mode == Partial) => h
      }
      assert(partial.nonEmpty, s"no partial stage under $a")
      val scans = nodes(a).collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall { s =>
        pushes(s, sources.EqualTo("db", BinlogFeedGen.WatchedDb)) &&
          pushes(s, sources.EqualTo("table", BinlogFeedGen.WatchedTable))
      }, scans.map(_.metadata("PushedFilters")).mkString("; "))
    }
  }

  test("a DDL-free batch runs no DDL fetch; a batch with DDLs runs exactly " +
    "one, pushing op = 'DDL' to its scan") {
    assert(!ddlFree.exists(isDdlFetch))
    val evolving = replayQueries("ddl",
      feedCfg.copy(ddlAt = BinlogFeedGen.evolutionDdls(feedCfg.nEvents)))
    assert(evolving.count(isDdlFetch) == 1,
      evolving.map(_.executedPlan).mkString("\n"))
  }

  test("the merge write plans no aggregate and one shuffle, the bucket " +
    "repartition, besides the winner broadcast") {
    val writes = ddlFree.filter(qe =>
      PlanShape.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
    assert(writes.size == 1, ddlFree.map(_.executedPlan).mkString("\n"))
    val write = writes.head.executedPlan
    val ops = PlanShape.collect(write) { case n => n }
    assert(!ops.exists(_.isInstanceOf[BaseAggregateExec]), write)
    val shuffles = ops.collect { case s: ShuffleExchangeExec => s.outputPartitioning }
    assert(shuffles.size == 1, write)
    shuffles.head match {
      case HashPartitioning(Seq(key), _) =>
        assert(key.references.map(_.name).toSeq == Seq("_bucket"), write)
      case p => fail(s"the write's shuffle is $p, not the bucket repartition")
    }
    assert(ops.count(_.isInstanceOf[BroadcastExchangeExec]) == 1, write)
  }
}
