package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge into `private[sql]` Column ↔ Catalyst-Expression converters.
  *
  * Spark 4 unified [[Column]] around `ColumnNode`, hiding the classic
  * expression accessors behind `private[sql]`. Extension libraries that
  * define native Catalyst expressions (we do: `graft.functions.Crc32Q`)
  * need exactly these two conversions, so this one-file shim lives in the
  * `org.apache.spark.sql` package to regain access. No Spark internals are
  * modified.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `localCheckpoint()` that DROPS the origin plan's estimated statistics.
    *
    * `Dataset.localCheckpoint` wraps the materialized RDD in a
    * [[execution.LogicalRDD]] carrying `originStats` — the size estimate
    * of the plan it replaced, which for a join is the PRODUCT of its
    * children's estimates. An iterative algorithm that self-joins its own
    * checkpointed state (pointer-jumping connected components, Borůvka
    * contraction) therefore SQUARES the carried `sizeInBytes` every
    * round: the estimate is a `BigInt` whose digit count doubles per
    * iteration, and by ~iteration 20 the driver hangs inside
    * `BigInteger.multiply` (Karatsuba/Toom-Cook on million-digit numbers)
    * while merely *constructing* the next checkpoint. Re-wrapping the
    * already-materialized RDD with `originStats = None` resets the
    * estimate to the session default each round — the fixpoint state is
    * shuffle-joined anyway, so no broadcast decision is lost. */
  def localCheckpointFreshStats(df: Dataset[Row]): Dataset[Row] = {
    val ck = df.localCheckpoint()
    ck.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          new execution.LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(session, None, None))
      case _ => ck
    }
  }

  /** [[localCheckpointFreshStats]] that also RETURNS the row count.
    *
    * `Dataset.localCheckpoint(eager = true)` materializes the RDD by
    * running `rdd.count()` internally — and throws the number away. Every
    * iterative-fixpoint operator then pays a SECOND driver job just to ask
    * `isEmpty` (or a third for `count()`) on data the checkpoint job
    * already walked. On a contended driver each job is fixed scheduling
    * latency multiplied by the round count, so folding the emptiness /
    * cardinality probe into the materialization halves (or thirds) the
    * per-round action count — the BFS / Borůvka / SCC / closeness loops
    * all converge on this. Mirrors `Dataset.checkpoint`'s body: execute
    * the physical plan once, copy rows (unsafe-row buffers are reused),
    * mark the RDD for local checkpointing, count (which materializes),
    * then wrap the RDD via `LogicalRDD.fromDataset` rebuilt WITHOUT
    * `originStats` (see above for why carried stats compound). */
  def localCheckpointFreshStatsCounted(df: Dataset[Row]): (Dataset[Row], Long) = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val session = cdf.sparkSession
    val internalRdd = cdf.queryExecution.executedPlan.execute().map(_.copy())
    internalRdd.localCheckpoint()
    val n = internalRdd.count()
    val lr = execution.LogicalRDD.fromDataset(internalRdd, cdf,
      isStreaming = false)
    val fresh = new execution.LogicalRDD(lr.output, lr.rdd,
      lr.outputPartitioning, lr.outputOrdering, lr.isStreaming, lr.stream)(
      session, None, None)
    (classic.Dataset.ofRows(session, fresh), n)
  }

  /** Block until every listener has processed every event posted so far
    * (`listenerBus` is `private[spark]`): a reader of listener-built
    * counters, such as [[graft.Profile]], sees complete numbers. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The `QueryExecution` an execution-end event carries (`qe` is
    * `private[sql]`), whose planning tracker times the query's phases. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
