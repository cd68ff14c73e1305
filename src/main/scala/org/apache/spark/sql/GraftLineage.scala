package org.apache.spark.sql

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/**
 * Iterative-lineage cut for superstep loops (SURVEY.md §7.4.1).
 *
 * `Dataset.localCheckpoint` in Spark 4.1 rewrites plan STATISTICS onto
 * the produced `LogicalRDD` (`LogicalRDD.rewriteStatsAndConstraints`,
 * sql/execution/ExistingRDD.scala). Size-only join stats are the
 * PRODUCT of children's sizeInBytes, so when iteration k's plan
 * references iteration k-1's LogicalRDD more than once (state joined
 * for both update and delta), the BigInt digit count DOUBLES per
 * iteration — after ~30 supersteps the driver spends minutes inside
 * `BigInteger.multiply` (observed via jstack in this repo's bench).
 *
 * This shim materializes the plan like localCheckpoint (persisted
 * InternalRow RDD, eager) but builds the LogicalRDD with
 * `originStats = None`, so each iteration's stats fall back to
 * `defaultSizeInBytes` and stay O(1). Unlike localCheckpoint it DOES
 * preserve hash output partitioning (rewritten onto the analyzed
 * output attributes), so a state table that ends an iteration
 * clustered by `id` starts the next iteration's gather join without a
 * fresh Exchange — the Spark analogue of Gemini keeping vertex state
 * NUMA-resident across supersteps (core/graph.hpp:227-236).
 *
 * Lives in `org.apache.spark.sql` solely for `private[sql]` access to
 * `Dataset.ofRows`; uses only public Spark source APIs, no reflection.
 */
object GraftLineage {

  /** Materialize `df` (persisted) and return a plan-truncated,
   * stats-free DataFrame. The backing RDD is freed by the
   * ContextCleaner once the returned Dataset becomes unreachable. */
  def cut(df: DataFrame): DataFrame = cutCounted(df)._1

  /** [[cut]] that also returns the materialized row count — the
   * eager materialization is a count() anyway, so frontier loops that
   * need the active count (every frontier algorithm does) get it for
   * free instead of paying a second job per superstep. */
  def cutCounted(df: DataFrame): (DataFrame, Long) = materialize(df)(_.count())

  /** [[cut]] that also sums a double column during the materialization
   * pass — one job instead of cut + aggregate. PageRank's
   * per-iteration delta (the reference's Allreduce,
   * core/graph.hpp:1856-1858) rides the state materialization. */
  def cutSummed(df: DataFrame, sumCol: String): (DataFrame, Double) = {
    val idx = indexOf(df, sumCol)
    materialize(df)(_.aggregate(0.0)((acc, row) => acc + row.getDouble(idx), _ + _))
  }

  /** [[cut]] that also returns the maximum of a nonnegative long
   * column (0 for no rows), in the same single job. */
  def cutMax(df: DataFrame, maxCol: String): (DataFrame, Long) = {
    val idx = indexOf(df, maxCol)
    materialize(df)(_.aggregate(0L)(
      (m, row) => if (row.isNullAt(idx)) m else math.max(m, row.getLong(idx)),
      math.max))
  }

  /** [[cut]] of a resident state that flags its active rows: also
   * returns the active row count, from the same single job. */
  def cutActive(df: DataFrame, activeCol: String): (DataFrame, Long) = {
    val a = indexOf(df, activeCol)
    materialize(df)(_.aggregate(0L)(
      (n, row) => if (row.isNullAt(a) || !row.getBoolean(a)) n else n + 1,
      _ + _))
  }

  /** [[cut]] that also counts rows per bucket: `bucketCol` is an int
   * column in `[0, numBuckets)`, and slot b of the returned array holds
   * the number of rows in bucket b, from the same single job. The
   * vertex dictionary prefix-sums these sizes into its id offsets. */
  def cutBucketSizes(df: DataFrame, bucketCol: String, numBuckets: Int): (DataFrame, Array[Long]) = {
    val b = indexOf(df, bucketCol)
    materialize(df)(_.aggregate(new Array[Long](numBuckets))(
      (acc, row) => { acc(row.getInt(b)) += 1; acc },
      (x, y) => { x.indices.foreach(i => x(i) += y(i)); x }))
  }

  private def indexOf(df: DataFrame, name: String): Int = {
    val idx = df.columns.indexOf(name)
    require(idx >= 0, s"column $name not found")
    idx
  }

  /** The one materialization body behind every cut: persist the rows,
   * sever their lineage, run `action` over them as the eager job, and
   * wrap them in a stats-free `LogicalRDD`. `action` must be an RDD
   * ACTION (count, aggregate) so its result is exactly-once under task
   * retries — an accumulator inside the map would double-count retried
   * tasks and could shift a loop's stopping iteration. */
  private def materialize[T](df: DataFrame)(action: RDD[InternalRow] => T): (DataFrame, T) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    // toRdd reuses UnsafeRow buffers per partition — copy before caching
    val rows = qe.toRdd.map(_.copy())
    rows.persist(StorageLevel.MEMORY_AND_DISK)
    // Sever the RDD dependency chain too: preserved partitioning means
    // no Exchange between iterations, so without this every superstep's
    // narrow lineage fuses into ONE stage whose task binary grows until
    // task deserialization StackOverflows (observed at ~60 supersteps).
    rows.localCheckpoint()
    val result = action(rows) // eager — materializes, truncates, finalizes AQE plan
    val plan = LogicalRDD(
      qe.analyzed.output, rows,
      rewrittenPartitioning(qe), Nil, isStreaming = false, stream = None)(
      spark, originStats = None, originConstraints = None)
    (classic.Dataset.ofRows(spark, plan), result)
  }

  /** Explicitly unpersist the RDD behind a [[cut]] DataFrame (no-op for
   * anything else). The ContextCleaner would get there eventually via
   * GC, but superstep loops allocate one cached state per iteration —
   * relying on GC lets dozens of dead states pile up and evict live
   * cache under memory pressure (observed: 6× CC slowdown when run
   * after 40 PageRank iterations in one session). */
  def free(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Final physical outputPartitioning, with its attribute references
   * rewritten from the optimized plan's output ids to the analyzed
   * plan's (the ids a consumer of the new LogicalRDD will see). A
   * `PartitioningCollection` (a projection that aliases its key, e.g.
   * `select(id, id AS lbl)`, reports one) keeps every hash member whose
   * references survive into the output. Anything else is recorded as
   * UnknownPartitioning — never wrong results, but the consumer
   * then re-shuffles this table, and a loop that cuts its state every
   * superstep pays that exchange every superstep. */
  private def rewrittenPartitioning(
      qe: execution.QueryExecution): Partitioning = {
    try {
      val physical = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      val outIds = qe.analyzed.output.map(_.exprId).toSet
      LogicalRDD.buildOutputAssocForRewrite(qe.optimizedPlan.output, qe.analyzed.output)
        .flatMap { assoc =>
          def rewrite(p: Partitioning): Option[Partitioning] = p match {
            case hp: HashPartitioning =>
              val rewritten = hp.expressions.map(_.transform {
                case a: Attribute => assoc.getOrElse(a, a)
              })
              val ok = rewritten.forall(_.references.forall(r => outIds.contains(r.exprId)))
              if (ok) Some(HashPartitioning(rewritten, hp.numPartitions)) else None
            case pc: PartitioningCollection =>
              pc.partitionings.flatMap(rewrite) match {
                case Seq() => None
                case Seq(one) => Some(one)
                case kept => Some(PartitioningCollection(kept))
              }
            case _ => None
          }
          rewrite(physical.outputPartitioning)
        }
        .getOrElse(UnknownPartitioning(0))
    } catch { case NonFatal(_) => UnknownPartitioning(0) }
  }
}
