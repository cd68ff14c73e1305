package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession + toy-graph helpers for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def numPartitions = 4

  /** Key for vertex index i, zero-padded so key order == index order. */
  def keyOf(i: Int): String = f"v$i%04d"

  /** Build a LinkGraph from directed integer edge pairs. */
  def graphOf(
      pairs: Seq[(Int, Int)],
      symmetric: Boolean,
      weights: Map[(Int, Int), Double] = Map.empty): LinkGraph = {
    import spark.implicits._
    val keyEdges = pairs
      .map { case (a, b) =>
        (keyOf(a), keyOf(b), "adj", weights.getOrElse((a, b), 1.0)) }
      .toDF("src_key", "dst_key", "kind", "weight")
    LinkGraph.fromKeyEdges(keyEdges, symmetric, numPartitions)
  }

  /** id → original integer index, via the zero-padded key. */
  def indexOf(g: LinkGraph): Map[Long, Int] =
    g.vertices.collect().map(r => r.getLong(0) -> r.getString(1).drop(1).toInt).toMap

  /** (id, value) DataFrame → Map[index, value]. */
  def byIndex[T](g: LinkGraph, df: DataFrame, col2: String): Map[Int, Any] = {
    val idx = indexOf(g)
    df.select(col("id"), col(col2)).collect()
      .map(r => idx(r.getLong(0)) -> r.get(1)).toMap
  }

  /** Simulate a kill after the first checkpoint: delete every
   * `iter=K` directory under `dir` but the oldest, and return its K. */
  def keepFirstCheckpoint(dir: String): Int = {
    val iters = new java.io.File(dir).listFiles().toSeq
      .flatMap(f => "iter=(\\d+)".r.unapplySeq(f.getName).map(g => g.head.toInt -> f))
      .sortBy(_._1)
    assert(iters.size > 1, s"need more than one checkpoint under $dir")
    iters.tail.foreach { case (_, f) =>
      java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    iters.head._1
  }

  /** Spark jobs started while `body` runs, each delivered event counted. */
  def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Bench.builder("local[4]", "graft-test", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
