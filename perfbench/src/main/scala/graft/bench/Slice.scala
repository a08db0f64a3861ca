package graft.bench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** A fixed slice of `SparkEntry.queries`. Each name is in or out by a hash
  * of (slice key, name) alone, so adding or removing other queries never
  * changes the membership of the rest. */
object Slice {
  val Key = "graft-slice-1"
  val Share = 24.0 / 254.0

  def member(name: String): Boolean =
    (MurmurHash3.stringHash(s"$Key:$name") & 0x7fffffffL) < (Share * 0x80000000L)

  def names: Seq[String] = SparkEntry.queries.keys.filter(member).toSeq.sorted

  /** One timed query: build the frame, then materialize every output row
    * of its unmodified plan, as the board does. Returns (build s, total s,
    * planning ms from the query's phase tracker). */
  final case class Timing(buildS: Double, totalS: Double, planMs: Double)

  def run(spark: SparkSession, tracer: Tracer, name: String, dir: String, runId: String): Timing =
    tracer.span("query", name, runId) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val df: DataFrame = tracer.span("query.build", name, runId)(fn(spark, dir))
      val t1 = System.nanoTime()
      if (tracer.enabled) tracer.span("query.plan", name, runId)(df.queryExecution.executedPlan)
      tracer.span("query.exec", name, runId)(df.queryExecution.toRdd.count())
      val t2 = System.nanoTime()
      val planMs = df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum
      Timing((t1 - t0) / 1e9, (t2 - t0) / 1e9, planMs)
    }
}
