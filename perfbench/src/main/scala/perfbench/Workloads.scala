package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Graft
import graft.io.LakeIO
import graft.ops.CacheScope

/** One pipeline call's outcome. `error` is empty when the pipeline
  * returned, its status was good and its output matched. */
final case class Sample(pipeline: String, latencyS: Double, cpuS: Double,
    error: String = "") {
  def ok: Boolean = error.isEmpty
}

/** What a pass needs from the run. `trace` is None in untraced passes. */
final class Ctx(val spark: SparkSession, val sfDir: String, val work: Path,
    val expected: Map[String, Fingerprint], val trace: Option[Tracer],
    val running: AtomicInteger) {
  private var ids = 0
  private var dirs = 0
  /** Parquet files the lake listings found. */
  var outputFiles = 0L
  /** Disk memos (`CacheScope.memoizedDisk` sidecars) the passes built. */
  var diskMemos = 0L

  def nextPipelineId(): Int = { ids += 1; ids }

  def freshDir(prefix: String): Path = {
    dirs += 1
    Files.createDirectories(work.resolve(s"$prefix-$dirs"))
  }

  /** A client-side span around `body` (a plain call when untraced). */
  def span[T](name: String, parent: Int, pipeline: Int)(body: Int => T): T =
    trace match {
      case Some(t) => t.span(name, parent, pipeline)(body)
      case None => body(parent)
    }

  def check(name: String, got: Fingerprint, what: String): String =
    expected.get(name) match {
      case None => s"no expected fingerprint for $name"
      case Some(want) if want != got => s"$what fingerprint $got != $want"
      case _ => ""
    }
}

/** A workload: a fixed list of registered pipelines, and how one pass over
  * them (in a seed-chosen order) is run. */
sealed trait Workload {
  def name: String
  def pipelines: Seq[String]

  /** Seconds per pass on a 4-core host, the cold first pass and warm later
    * ones averaged: a run of `--seconds s` makes round(s / nominalPassS)
    * passes, at least one. */
  def nominalPassS: Double

  /** Run every pipeline once, in `order`. */
  def pass(ctx: Ctx, order: Seq[String]): Seq[Sample]

  /** Time one pipeline call: wall from the call until the result is ready
    * (and checked), process CPU over the same interval. */
  protected def timed(ctx: Ctx, name: String)(
      body: (Int, Int) => String): Sample = {
    val pid = ctx.nextPipelineId()
    ctx.running.set(pid)
    val tag = s"perfbench-p$pid"
    ctx.spark.addTag(tag)
    val cpu0 = Host.processCpuNs
    val t0 = System.nanoTime()
    val error =
      try ctx.span("pipeline", -1, pid)(root => body(pid, root))
      catch { case NonFatal(e) =>
        s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      finally ctx.spark.removeTag(tag)
    Sample(name, (System.nanoTime() - t0) / 1e9,
      (Host.processCpuNs - cpu0) / 1e9, error)
  }

  /** Build the pipeline's DataFrame and run it into the fingerprinting
    * sink, under a per-pipeline persist scope. */
  protected def sinkOne(ctx: Ctx, name: String): Sample =
    timed(ctx, name) { (pid, root) =>
      CacheScope.scoped {
        val df = ctx.span("pipeline.fn", root, pid) { _ =>
          Graft.plan(ctx.spark, name, ctx.sfDir) }
        val fp = ctx.span("sink", root, pid) { _ =>
          Fingerprint.execute(df, s"perfbench.sink.$name") }
        ctx.check(name, fp, "output")
      }
    }
}

object Workloads {

  /** Per-pipeline fixed cost: cheap TPC-H, window, set-operation and SQL
    * pipelines through the sink, no shared memo. */
  case object Short extends Workload {
    val name = "short"
    val nominalPassS = 10.0
    val pipelines = Seq(
      "q3_shipping_priority", "q6_forecast_revenue", "q14_promo_revenue",
      "q19_disc_revenue",
      "q_window_range_frame", "q_window_rank", "q_window_running",
      "q_set_except_all", "q_set_intersect", "q_set_union_all",
      "q_sql_exists", "q_sql_lateral_explode", "q_sql_pivot",
      "q_sql_scalar_subquery")
    def pass(ctx: Ctx, order: Seq[String]): Seq[Sample] =
      order.map(sinkOne(ctx, _))
  }

  /** The reference's user loop over lake, ingest and merge pipelines,
    * AvailableNow stream replays and a dedup pair that shares a disk memo:
    * submit into a fresh lake, check status, list, read back. One memo
    * scope and one lake per pass. */
  case object Service extends Workload {
    val name = "service"
    val nominalPassS = 15.0
    val pipelines = Seq(
      "q_lake_listing_pinned", "q_lake_footer_count", "q_lake_zorder",
      "q_ingest_dispatch", "q_merge_scd2", "q_stream_cep",
      "q_stream_observed", "q_dedup_minhash", "q_dedup_incremental")
    def pass(ctx: Ctx, order: Seq[String]): Seq[Sample] = {
      val lake = ctx.freshDir("lake")
      // one status listener per pass: each name is submitted once per pass,
      // so a status read never sees a previous pass's terminal state
      val status = Graft.listener(ctx.spark)
      val memo = ctx.freshDir("memo")
      try CacheScope.sharedScopeWithScratch(memo.toString) {
        val samples = order.map(n => submitOne(ctx, n, lake.toString, status))
        ctx.diskMemos += Host.entries(memo).size
        samples
      } finally {
        ctx.spark.sparkContext.removeSparkListener(status)
        Host.deleteRecursively(lake)
      }
    }

    private def submitOne(ctx: Ctx, name: String, lake: String,
        status: graft.control.StatusListener): Sample =
      timed(ctx, name) { (pid, root) =>
        CacheScope.scoped {
          ctx.span("control.submit", root, pid) { _ =>
            Graft.run(ctx.spark, name, ctx.sfDir, lake) }
          val st = ctx.span("control.status", root, pid) { _ =>
            awaitTerminal(status, name) }
          val parts = ctx.span("io.list", root, pid) { _ =>
            LakeIO.listing(ctx.spark, s"$lake/$name").collect()
              .map(r => (r.getString(0), r.getLong(1)))
              .filter(_._1.endsWith(".parquet")).toSeq
          }
          ctx.outputFiles += parts.size
          ctx.span("io.readback", root, pid) { _ =>
            if (st != "success") s"status $st"
            else if (parts.isEmpty) "no parquet parts listed"
            else {
              val back = ctx.spark.read.parquet(
                parts.map(p => s"$lake/$name/${p._1}"): _*)
              ctx.check(name, Fingerprint.execute(back,
                s"perfbench.readback.$name"), "read-back")
            }
          }
        }
      }

    /** Poll the push-based tracker until the pipeline's state is terminal:
      * listener events arrive asynchronously after `Graft.run` returns. */
    private def awaitTerminal(status: graft.control.StatusListener,
        name: String): String = {
      val deadline = System.nanoTime() + 10000000000L
      var st = status.status(name)
      while (!st.exists(Set("success", "failed")) &&
          System.nanoTime() < deadline) {
        Thread.sleep(1)
        st = status.status(name)
      }
      st.getOrElse("none")
    }
  }

  val all: Seq[Workload] = Seq(Short, Service)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}
