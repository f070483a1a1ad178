package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Front door for the engine as a library.
  *
  * A user of the reference system interacts with: upload data, submit a
  * named pipeline, poll status, list/download results
  * (SURVEY.md §2-A). The Spark-native equivalents, one call each:
  *
  * {{{
  * val spark  = Graft.session()                    // tuned local session
  * val lake   = graft.io.LakeIO                    // ingest/list/write
  * Graft.run(spark, "q1_pricing_summary", sfDir, outDir)  // submit
  * val status = Graft.listener(spark).status("q1_pricing_summary")
  * }}}
  */
object Graft {

  /** Opinionated session: AQE on (runtime re-planning + skew-join
    * splitting), shuffle partitions sized to cores (not 200), UTC, and
    * the engine's native functions registered. On a cluster, pass the
    * same settings via spark-submit conf plus
    * `spark.sql.extensions=graft.functions.GraftExtensions` and
    * `spark.sql.codegen.cache.maxEntries=1000` (see [[Engine]]). The
    * codegen cache size is a static conf read once per JVM, so it only
    * takes effect when set before the first session is created.
    */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
              shufflePartitions: Option[Int] = None): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Engine.builder(master, shufflePartitions.getOrElse(cores))
      .appName("graft").getOrCreate()
    functions.GraftFunctions.register(spark)
    spark
  }

  /** Submit a registered pipeline by name (unknown name → error, the
    * reference's dag_id-extraction-failure analog) and write its result
    * to the lake.
    */
  def run(spark: SparkSession, pipeline: String, sfDir: String,
          outDir: String): Unit =
    control.PipelineRegistry.submit(spark, pipeline, sfDir, outDir)

  /** Evaluate a registered pipeline lazily (no side effects). */
  def plan(spark: SparkSession, pipeline: String, sfDir: String): DataFrame =
    control.PipelineRegistry.resolve(pipeline)(spark, sfDir)

  /** Install + return the push-based status tracker. */
  def listener(spark: SparkSession): control.StatusListener =
    control.StatusListener.install(spark)

  /** All registered pipelines (the engine's "DAG catalog"). */
  def pipelines: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
}
