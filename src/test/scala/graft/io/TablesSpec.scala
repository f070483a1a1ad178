package graft.io

import graft.SparkTestBase
import org.apache.spark.graft.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Pins `Tables.events` against BOTH physical encodings the producer has
  * shipped for `events.ts` (TIMESTAMP(NANOS) historically, timestamp-micros
  * since 2026-08-13), so the next producer-side schema change fails ONE
  * named test with a message that says which physical type was observed —
  * instead of five integration suites at once (VERDICT r6 item 2).
  *
  * The fixtures live in test resources (`events_fixture/`), written with
  * the exact parquet logical types
  * (`Timestamp(timeUnit=nanoseconds|microseconds, isAdjustedToUTC=false)`).
  * The nanos fixture carries a 500 ns sub-microsecond tail so the
  * truncation contract (floor to micros, matching DuckDB's
  * TIMESTAMP_NS → TIMESTAMP cast) is actually observable.
  */
class TablesSpec extends SparkTestBase {

  private def res(name: String): String =
    getClass.getResource(s"/events_fixture/$name").getPath

  private def loaded(name: String) = {
    val df = Tables.eventsFrom(spark, res(name))
    val tsType = df.schema("ts").dataType
    assert(tsType == TimestampType,
      s"Tables.events must normalize ts to session-TZ TIMESTAMP; " +
        s"fixture $name produced $tsType — the producer likely shipped a " +
        s"new physical encoding that io/Tables.scala does not dispatch on")
    df
  }

  test("events loader: timestamp-micros encoding (current producer)") {
    val df = loaded("events_micros.parquet")
    assert(df.count() == 6)
    // row 3: base 2024-03-01T12:00:00Z + 3*37s + 3*113µs, exact under UTC
    val ts3 = df.filter(col("event_id") === 3)
      .select(unix_micros(col("ts"))).head().getLong(0)
    val expected = java.time.Instant.parse("2024-03-01T12:01:51Z")
      .getEpochSecond * 1000000L + 339L
    assert(ts3 == expected, s"micros must round-trip exactly, got $ts3")
  }

  test("events loader: TIMESTAMP(NANOS) encoding (historical producer)") {
    val df = loaded("events_nanos.parquet")
    assert(df.count() == 6)
    // the 500 ns tail must be FLOORED away (DuckDB-compatible truncation)
    val ts0 = df.filter(col("event_id") === 0)
      .select(unix_micros(col("ts"))).head().getLong(0)
    val expected = java.time.Instant.parse("2024-03-01T12:00:00Z")
      .getEpochSecond * 1000000L
    assert(ts0 == expected,
      s"nanos must truncate (not round) to micros, got $ts0")
  }

  test("both encodings agree after normalization (same logical data)") {
    val micros = loaded("events_micros.parquet")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val nanos = loaded("events_nanos.parquet")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    assert(micros.exceptAll(nanos).count() == 0 &&
      nanos.exceptAll(micros).count() == 0,
      "the two physical encodings of the same rows must load identically")
  }

  /** Spark jobs launched while `body` runs (listener bus drained on both
    * sides, so no event is missed or carried over). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    SparkInternals.drainListenerBus(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try {
      val out = body
      SparkInternals.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def scratchDir(): String =
    java.nio.file.Files.createTempDirectory("tables-spec").toString

  test("schema memo: re-loading an unchanged file launches no job") {
    import spark.implicits._
    val dir = scratchDir()
    Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("k", "v")
      .write.parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    val (second, jobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(jobs == 0, s"second load of an unchanged file ran $jobs job(s)")
    assert(second.schema == first.schema)
    assert(second.orderBy("k").collect().toSeq ==
      first.orderBy("k").collect().toSeq)
  }

  test("schema memo: a file overwritten with a new schema is re-inferred") {
    import spark.implicits._
    val dir = scratchDir()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((7, 2.5, "x"), (8, 3.5, "y")).toDF("id", "score", "tag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "score", "tag"),
      s"stale schema after overwrite: ${df.schema.simpleString}")
    assert(df.orderBy("id").as[(Int, Double, String)].collect().toSeq ==
      Seq((7, 2.5, "x"), (8, 3.5, "y")))
  }

  test("schema memo: nanos and micros fixtures load in either order") {
    def tsOf(name: String) = loaded(name)
      .select(col("event_id"), unix_micros(col("ts")))
      .orderBy("event_id").collect().map(r => r.getLong(1)).toSeq
    val micros = tsOf("events_micros.parquet")
    val nanos = tsOf("events_nanos.parquet")
    assert(micros.size == 6 && micros == nanos)
    for (order <- Seq(
        Seq("events_nanos.parquet", "events_micros.parquet"),
        Seq("events_micros.parquet", "events_nanos.parquet"));
        name <- order)
      assert(tsOf(name) == micros, s"$name after ${order.mkString(", ")}")
  }
}
