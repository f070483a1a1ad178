package perfbench

import graft.Engine

/** Fingerprints pipeline outputs written by `graft.Verify`, one
  * `name<TAB>fingerprint` line each, for the expected set.
  *
  * {{{
  * perfbench.Derive <verify out dir> <pipeline> ...
  * }}} */
object Derive {
  def main(args: Array[String]): Unit = {
    val spark = Engine.local(Runtime.getRuntime.availableProcessors,
      "perfbench-derive")
    try args.drop(1).sorted.foreach { name =>
      val fp = Fingerprint.execute(
        spark.read.parquet(s"${args(0)}/$name"), s"perfbench.derive.$name")
      println(s"$name\t$fp")
    } finally spark.stop()
  }
}
