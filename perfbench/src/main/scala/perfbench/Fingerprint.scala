package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Order-insensitive output fingerprint: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's binary form. Equal multisets
  * of rows give equal fingerprints whatever their order or partitioning. */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  override def toString: String = f"$rows%d:$hash%016x"
}

object Fingerprint {
  val Zero: Fingerprint = Fingerprint(0L, 0L)

  def parse(s: String): Fingerprint = {
    val Array(n, h) = s.split(":")
    Fingerprint(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Fingerprint of rows with the given schema. The rows are re-encoded
    * as UnsafeRows, whose bytes depend only on the schema and the values. */
  def ofRows(schema: StructType, rows: Iterator[InternalRow]): Fingerprint = {
    val toUnsafe = UnsafeProjection.create(schema)
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val u = toUnsafe(r)
      h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.getSizeInBytes, 42L)
      n += 1
    }
    Fingerprint(n, h)
  }

  /** Execute `df` and fingerprint its result in that one action. The
    * physical plan runs as planned (no operator is added on top, so no
    * optimizer rule can drop work such as a final sort); the hashing
    * consumes the plan's output rows in place of a sink's writer. */
  def execute(df: DataFrame, label: String): Fingerprint = {
    val qe = df.queryExecution
    val schema = qe.analyzed.schema
    SQLExecution.withNewExecutionId(qe, Some(label)) {
      qe.toRdd
        .mapPartitions(it => Iterator.single(ofRows(schema, it)))
        .collect()
        .foldLeft(Zero)(_ + _)
    }
  }
}
