package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("d", DecimalType(12, 2))))

  private def row(k: Long, s: String, d: String): InternalRow =
    InternalRow(k, UTF8String.fromString(s),
      Decimal(BigDecimal(d), 12, 2))

  private val rows = Seq(row(1, "a", "1.50"), row(2, "b", "-3.00"),
    row(3, null, "0.01"), row(2, "b", "-3.00"))

  private def fp(rs: Seq[InternalRow]) = Fingerprint.ofRows(schema, rs.iterator)

  test("fingerprint ignores row order") {
    assert(fp(rows) == fp(rows.reverse))
    assert(fp(rows) == fp(scala.util.Random.shuffle(rows)))
  }

  test("fingerprint is additive over partitions") {
    val (a, b) = rows.splitAt(1)
    assert(fp(a) + fp(b) == fp(rows))
  }

  test("fingerprint sees values, duplicates and row count") {
    assert(fp(rows) != fp(rows.updated(0, row(1, "a", "1.51"))))
    assert(fp(rows) != fp(rows.distinct))
    assert(fp(rows).rows == 4)
  }

  test("fingerprint round-trips through its text form") {
    val f = fp(rows)
    assert(Fingerprint.parse(f.toString) == f)
  }
}
