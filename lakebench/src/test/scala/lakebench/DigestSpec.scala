package lakebench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  test("doubles render as Python's repr") {
    Seq(
      1.0 -> "1.0", 0.1 -> "0.1", 0.3 -> "0.3", -2.5 -> "-2.5", 0.0 -> "0.0",
      2.0 / 3 -> "0.6666666666666666", 123456789.0 -> "123456789.0",
      1234567890123456.0 -> "1234567890123456.0", 1e16 -> "1e+16",
      1.5e16 -> "1.5e+16", 1e22 -> "1e+22", 0.0001 -> "0.0001",
      0.00001 -> "1e-05", 1.25e-7 -> "1.25e-07", 5e-324 -> "5e-324",
      1.7976931348623157e308 -> "1.7976931348623157e+308")
      .foreach { case (d, want) => assert(Digest.pyRepr(d) == want, d) }
  }

  test("the digest equals tools/check.py's sorted-row hash of the same frame") {
    // Expected value from check.table_hash(df)[1] on the pandas frame
    // {id: [2, 1, 3], name: ['b', None, 'c'], v: [0.1, 2.0, 1e-05],
    //  n: [5.0, NaN, 7.0], d: [2024-01-02, 2025-03-04, None],
    //  t: [2024-01-01 00:00, 2024-01-01 12:30:45.123456, NaT]},
    // which is how pandas reads these rows back from parquet.
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("v", DoubleType), StructField("n", LongType),
      StructField("d", DateType), StructField("t", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val rows = Seq(
      Row(2L, "b", 0.1, 5L, java.sql.Date.valueOf("2024-01-02"), ts("2024-01-01T00:00:00Z")),
      Row(1L, null, 2.0, null, java.sql.Date.valueOf("2025-03-04"), ts("2024-01-01T12:30:45.123456Z")),
      Row(3L, "c", 1e-05, 7L, null, null))
    assert(Digest.of(schema, rows) == Digest.Pinned(3,
      "b8fb69b33cb4d59d240b80b9591b194224921e7fe819ee3b4502381dd174570f"))
    assert(Digest.of(schema, rows.reverse) == Digest.of(schema, rows))
  }
}
