package graft

/** The narrowed money product: `decimal(10,2) × decimal(7,6)` sums
  * exactly what the wide-decimal shape sums on 2-dp money data. */
class Round12OptSpec extends SparkSpec {

  test("compact-precision money product keeps the sum exact vs the wide-decimal shape") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val li = Tables.lineitem(spark, sfDir)
    val wide = li.agg(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
      (lit(1) - col("l_discount")).cast(DecimalType(9, 6))).cast(DoubleType)).head().getDouble(0)
    val compact = li.agg(sum(col("l_extendedprice").cast(DecimalType(10, 2)) *
      (lit(1) - col("l_discount")).cast(DecimalType(7, 6))).cast(DoubleType)).head().getDouble(0)
    assert(wide === compact, "narrowed casts must be value-identical on 2-dp money data")
  }
}
