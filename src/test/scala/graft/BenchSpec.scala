package graft

import org.apache.spark.sql.functions._

/** The bench harness must never hide a failing query (round-2 verdict:
  * "a deliberately-broken query visibly fails the bench"). */
class BenchSpec extends SparkSpec {

  test("bench reports err and nonzero count for a broken query") {
    val good = Op("good_q",
      (s, dir) => Tables.nation(s, dir).select(col("n_nationkey")), None)
    val bad = Op("bad_q",
      (s, _) => s.sql("SELECT * FROM table_that_does_not_exist"), None)
    val rep = Bench.run(spark, sfDir, Seq(good, bad))
    // the structurally-returned fragments ARE pieces of the report —
    // no textual re-extraction anywhere (brace-proof)
    assert(rep.json.contains("\"queries\":" + rep.queries), rep.json)
    assert(rep.json.contains("\"value\":" + rep.total), rep.json)
    assert(rep.json.contains("\"retimed\":" + rep.retimed), rep.json)
    assert(rep.errs === 1)
    assert(rep.json.contains("\"bad_q\":\"err: "), rep.json)
    assert(rep.json.contains("\"errors\":1"), rep.json)
    // the good query still records a real time, ms-rounded ("0.123",
    // not "0.1234567" — the compact form the driver's tail window needs)
    assert(rep.json.contains("\"good_q\":0") || rep.json.contains("\"good_q\":1"), rep.json)
    val goodVal = rep.queries.split("\"good_q\":")(1).takeWhile(c => c != ',' && c != '}')
    assert(goodVal.matches("""\d+\.\d{1,3}"""), goodVal)
    // the JSON stays single-line parseable even with exception text
    assert(!rep.json.contains("\n"))
  }

  test("cpu tick total counts guest time once") {
    // guest and guest_nice are already inside user and nice, so only
    // the first eight columns add up to the total
    val (busy, idle, steal, total) = Bench.parseCpuLine(
      "cpu  100 20 30 400 50 6 7 8 900 90")
    assert(busy === 100 + 20 + 30 + 6 + 7)
    assert(idle === 400 + 50)
    assert(steal === 8)
    assert(total === 100 + 20 + 30 + 400 + 50 + 6 + 7 + 8)
  }
}
