package graft

import graft.ops.Sliding
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** [[graft.ops.Sliding.slidingCounts]] against a plain Scala fold over the
  * collected input rows: pane counts from 1 to 720 on sf0.001 events and edge
  * fixtures. (`ExtensionsSpec` checks `marketByChannelFine` on the same fold
  * up to the reference's own 1 h / 1 s, 3600 panes.) The operator runs with whole-stage codegen
  * fallback off, so a generated class that fails to compile fails here.
  */
class SlidingCountsSpec extends SparkSuite {

  import SlidingCountsSpec.fold
  import spark.implicits._

  /** One row of the table: `rows` holds `keys` and `ts`. */
  private case class Case(name: String, rows: DataFrame, keys: Seq[String],
      sizeSec: Long, slideSec: Long, minWindows: Int = 1)

  /** (k, ts) fixture rows from (key, epoch micros); a NULL micros is a NULL ts. */
  private def fixture(rows: (String, java.lang.Long)*): DataFrame =
    rows.toDF("k", "us").select(col("k"), timestamp_micros(col("us")).as("ts"))

  private def sec(s: Double): java.lang.Long = math.round(s * 1e6)

  test("slidingCounts == the Scala fold over the input rows, 1 to 720 panes and edge fixtures") {
    val events = Tables.events(spark, sf())
    val byType = events.select(col("event_type"), col("ts"))
    val cases = Seq(
      Case("1 pane (tumbling 10 min)", byType, Seq("event_type"), 600, 600),
      Case("3 panes (30 min / 10 min)", byType, Seq("event_type"), 1800, 600),
      Case("6 panes (1 h / 10 min)", byType, Seq("event_type"), 3600, 600),
      Case("12 panes (1 h / 5 min)", byType, Seq("event_type"), 3600, 300),
      Case("60 panes (1 h / 1 min), two keys",
        events.select(col("event_type"), col("user_id"), col("ts")),
        Seq("event_type", "user_id"), 3600, 60),
      Case("120 panes (10 min / 5 s)", byType, Seq("event_type"), 600, 5),
      Case("720 panes (1 h / 5 s)", byType, Seq("event_type"), 3600, 5),
      Case("keyless, 6 panes", events.select(col("ts")), Nil, 3600, 600),
      Case("empty input", fixture(), Seq("k"), 60, 10, minWindows = 0),
      Case("a key with one event", fixture("a" -> sec(1000)), Seq("k"), 60, 10),
      Case("events exactly size and size + slide apart",
        fixture("a" -> sec(0), "a" -> sec(60), "b" -> sec(0), "b" -> sec(70)), Seq("k"), 60, 10),
      Case("events on pane and window edges, sub-second and negative epochs",
        fixture("a" -> sec(10), "a" -> sec(19.999999), "a" -> sec(20), "a" -> sec(69.5),
          "a" -> sec(70), "a" -> sec(-0.000001), "a" -> sec(-10), "a" -> sec(-60.5),
          "b" -> sec(0.25), "b" -> sec(0.75)), Seq("k"), 60, 10),
      Case("a NULL ts is dropped, a NULL key is its own group",
        fixture("a" -> sec(5), "a" -> null, (null, sec(5)), (null, sec(100)), (null, null)),
        Seq("k"), 60, 10))

    withoutCodegenFallback {
      for (c <- cases) withClue(s"${c.name}: ") {
        val rows = c.rows.select((c.keys :+ "ts").map(col): _*).collect().toSeq
        val got = Sliding.slidingCounts(c.rows, c.keys.map(col), c.sizeSec, c.slideSec)
          .collect().toSeq
        val gotMap = got.map(r => (r.getLong(0), r.toSeq.slice(1, r.length - 1)) -> r.getLong(r.length - 1))
          .toMap
        assert(gotMap.size == got.size, "a window was emitted twice")
        assert(gotMap == fold(rows, c.sizeSec, c.slideSec))
        assert(got.size >= c.minWindows)
      }
    }

    val nulls = Sliding.slidingCounts(cases.last.rows, Seq(col("k")), 60, 10).collect()
    assert(nulls.map(_.getLong(2)).sum == 6 * 3, "the NULL ts row was counted")
    assert(nulls.exists(_.isNullAt(1)), "the NULL key group is missing")
  }
}

object SlidingCountsSpec {

  /** Ground truth for a sliding count: `(window_start, keys) → count` over
    * collected `(keys…, ts)` rows. A row at epoch second `e` (floored) lies
    * in the size/slide windows that start at `floor(e / slide) · slide −
    * j · slide`, j = 0 … size/slide − 1; a NULL ts lies in none. */
  def fold(rows: Seq[Row], sizeSec: Long, slideSec: Long): Map[(Long, Seq[Any]), Long] =
    rows.filterNot(r => r.isNullAt(r.length - 1))
      .foldLeft(mutable.HashMap.empty[(Long, Seq[Any]), Long]) { (acc, r) =>
        val e = Math.floorDiv(r.getTimestamp(r.length - 1).getTime, 1000L)
        val last = Math.floorDiv(e, slideSec) * slideSec
        for (j <- 0L until sizeSec / slideSec) {
          val w = (last - j * slideSec, r.toSeq.init)
          acc(w) = acc.getOrElse(w, 0L) + 1
        }
        acc
      }.toMap
}
