package graft.ops

import graft.C
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one sliding-window count of the reference's jobs (HotItems,
  * NetworkFlow, AdStatisticsByGeo, AppMarketingByChannel). */
object Sliding {

  /** One `(window_start: long, keys…, cnt: long)` row per window with
    * cnt > 0: the rows of `groupBy(window(ts, size, slide), keys)`, windows
    * starting on floored multiples of the slide, a NULL `ts` dropped and a
    * NULL key its own group. `keys` may carry aliases.
    *
    * Batch (panes, Li et al., "No pane, no gain", SIGMOD Record 2005): a
    * count `c` per (keys, slide-sized pane) before the first shuffle, so
    * shuffled rows are at most the events. Pane `a` enters the window ending
    * at `a` (+c) and leaves the one ending at `a + size` (−c); the running
    * sum of a key's edges is each edge's window count, held up to its next
    * edge, and one `sequence` explode emits those windows, each once.
    * Emitted rows are the windows with cnt > 0: no per-event explode, no
    * series across idle stretches, no join, and no bounded `RANGE` frame
    * (Spark re-sums its whole buffer per row, size/slide times the work). A
    * keyless count sorts its ≤ 2·span/slide edge rows in one partition:
    * bounded by time, not by input.
    *
    * Stream (`rows.isStreaming`, where `lead` and running sums cannot run):
    * the watermarked `groupBy(window(ts, size, slide), keys)`, each window
    * emitted in append mode once the watermark passes its end.
    */
  def slidingCounts(rows: DataFrame, keys: Seq[Column], sizeSec: Long, slideSec: Long): DataFrame = {
    require(slideSec > 0 && sizeSec >= slideSec && sizeSec % slideSec == 0,
      s"window $sizeSec s must be a positive multiple of slide $slideSec s")
    if (rows.isStreaming) {
      val agg = rows
        .groupBy(window(col("ts"), s"$sizeSec seconds", s"$slideSec seconds").as("w") +: keys: _*)
        .agg(count(lit(1)).as("cnt"))
      agg.select(unix_timestamp(col("w.start")).as("window_start") +:
        named(agg.columns.slice(1, keys.size + 1)) :+ col("cnt"): _*)
    } else {
      val panes = rows.where(col("ts").isNotNull)
        .groupBy(keys :+ C.epochSec(col("ts"), slideSec).as("pane"): _*)
        .agg(count(lit(1)).as("c"))
      val ks = named(panes.columns.dropRight(2))
      val byEdge = Window.partitionBy(ks: _*).orderBy(col("t"))
      panes
        .select(ks :+ inline(array(struct(col("pane").as("t"), col("c").as("d")),
          struct((col("pane") + sizeSec).as("t"), (-col("c")).as("d")))): _*)
        .select(ks ++ Seq(col("t"), sum(col("d")).over(byEdge).as("cnt"),
          lead(col("t"), 1).over(byEdge).as("next")): _*)
        .where(col("next") > col("t") && col("cnt") > 0)
        .select(explode(sequence(col("t") - (sizeSec - slideSec), col("next") - sizeSec,
          lit(slideSec))).as("window_start") +: ks :+ col("cnt"): _*)
    }
  }

  private def named(names: Seq[String]): Seq[Column] = names.map(n => col(s"`$n`"))
}
