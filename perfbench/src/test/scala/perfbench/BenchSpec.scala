package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows = {
    import spark.implicits._
    Seq((1L, "a", 0.1, Option(2.5)), (2L, "b", 1e-9, None), (3L, "ü", -7.25, Option(0.0)))
      .toDF("id", "s", "x", "y")
  }

  test("checksum is order-independent") {
    val a = Checksum.of(rows)
    assert(Checksum.of(rows.orderBy(org.apache.spark.sql.functions.col("id").desc)) == a)
    assert(Checksum.of(rows.repartition(3)) == a)
    // column order does not matter either: columns are hashed by name
    assert(Checksum.of(rows.select("y", "x", "s", "id")) == a)
    assert(a.rows == 3)
  }

  test("checksum catches a one-row change") {
    import spark.implicits._
    val a = Checksum.of(rows)
    val changed = rows.filter("id <> 2").union(Seq((2L, "b", 2e-9, Option.empty[Double]))
      .toDF("id", "s", "x", "y"))
    assert(Checksum.of(changed) != a)
    assert(Checksum.of(rows.filter("id <> 3")) != a)
    assert(Checksum.of(rows.union(rows.filter("id = 1"))) != a)
  }

  test("checksum rounds doubles to ten significant digits, half-even on the exact value") {
    assert(Checksum.canonFloat(0.1) == "1e-1")
    assert(Checksum.canonFloat(-7.25) == "-725e-2")
    assert(Checksum.canonFloat(-0.0) == "0e0")
    assert(Checksum.canonFloat(1.0 / 3) == "3333333333e-10")
    assert(Checksum.canonFloat(Double.NaN) == "nan")
    assert(Checksum.canonFloat(Double.NegativeInfinity) == "-inf")
    assert(Checksum.canonDecimal(new java.math.BigDecimal("12.3400")) == "1234e-2")
  }

  test("tail percentile is the highest with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("percentiles are nearest-rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.median(xs) == 50.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("self time subtracts the union of child intervals") {
    def span(id: Int, parent: Int, s: Long, e: Long) = {
      val x = new Span(id, parent, s"s$id", "k", s)
      x.endNs = e
      x
    }
    val spans = Seq(
      span(0, -1, 0, 100), // root
      span(1, 0, 10, 30), // children overlap: [10, 50) covered once
      span(2, 0, 20, 50),
      span(3, 0, 90, 120), // clipped to the parent's end
      span(4, 1, 12, 18), // grandchild: counts against span 1 only
    )
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(3) == 30)
    assert(self(4) == 6)
  }

  test("layer metrics split an operation into build, plan and action") {
    val t = new Tracer(true)
    t.span("q", "query") {
      t.span("q", "build")(Thread.sleep(5))
      t.span("q", "plan")(Thread.sleep(5))
      t.span("q", "action")(Thread.sleep(5))
    }
    val m = Layers.fromSpans(t.spans.toSeq).toMap
    val wall = t.spans.head.durationNs / 1e9
    assert(m("build.s") > 0 && m("plan.s") > 0 && m("exec.s") > 0)
    assert(math.abs(m("build.s") + m("plan.s") + m("exec.s") + m("trace.unaccounted_s") - wall)
      < 1e-6)
  }
}
