package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a changed output fails the checksum; row order does not") {
    import spark.implicits._
    val base = Seq((1L, "a", 0.5), (2L, "b", 1.25), (3L, "c", -2.0)).toDF("id", "s", "x")
    val same = base.orderBy(col("id").desc).repartition(3)
    val changedValue = base.withColumn("x", when(col("id") === 2, 1.5).otherwise(col("x")))
    val extraRow = base.union(Seq((3L, "c", -2.0)).toDF("id", "s", "x"))
    val sum = Checksum.of(base)
    assert(Checksum.of(same) == sum)
    assert(Checksum.of(changedValue) != sum)
    assert(Checksum.of(extraRow).rows == 4)
    assert(Checksum.of(extraRow) != sum)
    val goldens = Map("q" -> sum)
    assert(Ops.run("q")(Ops.checkGolden(goldens, "q", Checksum.of(same))).ok)
    val wrong = Ops.run("q")(Ops.checkGolden(goldens, "q", Checksum.of(changedValue)))
    assert(!wrong.ok && wrong.error.contains("golden"))
    assert(!Ops.run("q")(Ops.checkGolden(Map.empty, "q", sum)).ok, "a missing golden must fail")
  }

  test("a throwing op is counted as failed and its time still counts") {
    val r = Ops.run("boom") { Thread.sleep(50); throw new IllegalStateException("no") }
    assert(!r.ok)
    assert(r.error.contains("IllegalStateException"))
    assert(r.seconds >= 0.05)
    val ops = Seq(r, Ops.run("fine")(()))
    assert(ops.count(!_.ok) == 1 && ops.size == 2)
  }

  test("the tail percentile needs at least ten samples above it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // 11..19 samples: some percentile has ten above, but it is below the
    // median, so it is no tail
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    val twenty = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(twenty.value == 10.0 && twenty.percentile == 50.0 && twenty.n == 20)
    val hundred = Stats.tail((1 to 100).map(_.toDouble).reverse).get
    assert(hundred.value == 90.0)
    assert(hundred.percentile == 90.0)
    assert((1 to 100).count(_ > hundred.value) == 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  private def span(id: Long, parent: Long, s: Long, e: Long) = Span(id, parent, "k", s"s$id", s, e)

  test("self time subtracts nested children once") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 2, 15, 20))
    val self = SelfTime.of(spans)
    assert(self(1) == 80)
    assert(self(2) == 15)
    assert(self(3) == 5)
  }

  test("self time counts overlapping children once and clips them to the parent") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70),
      span(4, 1, 40, 45), span(5, 1, 90, 120))
    val self = SelfTime.of(spans)
    assert(self(1) == 100 - 60 - 10)
    assert(self(5) == 30)
    assert(SelfTime.covered(0, 10, Nil) == 0)
  }
}
