package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SizeEstimator

import graft.util.Bounded

/** The bounded-local route gate: the budget's unit and off switch, the
  * exact bound, and the shared bail-outs every driver-local replica
  * relies on. */
class BoundedSpec extends SparkSpec {
  import spark.implicits._

  private def edges(n: Long) = (0L until n).map(i => (i, i + 1)).toDF("src", "dst")

  test("graft.local.max <= 0 is off for every input, the empty one included") {
    val empty = edges(0)
    LocalRoute.off {
      assert(!Bounded.enabled)
      assert(Bounded.collect(empty).isEmpty)
      assert(Bounded.collect(empty, counted = 0L).isEmpty)
      assert(Bounded.admit(Array.empty).isEmpty)
    }
    LocalRoute.withMax(-1L)(assert(Bounded.collect(empty).isEmpty))
    assert(Bounded.collect(empty).map(_.length).contains(0))
  }

  test("exactly at the bound is Some; one row more is None") {
    val n = 50L
    LocalRoute.withMax(n * Bounded.rowBytes(2)) {
      assert(Bounded.maxRows(2) == n)
      assert(Bounded.collect(edges(n)).map(_.length).contains(n.toInt))
      assert(Bounded.collect(edges(n + 1)).isEmpty)
      assert(Bounded.collect(edges(n), counted = n).map(_.length).contains(n.toInt))
      assert(Bounded.collect(edges(n + 1), counted = n + 1).isEmpty)
      // two relations sharing the budget get half each
      assert(Bounded.collect(edges(n / 2), share = 2).isDefined)
      assert(Bounded.collect(edges(n / 2 + 1), share = 2).isEmpty)
    }
    // a cap below the budget bounds too
    assert(Bounded.collect(edges(5), cap = 5).isDefined)
    assert(Bounded.collect(edges(6), cap = 5).isEmpty)
  }

  test("vector rows are charged their width") {
    val d = 16
    val vecs = (0L until 10L).map(i => (i, Array.fill(d)(i))).toDF("id", "v")
    LocalRoute.withMax(10 * Bounded.rowBytes(1 + d)) {
      assert(Bounded.collect(vecs).isDefined)
    }
    LocalRoute.withMax(10 * Bounded.rowBytes(1 + d) - 1) {
      assert(Bounded.collect(vecs).isEmpty)
    }
  }

  test("an over-budget vector relation ships at most maxRows + 1 rows") {
    val d = 64
    val share = 5
    val pulled = spark.sparkContext.longAccumulator("pulled")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", ArrayType(LongType))))
    val rows = spark.sparkContext.parallelize(0L until 1000L, 1)
      .map { i => pulled.add(1); Row(i, Seq.fill(d)(i)) }
    val vecs = spark.createDataFrame(rows, schema)
    LocalRoute.withMax(share * 10 * Bounded.rowBytes(1 + d)) {
      val n = Bounded.maxRows(1 + d, share)
      assert(n == 10)
      assert(Bounded.collect(vecs, share = share, width = d).isEmpty)
      assert(pulled.value <= n + 1, s"${pulled.value} rows pulled for a bound of $n")
      // width read from the first row: one row more for that read
      pulled.reset()
      assert(Bounded.collect(vecs, share = share).isEmpty)
      assert(pulled.value <= n + 2, s"${pulled.value} rows pulled for a bound of $n")
    }
  }

  test("None on a null, a duplicate id, a ragged vector and a string id") {
    val ok = Seq((1L, Seq(1L, 2L)), (2L, Seq(3L, 4L))).toDF("id", "v")
    assert(Bounded.collect(ok, unique = Seq("id"), width = 2).isDefined)
    val nullId = Seq((Some(1L), Seq(1L, 2L)), (None, Seq(3L, 4L))).toDF("id", "v")
    assert(Bounded.collect(nullId).isEmpty)
    val dup = Seq((1L, Seq(1L, 2L)), (1L, Seq(3L, 4L))).toDF("id", "v")
    assert(Bounded.collect(dup).isDefined)
    assert(Bounded.collect(dup, unique = Seq("id")).isEmpty)
    val ragged = Seq((1L, Seq(1L, 2L)), (2L, Seq(3L))).toDF("id", "v")
    assert(Bounded.collect(ragged).isEmpty)
    assert(Bounded.collect(ok, width = 3).isEmpty)
    val stringId = Seq(("a", Seq(1L, 2L))).toDF("id", "v")
    assert(Bounded.collect(stringId).isEmpty)
    assert(!Bounded.integral(stringId.schema("id").dataType))
  }

  test("integral ids collect as int64 and the leaf casts them back") {
    val ints = Seq((1, 2.toShort), (3, 4.toShort)).toDF("a", "b")
    val rows = Bounded.collect(ints).get
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (3L, 4L)))
    val back = Bounded.leaf(spark, rows, ints.schema.map(f => f.name -> f.dataType))
    assert(back.schema.map(_.dataType) == ints.schema.map(_.dataType))
    assert(back.as[(Int, Short)].collect().toSeq == Seq((1, 2.toShort), (3, 4.toShort)))
  }

  test("footprint constants cover a collected row (SizeEstimator)") {
    val n = 10000
    def perRow(df: org.apache.spark.sql.DataFrame): Double =
      SizeEstimator.estimate(df.collect()).toDouble / n
    // k boxed int64 scalars; values past the small-Long cache
    for (k <- 1 to 4) {
      val df = spark.range(n).select((0 until k).map(j =>
        (col("id") * 1000003L + j * 7919L + 100000L).as(s"c$j")): _*)
      val est = perRow(df)
      info(f"$k scalars: $est%.1f B/row")
      assert(Bounded.rowBytes(k) >= est, s"$k scalars: ${Bounded.rowBytes(k)} < $est")
    }
    // an id plus an int64 vector of width d
    for (d <- Seq(0, 8, 64)) {
      val df = spark.range(n).select(col("id"),
        array((0 until d).map(j => col("id") * 1000003L + j * 7919L + 100000L): _*)
          .cast("array<bigint>").as("v"))
      val est = perRow(df)
      info(f"id + width $d: $est%.1f B/row")
      assert(Bounded.rowBytes(1 + d) >= est, s"width $d: ${Bounded.rowBytes(1 + d)} < $est")
    }
  }
}
