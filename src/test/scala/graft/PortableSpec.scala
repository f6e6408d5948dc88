package graft

import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Contract tests for the portable fixed-point (`Portable.fx`) — the
  * primitive every hash-gated double now flows through. */
class PortableSpec extends SparkTestBase {

  import spark.implicits._

  test("fx matches the scalar floor(x*10^n + 0.5)/10^n on random doubles, incl. negatives") {
    val rnd = new scala.util.Random(8)
    val xs = Seq.fill(4000)((rnd.nextDouble() - 0.5) * 2000.0)
    val got = xs.toDF("x").select(Portable.fx(col("x"), 6).as("v"))
      .collect().map(_.getDouble(0))
    xs.zip(got).foreach { case (x, v) =>
      val want = math.floor(x * 1e6 + 0.5) / 1e6
      assert(v == want, s"fx($x) = $v, scalar reference = $want")
    }
  }

  test("fx is a pure function of the value — identical across partitionings") {
    // compare the full value multiset, NOT a double sum (a double sum
    // is itself order-dependent — the very hazard the DECIMAL-sum
    // pattern exists for)
    val df = spark.range(100000)
      .select((col("id").cast("double") / 7.0).as("x"))
    val a = df.select(Portable.fx(col("x"), 4).as("v"))
      .collect().map(_.getDouble(0)).sorted.toSeq
    val b = df.repartition(17).select(Portable.fx(col("x"), 4).as("v"))
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(a == b)
  }

  test("the 2.675 class: fx decides boundary doubles by ONE arithmetic path") {
    // 2.675's closest double is 2.67499999…, where engine round()
    // implementations disagree (Spark's exact-expansion HALF_UP → 2.67,
    // DuckDB's scaled rounding → 2.68 — the r7 gate-failure mechanism).
    // fx takes the single multiply-add-floor path: the IEEE product
    // 2.675·100 rounds to exactly 267.5, +0.5 → 268 → 2.68 — and both
    // engines compute exactly that one answer. The CONTRACT is one
    // arithmetic path, not any particular tie outcome; these pins hold
    // it still.
    val got = Seq(2.675, -2.675, 1.005).toDF("x")
      .select(Portable.fx(col("x"), 2).as("v")).collect().map(_.getDouble(0))
    assert(got(0) == 2.68, s"fx(2.675, 2) = ${got(0)}")
    assert(got(1) == -2.67, s"fx(-2.675, 2) = ${got(1)}") // −267.5+0.5 → floor −267
    assert(got(2) == 1.0, s"fx(1.005, 2) = ${got(2)}") // 1.005·100 = 100.4999…
  }

  test("the scalar fx twin equals the Column fx bit for bit") {
    // random doubles of every magnitude and sign, arbitrary bit patterns
    // (NaN payloads, subnormals), the specials, and 2.675-class ties
    // (x·10^n landing on or next to .5) — compared by raw bits, so a
    // -0.0 against 0.0 counts as a difference
    val rnd = new scala.util.Random(41)
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue, 1e300, -1e300, 9.3e12, -9.3e12,
      0.5, -0.5, 2.675, -2.675, 1.005, -1.005, 0.0000005, -0.0000005)
    val ties = (0 until 500).flatMap(i => Seq((i + 0.5) / 100, -(i + 0.5) / 100,
      (i + 0.5) / 1e6, -(i + 0.5) / 1e6))
    val xs = specials ++ ties ++
      Seq.fill(2000)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(30) - 10)) ++
      Seq.fill(1000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val df = xs.toDF("x")
    for (n <- Seq(0, 2, 6)) {
      val got = df.select(Portable.fx(col("x"), n).as("v")).collect().map(_.getDouble(0))
      xs.zip(got).foreach { case (x, v) =>
        val want = Portable.fx(x, n)
        assert(java.lang.Double.doubleToRawLongBits(v) == java.lang.Double.doubleToRawLongBits(want),
          s"fx($x, $n): Column $v, scalar twin $want")
      }
    }
  }

  test("the fx twin pins what this Spark returns where floor leaves the double range") {
    // Spark's floor is BIGINT: NaN floors to 0, the infinities saturate
    // at the Long range, and -0.0 comes back as +0.0 — the twin's
    // `toLong` step, which `math.floor(x) / p` would not reproduce
    val xs = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 1e300)
    val got = xs.toDF("x").select(Portable.fx(col("x"), 6).as("v"))
      .collect().map(_.getDouble(0)).toSeq
    val want = Seq(0.0, Long.MaxValue / 1e6, Long.MinValue / 1e6, 0.0, Long.MaxValue / 1e6)
    assert(got.map(java.lang.Double.doubleToRawLongBits) ==
      want.map(java.lang.Double.doubleToRawLongBits), s"Column fx returned $got")
    assert(xs.map(Portable.fx(_, 6)).map(java.lang.Double.doubleToRawLongBits) ==
      want.map(java.lang.Double.doubleToRawLongBits))
  }

  test("no oracle SQL contains engine-divergent rounding") {
    // round( is banned from every oracle (the r7 failure class); and
    // every floor-scale multiply must carry the +0.5 half-up term — a
    // hand-typed copy that drops it would hash-fail looking exactly
    // like real engine divergence
    val rounded = SparkEntry.oracleSql.filter(_._2.toLowerCase.contains("round("))
    assert(rounded.isEmpty,
      s"oracles using round(): ${rounded.keys.mkString(", ")}")
    val bare = """\* 1e\d+\)""".r
    val unguarded = SparkEntry.oracleSql.filter(kv => bare.findFirstIn(kv._2).isDefined)
    assert(unguarded.isEmpty,
      s"oracles with a floor-scale multiply missing '+ 0.5': ${unguarded.keys.mkString(", ")}")
  }

  test("fxInt is half-up to a BIGINT (quantization codes contract)") {
    val got = Seq(127.5, 127.49999, -0.5, 254.5).toDF("x")
      .select(Portable.fxInt(col("x")).as("v")).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(128L, 127L, 0L, 255L), got.toSeq.toString)
  }
}
