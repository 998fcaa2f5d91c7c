package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2.3) over ScalaCheck-generated
  * inputs. The scalatest↔scalacheck bridge isn't available offline, so
  * generators are sampled directly with fixed seeds — same coverage,
  * deterministic replays. Each property checks 5 generated datasets. */
class PropertySpec extends SparkSpec {

  private val rows: Gen[List[(Long, String, Double)]] = Gen.listOf(
    for {
      k <- Gen.choose(0L, 20L)
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-100.0, 100.0)
    } yield (k, g, v))

  private def samples(n: Int): Seq[List[(Long, String, Double)]] =
    (1 to n).map(i =>
      rows(Gen.Parameters.default.withSize(30), Seed(i.toLong)).getOrElse(Nil))

  test("dedup by key is idempotent and minimal (property)") {
    import spark.implicits._
    samples(5).filter(_.nonEmpty).foreach { data =>
      val df = data.toDF("k", "g", "v")
      val once = df.dropDuplicates("k")
      assert(once.count() === data.map(_._1).distinct.size.toLong)
      assert(once.dropDuplicates("k").count() === once.count())
    }
  }

  test("filter partition: p rows + !p rows = all rows (property)") {
    import spark.implicits._
    samples(5).foreach { data =>
      val df = data.toDF("k", "g", "v")
      val p = col("v") > 0.0
      assert(df.filter(p).count() + df.filter(!p).count() === df.count())
    }
  }

  test("grouped count sums to total; decimal sums partition-independent (property)") {
    import spark.implicits._
    samples(5).filter(_.nonEmpty).foreach { data =>
      val df = data.toDF("k", "g", "v")
      val grouped = df.groupBy($"g").agg(count(lit(1)).as("n"),
        sum($"v".cast("decimal(28,10)")).as("s"))
      assert(grouped.agg(sum($"n")).as[Long].head() === data.size.toLong)
      val repartitioned = df.repartition(7).groupBy($"g")
        .agg(sum($"v".cast("decimal(28,10)")).as("s"))
      val a = grouped.select($"g", $"s").collect().map(r => r.get(0) -> r.get(1)).toMap
      val b = repartitioned.collect().map(r => r.get(0) -> r.get(1)).toMap
      assert(a === b) // decimal sums: exactly equal regardless of partitioning
    }
  }

  test("rankPick == driver-side sort reference on generated data (property)") {
    import spark.implicits._
    samples(5).filter(_.nonEmpty).foreach { data =>
      val df = data.toDF("k", "g", "v").select($"g", $"v")
        .repartition(5) // scatter so offsets/zipWithIndex do real work
      // reference: plain Scala per-group sort
      val ref = data.groupBy(_._2).map { case (g, rs) =>
        g -> rs.map(_._3).sorted.toVector
      }
      val picked = graft.ops.Scale.rankPickCounted(spark, df, "g", "v",
        (_, n) => Seq(1L, (n + 1) / 2, n).distinct)._1
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      assert(picked.nonEmpty)
      picked.foreach { case ((g, rn), v) =>
        assert(v === ref(g)(rn.toInt - 1), s"group $g rank $rn")
      }
      // every requested rank present: 3 ranks (deduped) per group
      val expected = ref.map { case (g, vs) =>
        g -> Seq(1L, (vs.size + 1L) / 2, vs.size.toLong).distinct.size
      }
      val got = picked.groupBy(_._1._1).view.mapValues(_.length).toMap
      assert(got === expected)
    }
  }

  test("intersect ⊎ except partitions the left distinct input (property)") {
    import spark.implicits._
    val ss = samples(10)
    ss.take(5).zip(ss.drop(5)).foreach { case (d1, d2) =>
      val a = d1.toDF("k", "g", "v").select($"k").distinct()
      val b = d2.toDF("k", "g", "v").select($"k").distinct()
      assert(a.intersect(b).count() + a.except(b).count() === a.count())
    }
  }
}
