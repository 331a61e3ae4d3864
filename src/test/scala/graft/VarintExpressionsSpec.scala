package graft

import org.apache.spark.sql.functions._

import graft.functions.VarintCodec
import org.apache.spark.sql.catalyst.util.ArrayData

/** Ground truth for the delta-varint adjacency codec (r18, the
  * triangle-count shuffle narrowing): encode/decode roundtrip on randomized
  * sorted sets, intersection-count parity with the long-array merge walk
  * (`sorted_intersect_count`), and codegen/eval parity via the SQL
  * registration path.
  */
class VarintExpressionsSpec extends SparkSuite {

  private def randomSortedSets(seed: Int, n: Int): Seq[Array[Long]] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val len = rnd.nextInt(40)
      // mix of magnitudes, including the packed (deg·2³² + id) range the
      // triangle count uses, and the empty set
      Array.fill(len)(rnd.nextInt(4) match {
        case 0 => rnd.nextInt(1000).toLong
        case 1 => rnd.nextInt(200).toLong * 4294967296L + rnd.nextInt(100000)
        case 2 => math.abs(rnd.nextLong()) % (1L << 45)
        case _ => rnd.nextInt(20).toLong
      }).distinct.sorted
    }
  }

  test("encode/decode roundtrip on random sorted distinct sets") {
    randomSortedSets(7, 500).foreach { xs =>
      val enc = VarintCodec.encodeDeltas(ArrayData.toArrayData(xs))
      assert(VarintCodec.decode(enc).toSeq == xs.toSeq)
      // compression sanity on the packed-key shape: never larger than raw
      assert(enc.length <= math.max(1, xs.length * 10))
    }
  }

  test("intersectCount matches the long-array merge walk on random pairs") {
    val sets = randomSortedSets(13, 300)
    val rnd = new scala.util.Random(17)
    (1 to 300).foreach { _ =>
      val a = sets(rnd.nextInt(sets.length))
      // bias toward overlapping pairs: sometimes intersect with a shifted
      // superset of itself
      val b = if (rnd.nextBoolean()) sets(rnd.nextInt(sets.length))
              else (a.take(rnd.nextInt(a.length + 1)) ++
                    Array.fill(5)(rnd.nextInt(1000).toLong)).distinct.sorted
      val expected = a.toSet.intersect(b.toSet).size.toLong
      val got = VarintCodec.intersectCount(
        VarintCodec.encodeDeltas(ArrayData.toArrayData(a)),
        VarintCodec.encodeDeltas(ArrayData.toArrayData(b)))
      assert(got == expected, s"a=${a.mkString(",")} b=${b.mkString(",")}")
    }
  }

  test("SQL codegen path: varint walk equals sorted_intersect_count") {
    import spark.implicits._
    val sets = randomSortedSets(23, 200)
    val rnd = new scala.util.Random(29)
    val pairs = (1 to 200).map { _ =>
      (sets(rnd.nextInt(sets.length)).toSeq, sets(rnd.nextInt(sets.length)).toSeq)
    }
    val out = pairs.toDF("x", "y")
      .select(
        expr("sorted_intersect_count(x, y)").as("raw"),
        expr("varint_sorted_intersect_count(" +
          "delta_varint_encode(x), delta_varint_encode(y))").as("packed"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[Long]("raw") == r.getAs[Long]("packed"))
    }
  }
}
