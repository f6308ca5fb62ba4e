package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Behavioral gates for the core/layout operators — currently the
  * Z-order key: an exact driver replay of the interleave plus the two
  * theorems the layout exists for (axis monotonicity under dominance,
  * and rectangle-to-band containment — the property that lets a scan
  * filtered on both columns prune to a contiguous z range of files).
  */
class CoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]").appName("core-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def morton(x: Long, y: Long): Long =
    (0 until 16).map(i =>
      (((x >> i) & 1L) << (2 * i)) + (((y >> i) & 1L) << (2 * i + 1))).sum

  test("pair_pack skips NULL elements, folded as a literal or read from a column") {
    val folded = spark.sql("SELECT pair_pack(array(1L, NULL, 3L))").collect()
    val fromColumn = spark.range(2)
      .selectExpr("array(1L, IF(id < 5, NULL, 2L), 3L) AS ps")
      .selectExpr("pair_pack(ps)").collect()
    (folded ++ fromColumn).foreach(r => assert(r.getSeq[Long](0) == Seq((1L << 32) | 3L)))
    assert(fromColumn.length == 2)
  }

  test("q20 takes the HOF fallback when a partkey is outside [0, 2^31)") {
    val ss = spark
    import ss.implicits._
    val big = 1L << 31
    // orders 1 and 3 hold all three keys, orders 2 and 4 the first two
    Seq(Seq(big, big + 5, 3L) -> Seq((big, big + 5, 4L), (3L, big, 2L), (3L, big + 5, 2L)),
        Seq(-9L, -4L, 2L) -> Seq((-9L, -4L, 4L), (-9L, 2L, 2L), (-4L, 2L, 2L))
    ).foreach { case (keys, expected) =>
      val dir = java.nio.file.Files.createTempDirectory("q20_sparse_keys").toString
      keys.toDF("p_partkey").write.parquet(s"$dir/part.parquet")
      (1L to 4L).flatMap(o => keys.take(if (o % 2 == 1) 3 else 2).map(o -> _))
        .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
      val df = SparkEntry.queries("q20_basket_pair_counts")(spark, dir)
      assert(!df.queryExecution.analyzed.toString.contains("pair_pack"),
        s"keys $keys must not be packed")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
        expected)
    }
  }

  test("z-order codes replay exactly and round-trip to their coordinates") {
    val rows = SparkEntry.queries("zorder_layout_key")(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length > 1000)
    rows.foreach { case (xk, yk, z, bucket) =>
      assert(z == morton(xk, yk), s"interleave mismatch at ($xk, $yk)")
      assert(bucket == (z >> 24))
      // round-trip: de-interleave the even/odd bits back out
      val (dx, dy) = (0 until 16).foldLeft((0L, 0L)) { case ((a, b), i) =>
        (a + (((z >> (2 * i)) & 1L) << i), b + (((z >> (2 * i + 1)) & 1L) << i))
      }
      assert(dx == xk && dy == yk, s"decode($z) = ($dx, $dy) != ($xk, $yk)")
    }
  }

  test("z-order is monotone under coordinate dominance (the pruning theorem)") {
    val rnd = new scala.util.Random(7)
    // spread(x) is strictly increasing, z = spread(x) + 2*spread(y) —
    // so dominance (x2 >= x1 AND y2 >= y1) must imply z2 >= z1, which
    // is exactly what makes a z-band a superset of any rectangle
    (1 to 2000).foreach { _ =>
      val (x1, y1) = (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)
      val x2 = x1 + rnd.nextInt(65536 - x1.toInt)
      val y2 = y1 + rnd.nextInt(65536 - y1.toInt)
      assert(morton(x2, y2) >= morton(x1, y1),
        s"dominance violated: z($x2,$y2) < z($x1,$y1)")
      // strict along each axis
      if (x2 > x1) assert(morton(x2, y1) > morton(x1, y1))
      if (y2 > y1) assert(morton(x1, y2) > morton(x1, y1))
    }
  }

  test("a rectangle scan prunes to the corner-to-corner z band") {
    val rows = SparkEntry.queries("zorder_layout_key")(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    val rnd = new scala.util.Random(11)
    (1 to 20).foreach { _ =>
      val x0 = rnd.nextInt(60000).toLong; val x1 = x0 + 2000
      val y0 = rnd.nextInt(60000).toLong; val y1 = y0 + 2000
      val (zLo, zHi) = (morton(x0, y0), morton(x1, y1))
      val inRect = rows.filter { case (x, y, _) =>
        x >= x0 && x <= x1 && y >= y0 && y <= y1 }
      // containment: every rectangle row's z lies inside the band a
      // pruned scan would read
      inRect.foreach { case (x, y, z) =>
        assert(z >= zLo && z <= zHi, s"row ($x,$y) z=$z escapes [$zLo,$zHi]")
      }
    }
    // and the band is a real prune: a small rectangle's band excludes
    // most of the corpus
    val (zLo, zHi) = (morton(1000, 1000), morton(3000, 3000))
    val inBand = rows.count { case (_, _, z) => z >= zLo && z <= zHi }
    assert(inBand < rows.length / 2,
      s"band [$zLo,$zHi] covers $inBand of ${rows.length} rows — no pruning value")
  }

  test("z-order key assignment is pure map-side (no hash exchange)") {
    val p = SparkEntry.queries("zorder_layout_key")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning("),
      s"code assignment should never shuffle the table:\n$p")
  }
}
