package graft

import graft.sources.ZOrder
import org.apache.spark.sql.functions._

/** sources.ZOrder: Morton-curve layout. Pinned: the interleave math
  * itself, set preservation through the re-layout, and the actual
  * point of the exercise — a 2-D box query touches FEWER files than
  * under a linear sort, measured with the same min/max overlap rule
  * parquet footer pruning applies. */
class ZOrderSpec extends GraftSpec {

  import spark.implicits._

  test("interleave places bit b of column i at position b*n+i") {
    val df = Seq((3L, 0L), (0L, 3L), (2L, 1L), (3L, 3L)).toDF("x", "y")
    val got = df.select(ZOrder.interleave(Seq(col("x"), col("y")), 2).as("z"))
      .as[Long].collect().toSeq
    // x=0b11,y=0b00 → z=0b0101=5; x=0b00,y=0b11 → z=0b1010=10;
    // x=0b10,y=0b01 → bits: x0=0@0, y0=1@1, x1=1@2, y1=0@3 → 0b0110=6;
    // x=y=0b11 → 0b1111=15
    assert(got == Seq(5L, 10L, 6L, 15L))
  }

  test("bucketOf is monotone, plateau-safe, and sends nulls to 0") {
    val cuts = Array(10.0, 10.0, 20.0) // plateau at 10
    val df = Seq(Some(5.0), Some(10.0), Some(15.0), Some(25.0), None).toDF("v")
    val got = df.select(ZOrder.bucketOf(col("v"), cuts).as("b"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 2L, 2L, 3L, 0L))
  }

  test("bucketOf edge semantics match SQL >= (NaN top, -0.0 == 0.0)") {
    // the r14 binary-search kernel must agree with the old when-tree's
    // SQL comparisons at the edges: NaN sorts above every number
    // (lands in the top bucket) and -0.0 equals +0.0 (clears a 0.0 cut)
    val cuts = Array(-5.0, 0.0, 5.0)
    val df = Seq(Double.NaN, -0.0, 0.0, -5.0, 7.0,
      Double.PositiveInfinity, Double.NegativeInfinity).toDF("v")
    val got = df.select(ZOrder.bucketOf(col("v"), cuts).as("b"))
      .as[Long].collect().toSeq
    assert(got == Seq(3L, 2L, 2L, 1L, 3L, 3L, 0L))
  }

  test("z-ordered write preserves the exact row set") {
    val dir = tmpPath("graft_zorder_spec_roundtrip")
    val df = (1 to 5000).map(i => (i.toLong, (i * 7919 % 100).toLong,
      (i * 104729 % 100).toLong)).toDF("id", "x", "y")
    ZOrder.writeZOrdered(df, dir, Seq("x", "y"), numFiles = 8)
    val back = spark.read.parquet(dir).as[(Long, Long, Long)].collect().sorted
    assert(back.toSeq == df.as[(Long, Long, Long)].collect().sorted.toSeq)
  }

  test("a 2-D box touches fewer files than under a linear sort") {
    // 100x100 uniform grid, 10k rows, 64 files of ~156 rows each
    val grid = (for (x <- 0 until 100; y <- 0 until 100)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val zDir = tmpPath("graft_zorder_spec_z")
    val linDir = tmpPath("graft_zorder_spec_lin")
    ZOrder.writeZOrdered(grid, zDir, Seq("x", "y"), numFiles = 64)
    grid.repartitionByRange(64, col("x"), col("y"))
      .sortWithinPartitions("x", "y")
      .write.mode("overwrite").parquet(linDir)

    val box = Map("x" -> (25.0, 49.0), "y" -> (25.0, 49.0)) // 1/16 of rows
    val zTouched = ZOrder.filesTouched(
      ZOrder.fileRanges(spark, zDir, Seq("x", "y")), box)
    val linTouched = ZOrder.filesTouched(
      ZOrder.fileRanges(spark, linDir, Seq("x", "y")), box)
    // linear sort by x: every file holding x∈[25,49] spans all of y →
    // ~16 of 64 touched, none pruned by y. Z-order: the box covers
    // ~1/16 of the key space; curve tiles overlap it plus a boundary
    // ring. The margin below is generous — the point pinned is the
    // ORDER: multi-dim locality must beat single-dim.
    assert(zTouched < linTouched,
      s"z-order touched $zTouched files, linear sort $linTouched")
    assert(zTouched <= 16, s"z-order touched $zTouched of 64 files for a 1/16 box")
  }

  test("single-dimension filters still prune under z-order") {
    val dir = tmpPath("graft_zorder_spec_z") // written by the previous test
    val ranges = ZOrder.fileRanges(spark, dir, Seq("x", "y"))
    val total = ranges.count()
    // a narrow filter on EITHER column alone must exclude some files —
    // the property a plain (x, y) sort cannot give for y
    assert(ZOrder.filesTouched(ranges, Map("x" -> (0.0, 12.0))) < total)
    assert(ZOrder.filesTouched(ranges, Map("y" -> (0.0, 12.0))) < total)
  }

  test("degenerate and invalid arguments are refused or harmless") {
    val df = Seq((1L, 1L), (2L, 1L)).toDF("a", "const")
    // constant column: every row lands in one bucket — no crash, and
    // the other column still orders the curve
    val z = df.select(ZOrder.zValue(df, Seq("a", "const"), bits = 4).as("z"))
      .as[Long].collect()
    assert(z.length == 2 && z.distinct.length == 2)
    intercept[IllegalArgumentException] { ZOrder.zValue(df, Seq.empty, 8) }
    intercept[IllegalArgumentException] { ZOrder.zValue(df, Seq("a"), 0) }
    intercept[IllegalArgumentException] { ZOrder.zValue(df, Seq("a"), 17) }
    intercept[IllegalArgumentException] {
      ZOrder.zOrderBy(df, Seq("a"), numFiles = 0)
    }
  }
}
