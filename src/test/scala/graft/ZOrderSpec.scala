package graft

import org.apache.spark.sql.functions._
import graft.io.{Tables, ZOrder}

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton implementations (bit-by-bit, independent of the
    * mask-spread sequence under test). */
  private def refZ2(a: Long, b: Long): Long =
    (0 until 32).foldLeft(0L) { (z, i) =>
      z | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1) }
  private def refZ3(a: Long, b: Long, c: Long): Long =
    (0 until 21).foldLeft(0L) { (z, i) =>
      z | ((a >> i) & 1L) << (3 * i) | ((b >> i) & 1L) << (3 * i + 1) |
        ((c >> i) & 1L) << (3 * i + 2) }

  test("zvalue2/zvalue3 match bit-by-bit reference on random and edge inputs") {
    val rnd = new scala.util.Random(42)
    val edges = Seq(0L, 1L, 2L, (1L << 20) - 1, (1L << 21) - 1, (1L << 31) - 1)
    val pairs = (edges ++ Seq.fill(200)(rnd.nextLong().abs % (1L << 31)))
      .flatMap(a => Seq((a, a), (a, 0L), (0L, a),
        (a, rnd.nextLong().abs % (1L << 31))))
    val df = pairs.toDF("a", "b")
      .withColumn("z2", ZOrder.zvalue2(col("a"), col("b")))
      .withColumn("z3", ZOrder.zvalue3(
        col("a") % (1L << 21), col("b") % (1L << 21), (col("a") + col("b")) % (1L << 21)))
    df.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == refZ2(a, b), s"z2($a,$b)")
      assert(r.getLong(3) == refZ3(a % (1L << 21), b % (1L << 21), (a + b) % (1L << 21)),
        s"z3($a,$b)")
    }
  }

  test("native morton2/morton3 == composed-Column twins == reference; null-safe; SQL-callable") {
    val rnd = new scala.util.Random(11)
    // an RDD, not a local Seq, so the optimizer cannot fold the
    // projection interpreted and CODEGEN_ONLY really runs generated code
    val df = spark.sparkContext.parallelize(Seq.fill(300)((rnd.nextLong().abs % (1L << 31),
        rnd.nextLong().abs % (1L << 31))), 2).toDF("a", "b")
      .select(col("a"), col("b"),
        ZOrder.zvalue2(col("a"), col("b")).as("zn"),
        ZOrder.zvalue2Composed(col("a"), col("b")).as("zc"),
        ZOrder.zvalue3(col("a") % (1L << 21), col("b") % (1L << 21), lit(7L)).as("z3n"),
        ZOrder.zvalue3Composed(col("a") % (1L << 21), col("b") % (1L << 21), lit(7L)).as("z3c"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try assert(df.filter(col("zn") =!= col("zc") || col("z3n") =!= col("z3c")).count() == 0,
        s"mode $mode")
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null propagates, not crashes
    val nu = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .select(ZOrder.zvalue2(col("a"), col("b")).as("z")).collect()
    assert(nu.head.isNullAt(0))
    // registered for SQL users
    graft.expr.kernels.GraftExtensions.install(spark)
    val viaSql = spark.sql("SELECT graft_morton2(5L, 3L) AS z, graft_morton3(5L, 3L, 1L) AS z3")
      .collect().head
    assert(viaSql.getLong(0) == refZ2(5L, 3L) && viaSql.getLong(1) == refZ3(5L, 3L, 1L))
  }

  test("writeZOrdered: every file bounds BOTH dimensions; 1-D sort does not") {
    // 256x256 uniform grid. Under a z-order layout into 16 files each
    // file must cover a compact region — both dims' spans bounded well
    // below the domain — while the 1-D sorted layout leaves dim y
    // spanning its FULL domain in every file. This is the measurable
    // property that makes the layout prune multi-predicate scans.
    val dir = graft.util.Scratch.dir("zord")
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    ZOrder.writeZOrdered(grid, s"$dir/z", Seq("x", "y"), files = 16, buckets = 256)
    Tables.writeSorted(grid, s"$dir/s", Seq("x"), files = 16)

    // The measurable contract is footer-prunability: how many files'
    // [min,max] intersect a narrow range predicate on EACH dimension.
    // (Per-file spans alone mislead: a z-range straddling a major
    // quadrant boundary covers two compact blocks, so its bounding box
    // is wide even though the layout prunes fine.)
    def filesTouching(path: String, dim: String, lo: Long, hi: Long): Int =
      new java.io.File(path).listFiles().count { f =>
        f.getName.endsWith(".parquet") && {
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min(dim), max(dim)).head()
          r.getLong(0) <= hi && r.getLong(1) >= lo
        }
      }
    // x in [100,110]: both layouts prune (sorted is keyed on x).
    assert(filesTouching(s"$dir/s", "x", 100, 110) <= 2)
    assert(filesTouching(s"$dir/z", "x", 100, 110) <= 8)
    // y in [100,110]: sorted reads EVERY file; z-order skips most.
    assert(filesTouching(s"$dir/s", "y", 100, 110) == 16,
      "sorted layout should be unable to prune on y")
    assert(filesTouching(s"$dir/z", "y", 100, 110) <= 8,
      "z-order must bound y per file well enough to skip half the files")
    assert(spark.read.parquet(s"$dir/z").count() == 256L * 256L)
  }

  test("SearchSortedDouble: cell = #bounds <= v, both eval paths, null propagates") {
    val bounds = Seq(1.0, 2.5, 7.0, 100.0)
    def refCell(v: Double): Long = bounds.count(_ <= v).toLong
    val vs = Seq(-5.0, 0.99, 1.0, 1.01, 2.5, 3.0, 7.0, 99.9, 100.0, 1e9)
    val df = spark.sparkContext.parallelize(vs, 2).toDF("v")
      .withColumn("c", graft.expr.kernels.NativeFns.searchSorted(col("v"), bounds))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      // a fresh Dataset per mode, so each mode plans its own projection
      try df.select(col("v"), col("c")).collect().foreach { r =>
        assert(r.getLong(1) == refCell(r.getDouble(0)), s"v=${r.getDouble(0)} mode $mode")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val nu = Seq(Option.empty[Double]).toDF("v")
      .select(graft.expr.kernels.NativeFns.searchSorted(col("v"), bounds)).collect()
    assert(nu.head.isNullAt(0))
    intercept[IllegalArgumentException] {
      graft.expr.kernels.SearchSortedDouble(null, Seq(2.0, 1.0))
    }
  }

  test("writeZOrderedByRank: balanced files under zipfian skew where uniform cells collapse") {
    val dir = graft.util.Scratch.dir("zrank")
    // x is zipf-ish (80% of rows in the bottom 1% of the value range),
    // y uniform — the hot-key table shape
    val rnd = new scala.util.Random(3)
    val rows = (0 until 20000).map { i =>
      val x = if (i % 5 == 0) rnd.nextInt(1000000).toLong else rnd.nextInt(100).toLong
      (x, (i % 256).toLong)
    }
    val df = rows.toDF("x", "y")
    ZOrder.writeZOrdered(df, s"$dir/u", Seq("x", "y"), files = 16, buckets = 256)
    ZOrder.writeZOrderedByRank(df, s"$dir/r", Seq("x", "y"), files = 16, buckets = 256)

    def fileStats(path: String): Seq[(Long, Long, Long)] =
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(count(lit(1)), min("y"), max("y")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2))
        }
    // uniform cells: 80% of rows share cell (0,*) — x gives the curve
    // nothing, so the layout cannot also keep y ranges tight in those
    // files. rank cells: files stay near-equal mass AND y-prunable.
    val rs = fileStats(s"$dir/r")
    assert(rs.map(_._1).max <= 3L * rs.map(_._1).min,
      s"rank-cell files unbalanced: ${rs.map(_._1)}")
    val touching = rs.count { case (_, lo, hi) => lo <= 110 && hi >= 100 }
    assert(touching <= 8, s"rank layout should keep y prunable, touched $touching/16")
    assert(spark.read.parquet(s"$dir/r").count() == 20000)
  }

  test("writeZOrdered: 3-D and degenerate/skewed dims don't break the write") {
    val dir = graft.util.Scratch.dir("zord3")
    val df = (1 to 2000).map(i => (i.toLong, (i % 7).toLong, 5.0))
      .toDF("a", "b", "c")
    // dim c is constant (lo == hi) — must land in cell 0, not divide by 0
    ZOrder.writeZOrdered(df, s"$dir/t", Seq("a", "b", "c"), files = 4, buckets = 64)
    assert(spark.read.parquet(s"$dir/t").count() == 2000)
  }
}
