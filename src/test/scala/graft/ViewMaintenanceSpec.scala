package graft

import graft.operators.ViewMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Incremental join-view maintenance specs: the affected-slice fold must
  * land exactly on a fresh join under every change class — insert,
  * delete, update, a JOIN-KEY MOVE on the A side, a fanned-out B-side
  * update, and the changed-A × changed-B overlap (which must not emit
  * twice). The s15 entry additionally value-gates the fold on the sf
  * tables against DuckDB's fresh join.
  */
class ViewMaintenanceSpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private def a(rows: (Long, Long, Double)*): DataFrame =
    rows.toDF("aid", "akey", "payload")
  private def b(rows: (Long, String)*): DataFrame =
    rows.toDF("bkey", "tag")

  private def fresh(aDf: DataFrame, bDf: DataFrame): Set[(Long, Long, Double, Long, String)] =
    aDf.join(bDf, $"akey" === $"bkey")
      .as[(Long, Long, Double, Long, String)].collect().toSet

  private def maintained(v0: DataFrame, aDf: DataFrame, bDf: DataFrame,
                         dA: Seq[Long], dB: Seq[Long]): Set[(Long, Long, Double, Long, String)] =
    ViewMaintenance.maintainJoinView(v0, aDf, bDf, "aid", "akey", "bkey", dA, dB)
      .as[(Long, Long, Double, Long, String)].collect().toSet

  test("insert, delete, update and a join-key MOVE all land on the fresh join") {
    val a0 = a((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 20L, 3.0), (4L, 30L, 4.0))
    val b0 = b((10L, "x"), (20L, "y"), (30L, "z"))
    val v0 = a0.join(b0, $"akey" === $"bkey")
    // delete 4; insert 5→20; update 2's payload; MOVE 3 from key 20 to 10
    val a1 = a((1L, 10L, 1.0), (2L, 10L, 2.5), (3L, 10L, 3.0), (5L, 20L, 5.0))
    maintained(v0, a1, b0, dA = Seq(2L, 3L, 4L, 5L), dB = Nil) shouldBe fresh(a1, b0)
  }

  test("a B-side change fans out to every joined A row; overlap pairs emit once") {
    val a0 = a((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 20L, 3.0))
    val b0 = b((10L, "x"), (20L, "y"))
    val v0 = a0.join(b0, $"akey" === $"bkey")
    // b key 10 retagged (fans to rows 1 AND 2); row 1 ALSO changed — the
    // changed×changed pair (1,10) is covered by addA alone, exactly once
    val a1 = a((1L, 10L, 1.5), (2L, 10L, 2.0), (3L, 20L, 3.0))
    val b1 = b((10L, "x2"), (20L, "y"))
    val out = ViewMaintenance.maintainJoinView(v0, a1, b1,
      "aid", "akey", "bkey", Seq(1L), Seq(10L))
    out.count() shouldBe 3 // no duplicate from the overlap
    out.as[(Long, Long, Double, Long, String)].collect().toSet shouldBe fresh(a1, b1)
  }

  test("empty change window is the identity; deleting a whole B key drops its slice") {
    val a0 = a((1L, 10L, 1.0), (2L, 20L, 2.0))
    val b0 = b((10L, "x"), (20L, "y"))
    val v0 = a0.join(b0, $"akey" === $"bkey")
    maintained(v0, a0, b0, Nil, Nil) shouldBe fresh(a0, b0)
    val b1 = b((10L, "x"))
    maintained(v0, a0, b1, Nil, Seq(20L)) shouldBe fresh(a0, b1)
  }

  test("DataFrame change windows: same fold as the Seq sugar, and the plan carries " +
    "broadcast semi/anti probes — never a literal IN list") {
    val a0 = a((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 20L, 3.0), (4L, 30L, 4.0))
    val b0 = b((10L, "x"), (20L, "y"), (30L, "z"))
    val v0 = a0.join(b0, $"akey" === $"bkey")
    val a1 = a((1L, 10L, 1.0), (2L, 10L, 2.5), (3L, 10L, 3.0), (5L, 20L, 5.0))
    val out = ViewMaintenance.maintainJoinView(v0, a1, b0, "aid", "akey", "bkey",
      Seq(2L, 3L, 4L, 5L).toDF("aid"), Seq(20L).toDF("bkey"))
    out.as[(Long, Long, Double, Long, String)].collect().toSet shouldBe fresh(a1, b0)
    val plan = out.queryExecution.optimizedPlan.toString
    // the changed-id window must reach the big-side scans as a JOIN (the
    // shape that broadcasts today and supplies dynamic pruning on a
    // partitioned layout) — a collected IN literal would stop pushing and
    // bloat the plan once the window grows with the corpus
    plan should not include " IN ("
    plan should include("LeftSemi")
    plan should include("LeftAnti")
    // the Seq sugar delegates to the SAME path: no IN literal either
    val sugar = ViewMaintenance.maintainJoinView(v0, a1, b0, "aid", "akey", "bkey",
      Seq(2L, 3L, 4L, 5L), Seq(20L))
    sugar.queryExecution.optimizedPlan.toString should not include " IN ("
    sugar.as[(Long, Long, Double, Long, String)].collect().toSet shouldBe fresh(a1, b0)
  }

  test("a WIDE change window (10k ids) folds exactly through the DataFrame path") {
    // the scale motivation for DataFrame windows: a window this size as an
    // isin literal would already strain the plan; as a broadcast semi probe
    // it is one map-side filter regardless of width
    val n = 10000L
    val a0 = spark.range(0, n).select(col("id").as("aid"),
      (col("id") % 64).as("akey"), (col("id") * 1.5).as("payload"))
    val b0 = spark.range(0, 64).select(col("id").as("bkey"),
      concat(lit("t"), col("id")).as("tag"))
    val v0 = a0.join(b0, $"akey" === $"bkey")
    // every third row updated (payload bump), every 1000th key-moved
    val a1 = a0.withColumn("payload",
        when($"aid" % 3 === 0, $"payload" + 1).otherwise($"payload"))
      .withColumn("akey", when($"aid" % 1000 === 0, ($"akey" + 7) % 64)
        .otherwise($"akey"))
    val changedA = a1.where($"aid" % 3 === 0 || $"aid" % 1000 === 0).select("aid")
    val out = ViewMaintenance.maintainJoinView(v0, a1, b0,
      "aid", "akey", "bkey", changedA, b0.limit(0).select("bkey"))
    out.count() shouldBe n
    val freshSum = a1.join(b0, $"akey" === $"bkey").agg(sum("payload")).head.getDouble(0)
    out.agg(sum("payload")).head.getDouble(0) shouldBe freshSum
    out.queryExecution.optimizedPlan.toString should not include " IN ("
  }

  test("id-list sugar coerces element types: Int ids against bigint columns work like isin did") {
    val a0 = a((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 20L, 3.0))
    val b0 = b((10L, "x"), (20L, "y"))
    val v0 = a0.join(b0, $"akey" === $"bkey")
    val a1 = a((1L, 10L, 1.0), (2L, 10L, 9.0), (3L, 20L, 3.0))
    // Ints (and a boxed Integer) against LongType aid — the old isin form
    // cast implicitly; the DataFrame sugar must too
    val got = ViewMaintenance.maintainJoinView(v0, a1, b0,
        "aid", "akey", "bkey", Seq[Any](2, Integer.valueOf(2)), Seq[Any]())
      .as[(Long, Long, Double, Long, String)].collect().toSet
    got shouldBe fresh(a1, b0)
  }

  test("a B key column colliding with an A column is rejected with the contract message") {
    val a0 = a((1L, 10L, 1.0))
    val bSame = Seq((10L, "x")).toDF("akey", "tag") // collides with A's join key
    val v0 = a0.join(bSame.withColumnRenamed("akey", "bkey"), $"akey" === $"bkey")
    val ex = intercept[IllegalArgumentException] {
      ViewMaintenance.maintainJoinView(v0, a0, bSame, "aid", "akey", "akey", Nil, Nil)
    }
    ex.getMessage should include("collides")
  }

  test("persisted view: refresh rewrites ONLY touched buckets — cold bucket files " +
    "byte-identical — and the on-disk view lands on the fresh join") {
    val dir = GraftSession.scratchDir("graft-view").toString + "/v"
    val nB = 8
    val a0 = a((1L, 10L, 1.0), (2L, 20L, 2.0), (3L, 20L, 3.0), (4L, 30L, 4.0),
      (5L, 40L, 5.0), (6L, 50L, 6.0))
    val b0 = b((10L, "x"), (20L, "y"), (30L, "z"), (40L, "w"), (50L, "v"))
    ViewMaintenance.writeJoinView(a0.join(b0, $"akey" === $"bkey"), "akey", nB, dir)

    def snapshot(): Map[String, Seq[(String, Long, Long)]] = {
      val root = java.nio.file.Paths.get(dir)
      graft.util.FsUtil.listDir(root)(_.filter(p =>
          p.getFileName.toString.startsWith("bucket=")).toSeq).map { d =>
        d.getFileName.toString ->
          graft.util.FsUtil.listDir(d)(_.filter(_.getFileName.toString.endsWith(".parquet"))
            .toSeq.map { f =>
              val bytes = java.nio.file.Files.readAllBytes(f)
              (f.getFileName.toString, bytes.length.toLong,
                java.util.Arrays.hashCode(bytes).toLong)
            }.sortBy(_._1))
      }.toMap
    }
    val before = snapshot()

    // move aid 3 from key 20 to 10; delete aid 4; retag b key 50
    val a1 = a((1L, 10L, 1.0), (2L, 20L, 2.0), (3L, 10L, 3.0),
      (5L, 40L, 5.0), (6L, 50L, 6.0))
    val b1 = b((10L, "x"), (20L, "y"), (30L, "z"), (40L, "w"), (50L, "v2"))
    ViewMaintenance.refreshJoinViewPartitions(spark, dir, a1, b1,
      "aid", "akey", "bkey", Seq(3L, 4L).toDF("aid"), Seq(50L).toDF("bkey"), nB)

    spark.read.parquet(dir).drop("bucket")
      .as[(Long, Long, Double, Long, String)].collect().toSet shouldBe fresh(a1, b1)

    // touched buckets: old homes (20, 30), new home (10), changed B (50)
    val touched = Seq(10L, 20L, 30L, 50L).toDF("k")
      .select(ViewMaintenance.viewBucket(col("k"), nB)).as[Int].collect()
      .map(bk => s"bucket=$bk").toSet
    val after = snapshot()
    val cold = before.keySet.diff(touched)
    cold should not be empty // the fixture must actually exercise a cold bucket
    cold.foreach { d => after(d) shouldBe before(d) }
  }
}
