package graft.command

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sharded logical_* library commands over a hand-built day-sharded table:
  * layout, border semantics (min/max_border include|exclude), the
  * interior/boundary count split, month granularity, select paging, and
  * shard partition pruning in the physical plan.
  */
class LogicalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  // 7 rows across 5 day-shards spanning two months
  private lazy val rowsDf = {
    import spark.implicits._
    Seq(
      (1L, "2024-01-01T00:00:00Z", "a", 1.0),
      (2L, "2024-01-01T23:59:59Z", "b", 2.0),
      (3L, "2024-01-02T00:00:00Z", "a", 3.0),
      (4L, "2024-01-02T12:00:00Z", "b", 4.0),
      (5L, "2024-01-03T00:00:00Z", "a", 5.0),
      (6L, "2024-01-04T06:00:00Z", "b", 6.0),
      (7L, "2024-02-01T00:00:00Z", "a", 7.0)
    ).map { case (id, t, k, v) => (id, ts(t), k, v) }
      .toDF("id", "t", "kind", "v")
  }

  private lazy val root: String = {
    val dir =
      java.nio.file.Files.createTempDirectory("graft_logical_").toString + "/t"
    Logical.writeSharded(rowsDf, "t", dir)
    dir
  }

  private def rng(min: String = null, minInc: Boolean = true,
      max: String = null, maxInc: Boolean = true) =
    Logical.LogicalRange(Option(min).map(ts), minInc, Option(max).map(ts), maxInc)

  test("writeSharded lays out one partition dir per day + marker") {
    val dirs = new java.io.File(root).listFiles.map(_.getName).toSet
    assert(Set("_shard=20240101", "_shard=20240102", "_shard=20240103",
      "_shard=20240104", "_shard=20240201").subsetOf(dirs), dirs.toString)
    assert(dirs.contains("_logical"))
    assert(Logical.table(spark, root).count() == 7)
  }

  test("count borders: include/exclude on both ends (reference min/max_border)") {
    // [2024-01-01T23:59:59, 2024-01-03T00:00:00) → rows 2,3,4
    assert(Logical.count(spark, root, "t",
      rng("2024-01-01T23:59:59Z", max = "2024-01-03T00:00:00Z",
        maxInc = false)) == 3)
    // exclusive min drops row 2
    assert(Logical.count(spark, root, "t",
      rng("2024-01-01T23:59:59Z", minInc = false,
        max = "2024-01-03T00:00:00Z", maxInc = false)) == 2)
    // inclusive max picks up row 5 (exactly on the boundary)
    assert(Logical.count(spark, root, "t",
      rng("2024-01-01T23:59:59Z", max = "2024-01-03T00:00:00Z")) == 4)
    // open-ended sides
    assert(Logical.count(spark, root, "t", rng(max = "2024-01-02T00:00:00Z")) == 3)
    assert(Logical.count(spark, root, "t", rng("2024-01-04T00:00:00Z")) == 2)
    assert(Logical.count(spark, root, "t", rng()) == 7)
  }

  test("interior/boundary count split ≡ naive filtered count on every range") {
    // cross-check the metadata-count split against the plain pruned scan
    val probes = Seq(
      ("2024-01-01T12:00:00Z", "2024-01-03T18:00:00Z"),
      ("2024-01-02T00:00:00Z", "2024-01-02T23:00:00Z"), // same-shard min/max
      ("2024-01-01T00:00:00Z", "2024-02-01T00:00:00Z"),
      ("2023-12-01T00:00:00Z", "2023-12-31T00:00:00Z"), // fully out of range
      ("2024-01-03T00:00:00Z", "2024-01-03T00:00:00Z")  // point range
    )
    for ((lo, hi) <- probes; minInc <- Seq(true, false); maxInc <- Seq(true, false)) {
      val r = rng(lo, minInc, hi, maxInc)
      val naive = Logical.pruned(spark, root, "t", r).count()
      assert(Logical.count(spark, root, "t", r) == naive,
        s"split count diverges for [$lo,$hi] inc=($minInc,$maxInc)")
    }
  }

  test("count with a filter applies filter AND range") {
    assert(Logical.count(spark, root, "t",
      rng("2024-01-01T00:00:00Z", max = "2024-01-04T23:00:00Z"),
      filter = Some(col("kind") === "a")) == 3) // rows 1,3,5
  }

  test("month granularity shards as yyyyMM and counts identically") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logical_m_").toString + "/t"
    Logical.writeSharded(rowsDf, "t", dir, granularity = "month")
    val dirs = new java.io.File(dir).listFiles.map(_.getName).toSet
    assert(Set("_shard=202401", "_shard=202402").subsetOf(dirs), dirs.toString)
    // marker-driven granularity: no explicit param on the read side
    assert(Logical.count(spark, dir, "t",
      rng("2024-01-02T00:00:00Z", max = "2024-02-01T00:00:00Z")) == 5)
  }

  test("select: range + filter + sort + offset/limit + output columns") {
    val got = Logical.select(spark, root, "t",
      rng("2024-01-01T00:00:00Z", max = "2024-01-04T23:00:00Z"),
      filter = Some(col("v") >= 2.0),
      sortKeys = Seq("-v"), limit = 3, outputColumns = Seq("id", "v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((6L, 6.0), (5L, 5.0), (4L, 4.0)))
    val page2 = Logical.select(spark, root, "t",
      rng("2024-01-01T00:00:00Z", max = "2024-01-04T23:00:00Z"),
      filter = Some(col("v") >= 2.0),
      sortKeys = Seq("-v"), offset = 3, limit = 3, outputColumns = Seq("id"))
      .collect().map(_.getLong(0)).toSeq
    assert(page2 == Seq(3L, 2L))
    // limit -1 = all rows
    assert(Logical.select(spark, root, "t", rng(), limit = -1).count() == 7)
  }

  test("rangeFilter walks shard-key order both directions with paging") {
    val asc = Logical.rangeFilter(spark, root, "t",
      rng("2024-01-01T00:00:00Z", max = "2024-01-31T00:00:00Z"),
      offset = 1, limit = 3, tiebreak = Seq("id"), outputColumns = Seq("id"))
      .collect().map(_.getLong(0)).toSeq
    assert(asc == Seq(2L, 3L, 4L))
    val desc = Logical.rangeFilter(spark, root, "t",
      rng("2024-01-01T00:00:00Z", max = "2024-01-31T00:00:00Z"),
      descending = true, limit = 2, tiebreak = Seq("id"),
      outputColumns = Seq("id"))
      .collect().map(_.getLong(0)).toSeq
    assert(desc == Seq(6L, 5L))
  }

  test("shard range prunes partitions in the physical plan") {
    val p = Logical.pruned(spark, root, "t",
      rng("2024-01-02T00:00:00Z", max = "2024-01-03T00:00:00Z"))
      .queryExecution.sparkPlan.toString
    assert(p.contains("PartitionFilters: ["), s"no partition filters:\n$p")
    assert(p.contains("_shard") && (p.contains(">= 20240102") ||
      p.contains(">= '20240102'")), s"shard lower bound not in plan:\n$p")
    // the row-level ts predicate pushes to the scan
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThanOrEqual(t"),
      s"shard-key predicate not pushed:\n$p")
  }

  test("shardList names shards in key order") {
    assert(Logical.shardList(spark, root) == Seq("20240101", "20240102",
      "20240103", "20240104", "20240201"))
  }

  test("removeRange drops covered shards whole and rewrites boundaries") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logical_rm_").toString + "/t"
    Logical.writeSharded(rowsDf, "t", dir)
    // remove [2024-01-02T12:00, 2024-02-01T00:00] inclusive:
    // 20240103/20240104 are fully covered (whole-dir deletes, no rewrite);
    // 20240102 rewrites keeping row 3 (00:00 < min); 20240201 empties out
    val dropped = Logical.removeRange(spark, dir, "t",
      rng("2024-01-02T12:00:00Z", max = "2024-02-01T00:00:00Z"))
    assert(dropped == 3, s"expected 3 dropped shards, got $dropped")
    assert(Logical.shardList(spark, dir) == Seq("20240101", "20240102"))
    val left = Logical.table(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(1L, 2L, 3L))
    // removed rows are gone from counts too
    assert(Logical.count(spark, dir, "t", rng()) == 3)
  }

  test("streamSharded appends day partitions as event time advances") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_logical_st_").toString
    val root = s"$base/t"
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = Logical.streamSharded(
      mem.toDF().toDF("id", "t", "v"), "t", root)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      mem.addData((1L, ts("2024-01-01T10:00:00Z"), 1.0),
        (2L, ts("2024-01-01T12:00:00Z"), 2.0))
      q.processAllAvailable()
      assert(Logical.shardList(spark, root) == Seq("20240101"))
      // a later micro-batch opens a NEW day shard; earlier shards untouched
      mem.addData((3L, ts("2024-01-02T01:00:00Z"), 3.0))
      q.processAllAvailable()
      assert(Logical.shardList(spark, root) == Seq("20240101", "20240102"))
      // the batch readers work on the streamed layout, pruning included
      assert(Logical.count(spark, root, "t",
        rng("2024-01-02T00:00:00Z")) == 1)
      assert(Logical.count(spark, root, "t", rng()) == 3)
      val p = Logical.pruned(spark, root, "t", rng("2024-01-02T00:00:00Z"))
        .queryExecution.sparkPlan.toString
      assert(p.contains("PartitionFilters: ["), s"no pruning on streamed layout:\n$p")
    } finally q.stop()
  }

  test("windowPlan: edge-aligned bounds are full covers, not boundaries") {
    // [Jan2 00:00 incl, Jan3 00:00 excl): both bounds shard-aligned →
    // exactly one shard, fully covered (cover_type :all — no row trim)
    val (s1, b1) = Logical.windowPlan(spark, root, "t",
      rng("2024-01-02T00:00:00Z", max = "2024-01-03T00:00:00Z",
        maxInc = false))
    assert(s1 == Seq("20240102") && b1.isEmpty, s"$s1 / $b1")
    // unaligned bounds make their shards partial
    val (s2, b2) = Logical.windowPlan(spark, root, "t",
      rng("2024-01-01T12:00:00Z", max = "2024-01-02T12:00:00Z"))
    assert(s2 == Seq("20240101", "20240102") &&
      b2 == Set("20240101", "20240102"), s"$s2 / $b2")
    // inclusive min at shard start: that shard is interior; max mid-shard
    // is the only boundary
    val (s3, b3) = Logical.windowPlan(spark, root, "t",
      rng("2024-01-01T00:00:00Z", max = "2024-01-02T12:00:00Z"))
    assert(s3 == Seq("20240101", "20240102") && b3 == Set("20240102"),
      s"$s3 / $b3")
  }

  test("null shard keys land in the default partition and match no range") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some(ts("2024-01-01T10:00:00Z"))),
      (2L, None: Option[java.sql.Timestamp]),
      (3L, Some(ts("2024-01-03T10:00:00Z")))
    ).toDF("id", "t")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logical_null_").toString + "/t"
    Logical.writeSharded(rows, "t", dir)
    // min-only bound: lexicographically __HIVE_DEFAULT_PARTITION__ >=
    // '20240101', but a NULL key is in NO range (inRange NaN contract)
    assert(Logical.count(spark, dir, "t", rng("2024-01-01T00:00:00Z")) == 2)
    assert(Logical.select(spark, dir, "t", rng("2024-01-01T00:00:00Z"),
      limit = -1).count() == 2)
    // the UNBOUNDED logical table still includes the null-key row
    assert(Logical.count(spark, dir, "t", rng()) == 3)
    // removeRange with a min-only bound must never delete the null shard
    assert(Logical.removeRange(spark, dir, "t",
      rng("2024-01-01T00:00:00Z")) == 2)
    assert(Logical.count(spark, dir, "t", rng()) == 1)
  }

  test("marker time zone survives a session tz change (instant keys)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logical_tz_").toString + "/t"
    val rows = Seq((1L, ts("2024-01-09T20:00:00Z"))).toDF("id", "t")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try Logical.writeSharded(rows, "t", dir)
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // written under Tokyo time: 20:00Z is Jan 10 local
    assert(Logical.shardList(spark, dir) == Seq("20240110"))
    // reading under UTC: the bounds' shard names must resolve through the
    // WRITER's zone (marker) — a UTC derivation would look only in
    // 20240109 and silently miss the row
    assert(Logical.count(spark, dir, "t",
      rng("2024-01-09T18:00:00Z", max = "2024-01-09T22:00:00Z")) == 1)
  }

  test("explicit file:-scheme root drives the Hadoop FileSystem route") {
    // same lifecycle as the POSIX tests but through an explicit URI scheme:
    // marker write/read, listing, count, select paging, and removeRange's
    // backup/rename dance all resolve via FileSystem, not java.io.File
    val dir = "file://" + java.nio.file.Files
      .createTempDirectory("graft_logical_fs_").toString + "/t"
    Logical.writeSharded(rowsDf, "t", dir)
    assert(Logical.shardList(spark, dir) == Seq("20240101", "20240102",
      "20240103", "20240104", "20240201"))
    assert(Logical.count(spark, dir, "t",
      rng("2024-01-01T23:59:59Z", max = "2024-01-03T00:00:00Z",
        maxInc = false)) == 3)
    assert(Logical.select(spark, dir, "t", rng(max = "2024-01-31T00:00:00Z"),
      sortKeys = Seq("-v"), limit = 2).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(6L, 5L))
    // boundary rewrite + whole-shard drop through FileSystem.rename/delete
    assert(Logical.removeRange(spark, dir, "t",
      rng("2024-01-02T06:00:00Z", max = "2024-01-04T23:59:59Z")) == 2)
    assert(Logical.table(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 7L))
  }

  test("recover finishes or rolls back an interrupted removeRange") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logical_rec_").toString + "/t"
    Logical.writeSharded(rowsDf, "t", dir)
    val F = graft.core.Fs
    // shard 20240101: crash AFTER backup rename, BEFORE rewrite rename —
    // a complete rewrite (with _SUCCESS) is waiting; recover finishes it
    rowsDf.filter($"id" === 1L).withColumn("_writeme", lit(1)).drop("_writeme")
      .write.parquet(s"$dir/.rewrite_20240101")
    assert(F.rename(spark, s"$dir/_shard=20240101", s"$dir/.old_20240101"))
    // shard 20240102: crash right after backup rename — nothing replaced
    // it; recover must roll the original back untouched
    assert(F.rename(spark, s"$dir/_shard=20240102", s"$dir/.old_20240102"))
    // shard 20240103: pre-rename rewrite leftover next to an intact shard
    rowsDf.filter($"id" === 5L).write.parquet(s"$dir/.rewrite_20240103")
    // shard 20240104: the shard emptied out — its completed rewrite holds
    // no data files, only _SUCCESS; recover must drop it, not revive it
    F.writeString(spark, s"$dir/.rewrite_20240104/_SUCCESS", "")
    assert(F.rename(spark, s"$dir/_shard=20240104", s"$dir/.old_20240104"))
    // shard 20240201: emptied too, but written as removeRange writes an
    // empty survivor set — a zero-row parquet file next to _SUCCESS
    rowsDf.filter(lit(false)).write.parquet(s"$dir/.rewrite_20240201")
    assert(F.rename(spark, s"$dir/_shard=20240201", s"$dir/.old_20240201"))
    val (completed, rolledBack) = Logical.recover(spark, dir)
    assert(completed == 3 && rolledBack == 1, s"$completed/$rolledBack")
    assert(!F.exists(spark, s"$dir/.old_20240101") &&
      !F.exists(spark, s"$dir/.old_20240102") &&
      !F.exists(spark, s"$dir/.old_20240104") &&
      !F.exists(spark, s"$dir/.rewrite_20240101") &&
      !F.exists(spark, s"$dir/.rewrite_20240103") &&
      !F.exists(spark, s"$dir/.rewrite_20240104") &&
      !F.exists(spark, s"$dir/.old_20240201") &&
      !F.exists(spark, s"$dir/.rewrite_20240201"))
    assert(Logical.shardList(spark, dir) == Seq("20240101", "20240102", "20240103"))
    // 20240101 now holds only the rewrite's survivor (id 1); 20240102's
    // rows (3, 4) are fully restored; 20240104 (id 6) and 20240201 (id 7)
    // stay dropped; everything else untouched
    assert(Logical.table(spark, dir).select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L, 5L))
    // idempotent: a second pass is a no-op
    assert(Logical.recover(spark, dir) == ((0, 0)))
  }

  test("inRange scalar twin: border semantics") {
    import Logical.inRange
    assert(inRange(5.0, Some(5.0), true, Some(6.0), true))
    assert(!inRange(5.0, Some(5.0), false, Some(6.0), true))
    assert(inRange(6.0, Some(5.0), false, Some(6.0), true))
    assert(!inRange(6.0, Some(5.0), false, Some(6.0), false))
    assert(!inRange(Double.NaN, None, true, None, true))
    assert(inRange(1.0, None, true, None, true))
  }
}
