package graft.command

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType}

/** Sharded logical tables — the library form of the reference's
  * `logical_select` / `logical_count` / `logical_range_filter` commands
  * (reference plugins/sharding/logical_select.rb, logical_count.rb,
  * logical_range_filter.rb; shard enumeration logical_enumerator.rb).
  *
  * The reference stores one physical table per day/month
  * (`Logs_20240101`, ...) and plans a range-pruned walk over the shards
  * whose name-range intersects the requested [min, max] window
  * (LogicalEnumerator + TargetRange#cover_type). The Spark-native shape of
  * the same idea is a parquet dataset PARTITIONED BY a shard column derived
  * from the shard key: shard pruning is then Catalyst partition pruning
  * (`PartitionFilters` on the scan — zero I/O for out-of-range shards,
  * exactly like the reference never opening out-of-range tables), and the
  * cover_type row-level check is a pushed-down predicate on the shard-key
  * column itself.
  *
  * Scale notes (the point of the sharded commands at 10⁹+ rows/day):
  *   - [[count]] splits INTERIOR shards (fully covered by the range — the
  *     reference's cover_type :all, counted via `table.size` without
  *     touching rows) from BOUNDARY shards (cover_type :partial_*). The
  *     interior branch projects no columns, so the parquet scan satisfies
  *     it from row-group metadata; only the ≤2 boundary shards read the
  *     shard-key column.
  *   - [[rangeFilter]] is `orderBy(shardKey).offset(o).limit(n)` over the
  *     pruned scan — Spark plans TakeOrdered (per-partition top-k, then a
  *     driver-side merge of k-row partials), never a global sort; the
  *     reference's shard-by-shard early-stop walk is the same cost shape.
  *   - no shuffle appears in any of the three unless the caller's sort key
  *     differs from the shard key.
  */
object Logical {

  /** Range over the shard key, borders included/excluded per the
    * reference's `min_border`/`max_border` (include|exclude).
    */
  final case class LogicalRange(
      min: Option[java.sql.Timestamp] = None, minInclude: Boolean = true,
      max: Option[java.sql.Timestamp] = None, maxInclude: Boolean = true)

  /** Border semantics shared with the compat model (the scalar twin of
    * [[rowPredicate]]): keep `v` (epoch seconds) when it falls inside the
    * range given as epoch-second bounds. NaN (unparseable key) never
    * matches — the reference's cast failure drops the row.
    */
  def inRange(v: Double,
      minV: Option[Double], minInc: Boolean,
      maxV: Option[Double], maxInc: Boolean): Boolean =
    !v.isNaN &&
      minV.forall(mv => if (minInc) v >= mv else v > mv) &&
      maxV.forall(mv => if (maxInc) v <= mv else v < mv)

  /** Partition column carrying the shard name (yyyyMMdd / yyyyMM). */
  val ShardCol = "_shard"

  private def pattern(granularity: String): String = granularity match {
    case "day" => "yyyyMMdd"
    case "month" => "yyyyMM"
    case other => throw new IllegalArgumentException(
      s"granularity must be day or month, got $other")
  }

  /** Write `df` as a sharded logical table at `root`: one partition
    * directory per `shardKey` day (or month), the layout every reference
    * sharding fixture models with its `Logs_YYYYMMDD` tables. A `_logical`
    * marker file records the shard key and granularity (underscore files
    * are invisible to parquet discovery).
    */
  def writeSharded(df: DataFrame, shardKey: String, root: String,
      granularity: String = "day"): Unit = {
    df.withColumn(ShardCol, date_format(col(shardKey), pattern(granularity)))
      .write.mode("overwrite").partitionBy(ShardCol).parquet(root)
    writeMarker(df.sparkSession, root, shardKey, granularity)
  }

  /** The marker records the WRITER's session time zone too: shard
    * assignment for instant-typed keys bakes it in via `date_format`, so
    * the read side must derive shard names with the SAME zone — a session
    * tz change between write and read would otherwise silently prune
    * shards that hold in-range rows.
    *
    * All marker/listing/retention file IO in this object goes through the
    * Hadoop `FileSystem` API ([[graft.core.Fs]]) so the data root can be
    * any scheme Spark reads — `file:`, `hdfs:`, `s3a:`, ...
    */
  private def writeMarker(spark: SparkSession, root: String, shardKey: String,
      granularity: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val marker =
      s"""{"shardKey":"$shardKey","granularity":"$granularity","timeZone":"$tz"}"""
    graft.core.Fs.writeString(spark, s"$root/_logical", marker)
  }

  /** Continuous ingestion into the sharded layout: a STREAMING DataFrame
    * appends day/month partitions as event time advances — the analogue of
    * the reference's per-day `Logs_YYYYMMDD` tables filling from load
    * hooks, and the natural feed for [[select]]/[[count]]/[[rangeFilter]]
    * over live data (readers see new shards on their next listing; the
    * partition-pruned plans never touch shards outside their range, so
    * ingestion and query never contend). Caller starts the returned writer
    * with its own checkpoint location and trigger.
    */
  def streamSharded(df: DataFrame, shardKey: String, root: String,
      granularity: String = "day")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    writeMarker(df.sparkSession, root, shardKey, granularity)
    df.withColumn(ShardCol, date_format(col(shardKey), pattern(granularity)))
      .writeStream.format("parquet").partitionBy(ShardCol)
      .option("path", root)
  }

  /** Parsed `_logical` marker; `timeZone` is absent on pre-marker layouts
    * (read side then falls back to the query session's zone).
    */
  private final case class Marker(granularity: String, timeZone: Option[String])

  // marker reads memoized per root (keyed on the file's mtime so a
  // rewritten layout re-reads) — the serving path must not stat+read a
  // driver file per query
  private val markerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Marker)]()

  private def markerOf(spark: SparkSession, root: String): Marker = {
    val path = s"$root/_logical"
    graft.core.Fs.mtime(spark, path) match {
      case None => Marker("day", None)
      case Some(stamp) =>
        val cached = markerCache.get(root)
        if (cached != null && cached._1 == stamp) cached._2
        else {
          val s = graft.core.Fs.readString(spark, path)
          val tzR = """"timeZone":"([^"]+)"""".r
          val m = Marker(
            if (s.contains("\"month\"")) "month" else "day",
            tzR.findFirstMatchIn(s).map(_.group(1)))
          markerCache.put(root, (stamp, m))
          m
        }
    }
  }

  /** Effective marker for a read: an explicit granularity overrides the
    * recorded one (the tz always comes from the marker when present).
    */
  private def resolvedMarker(spark: SparkSession, root: String,
      granularity: Option[String]): Marker = {
    val m = markerOf(spark, root)
    granularity.map(g => m.copy(granularity = g)).getOrElse(m)
  }

  /** The logical table: all shards, `_shard` as a partition column. */
  def table(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(root)

  /** TIMESTAMP_NTZ shard keys (parquet timestamps without UTC adjustment
    * read back as NTZ) hold NAIVE datetimes; a range bound's naive reading
    * is its instant viewed in UTC — callers build bounds from ISO instants
    * (`2024-01-05T00:00:00Z` = naive `2024-01-05 00:00:00`).
    */
  private def isNtz(df: DataFrame, shardKey: String): Boolean =
    df.schema(shardKey).dataType == TimestampNTZType

  private def naiveUtc(t: java.sql.Timestamp): java.time.LocalDateTime =
    java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)

  /** Shard-key literal matching the COLUMN type — a mismatched literal
    * would wrap the column in a cast and defeat parquet filter pushdown.
    */
  private def keyLit(ntz: Boolean, t: java.sql.Timestamp): Column =
    if (ntz) lit(naiveUtc(t)) else lit(t)

  /** Driver-side shard name of a bound — same calendar arithmetic as the
    * executor-side `date_format`: NTZ keys format their naive value
    * directly (date_format does no tz conversion on NTZ), instant keys
    * resolve through the session time zone, so a window bound always lands
    * in the shard its rows were written to.
    */
  private def shardOf(spark: SparkSession, t: java.sql.Timestamp,
      m: Marker, ntz: Boolean): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern(pattern(m.granularity))
    if (ntz) fmt.format(naiveUtc(t))
    else fmt.withZone(java.time.ZoneId.of(m.timeZone.getOrElse(
      spark.conf.get("spark.sql.session.timeZone")))).format(t.toInstant)
  }

  /** `_shard` literals must match the INFERRED partition-column type
    * (all-digit partition values read back as int by default).
    */
  private def shardLit(df: DataFrame, s: String): Column =
    df.schema(ShardCol).dataType match {
      case IntegerType => lit(s.toInt)
      case LongType => lit(s.toLong)
      case _ => lit(s)
    }

  /** Shard-level pruning predicate — lands in `PartitionFilters`: only
    * shards whose day/month can intersect the range are listed or read.
    * Border exclusion never tightens the SHARD bound (an excluded instant's
    * own day can still hold qualifying rows); the row predicate finishes
    * the job.
    */
  /** Digit-only shard guard: the null-key partition
    * (`_shard=__HIVE_DEFAULT_PARTITION__`) must never satisfy a BOUNDED
    * range — null shard keys match no range (the [[inRange]] NaN contract)
    * — and the string compares `__HIVE… >= "20240110"` would otherwise
    * admit it on a min-only bound. Stays a partition-level predicate.
    */
  private def digitShard: Column =
    col(ShardCol).cast("string").rlike("^[0-9]+$")

  private def shardPred(spark: SparkSession, df: DataFrame, shardKey: String,
      range: LogicalRange, m: Marker): Option[Column] = {
    val ntz = isNtz(df, shardKey)
    val lo = loShardName(spark, range, m, ntz)
      .map(s => col(ShardCol) >= shardLit(df, s))
    val hi = hiShardName(spark, range, m, ntz)
      .map(s => col(ShardCol) <= shardLit(df, s))
    (lo, hi) match {
      case (Some(a), Some(b)) => Some(a && b && digitShard)
      case (a, b) => a.orElse(b).map(_ && digitShard)
    }
  }

  /** Row-level range predicate on the shard key (pushed to the scan). */
  private def rowPred(df: DataFrame, shardKey: String,
      range: LogicalRange): Option[Column] = {
    val ntz = isNtz(df, shardKey)
    val lo = range.min.map(t =>
      if (range.minInclude) col(shardKey) >= keyLit(ntz, t)
      else col(shardKey) > keyLit(ntz, t))
    val hi = range.max.map(t =>
      if (range.maxInclude) col(shardKey) <= keyLit(ntz, t)
      else col(shardKey) < keyLit(ntz, t))
    (lo, hi) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (a, b) => a.orElse(b)
    }
  }

  /** The shard-pruned, range-filtered logical table — the common scan under
    * [[select]] and [[rangeFilter]].
    */
  def pruned(spark: SparkSession, root: String, shardKey: String,
      range: LogicalRange = LogicalRange(),
      granularity: Option[String] = None): DataFrame = {
    val m = resolvedMarker(spark, root, granularity)
    val df = table(spark, root)
    val withShards =
      shardPred(spark, df, shardKey, range, m).map(df.where).getOrElse(df)
    rowPred(df, shardKey, range).map(withShards.where).getOrElse(withShards)
  }

  /** `logical_count` (reference logical_count.rb): rows in range matching
    * `filter`. When no filter is given, INTERIOR shards (the reference's
    * cover_type :all → `table.size`) count without projecting any column —
    * parquet satisfies a zero-column count from row-group metadata — and
    * only the ≤2 BOUNDARY shards evaluate the shard-key predicate.
    */
  def countDF(spark: SparkSession, root: String, shardKey: String,
      range: LogicalRange = LogicalRange(),
      filter: Option[Column] = None,
      granularity: Option[String] = None): DataFrame = {
    val m = resolvedMarker(spark, root, granularity)
    val df = table(spark, root)
    val counted: DataFrame = (filter, range.min, range.max) match {
      case (None, min, max) if min.isDefined || max.isDefined =>
        val ntz = isNtz(df, shardKey)
        val loB = loShardName(spark, range, m, ntz)
        val hiB = hiShardName(spark, range, m, ntz)
        val bset = boundarySet(spark, range, m, ntz)
        // interior = whole in-range span minus the partial shards; an
        // edge-aligned bound's shard counts as interior (cover_type :all).
        // digitShard keeps the null-key partition out of the zero-column
        // interior count (its rows have NULL shard keys — in no range)
        val inSpan = (Seq(
          loB.map(s => col(ShardCol) >= shardLit(df, s)),
          hiB.map(s => col(ShardCol) <= shardLit(df, s)))
          .flatten :+ digitShard).reduce(_ && _)
        val inBoundary =
          if (bset.isEmpty) lit(false)
          else bset.map(s => col(ShardCol) === shardLit(df, s)).reduce(_ || _)
        df.where(inSpan && !inBoundary).select(lit(1L).as("one"))
          .unionAll(df.where(inBoundary && rowPred(df, shardKey, range)
            .getOrElse(lit(true))).select(lit(1L).as("one")))
      case _ =>
        val base = pruned(spark, root, shardKey, range, Some(m.granularity))
        filter.map(base.where).getOrElse(base).select(lit(1L).as("one"))
    }
    counted.agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
  }

  def count(spark: SparkSession, root: String, shardKey: String,
      range: LogicalRange = LogicalRange(),
      filter: Option[Column] = None,
      granularity: Option[String] = None): Long =
    countDF(spark, root, shardKey, range, filter, granularity)
      .head().getLong(0)

  private def sortCols(keys: Seq[String]): Seq[Column] = keys.map { k =>
    val (neg, body) =
      if (k.startsWith("-")) (true, k.drop(1)) else (false, k.stripPrefix("+"))
    val c = if (body.contains('(')) expr(body) else col(body)
    if (neg) c.desc else c.asc
  }

  /** `logical_select` (reference logical_select.rb): range-pruned scan +
    * filter + sort + offset/limit + output columns. `limit < 0` = all rows
    * (the command's `--limit -1`). Sort keys use the select syntax
    * (`-col` descending). The sorted page plans as TakeOrdered when a
    * limit is present — per-partition top-k, no global sort.
    */
  def select(spark: SparkSession, root: String, shardKey: String,
      range: LogicalRange = LogicalRange(),
      filter: Option[Column] = None,
      sortKeys: Seq[String] = Nil,
      offset: Int = 0,
      limit: Int = 10,
      outputColumns: Seq[String] = Seq("*"),
      granularity: Option[String] = None): DataFrame = {
    require(offset >= 0, s"offset must be >= 0, got $offset")
    val base0 = pruned(spark, root, shardKey, range, granularity)
    val base = filter.map(base0.where).getOrElse(base0)
    val keys = if (sortKeys.nonEmpty) sortKeys else Seq(shardKey)
    val sorted = base.orderBy(sortCols(keys): _*)
    val paged =
      if (limit < 0) { if (offset == 0) sorted else sorted.offset(offset) }
      else if (offset == 0) sorted.limit(limit)
      else sorted.offset(offset).limit(limit)
    if (outputColumns == Seq("*")) paged.drop(ShardCol)
    else paged.select(outputColumns.map(c =>
      (if (c.contains('(')) expr(c) else col(c)).as(c)): _*)
  }

  /** `logical_range_filter` (reference logical_range_filter.rb): rows in
    * shard-key order (ascending/descending) with offset/limit — the paged
    * time-window walk. `tiebreak` columns make paging deterministic on
    * equal keys (the reference ties on `_id`).
    */
  def rangeFilter(spark: SparkSession, root: String, shardKey: String,
      range: LogicalRange = LogicalRange(),
      descending: Boolean = false,
      offset: Int = 0,
      limit: Int = 10,
      filter: Option[Column] = None,
      tiebreak: Seq[String] = Nil,
      outputColumns: Seq[String] = Seq("*"),
      granularity: Option[String] = None): DataFrame = {
    val keys = (shardKey +: tiebreak).map(k => if (descending) s"-$k" else k)
    select(spark, root, shardKey, range, filter, keys, offset, limit,
      outputColumns, granularity)
  }

  /** `logical_shard_list` (reference logical_shard_list.rb): the shard
    * names in key order — straight off the partition directory listing
    * (one `FileSystem.listStatus`, any scheme), no data read.
    */
  def shardList(spark: SparkSession, root: String): Seq[String] =
    graft.core.Fs.listDirNames(spark, root)
      .filter(_.startsWith(s"$ShardCol="))
      .map(_.stripPrefix(s"$ShardCol="))
      .sorted

  private def minusMicro(t: java.sql.Timestamp): java.sql.Timestamp =
    java.sql.Timestamp.from(t.toInstant.minusNanos(1000))

  /** Lowest shard a bounded range can touch. */
  private def loShardName(spark: SparkSession, range: LogicalRange,
      m: Marker, ntz: Boolean): Option[String] =
    range.min.map(shardOf(spark, _, m, ntz))

  /** Highest shard a bounded range can touch — an EXCLUSIVE max aligned
    * exactly to a shard start never touches its own shard (the last
    * covered instant is max − 1µs, the data resolution), mirroring the
    * reference TargetRange's cover_type :none on edge-aligned bounds.
    */
  private def hiShardName(spark: SparkSession, range: LogicalRange,
      m: Marker, ntz: Boolean): Option[String] =
    range.max.map(t =>
      shardOf(spark, if (range.maxInclude) t else minusMicro(t), m, ntz))

  /** The shards a bounded range only PARTIALLY covers — rows there still
    * need the row-level predicate. Edge-aligned bounds don't make a shard
    * partial: an INCLUSIVE min at its shard's first instant covers that
    * shard fully (cover_type :all), and an EXCLUSIVE max at a shard start
    * fully covers the previous shard.
    */
  private def boundarySet(spark: SparkSession, range: LogicalRange,
      m: Marker, ntz: Boolean): Set[String] = {
    val lo = range.min.filterNot(t =>
      // aligned to the shard's first instant AND inclusive → full cover
      range.minInclude && shardOf(spark, minusMicro(t), m, ntz) !=
        shardOf(spark, t, m, ntz))
      .map(shardOf(spark, _, m, ntz))
    val hi = range.max.flatMap { t =>
      if (range.maxInclude) Some(shardOf(spark, t, m, ntz))
      else {
        val eff = minusMicro(t)
        // max at a shard start: the previous shard's last instant is
        // covered, so no row-level max check is needed there
        if (shardOf(spark, t, m, ntz) != shardOf(spark, eff, m, ntz)) None
        else Some(shardOf(spark, eff, m, ntz))
      }
    }
    (lo.toSeq ++ hi.toSeq).toSet
  }

  /** One-pass window plan for components that walk shards explicitly
    * (per-shard indexes, retention audits): the digit-named shards whose
    * day/month can intersect `range`, plus the subset needing a row-level
    * trim — marker, schema, and listing each read ONCE.
    */
  def windowPlan(spark: SparkSession, root: String, shardKey: String,
      range: LogicalRange = LogicalRange(),
      granularity: Option[String] = None): (Seq[String], Set[String]) = {
    val digits = shardList(spark, root).filter(s => s.nonEmpty && s.forall(_.isDigit))
    if (range.min.isEmpty && range.max.isEmpty) return (digits, Set.empty)
    val m = resolvedMarker(spark, root, granularity)
    val ntz = isNtz(table(spark, root), shardKey)
    val lo = loShardName(spark, range, m, ntz)
    val hi = hiShardName(spark, range, m, ntz)
    val inRange = digits.filter(s => lo.forall(s >= _) && hi.forall(s <= _))
    (inRange, boundarySet(spark, range, m, ntz) & inRange.toSet)
  }

  /** Digit-named shards whose day/month window can intersect `range` —
    * the driver-side twin of [[shardPred]]'s partition pruning. The
    * null-key partition is never included in a bounded walk.
    */
  def shardsFor(spark: SparkSession, root: String, shardKey: String,
      range: LogicalRange = LogicalRange(),
      granularity: Option[String] = None): Seq[String] =
    windowPlan(spark, root, shardKey, range, granularity)._1

  /** Finish or roll back a [[removeRange]] interrupted by JVM death: for
    * every `.old_<shard>` backup left behind — the op's only durable
    * intermediate state — either the rewrite already renamed into place
    * (shard dir exists → drop the backup), or a completed rewrite dir is
    * waiting (rename it in, then drop the backup; a completed rewrite
    * with no rows means the shard emptied out, so rewrite and backup both
    * delete and the shard stays dropped, as [[removeRange]] leaves it), or
    * nothing replaced the shard (rename the backup back — full rollback,
    * no rows lost).
    * Orphan `.rewrite_*` dirs without a backup are pre-rename leftovers
    * and simply delete. Idempotent; call on startup or before a
    * [[removeRange]]. Returns (completed, rolledBack) shard counts.
    */
  def recover(spark: SparkSession, root: String): (Int, Int) = {
    val F = graft.core.Fs
    val names = F.listDirNames(spark, root)
    var completed = 0
    var rolledBack = 0
    names.filter(_.startsWith(".old_")).foreach { b =>
      val s = b.stripPrefix(".old_")
      val shardDir = s"$root/$ShardCol=$s"
      val rewrite = s"$root/.rewrite_$s"
      if (F.exists(spark, shardDir)) {
        // crash fell between the second rename and the backup delete
        F.delete(spark, s"$root/$b"): Unit
        completed += 1
      } else if (F.exists(spark, rewrite) &&
          F.exists(spark, s"$rewrite/_SUCCESS")) {
        // survivors fully written: finish the op — an emptied shard is
        // removed outright, never renamed back into place
        if (!holdsRows(spark, rewrite)) F.delete(spark, rewrite): Unit
        else if (!F.rename(spark, rewrite, shardDir))
          throw new java.io.IOException(s"recover: rename failed for shard $s")
        F.delete(spark, s"$root/$b"): Unit
        completed += 1
      } else {
        // no (complete) replacement: roll the original back
        if (F.exists(spark, rewrite)) F.delete(spark, rewrite): Unit
        if (!F.rename(spark, s"$root/$b", shardDir))
          throw new java.io.IOException(s"recover: rollback failed for shard $s")
        rolledBack += 1
      }
    }
    // pre-rename rewrite leftovers (their shard was never moved aside)
    names.filter(_.startsWith(".rewrite_")).foreach { r =>
      val s = r.stripPrefix(".rewrite_")
      if (F.exists(spark, s"$root/$ShardCol=$s") &&
          !F.exists(spark, s"$root/.old_$s"))
        F.delete(spark, s"$root/$r"): Unit
    }
    (completed, rolledBack)
  }

  /** True when the parquet directory `dir` holds at least one row. A
    * directory with no data files (only `_SUCCESS`/checksum entries) holds
    * none and is not read, since Spark cannot infer a schema from it.
    */
  private def holdsRows(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = graft.core.Fs.fs(spark, dir)
    f.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    } && spark.read.parquet(dir).limit(1).count() > 0
  }

  /** `logical_table_remove` with a range (reference
    * logical_table_remove.rb:40-58: delete the rows whose shard-key value
    * falls in the range; an emptied shard is removed outright) — the
    * retention primitive at scale. Shards FULLY covered by the range are
    * whole-directory deletes (no data read or rewritten — the common
    * drop-old-days case costs O(shards), like the reference removing whole
    * per-day tables); at most the 2 BOUNDARY shards rewrite with the
    * surviving rows. Returns the number of shards dropped whole.
    */
  def removeRange(spark: SparkSession, root: String, shardKey: String,
      range: LogicalRange,
      granularity: Option[String] = None): Int = {
    require(range.min.isDefined || range.max.isDefined,
      "removeRange needs a bounded range; delete the directory to drop all")
    recover(spark, root): Unit // heal any interrupted predecessor first
    val m = resolvedMarker(spark, root, granularity)
    val df = table(spark, root)
    val ntz = isNtz(df, shardKey)
    val loB = range.min.map(t => shardOf(spark, t, m, ntz))
    val hiB = range.max.map(t => shardOf(spark, t, m, ntz))
    val F = graft.core.Fs
    var dropped = 0
    // digit-only shard names: the null-key partition
    // (__HIVE_DEFAULT_PARTITION__) holds rows whose shard key is NULL —
    // in no range by the inRange contract — and the lexicographic
    // comparison would wrongly cover it on a min-only bound
    shardList(spark, root).filter(_.forall(_.isDigit)).foreach { s =>
      val isBoundary = loB.contains(s) || hiB.contains(s)
      val inShardRange = loB.forall(s >= _) && hiB.forall(s <= _)
      if (inShardRange && !isBoundary) {
        F.delete(spark, s"$root/$ShardCol=$s"): Unit; dropped += 1
      } else if (isBoundary) {
        // rewrite the boundary shard with its SURVIVORS (rows outside the
        // removal range); an emptied shard is removed outright. Crash-safe
        // order: survivors land in a dot-dir, the ORIGINAL moves aside to
        // a dot-backup, the rewrite renames into place, THEN the backup
        // deletes — at no instant are the surviving rows unreachable
        // (dot-dirs are invisible to parquet discovery, so a reader mid-
        // operation sees either the old or the new shard, never half).
        // All moves go through FileSystem.rename — atomic on HDFS/POSIX;
        // on stores without atomic rename the window is the store's own.
        val shardDir = s"$root/$ShardCol=$s"
        val rows = spark.read.parquet(shardDir)
        val keep = rows.where(!rowPred(rows, shardKey, range).getOrElse(lit(true)))
        val tmp = s"$root/.rewrite_$s"
        keep.write.mode("overwrite").parquet(tmp)
        val kept = holdsRows(spark, tmp)
        val backup = s"$root/.old_$s"
        if (F.exists(spark, backup)) F.delete(spark, backup): Unit
        if (!F.rename(spark, shardDir, backup))
          throw new java.io.IOException(s"backup rename failed for shard $s")
        if (kept) {
          if (!F.rename(spark, tmp, shardDir)) {
            F.rename(spark, backup, shardDir): Unit // restore; nothing was lost
            throw new java.io.IOException(s"rename failed for shard $s")
          }
        } else { F.delete(spark, tmp): Unit; dropped += 1 }
        F.delete(spark, backup): Unit
      }
    }
    dropped
  }
}
