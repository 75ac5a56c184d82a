package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for the
  * 100 TB shape of the problem:
  *
  *   - exact: hash-groupBy on a content digest — one shuffle keyed by digest,
  *     map-side partial aggregation, no skew (digests are uniform).
  *   - MinHash + LSH: per-doc signature (narrow map, zero shuffle) → band
  *     buckets → shuffle keyed by (band, bucket) → candidate pairs only
  *     within buckets — the classic near-linear near-dup join; the exact
  *     Jaccard verify runs only on bucket collisions ([[jaccardForPairs]]).
  *   - SimHash: 64-bit fingerprint per doc (narrow map); near-dups = small
  *     hamming distance, paired via 16-bit sub-band buckets
  *     ([[simhashPairs]] — pigeonhole: hamming ≤ 3 ⇒ one of 4 bands equal).
  *   - n-gram Jaccard: exact verify via shingle explode + count joins (pure
  *     DataFrame ops — distributed, no driver loops).
  *
  * All hashing is md5-derived, defined twice on purpose: a Catalyst SQL
  * expression form (the executable cross-engine specification — the DuckDB
  * oracles in [[graft.SparkEntry.oracleSql]] recompute the full
  * MinHash/LSH/SimHash pipeline independently and must hash-match) and a
  * typed mapPartitions kernel (the default entry point: identical integer
  * math, ~10x the throughput of interpreted higher-order expressions —
  * DedupKernelSpec asserts bit-identity).
  *
  * Hash scheme per shingle g: m = md5(seed ":" g);
  *   h1 = int(hex m[0,15)) (60 bits), h2 = int(hex m[16,28)) (48 bits);
  *   perm p value = (h1 + (p+1)·h2) mod (2^61−1)   — Kirsch–Mitzenmacher
  * double hashing; all arithmetic stays below 2^62 so signed-64 engines
  * (Spark, DuckDB) agree exactly.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** 2^61 − 1 (prime): modulus for the per-permutation hash values. */
  val M61: Long = 2305843009213693951L

  /** Exact-dup stats: one row (total, uniq). */
  def exactStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.agg(
      count(lit(1)).as("total"),
      countDistinct(md5(col(textCol))).as("uniq"))

  /** Exact-dup groups: digest → count (only groups with >1 member). */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
      .filter(col("n") > 1)

  // ---- shingling -------------------------------------------------------

  /** Distinct word-k-gram shingles of `textCol` as array<string>; docs with
    * fewer than k words fall back to the whole text as one shingle.
    *
    * The split word array is bound as a lambda variable (`ws`) so the text
    * splits ONCE per row; referencing `split(...)` directly inside the
    * per-shingle lambda re-evaluates it per element — O(words²) per doc.
    */
  def gramsExpr(textCol: String, k: Int): Column = expr(
    s"""element_at(transform(array(split($textCol, ' ')), ws ->
       |  CASE WHEN size(ws) >= $k
       |  THEN array_distinct(transform(sequence(0, size(ws) - $k),
       |    i -> array_join(slice(ws, i + 1, $k), ' ')))
       |  ELSE array($textCol) END), 1)""".stripMargin)

  /** (doc_id, g): one row per distinct shingle. */
  def shingles(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(col("doc_id"), explode(gramsExpr(textCol, k)).as("g"))

  // ---- MinHash ---------------------------------------------------------

  /** Per-permutation hash coefficients (a_p, c_p), md5-derived so any
    * engine can reproduce them: a is 30-bit odd, c 60-bit. The permutation
    * value is v_p = (a_p·h + c_p) mod (2^61−1) over the full 60-bit md5
    * shingle hash h — multiplicative hashing mod a Mersenne prime, which
    * wraps ~2^29 times (thoroughly non-monotone, so argmin behaves
    * min-wise; a plain affine form over the halves does NOT wrap and is
    * near-monotone — measured 21/64 agreement where Jaccard predicts 50).
    * Computed via the Mersenne rotate identity so every intermediate stays
    * < 2^63: with h = hh·2^30 + hl (30-bit halves) and t = a·hh ≤ 2^60,
    *   t·2^30 mod M61 = (t >> 31) + ((t & (2^31−1)) << 30),
    * hence v = (rot(t) + a·hl + c) mod M61 — exact in signed-64 on both
    * Spark and DuckDB.
    */
  def permCoeffs(numPerm: Int, seed: Long): (Array[Long], Array[Long]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val mask30 = (1L << 30) - 1
    val a = new Array[Long](numPerm)
    val c = new Array[Long](numPerm)
    var p = 0
    while (p < numPerm) {
      val hex = md.digest(s"mh:$seed:$p".getBytes("UTF-8"))
        .map(x => f"${x & 0xff}%02x").mkString
      a(p) = (java.lang.Long.parseLong(hex.substring(0, 8), 16) & mask30) | 1L
      c(p) = java.lang.Long.parseLong(hex.substring(16, 31), 16)
      p += 1
    }
    (a, c)
  }

  /** Per-doc MinHash signatures (doc_id, sig array<bigint> of length
    * numPerm) as one narrow codegen'd projection — no shuffle, no UDF.
    * One md5 per shingle; numPerm affine mixes per shingle.
    *
    * Shape note: the shingle hashes are the `aggregate` INPUT and the
    * permutations fold via `zip_with` on the accumulator array, so md5 runs
    * once per shingle. The transposed form (`transform(perms, p ->
    * aggregate(shingles…))`) re-evaluates the shingle-hash lambda once per
    * permutation — 64× the md5 work, measured 147 s vs ~3 s on 40k docs.
    */
  def minhashSignaturesExpr(
      docs: DataFrame,
      textCol: String = "text",
      numPerm: Int = 64,
      shingleK: Int = 3,
      seed: Long = 42L
  ): DataFrame = {
    val (a, c) = permCoeffs(numPerm, seed)
    val coeffs = a.zip(c)
      .map { case (av, cv) => s"named_struct('a', ${av}L, 'c', ${cv}L)" }
      .mkString("array(", ", ", ")")
    val sig = expr(
      s"""aggregate(
         |  transform(__grams, g -> element_at(transform(
         |    array(CAST(conv(substring(md5(concat('$seed:', g)), 1, 15), 16, 10) AS BIGINT)),
         |    hv -> named_struct('hl', hv % 1073741824L, 'hh', shiftright(hv, 30))), 1)),
         |  array_repeat(CAST(${M61 - 1} AS BIGINT), $numPerm),
         |  (acc, h) -> zip_with(acc, $coeffs, (m, co) ->
         |    least(m, (shiftright(co.a * h.hh, 31) +
         |              shiftleft(co.a * h.hh & 2147483647L, 30) +
         |              co.a * h.hl + co.c) % ${M61}L)))""".stripMargin)
    docs.withColumn("__grams", gramsExpr(textCol, shingleK))
      .select(col("doc_id"), sig.as("sig"))
  }

  // ---- typed kernels (identical integer math, ~10x the throughput) ------
  //
  // Higher-order SQL expressions are interpreted (no whole-stage codegen)
  // and box every lambda value; at ~0.5-1.5 ms/doc that interpretation
  // overhead dominates a 10^12-doc dedup pass. The kernels below compute
  // BIT-IDENTICAL results (same md5 bytes, same hex-prefix parses, same
  // Mersenne-rotate arithmetic — DedupKernelSpec asserts equality against
  // the expression forms, and the DuckDB gate oracles recompute the same
  // definition independently) inside one typed mapPartitions pass. The
  // expression forms stay as the executable cross-engine specification.

  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      val v = d(i) & 0xff
      sb.append(java.lang.Character.forDigit(v >> 4, 16))
      sb.append(java.lang.Character.forDigit(v & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** Kernel twin of [[gramsExpr]]: distinct word k-grams in first-occurrence
    * order; whole text as the fallback shingle. Mirrors Spark `split`
    * semantics (trailing empty strings kept).
    */
  def shingleSet(text: String, k: Int): Array[String] = {
    val ws = text.split(" ", -1)
    if (ws.length >= k) {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + k <= ws.length) {
        val sb = new java.lang.StringBuilder(ws(i))
        var j = 1
        while (j < k) { sb.append(' ').append(ws(i + j)); j += 1 }
        seen.add(sb.toString): Unit
        i += 1
      }
      seen.toArray(new Array[String](seen.size))
    } else Array(text)
  }

  /** MinHash signatures via the typed kernel — the default entry point. */
  def minhashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      numPerm: Int = 64,
      shingleK: Int = 3,
      seed: Long = 42L
  ): DataFrame = {
    val (a, c) = permCoeffs(numPerm, seed)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val sig = Array.fill(numPerm)(M61 - 1)
          shingleSet(text, shingleK).foreach { g =>
            val hv = java.lang.Long.parseLong(md5Hex(md, s"$seed:$g").substring(0, 15), 16)
            val hl = hv % 1073741824L
            val hh = hv >> 30
            var p = 0
            while (p < numPerm) {
              val t = a(p) * hh
              val v = ((t >> 31) + ((t & 2147483647L) << 30) + a(p) * hl + c(p)) % M61
              if (v < sig(p)) sig(p) = v
              p += 1
            }
          }
          (id, sig.toSeq)
        }
      }
      .toDF("doc_id", "sig")
  }

  /** LSH band rows (doc_id, band, bucket): the signature splits into `bands`
    * bands of numPerm/bands rows each; bucket = md5 of the band slice
    * (decimal-joined). Docs sharing any (band, bucket) are candidates.
    * Narrow map + explode — the only shuffle is the downstream pair join.
    */
  /** The per-row band/bucket array expression over a `sig` column —
    * separated from [[lshBands]] so streaming plans (no actions, no
    * persist) can reuse it; see [[graft.streaming.StreamDedup]].
    */
  def lshBandRowsExpr(numPerm: Int, bands: Int): Column = {
    require(numPerm % bands == 0, s"numPerm $numPerm not divisible by bands $bands")
    val rows = numPerm / bands
    expr(
      s"""transform(sequence(0, ${bands - 1}), b -> named_struct(
         | 'band', b,
         | 'bucket', CAST(conv(substring(md5(concat_ws(',',
         |    transform(slice(sig, b * $rows + 1, $rows), v -> CAST(v AS STRING)))), 1, 15), 16, 10) AS BIGINT)))""".stripMargin)
  }

  /** Per-doc band buckets via the typed kernel — the per-row body shared by
    * [[minhashBands]] and the streaming path ([[graft.streaming.StreamDedup]]
    * carries an event-time column alongside, which the batch entry point
    * doesn't need). `md` is the caller's per-partition digest instance.
    */
  def bandBucketsOf(
      md: java.security.MessageDigest,
      text: String,
      a: Array[Long],
      c: Array[Long],
      bands: Int,
      shingleK: Int,
      seed: Long
  ): Array[Long] = {
    val numPerm = a.length
    val rows = numPerm / bands
    val sig = Array.fill(numPerm)(M61 - 1)
    shingleSet(text, shingleK).foreach { g =>
      val hv = java.lang.Long.parseLong(md5Hex(md, s"$seed:$g").substring(0, 15), 16)
      val hl = hv % 1073741824L
      val hh = hv >> 30
      var p = 0
      while (p < numPerm) {
        val t = a(p) * hh
        val v = ((t >> 31) + ((t & 2147483647L) << 30) + a(p) * hl + c(p)) % M61
        if (v < sig(p)) sig(p) = v
        p += 1
      }
    }
    Array.tabulate(bands) { b =>
      val slice = sig.slice(b * rows, (b + 1) * rows).mkString(",")
      java.lang.Long.parseLong(md5Hex(md, slice).substring(0, 15), 16)
    }
  }

  /** Fused signature→band kernel: one mapPartitions pass emits the
    * (doc_id, band, bucket) rows directly — same md5-of-decimal-joined-
    * band-slice bucket definition as [[lshBandRowsExpr]] (DedupKernelSpec
    * asserts equality), without materializing the sig column or paying the
    * interpreted band-hash expression (~0.27 ms/doc → ~0.03 ms/doc).
    * Unpersisted, un-counted: callers that reuse the rows persist them
    * (as [[lshBands]] does for the batch pipeline).
    */
  def minhashBands(
      docs: DataFrame,
      textCol: String = "text",
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      seed: Long = 42L
  ): DataFrame = {
    require(numPerm % bands == 0, s"numPerm $numPerm not divisible by bands $bands")
    val (a, c) = permCoeffs(numPerm, seed)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          bandBucketsOf(md, text, a, c, bands, shingleK, seed)
            .zipWithIndex.map { case (bucket, b) => (id, b, bucket) }
        }
      }
      .toDF("doc_id", "band", "bucket")
  }

  def lshBands(sigs: DataFrame, bands: Int): DataFrame = {
    val n = sigs.selectExpr("size(sig)").head().getInt(0)
    val bandRows = lshBandRowsExpr(n, bands)
    // materialize band rows: every downstream op (the self-join, the
    // verify) would otherwise recompute the full 64-permutation signature
    // per reference — at scale this materialization is the signatures
    // table you'd persist to storage anyway
    val out = sigs.select(col("doc_id"), explode(bandRows).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count(): Unit
    out
  }

  /** Buckets whose population exceeds `maxBucketSize`: (band, bucket, n).
    * The skew metric behind [[lshCandidatePairs]]'s cap — pipelines persist
    * or log this so a truncated bucket is never silent.
    */
  def lshOverflowBuckets(bandRows: DataFrame, maxBucketSize: Long): DataFrame =
    bandRows.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucketSize)

  /** Candidate near-dup pairs from LSH buckets (a < b, distinct). The
    * self-join is keyed by (band, bucket) — only colliding docs meet.
    *
    * Degenerate-input guard: a bucket of m docs emits m²/2 pair rows, and a
    * web crawl routinely has 10⁶-member boilerplate clusters whose
    * near-identical signatures land every member in the same 16 buckets —
    * ~10¹³ rows from one bucket. Buckets larger than `maxBucketSize` are
    * therefore STAR-LINKED instead of all-paired: each member pairs with the
    * bucket's min doc_id only — O(m) candidate rows that keep the bucket
    * CONNECTED (a genuinely-near-dup giant bucket still collapses to one
    * cluster through the representative; each member is Jaccard-verified
    * against it), while a coincidental giant bucket costs O(m) failed
    * verifies instead of O(m²). The degradation is recall at the margin
    * only: a member similar to SOME bucket doc but not to the min-id rep
    * loses this bucket's edge (other bands can still pair it). Every
    * star-linked bucket is logged (count + member rows) — use
    * [[lshOverflowBuckets]] for the per-bucket metric. The default cap (10k
    * members = 50M pairs per band-bucket if all-paired) is far above
    * anything a near-dup bucket produces once exact duplicates are
    * collapsed first — [[dedupCorpus]] does exactly that, so under it the
    * cap is a backstop, not a correctness knob. Pass `Long.MaxValue` to
    * all-pair every bucket.
    */
  def lshCandidatePairs(bandRows: DataFrame, maxBucketSize: Long = 10000L): DataFrame = {
    // the guard + join make several passes over the band rows (size agg,
    // keep filter, two join sides): materialize once — the same
    // signatures-table persist any storage-backed pipeline would have
    // (never unpersisted here, like lshBands; re-persisting an already
    // persisted input is a no-op)
    val rows = bandRows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = rows.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
    // singleton buckets can't pair; in-cap buckets all-pair
    val keep = sizes.filter(col("__n") > 1 && col("__n") <= maxBucketSize)
      .select("band", "bucket")
    val pairable = rows.join(keep, Seq("band", "bucket"))
    val l = pairable.select(col("band"), col("bucket"), col("doc_id").as("a"))
    val r = pairable.select(col("band"), col("bucket"), col("doc_id").as("b"))
    val inCap = l.join(r, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    if (maxBucketSize >= Long.MaxValue) return inCap.distinct()
    // one cheap agg action so degradation is never silent (a metric, not a
    // data pass: one row per overflowing bucket), through the log — driver
    // stdout/stderr is not aggregated in cluster deployments
    val over = sizes.filter(col("__n") > maxBucketSize)
      .agg(count(lit(1)).as("buckets"), coalesce(sum("__n"), lit(0L)).as("members"))
      .head()
    if (over.getLong(0) == 0L) return inCap.distinct()
    log.warn(
      s"lshCandidatePairs STAR-LINKED ${over.getLong(0)} bucket(s) holding " +
        s"${over.getLong(1)} member rows (> $maxBucketSize docs/bucket): emitting " +
        "member↔min-doc_id pairs instead of all pairs; run exact dedup first " +
        "(dedupCorpus does) or raise maxBucketSize for full pairing")
    val big = rows.join(sizes.filter(col("__n") > maxBucketSize)
      .select("band", "bucket"), Seq("band", "bucket"))
    val reps = big.groupBy("band", "bucket").agg(min("doc_id").as("__rep"))
    val star = big.join(reps, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("a"), col("doc_id").as("b"))
    inCap.union(star).distinct()
  }

  // ---- SimHash ---------------------------------------------------------

  /** SimHash-64 per doc over word shingles, as (doc_id, simhash, sh_lo,
    * sh_hi): sh_lo/sh_hi are the unsigned 32-bit halves (cross-engine safe
    * — no sign games), simhash the packed signed 64-bit convenience value.
    * Bit b of the fingerprint is the sign of Σ_shingles (±1) where the ±
    * comes from bit b of the shingle's md5-derived 64-bit hash.
    */
  /** SimHash via the typed kernel — the default entry point; bit-identical
    * to [[simhashExpr]] (asserted by DedupKernelSpec).
    */
  def simhash(docs: DataFrame, textCol: String = "text", shingleK: Int = 2,
      seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val counts = new Array[Int](64)
          shingleSet(text, shingleK).foreach { g =>
            val hex = md5Hex(md, s"$seed:$g")
            val aHalf = java.lang.Long.parseLong(hex.substring(0, 8), 16)
            val bHalf = java.lang.Long.parseLong(hex.substring(8, 16), 16)
            var i = 0
            while (i < 64) {
              val v = if (i < 32) aHalf else bHalf
              counts(i) += (if (((v >> (i % 32)) & 1L) == 1L) 1 else -1)
              i += 1
            }
          }
          def half(off: Int): Long = {
            var h = 0L; var b = 0
            while (b < 32) { if (counts(off + b) > 0) h |= 1L << b; b += 1 }
            h
          }
          val (lo, hi) = (half(0), half(32))
          (id, (hi << 32) | lo, lo, hi)
        }
      }
      .toDF("doc_id", "simhash", "sh_lo", "sh_hi")
  }

  def simhashExpr(docs: DataFrame, textCol: String = "text", shingleK: Int = 2,
      seed: Long = 42L): DataFrame = {
    // One pass over the shingle hashes: a 64-slot ±1 bit counter folds via
    // zip_with, the finish lambda packs the two 32-bit halves. The
    // transposed form (per-bit aggregate over __hs) re-evaluates the
    // md5 shingle-hash lambda 64× per doc (same trap as minhashSignatures).
    val halves = expr(
      s"""aggregate(__hs,
         |  array_repeat(0, 64),
         |  (acc, h) -> zip_with(acc, sequence(0, 63), (cnt, b) ->
         |    cnt + IF((shiftright(IF(b < 32, h.a, h.b), b % 32) & 1L) = 1L, 1, -1)),
         |  counts -> transform(array(0, 32), half ->
         |    aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, b) ->
         |      acc + IF(element_at(counts, half + b + 1) > 0,
         |        shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))))""".stripMargin)
    docs.withColumn("__grams", gramsExpr(textCol, shingleK))
      .withColumn("__hs", expr(
        s"""transform(__grams, g -> element_at(transform(
           |  array(md5(concat('$seed:', g))), m -> named_struct(
           |    'a', CAST(conv(substring(m, 1, 8), 16, 10) AS BIGINT),
           |    'b', CAST(conv(substring(m, 9, 8), 16, 10) AS BIGINT))), 1))""".stripMargin))
      .select(col("doc_id"), halves.as("__h"))
      .select(col("doc_id"),
        expr("shiftleft(__h[1], 32) | __h[0]").as("simhash"),
        col("__h")(0).as("sh_lo"), col("__h")(1).as("sh_hi"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist. Delegates to the
    * Manku block scheme at its minimum table count (blocks = 4 for
    * maxDist ≤ 3 keeps the historical 4×16-bit banding: hamming ≤ 3 ⇒ one
    * of the four bands equal by pigeonhole). At corpus scale pass a larger
    * `blocks` via [[simhashPairsBlocked]] to widen the join keys.
    */
  def simhashPairs(fps: DataFrame, maxDist: Int = 3): DataFrame =
    simhashPairsBlocked(fps, maxDist, blocks = math.max(4, maxDist + 1))

  /** SQL fragment for the value of fingerprint bits [start, start+len) —
    * spans the sh_lo/sh_hi 32-bit halves when needed.
    */
  private def blockValueExpr(start: Int, len: Int): String = {
    val mask = (1L << len) - 1
    if (start >= 32) s"(shiftright(sh_hi, ${start - 32}) & ${mask}L)"
    else if (start + len <= 32) s"(shiftright(sh_lo, $start) & ${mask}L)"
    else {
      val loBits = 32 - start
      val hiMask = (1L << (len - loBits)) - 1
      s"((shiftright(sh_lo, $start) & ${(1L << loBits) - 1}L) | shiftleft(sh_hi & ${hiMask}L, $loBits))"
    }
  }

  /** Manku block-permutation SimHash pairing (Manku, Jain & Das Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07 §3): split the 64
    * bits into `blocks` near-equal contiguous blocks; for every combination
    * of (blocks − maxDist) blocks build one table keyed by those blocks'
    * concatenated values. Pigeonhole: ≤ maxDist flipped bits touch ≤
    * maxDist blocks, so some combination is untouched and every qualifying
    * pair collides in its table — exact recall, verified by the hamming
    * filter. `blocks` is the corpus-scale dial: blocks = maxDist+1 gives
    * one-block (16-bit) keys — bucket population N/2^16, quadratic per
    * bucket at N ≥ 10⁸ — while blocks = 6, maxDist = 3 pays C(6,3) = 20
    * tables for ~32-bit keys and N/2^32 buckets (SimhashBlockedSpec pins
    * the population bound at a simulated large N). Scale shape per table:
    * explode + bucketed self-join, never all-pairs.
    */
  def simhashPairsBlocked(fps: DataFrame, maxDist: Int = 3, blocks: Int = 6): DataFrame = {
    require(blocks > maxDist, s"need blocks ($blocks) > maxDist ($maxDist) for the pigeonhole")
    require(blocks <= 64, "at most one block per bit")
    // near-equal contiguous blocks: the first (64 % blocks) get the extra bit
    val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val combos = (0 until blocks).combinations(blocks - maxDist).toSeq
    val comboExprs = combos.zipWithIndex.map { case (combo, ci) =>
      // concatenate the chosen blocks' values into one ≤64-bit key
      var shift = 0
      val parts = combo.map { b =>
        val e = s"shiftleft(${blockValueExpr(starts(b), widths(b))}, $shift)"
        shift += widths(b)
        e
      }
      s"named_struct('t', $ci, 'k', ${parts.mkString(" | ")})"
    }
    val banded = fps.select(col("doc_id"), col("sh_lo"), col("sh_hi"),
      explode(expr(comboExprs.mkString("array(", ", ", ")"))).as("bb"))
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        col("bb.t").as("t"), col("bb.k").as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded.count(): Unit // both join sides read the materialized fingerprints
    val l = banded.select(col("t"), col("k"), col("doc_id").as("a"),
      col("sh_lo").as("alo"), col("sh_hi").as("ahi"))
    val r = banded.select(col("t"), col("k"), col("doc_id").as("b"),
      col("sh_lo").as("blo"), col("sh_hi").as("bhi"))
    // materialize the (small) pair result eagerly, then drop the banded
    // fingerprints persist — a session-lifetime CacheManager pin otherwise
    // (checkpoint blocks are ContextCleaner-freed with the result)
    val out = l.join(r, Seq("t", "k"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        expr("bit_count(alo ^ blo) + bit_count(ahi ^ bhi)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .localCheckpoint()
    banded.unpersist()
    out
  }

  // ---- exact n-gram Jaccard -------------------------------------------

  /** Exact word-k-gram Jaccard for a GIVEN candidate pair set (a, b) — the
    * scale-safe verify: work is proportional to |pairs| × shingles-per-doc,
    * never quadratic in the corpus. Joins are keyed by doc id then (b, g).
    * Emits (a, b, jaccard_q3) fixed-point (×1000, floor), pairs with zero
    * shared shingles kept at 0.
    */
  def jaccardForPairs(
      docs: DataFrame,
      pairs: DataFrame,
      textCol: String = "text",
      k: Int = 3
  ): DataFrame = {
    // the candidate set feeds three joins — materialize it once (it is
    // small by construction: LSH bucket collisions only)
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count(): Unit
    val grams = shingles(docs, textCol, k)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val ga = p.join(grams.select(col("doc_id").as("a"), col("g")), "a")
    val interCnt = ga.join(grams.select(col("doc_id").as("b"), col("g")), Seq("b", "g"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    // materialize the (|pairs|-sized) result eagerly, then release the
    // candidate persist — a Dataset persist pins the CacheManager for the
    // session's lifetime; checkpoint blocks are ContextCleaner-freed once
    // the caller drops the result. NOTE: this also releases any
    // caller-side persist of the SAME pairs plan (plan-keyed cache).
    val out = p
      .join(interCnt, Seq("a", "b"), "left_outer")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sa")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sb")), "b")
      .select(col("a"), col("b"),
        expr("inter * 1000 div (sa + sb - inter)").as("jaccard_q3"))
      .localCheckpoint()
    p.unpersist()
    out
  }

  /** MinHash-LSH candidates → exact Jaccard, the end-to-end near-dup
    * pipeline in its 100 TB shape (bucketed candidates only, then
    * pair-restricted verify).
    */
  def nearDupPairs(
      docs: DataFrame,
      textCol: String = "text",
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      seed: Long = 42L,
      /** Passed through to [[lshCandidatePairs]]: buckets above it
        * star-link instead of all-pairing (logged).
        */
      maxBucketSize: Long = 10000L
  ): DataFrame = {
    // fused kernel band rows, materialized once for the pair join's sides
    val bandRows = minhashBands(docs, textCol, numPerm, bands, shingleK, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandRows.count(): Unit
    val cand = lshCandidatePairs(bandRows, maxBucketSize)
    // jaccardForPairs returns an EAGER checkpoint and releases its own
    // candidate persist; dropping the band-rows persist here leaves the
    // whole call with zero session-lifetime CacheManager entries (the
    // round-3 leak: MEMORY_AND_DISK blocks accumulating per dedup call in
    // a long-lived session)
    val out = jaccardForPairs(docs, cand, textCol, shingleK)
    bandRows.unpersist()
    out
  }

  /** Connected components over a near-dup pair set: every doc gets
    * cluster_id = the smallest doc_id reachable through the pairs (docs
    * absent from `pairs` are their own singleton clusters if `docs` is
    * given). The survivor filter falls out: keep rows where
    * doc_id == cluster_id.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    * is two keyed agg+join passes, and the edge set contracts toward star
    * graphs rooted at each component's minimum in O(log n) rounds even on
    * long chains and giant components, where plain min-label propagation
    * ([[dedupClustersPropagate]]) needs O(diameter) full-join rounds.
    * Per-round work stays keyed by node id: the min-neighbor agg has
    * map-side combine, so even a 10⁸-degree hub costs one combine tree,
    * not a hot reducer.
    */
  def dedupClusters(pairs: DataFrame, docs: Option[DataFrame] = None): DataFrame =
    dedupClustersStars(pairs, docs)._1

  /** [[dedupClusters]] plus the number of star rounds it took (for tests
    * pinning the O(log n) convergence).
    */
  def dedupClustersStars(pairs: DataFrame, docs: Option[DataFrame] = None): (DataFrame, Int) = {
    // canonical undirected edge set: u < v, distinct, no self-loops
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    def bidir(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // m(u) = min(N(u) ∪ {u}) per node — one agg keyed by u
    def minNb(eb: DataFrame): DataFrame =
      eb.groupBy("u").agg(min("v").as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
    // large-star: connect every neighbor v > u to m(u)
    def largeStar(cur: DataFrame): DataFrame = {
      val eb = bidir(cur)
      canon(eb.filter(col("v") > col("u")).join(minNb(eb), "u")
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: connect every neighbor v < u, and u itself, to m(u)
    def smallStar(cur: DataFrame): DataFrame = {
      val eb = bidir(cur)
      val m = minNb(eb)
      canon(eb.filter(col("v") < col("u")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v"))))
    }
    // each round references `cur` six times (bidir + min-agg + joins), so
    // carrying lineage across rounds grows the logical plan ~6^rounds —
    // localCheckpoint truncates it (on a cluster with an unreliable-storage
    // concern, swap for reliable checkpoint(); the algorithm is identical).
    // Dropping a superseded round's blocks needs RDD-level unpersist:
    // Dataset.unpersist only uncaches CacheManager entries and never
    // touches the RDD a localCheckpoint pinned, so without this each
    // round's full edge set would stay in MEMORY_AND_DISK until GC. We
    // diff SparkContext.getPersistentRDDs around each checkpoint to learn
    // its RDD ids (assumes no concurrent checkpointing in the session —
    // worst case a foreign id is evicted early, never a correctness issue).
    val sc = pairs.sparkSession.sparkContext
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val ck = df.localCheckpoint(true)
      (ck, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    def dropBlocks(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    var (cur, curIds) = checkpointTracked(
      canon(pairs.select(col("a").cast("long").as("u"),
        col("b").cast("long").as("v"))))
    var curCount = cur.count()
    var rounds = 0
    var done = curCount == 0L
    while (!done) {
      val (next, nextIds) = checkpointTracked(smallStar(largeStar(cur)))
      val nextCount = next.count()
      rounds += 1
      done = nextCount == curCount && next.except(cur).isEmpty
      dropBlocks(curIds)
      cur = next
      curIds = nextIds
      curCount = nextCount
    }
    // converged: every component is a star (root = component min); labels
    // read straight off the edges, singletons come from `docs`
    val labels = cur.select(col("v").as("doc_id"), col("u").as("label"))
      .union(cur.select(col("u").as("doc_id"), col("u").as("label")))
      .groupBy("doc_id").agg(min("label").as("label"))
    val nodes = docs.map(_.select(col("doc_id").cast("long")))
      .getOrElse(bidir(cur).select(col("u").as("doc_id"))).distinct()
    val out = nodes.join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    (out, rounds)
  }

  /** Min-label propagation connected components — the O(diameter) baseline
    * kept as the cross-check twin of [[dedupClusters]] (DedupGuardSpec
    * asserts equality); prefer the star algorithm everywhere else.
    */
  def dedupClustersPropagate(pairs: DataFrame, docs: Option[DataFrame] = None): DataFrame = {
    val edges = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .union(pairs.select(col("b").cast("long"), col("a").cast("long")))
      .toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count(): Unit
    val nodes = docs.map(_.select(col("doc_id").cast("long")))
      .getOrElse(edges.select(col("src").as("doc_id"))).distinct()
    var labels = nodes.withColumn("label", col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var changed = 1L
    while (changed > 0) {
      // candidate label per node = min(own, min over neighbors' labels)
      val next = labels
        .join(edges, labels("doc_id") === edges("dst"), "left_outer")
        .select(col("doc_id"), col("label"), col("src"))
        .join(
          labels.select(col("doc_id").as("src"), col("label").as("nl")),
          Seq("src"), "left_outer")
        .groupBy("doc_id")
        .agg(least(first(col("label")), coalesce(min("nl"), first(col("label"))))
          .as("newLabel"), first(col("label")).as("label"))
      val nextLabels = next.select(col("doc_id"), col("newLabel").as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      changed = next.filter(col("newLabel") < col("label")).count()
      labels.unpersist()
      labels = nextLabels
    }
    edges.unpersist()
    // hand back an eager checkpoint so the final round's Dataset persist
    // can release too — no session-lifetime CacheManager entry survives
    val out = labels.toDF("doc_id", "cluster_id").localCheckpoint()
    labels.unpersist()
    out
  }

  /** The complete near-dup dedup pipeline in one call: exact dedup →
    * MinHash→LSH candidates over the exact representatives →
    * pair-restricted exact Jaccard ≥ `thresholdQ3` → connected components →
    * survivors (smallest doc_id per cluster), re-attached to the full
    * corpus. Returns the deduplicated docs.
    *
    * The exact pre-pass is the degenerate-input guard: every member of an
    * exact-dup cluster has an identical MinHash signature, so a cluster of
    * m boilerplate copies (m ~ 10⁶ in real crawls) would land m rows in the
    * same 16 buckets and emit 16·m²/2 candidate rows. Collapsing to one
    * representative per content digest FIRST makes LSH work ∝
    * representatives, never members — and changes results only where it
    * SHOULD: byte-identical docs always collapse, by definition of exact
    * dedup. For shingle-bearing texts that is also what the LSH path
    * computed (exact dups have Jaccard 1000 ≥ any threshold, so they were
    * always in their representative's cluster, and the min doc_id of a
    * component is always a representative — each digest group's rep is its
    * min doc_id). The one divergence from the pre-pass-free pipeline is
    * texts SHORTER than `shingleK` words (incl. empty): their shingle sets
    * are empty, so pairwise Jaccard is 0/0 → null → never ≥ threshold and
    * the LSH path kept every copy; the pre-pass correctly dedups the
    * byte-identical ones.
    * [[lshCandidatePairs]]'s bucket cap stays on as the backstop for
    * near-identical (not byte-identical) boilerplate.
    *
    * Every stage is the bucketed/pair-restricted scale shape — work ∝
    * candidates, never corpus².
    */
  def dedupCorpus(
      docs: DataFrame,
      thresholdQ3: Long = 800,
      textCol: String = "text",
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      seed: Long = 42L,
      /** LSH bucket-size cap (see [[lshCandidatePairs]]): after the exact
        * pre-pass only near-identical (not byte-identical) boilerplate can
        * overflow it, and such buckets star-link — still one cluster, O(m)
        * verify cost — rather than all-pair.
        */
      maxBucketSize: Long = 10000L
  ): DataFrame = {
    // one representative (min doc_id) per content digest — a single
    // digest-keyed hash agg (uniform key, map-side combine)
    val digests = docs.select(col("doc_id").cast("long").as("doc_id"),
      md5(col(textCol)).as("digest"))
    val reps = digests.groupBy("digest").agg(min("doc_id").as("rep_id"))
    val repDocs = docs.join(
      reps.select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val dupPairs =
      nearDupPairs(repDocs, textCol, numPerm, bands, shingleK, seed, maxBucketSize)
        .filter(col("jaccard_q3") >= thresholdQ3)
    // clusters over representatives; members inherit their rep's cluster.
    // Survivors (doc_id == cluster_id) are necessarily representatives, so
    // the semi-join can stay on the rep cluster table directly.
    val repClusters = dedupClusters(dupPairs, Some(repDocs))
    docs.join(repClusters.filter(col("doc_id") === col("cluster_id"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** Exact word-k-gram Jaccard for ALL pairs within a grouping column —
    * the self-join is keyed by (group, shingle); within a group every
    * common shingle meets df² times, so this is for SMALL groups only
    * (e.g. one LSH bucket). At corpus scale use [[nearDupPairs]].
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      groupCol: String,
      textCol: String = "text",
      k: Int = 3
  ): DataFrame = {
    val grams = docs
      .filter(size(split(col(textCol), " ")) >= k)
      .select(col("doc_id"), col(groupCol).as("grp"),
        explode(gramsExpr(textCol, k)).as("g"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = grams.as("x")
      .join(grams.as("y"), expr("x.grp = y.grp AND x.g = y.g AND x.doc_id < y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sa"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "sb"), "b")
      .select(col("a"), col("b"),
        expr("inter * 1000 div (sa + sb - inter)").as("jaccard_q3"))
  }

  // ---- benchmark decontamination ---------------------------------------

  /** The GPT-3 decontamination normalizer (Brown et al. 2020 §C applies
    * its n-gram rule to lowercased, punctuation-stripped text): lowercase,
    * replace every character outside [a-z0-9 ] with a space, collapse
    * space runs, trim. Pure codegen'd string functions — folds into the
    * shingling map stage at no extra pass.
    */
  val gpt3Normalize: Column => Column = c =>
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Word-k-gram benchmark-contamination scan (the GPT-3/PaLM n-gram
    * decontamination rule, Brown et al. 2020 §C): a corpus doc is
    * contaminated when it shares ANY word k-gram with the benchmark set.
    * Returns one row per contaminated doc: (doc_id, hit_grams) where
    * hit_grams counts its DISTINCT shingles that occur anywhere in
    * `bench`. Shingling reuses [[gramsExpr]] (docs shorter than k words
    * contribute their whole text as one shingle, so an exact short-doc
    * match still flags).
    *
    * 100 TB shape: benchmarks are MB-scale, so the distinct bench shingle
    * set broadcasts — the corpus side is one narrow shingle map + a
    * broadcast-hash semi-side join + a partial-agg count; the corpus is
    * never shuffled on content.
    */
  def contaminationHits(
      corpus: DataFrame,
      bench: DataFrame,
      k: Int = 5,
      textCol: String = "text",
      /** Applied to BOTH sides' text before shingling (e.g.
        * [[gpt3Normalize]]) so case/punctuation variants still match;
        * None compares raw shingles.
        */
      normalize: Option[Column => Column] = None
  ): DataFrame = {
    def norm(df: DataFrame): DataFrame =
      normalize.map(f => df.withColumn(textCol, f(col(textCol)))).getOrElse(df)
    val cg = shingles(norm(corpus), textCol, k)
    val bg = norm(bench)
      .select(explode(gramsExpr(textCol, k)).as("g")).distinct()
    cg.join(broadcast(bg), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("hit_grams"))
  }

  /** The cleaning composition: corpus rows that share no word-k-gram with
    * the benchmark set (anti-join on [[contaminationHits]]).
    */
  def decontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      k: Int = 5,
      textCol: String = "text",
      normalize: Option[Column => Column] = None
  ): DataFrame =
    corpus.join(
      contaminationHits(corpus, bench, k, textCol, normalize),
      Seq("doc_id"), "left_anti")

  // ---- chunk-level corpus dedup (CCNet-style line dedup analogue) ------

  /** (doc_id, chunk_idx, chunk): non-overlapping `chunkWords`-word windows
    * of each document, last partial window included — every word belongs to
    * exactly one chunk. The analogue of line-splitting for single-line
    * corpora (CCNet dedups at the line/paragraph level; Wenzek et al.
    * 2020 §3.1).
    */
  def chunks(docs: DataFrame, chunkWords: Int = 10, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      posexplode(expr(
        s"""element_at(transform(array(split($textCol, ' ')), ws ->
           |  transform(sequence(0, (size(ws) + $chunkWords - 1) div $chunkWords - 1),
           |    j -> array_join(slice(ws, j * $chunkWords + 1, $chunkWords), ' '))), 1)""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))

  /** Per-document chunk-duplication stats against the WHOLE corpus:
    * n_chunks, dup_chunks (chunk positions whose chunk text occurs more
    * than once corpus-wide, counted by md5 digest), and the ×1000
    * fixed-point fraction. The global count shuffles digests (uniform
    * keys, no skew) and only digests with count > 1 come back to the
    * per-doc join — at web scale that surviving set is the boilerplate,
    * orders of magnitude smaller than the corpus.
    */
  def chunkDupStats(docs: DataFrame, chunkWords: Int = 10, textCol: String = "text"): DataFrame = {
    val ch = chunks(docs, chunkWords, textCol)
      .select(col("doc_id"), md5(col("chunk")).as("digest"))
    val dup = ch.groupBy("digest").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(col("digest"), lit(1L).as("isdup"))
    // the surviving set is the BOILERPLATE, normally ≪ corpus — broadcast
    // it so the per-doc pass stays a narrow map
    ch.join(broadcast(dup), Seq("digest"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("isdup"), lit(0L))).as("dup_chunks"))
      .withColumn("dup_chunk_frac_q3",
        expr("dup_chunks * 1000 div greatest(n_chunks, 1L)"))
  }
}
