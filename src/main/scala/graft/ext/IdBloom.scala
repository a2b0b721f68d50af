package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-segment id Bloom sidecars — the data structure behind
  * [[IndexStore.liveRowsAmong]], the segment-pruned presence probe the
  * ingest-admission and takedown-delete paths share.
  *
  * Problem: judging "which of these candidate ids are LIVE on this
  * surface" previously scanned the full id column of the surface's
  * cheapest relation. Column-pruned, but still O(live ids) per probe —
  * and for the token-linear relations (BM25 postings, literal grams)
  * that is O(corpus tokens). At 100 TB every delivery admit and every
  * takedown would pay a full-index scan per surface.
  *
  * Fix: segments are IMMUTABLE (mutation is new segments + manifest
  * commit; GC removes whole segment dirs), so a per-segment Bloom
  * filter over the relation's key column is build-once,
  * valid-forever. A probe tests the candidates against each live
  * segment's bloom (bits are ~10 per id vs the id column's bytes per
  * ROW — for postings, orders of magnitude less I/O) and then reads
  * only the segments that may contain a candidate. False positives
  * only ADD segments — the pruned read plus the caller's semi-join is
  * value-identical to the unpruned probe; false negatives are
  * impossible. The common cases collapse: a fresh-id delivery prunes
  * every segment (nothing read but blooms); a takedown batch touches
  * the one or two segments that hold its ids.
  *
  * Sidecar layout: `$root/$seg/idbloom-$relation` — one parquet row
  * `(nbits, k, n, bits)`. The name can never collide with a manifest
  * line (manifests list `$seg/$relation`; readers resolve only listed
  * relations), and GC deletes segment dirs wholesale, so sidecars need
  * no lifecycle of their own. Built LAZILY on first probe (one scan of
  * that segment's key column — self-amortizing: a fresh delivery's
  * segment is probed right after it lands, while it is small) and
  * published by stage+rename, so a concurrent prober either wins the
  * rename or reads the winner's identical sidecar.
  *
  * Hashing: md5 of the key's UTF-8 string form → two longs, double
  * hashing `h1 + i*h2` over `nbits` (Kirsch–Mitzenmacher), k=7 at
  * ~10 bits/id ≈ 1% false-positive rate. Keys hash via their STRING
  * cast on both build and probe, so long and string key columns agree.
  * Deterministic (no seed) — the same segment always rebuilds the same
  * sidecar.
  */
object IdBloom {

  val HashCount = 7
  private val BitsPerId = 10L
  /** Sidecar cap: a 2^31-bit (256 MB) bloom covers ~200 M ids at the
    * designed FPR; beyond that the rate degrades gracefully rather
    * than the sidecar growing past what one task comfortably holds.
    */
  private val MaxBits = 1L << 31

  /** No leading underscore/dot — Spark's hidden-path convention would
    * refuse the dir as a read root. Never collides with a manifest
    * line: manifests list the relations a family publishes, and no
    * family publishes an `idbloom-*` relation.
    */
  def sidecarName(relation: String): String = s"idbloom-$relation"

  /** (h1, h2) for one key — the per-candidate part of double hashing,
    * computed once per candidate and reused across segments (each
    * segment derives positions from its own nbits).
    */
  def hashPair(id: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.wrap(d)
    (bb.getLong(0), bb.getLong(8))
  }

  private def bitFor(h1: Long, h2: Long, i: Int, nbits: Long): Long = {
    val h = h1 + i.toLong * h2
    val m = h % nbits
    if (m < 0) m + nbits else m
  }

  private[ext] def setBits(bits: Array[Byte], h1: Long, h2: Long,
      nbits: Long): Unit = {
    var i = 0
    while (i < HashCount) {
      val b = bitFor(h1, h2, i, nbits)
      bits((b >>> 3).toInt) =
        (bits((b >>> 3).toInt) | (1 << (b & 7).toInt)).toByte
      i += 1
    }
  }

  private[ext] def testBits(bits: Array[Byte], h1: Long, h2: Long,
      nbits: Long): Boolean = {
    var i = 0
    while (i < HashCount) {
      val b = bitFor(h1, h2, i, nbits)
      if ((bits((b >>> 3).toInt) & (1 << (b & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }

  private def sizeFor(n: Long): Long = {
    val want = math.max(n, 1L) * BitsPerId
    var bits = 1L << 13 // 8 Kib floor: one FS block either way
    while (bits < want && bits < MaxBits) bits <<= 1
    bits
  }

  /** Build the sidecar for one segment's relation if absent. Reads the
    * segment's key column once (count + bit pass), ORs per-partition
    * partial bitsets driver-side, publishes via stage+rename. Losing
    * the rename race to a concurrent prober is fine — sidecar content
    * is deterministic. Returns false when the build could not publish
    * AND no winner's sidecar exists (e.g. the segment vanished under a
    * stale snapshot) — the caller then keeps the segment unpruned.
    */
  def ensureSidecar(spark: SparkSession, root: String, seg: String,
      relation: String, key: String): Boolean = {
    val fs = graft.store.ControlFile.fs(spark, root)
    val target = new Path(s"$root/$seg/${sidecarName(relation)}")
    if (fs.exists(target)) return true
    try {
      val keys = spark.read.parquet(s"$root/$seg/$relation")
        .select(col(key).cast("string").as("k")).filter(col("k").isNotNull)
      // size on DISTINCT keys (approx, map-side): token-linear
      // relations (postings, grams) repeat each id ~dl times, and
      // duplicate keys set identical bits — sizing on rows would grow
      // the sidecar ~dl× for zero FPR gain
      val n = keys.agg(approx_count_distinct("k")).head().getLong(0)
      val nbits = sizeFor(n)
      // per-partition partial bitsets OR-fold executor-side (treeReduce):
      // only ONE bitset ever reaches the driver, even at the size cap
      val partials = keys.rdd.mapPartitions { it =>
        val bits = new Array[Byte]((nbits >>> 3).toInt)
        var any = false
        it.foreach { r =>
          val (h1, h2) = hashPair(r.getString(0))
          setBits(bits, h1, h2, nbits); any = true
        }
        if (any) Iterator.single(bits) else Iterator.empty
      }
      val bits =
        if (partials.isEmpty()) new Array[Byte]((nbits >>> 3).toInt)
        else partials.treeReduce { (a, b) =>
          var i = 0
          while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
          a
        }
      // per-attempt staging name: two concurrent probers each write
      // their own staging dir and race only on the rename — the loser
      // deletes its (identical) copy, and a torn shared-staging write
      // can never be published
      val attempt = java.util.UUID.randomUUID().toString.take(8)
      val staging =
        new Path(s"$root/$seg/staging-$attempt-${sidecarName(relation)}")
      import spark.implicits._
      Seq((nbits, HashCount, n, bits))
        .toDF("nbits", "k", "n", "bits")
        .coalesce(1).write.parquet(staging.toString)
      if (!fs.rename(staging, target)) {
        fs.delete(staging, true)
        fs.exists(target) // a concurrent prober won; its content is ours
      } else true
    } catch {
      case _: Throwable => fs.exists(target)
    }
  }

  /** The subset of `segs` whose bloom may contain at least one of
    * `candPairs` (pre-hashed candidates). Segments whose sidecar
    * cannot be built or read stay in — pruning is an optimization,
    * never a correctness gate. One distributed pass over the sidecar
    * rows (bits stay executor-side; only hit segment NAMES collect).
    */
  def candidateSegments(spark: SparkSession, root: String,
      segs: Seq[String], relation: String, key: String,
      candPairs: Array[(Long, Long)]): Seq[String] = {
    if (segs.isEmpty || candPairs.isEmpty) return Seq.empty
    val ready = segs.filter(s =>
      ensureSidecar(spark, root, s, relation, key))
    val unpruned = segs.diff(ready)
    if (ready.isEmpty) return unpruned
    try {
      val pairs = spark.sparkContext.broadcast(candPairs)
      val sidecars = ready.map { s =>
        spark.read.parquet(s"$root/$s/${sidecarName(relation)}")
          .select(lit(s).as("seg"), col("nbits"), col("bits"))
      }.reduce(_ unionByName _)
      val hits = sidecars.rdd.flatMap { r =>
        val seg = r.getString(0)
        val nbits = r.getLong(1)
        val bits = r.getAs[Array[Byte]](2)
        val cs = pairs.value
        var i = 0
        var hit = false
        while (i < cs.length && !hit) {
          if (testBits(bits, cs(i)._1, cs(i)._2, nbits)) hit = true
          i += 1
        }
        if (hit) Iterator.single(seg) else Iterator.empty
      }.collect().toSeq
      (hits ++ unpruned).distinct
    } catch {
      // an unreadable sidecar (e.g. torn by a pre-fix writer) degrades
      // to the unpruned read — pruning is never a correctness gate
      case scala.util.control.NonFatal(_) => segs
    }
  }

  /** Collect + pre-hash a candidate id column for the bloom probe.
    * None when the batch exceeds `maxProbe` — beyond that a full scan
    * amortizes better than hashing millions of candidates driver-side,
    * and the caller falls back to the unpruned read. The cap is the
    * same "takedown/delivery batches are broadcast-sized" assumption
    * the existing anti-joins already make.
    */
  def collectPairs(candidates: DataFrame, key: String,
      maxProbe: Int = 1 << 20): Option[Array[(Long, Long)]] = {
    val rows = candidates
      .select(col(key).cast("string").as("k")).filter(col("k").isNotNull)
      .distinct().limit(maxProbe + 1).collect()
    if (rows.length > maxProbe) None
    else Some(rows.map(r => hashPair(r.getString(0))))
  }
}
