package graft.billing

import graft.store.ControlFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-file skipping statistics sidecars for [[RawManifest]] versions —
  * the same role Delta/Iceberg column stats and bloom indexes play in
  * their commit logs, without a table-format dependency:
  *
  *   - `timestamp` min/max (event-time micros) → range skipping for
  *     [[BillingStore.rawBetween]]: a selective time window prunes
  *     files BEFORE Spark plans tasks, finer than hive partition
  *     pruning whenever a day partition holds many append slices;
  *   - a small `user_id` bloom (m=8192 bits, k=2 — ~1% FP at ~500
  *     distinct users/file) → point-lookup skipping for
  *     [[BillingStore.rawForUser]]: an equality probe touches only the
  *     files that may contain the key.
  *
  * At 100 TB skipping must come from commit metadata: parquet footers
  * answer the same questions but cost an object-store round trip per
  * file, and task startup dominates selective scans.
  *
  * Layout: `_raw_manifest/v%012d.stats`, one line per data file —
  * `relpath\tmin\tmax\tbloomB64` (`-` for a missing field: a file with
  * no non-null timestamps is range-unmatchable; a missing bloom means
  * "keep on any probe"). Written by the same lock-holding mutator that
  * commits the manifest version; entries for files carried over from
  * the prior version are copied forward, so each commit pays ONE
  * column-pruned Spark job over only its new files. Readers treat a
  * missing sidecar or line as "keep the file" — skipping is an
  * optimization, never a correctness dependency (the residual filter
  * still applies).
  */
private[billing] object FileStats {

  /** Bloom geometry: 8192 bits = 128 longs = ~1.4 KB base64 per file. */
  private[billing] val BloomBits = 8192
  private[billing] val BloomHashes = 2

  final case class FileStat(
      ts: Option[(Long, Long)], // None: no non-null timestamps
      bloom: Option[Array[Long]], // None: unknown → keep on any probe
      size: Option[Long] = None) { // file length; None → stat the file

    /** May this file contain `userId`? (No bloom → conservatively yes;
      * an empty bloom — zero indexed rows — rejects every probe.)
      */
    def mayContain(userId: String): Boolean = bloom match {
      case None => true
      case Some(bits) =>
        (0 until BloomHashes).forall { seed =>
          val p = position(userId, seed)
          (bits(p >> 6) & (1L << (p & 63))) != 0L
        }
    }
  }

  type Stats = Map[String, FileStat]

  /** Bit position of `userId` under `seed` — MUST match the SQL-side
    * `pmod(xxhash64(seed, user_id), BloomBits)` used by [[compute]].
    */
  private def position(userId: String, seed: Int): Int = {
    val bytes = userId.getBytes("UTF-8")
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length,
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(seed.toLong, 42L))
    math.floorMod(h, BloomBits.toLong).toInt
  }

  private def statsPath(root: String, version: Long) =
    new Path(new Path(root, "_raw_manifest"), f"v$version%012d.stats")

  def read(fs: FileSystem, root: String, version: Long): Stats =
    ControlFile.read(fs, statsPath(root, version))
      .fold(Map.empty: Stats) { txt =>
        txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty).flatMap {
          line =>
            line.split("\t", -1) match {
              case Array(f, lo, hi) => // pre-bloom sidecar line
                Some(f -> FileStat(parseTs(lo, hi), None))
              case Array(f, lo, hi, b) => // pre-size sidecar line
                Some(f -> FileStat(parseTs(lo, hi), parseBloom(b)))
              case Array(f, lo, hi, b, sz) =>
                Some(f -> FileStat(parseTs(lo, hi), parseBloom(b),
                  if (sz == "-") None else Some(sz.toLong)))
              case _ => None // tolerate a torn/foreign line
            }
        }.toMap
      }

  private def parseTs(lo: String, hi: String): Option[(Long, Long)] =
    if (lo == "-" || hi == "-") None else Some((lo.toLong, hi.toLong))

  private def parseBloom(b: String): Option[Array[Long]] =
    if (b == "-") None
    else {
      val bytes = java.util.Base64.getDecoder.decode(b)
      val buf = java.nio.ByteBuffer.wrap(bytes)
      Some(Array.fill(bytes.length / 8)(buf.getLong))
    }

  /** Published like the manifest version it describes
    * ([[ControlFile.publish]]).
    */
  def write(fs: FileSystem, root: String, version: Long,
      stats: Stats): Unit = {
    val body = stats.toSeq.sortBy(_._1).map { case (f, st) =>
      val (lo, hi) = st.ts.map { case (a, b) => (a.toString, b.toString) }
        .getOrElse(("-", "-"))
      val b = st.bloom.map { bits =>
        val buf = java.nio.ByteBuffer.allocate(bits.length * 8)
        bits.foreach(buf.putLong)
        java.util.Base64.getEncoder.encodeToString(buf.array())
      }.getOrElse("-")
      val sz = st.size.map(_.toString).getOrElse("-")
      s"$f\t$lo\t$hi\t$b\t$sz"
    }.mkString("\n")
    ControlFile.publish(fs, statsPath(root, version), body)
  }

  /** Sidecar of the newest version (empty map for pre-stats commits —
    * readers then keep every file).
    */
  def readLatest(fs: FileSystem, root: String): Stats =
    RawManifest.latest(fs, root) match {
      case Some((v, _)) => read(fs, root, v)
      case None         => Map.empty
    }

  /** Per-file timestamp min/max AND user-id bloom bits for `relFiles`,
    * via ONE column-pruned Spark job over just those files. Footer-only
    * stats would avoid the job but are unreliable across parquet
    * physical timestamp types (INT96 has no usable min/max) and can't
    * give blooms at all; a two-column scan of the new batch is robust
    * and O(batch), not O(table). The per-file bit-position sets are
    * bounded by min(distinct users, 8192) — driver-safe. A zero-row
    * file produces no group and is recorded with an EMPTY bloom
    * (rejects every probe) and no timestamp range.
    */
  def compute(spark: SparkSession, table: String,
      relFiles: Seq[String]): Stats =
    if (relFiles.isEmpty) Map.empty
    else {
      val rootUri = new Path(table).toUri.getPath
      // a NULL user_id must not set a bit (SQL xxhash64 SKIPS null
      // inputs rather than returning null, which would hash the bare
      // seed): nullify via when(), collect_set then drops it
      val seeds = (0 until BloomHashes).map { s =>
        collect_set(when(col("user_id").isNotNull,
          pmod(xxhash64(lit(s.toLong), col("user_id")), lit(BloomBits)))
        ).as(s"p$s")
      }
      val rows = spark.read.schema(Schemas.billing)
        .option("basePath", table)
        .parquet(relFiles.map(f => s"$table/$f"): _*)
        .select((input_file_name().as("f") +:
          unix_micros(col("timestamp")).as("ts") +: col("user_id") +:
          Nil): _*)
        .groupBy("f")
        .agg(min("ts").as("lo"),
          (max("ts").as("hi") +: seeds): _*)
        .collect()
      val byRel = rows.map { r =>
        val rel = new Path(r.getString(0)).toUri.getPath
          .stripPrefix(rootUri).stripPrefix("/")
        val ts = if (r.isNullAt(1)) None
                 else Some((r.getLong(1), r.getLong(2)))
        val bits = new Array[Long](BloomBits / 64)
        (0 until BloomHashes).foreach { s =>
          r.getSeq[Long](3 + s).foreach(p =>
            bits(p.toInt >> 6) |= 1L << (p & 63))
        }
        rel -> FileStat(ts, Some(bits))
      }.toMap
      val empty = FileStat(None, Some(new Array[Long](BloomBits / 64)))
      relFiles.map(f => f -> byRel.getOrElse(f, empty)).toMap
    }

  /** Fill in `size` for entries missing it: one `listStatus` per
    * affected partition directory, matched by name. Run at COMMIT time
    * so readers ([[ManifestFileIndex]]) plan splits from the sidecar
    * alone — zero filesystem calls per read, the reason table formats
    * carry sizes in their logs (a listStatus per partition per query
    * is an object-store round-trip storm at scale).
    */
  def fillSizes(fs: FileSystem, root: String, stats: Stats): Stats = {
    val missing = stats.collect {
      case (f, st) if st.size.isEmpty => f
    }.toSeq
    if (missing.isEmpty) stats
    else {
      val sized = missing.groupBy(f =>
        f.lastIndexOf('/') match {
          case -1 => ""
          case i  => f.substring(0, i)
        }).flatMap { case (dir, fsInDir) =>
          val base = if (dir.isEmpty) new Path(root) else new Path(root, dir)
          val listed =
            (if (fs.exists(base)) fs.listStatus(base) else Array.empty)
              .map(st => st.getPath.getName -> st.getLen).toMap
          fsInDir.flatMap { rel =>
            val name = rel.substring(rel.lastIndexOf('/') + 1)
            listed.get(name).map(rel -> _)
          }
        }
      stats.map { case (f, st) =>
        f -> (if (st.size.isDefined) st else st.copy(size = sized.get(f)))
      }
    }
  }

  /** Remove the sidecar of a pruned manifest version (called by
    * [[RawManifest.pruneHistory]] so history and stats stay in step).
    */
  def drop(fs: FileSystem, manifest: Path): Unit = {
    val side = new Path(manifest.getParent, manifest.getName + ".stats")
    if (fs.exists(side)) { fs.delete(side, false); () }
  }
}
