package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.util.Locale

import scala.collection.mutable

/** Seeded random source. Every stream is derived from the run seed and a
  * fixed label, so the same seed gives the same inputs whatever order the
  * streams are drawn in.
  */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  /** Box-Muller, so the stream does not depend on library internals. */
  def gaussian(): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  def pick[A](xs: scala.collection.IndexedSeq[A]): A = xs(int(xs.size))
  def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = int(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}

object Rng {
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(seed: Long, label: String, parts: Long*): Rng =
    new Rng((label.hashCode.toLong +: parts).foldLeft(mix64(seed))(
      (h, p) => mix64(h ^ p)))
}

object Io {
  def write(p: Path, text: String): Long = {
    Files.createDirectories(p.getParent)
    val bytes = text.getBytes(UTF_8)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  /** Bytes of every regular file under `p`. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

// ---------------------------------------------------------------- billing

/** One generated billing event (the A1 schema). `resource == null` is a
  * NULL natural-key column; `cents` keeps credit exact.
  */
final case class Bill(ts: LocalDateTime, resource: String, user: String,
    cents: Long, region: String, tier: String, op: String, success: Boolean,
    rtype: String, invoice: String, currency: String) {
  def key: (LocalDateTime, String, String, String) = (ts, resource, user, invoice)
  def credit: Double = cents / 100.0
  def csv: String = {
    val c = f"${if (cents < 0) "-" else ""}${math.abs(cents) / 100}.${math.abs(cents) % 100}%02d"
    Seq(Bill.tsFmt.format(ts), Option(resource).getOrElse(""), user, c,
      region, tier, op, success.toString, rtype, invoice, currency,
      ts.getYear.toString, ts.getMonthValue.toString, ts.getDayOfMonth.toString)
      .mkString(",")
  }
}

object Bill {
  val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val header = "timestamp,resource_id,user_id,credit_usage,region,service_tier," +
    "operation_type,success,resource_type,invoice_id,currency,year,month,day"
}

/** Knobs of the billing_daily workload (see perfbench/README.md for why
  * each value was chosen).
  */
final case class BillingKnobs(users: Int, resources: Int, backfillDays: Int,
    rowsPerDay: Int, reshipShare: Double, lateShare: Double,
    inFileDupShare: Double, nullKeyShare: Double, rewriteEvery: Int,
    rewriteRows: Int, crossAt: Int, compactEvery: Int, pointReads: Int,
    rangeReads: Int)

/** Billing CSV deliveries. Day files live at
  * `year=YYYY/month=MM/day=DD/billing.csv` (header row, the 14 A1 columns).
  * Delivery `crossAt` ships two day files, the last day of January and the
  * first of February; deliveries 0, `rewriteEvery`, 2 × `rewriteEvery`, ...
  * also rewrite an earlier day's file in place with extra rows.
  */
final class BillingGen(seed: Long, k: BillingKnobs) {
  private val day0 = LocalDate.of(2025, 1, 31).minusDays(k.backfillDays + k.crossAt)
  private val regions = Vector("us-east-1", "us-west-2", "eu-west-1",
    "eu-central-1", "ap-south-1", "ap-northeast-1")
  private val tiers = Vector("free", "standard", "premium")
  private val ops = Vector("read", "write", "compute", "delete", "list")
  private val rtypes = Vector("compute", "storage", "network", "database")
  /** Every fresh row generated so far: the pool re-shipped rows come from. */
  private val history = mutable.ArrayBuffer[Bill]()
  /** Current content of every day file, by relative path. */
  private val files = mutable.LinkedHashMap[String, Vector[Bill]]()

  def date(dayIdx: Int): LocalDate = day0.plusDays(dayIdx)

  def relPath(dayIdx: Int): String = {
    val d = date(dayIdx)
    f"year=${d.getYear}%04d/month=${d.getMonthValue}%02d/day=${d.getDayOfMonth}%02d/billing.csv"
  }

  /** `n` new rows of day `dayIdx`; the first `n * nullKeyShare` have a
    * NULL `resource_id`.
    */
  private def fresh(dayIdx: Int, n: Int, tag: String): Vector[Bill] = {
    val r = Rng(seed, s"billing.fresh.$tag", dayIdx)
    val start = date(dayIdx).atStartOfDay()
    val nulls = (n * k.nullKeyShare).toInt
    Vector.tabulate(n) { i =>
      val u = r.double()
      Bill(
        ts = start.plusSeconds(r.int(86400)),
        resource = if (i < nulls) null else f"r${r.int(k.resources)}%05d",
        // quadratic skew: a few heavy users, a long tail of light ones
        user = f"u${(u * u * k.users).toInt}%04d",
        cents = if (r.chance(0.03)) -r.int(500).toLong else r.int(5000).toLong,
        region = r.pick(regions), tier = r.pick(tiers), op = r.pick(ops),
        success = !r.chance(0.1), rtype = r.pick(rtypes),
        invoice = f"inv-$tag-$dayIdx%04d-$i%05d",
        currency = if (r.chance(0.8)) "USD" else "EUR")
    }
  }

  /** A day file: fresh rows, late fresh rows of the day before, exact
    * in-file duplicates, and exact re-ships of earlier rows: keyed rows
    * drawn from the whole history (the store drops them) plus one
    * NULL-key row of the day before (the store inserts it again). So every
    * delivery appends to exactly the new day and the day before, and each
    * maintenance pass compacts the same number of partitions.
    */
  private def dayFile(dayIdx: Int): (String, Vector[Bill]) = {
    val r = Rng(seed, "billing.day", dayIdx)
    val late =
      if (dayIdx == 0) Vector.empty
      else fresh(dayIdx - 1, (k.rowsPerDay * k.lateShare).toInt, s"late$dayIdx")
    val own = fresh(dayIdx, k.rowsPerDay, "d") ++ late
    val keyed = history.filter(_.resource != null)
    val yesterdayNull = history.filter(b => b.resource == null && b.ts.toLocalDate == date(dayIdx - 1))
    val reships =
      (if (keyed.isEmpty) Vector.empty
       else Vector.fill((k.rowsPerDay * k.reshipShare).toInt - 1)(r.pick(keyed))) ++
        yesterdayNull.headOption
    val dups = Vector.fill((k.rowsPerDay * k.inFileDupShare).toInt)(r.pick(own))
    history ++= own
    val rows = r.shuffle(own ++ reships ++ dups).toVector
    files(relPath(dayIdx)) = rows
    relPath(dayIdx) -> rows
  }

  def backfill(): Seq[(String, Vector[Bill])] = (0 until k.backfillDays).map(dayFile)

  /** The files delivery `i` lands (new day files, then any rewritten one). */
  def delivery(i: Int): Seq[(String, Vector[Bill])] = {
    val first = k.backfillDays + i + (if (i > k.crossAt) 1 else 0)
    val days = if (i == k.crossAt) Seq(first, first + 1) else Seq(first)
    val landed = days.map(dayFile)
    val rewrite =
      if (k.rewriteEvery > 0 && i % k.rewriteEvery == 0) {
        val target = math.max(0, first - 3)
        val rel = relPath(target)
        val extra = fresh(target, k.rewriteRows, s"rw$i")
        history ++= extra
        files(rel) = files(rel) ++ extra
        Seq(rel -> files(rel))
      } else Seq.empty
    landed ++ rewrite
  }

  def csv(rows: Seq[Bill]): String =
    (Bill.header +: rows.map(_.csv)).mkString("", "\n", "\n")
}

// ----------------------------------------------------------------- corpus

final case class CorpusKnobs(docs: Int, vocab: Int, minWords: Int,
    maxWords: Int, nearDupShare: Double, dim: Int, clusters: Int,
    deliverySize: Int, reshipShare: Double, readmitShare: Double,
    retractSize: Int, retractEvery: Int, maintainEvery: Int,
    maxSegments: Int, ivfCells: Int, spread: Double, graphK: Int,
    graphIters: Int, searchBeam: Int, graphQueries: Int, recallFloor: Double)

/** Documents with 64-d clustered embeddings. A document is a pure function of
  * (seed, id): its words are Zipf-distributed over a seeded vocabulary
  * plus one token unique to the document (`k<id>`), and a `nearDupShare`
  * of documents copy an earlier document with a tenth of its words
  * replaced. Re-shipping an id therefore re-ships identical content.
  */
final class CorpusGen(seed: Long, k: CorpusKnobs) {
  private val vocab: IndexedSeq[String] = {
    val r = Rng(seed, "corpus.vocab")
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < k.vocab)
      seen += Iterator.fill(3 + r.int(6))(('a' + r.int(26)).toChar).mkString
    seen.toIndexedSeq
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(k.vocab)(i => 1.0 / math.pow(i + 1, 1.05))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private val centers = VectorGen.centers(seed, "corpus", k.clusters, k.dim)
  private val memo = mutable.HashMap[Long, IndexedSeq[String]]()

  private def word(r: Rng): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.double())
    vocab(math.min(if (i >= 0) i else -i - 1, k.vocab - 1))
  }

  /** The words of document `id`, its unique token included. */
  def words(id: Long): IndexedSeq[String] = memo.get(id) match {
    case Some(ws) => ws
    case None =>
      val r = Rng(seed, "corpus.doc", id)
      val base =
        if (id > 1 && r.chance(k.nearDupShare)) {
          val src = words(1 + r.int((id - 1).toInt).toLong).filterNot(isUnique)
          src.map(w => if (r.chance(0.1)) word(r) else w)
        } else IndexedSeq.fill(k.minWords + r.int(k.maxWords - k.minWords + 1))(word(r))
      val at = r.int(base.size + 1)
      val ws = (base.take(at) :+ s"k$id") ++ base.drop(at)
      memo(id) = ws
      ws
  }

  private def isUnique(w: String): Boolean = w.matches("k[0-9]+")

  def text(id: Long): String = words(id).mkString(" ")

  def emb(id: Long): Array[Float] =
    VectorGen.point(Rng(seed, "corpus.emb", id), centers, k.spread)

  def jsonLine(id: Long): String =
    s"""{"id":$id,"text":"${text(id)}","emb":${VectorGen.json(emb(id))}}"""

  def initialIds: IndexedSeq[Long] = (1L to k.docs.toLong)

  /** Delivery `i`: fresh ids, re-shipped live ids and re-admitted
    * retracted ids, drawn against the current live and retracted sets.
    */
  def delivery(i: Int, nextId: Long, live: IndexedSeq[Long],
      retracted: IndexedSeq[Long]): IndexedSeq[Long] = {
    val r = Rng(seed, "corpus.delivery", i)
    val nReship = (k.deliverySize * k.reshipShare).toInt
    val nReadmit = if (retracted.isEmpty) 0 else (k.deliverySize * k.readmitShare).toInt
    val nFresh = k.deliverySize - nReship - nReadmit
    ((nextId until nextId + nFresh) ++ Seq.fill(nReship)(r.pick(live)) ++
      Seq.fill(nReadmit)(r.pick(retracted))).distinct
  }

  def retraction(i: Int, live: IndexedSeq[Long]): IndexedSeq[Long] = {
    val r = Rng(seed, "corpus.retract", i)
    Seq.fill(k.retractSize)(r.pick(live)).distinct.toIndexedSeq
  }

  /** BM25 queries for read `i`: the unique token of a live document plus
    * two of its words (that document must rank in the top 10), and the
    * unique token of a retracted document (it must not come back).
    */
  def queries(i: Int, live: IndexedSeq[Long],
      retracted: IndexedSeq[Long]): Seq[(Long, Seq[String], Option[Long])] = {
    val r = Rng(seed, "corpus.query", i)
    val hits = (0 until 4).map { j =>
      val id = r.pick(live)
      val ws = words(id).filterNot(isUnique)
      (j.toLong, Seq(s"k$id", r.pick(ws), r.pick(ws)), Some(id))
    }
    val miss = retracted.headOption.map(_ => (9L, Seq(s"k${r.pick(retracted)}"), None))
    hits ++ miss
  }

  /** kNN-graph queries for read `i`: fresh points around the corpus's
    * cluster centres, under query ids no document has.
    */
  def graphQueries(i: Int): Seq[(Long, Array[Float])] = {
    val r = Rng(seed, "corpus.graphquery", i)
    (0 until k.graphQueries).map(j =>
      (2000000000L + i * 100L + j, VectorGen.point(r, centers, k.spread)))
  }

  /** Dedup probes for read `i`: exact copies of live documents, under
    * fresh probe ids, each of which must pair with its source.
    */
  def probes(i: Int, live: IndexedSeq[Long]): Seq[(Long, Long)] = {
    val r = Rng(seed, "corpus.probe", i)
    (0 until 3).map(j => (1000000000L + i * 10L + j, r.pick(live)))
  }
}

// ---------------------------------------------------------------- vectors

/** Clustered vectors: Gaussian cluster centres, points at `spread` around
  * a uniformly chosen centre. Values are rounded to four decimals as they
  * are generated, so the text written is exactly what the engine reads.
  */
object VectorGen {
  def centers(seed: Long, label: String, n: Int, dim: Int): IndexedSeq[Array[Double]] = {
    val r = Rng(seed, s"$label.centers")
    IndexedSeq.fill(n)(Array.fill(dim)(r.gaussian()))
  }

  def point(r: Rng, centers: IndexedSeq[Array[Double]], spread: Double): Array[Float] = {
    val c = r.pick(centers)
    c.map(x => f4(x + spread * r.gaussian()).toFloat)
  }

  def json(v: Array[Float]): String = v.map(x => f4(x.toDouble)).mkString("[", ",", "]")

  def f4(x: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(x))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    for (i <- a.indices) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-`k` ids of `corpus` by cosine to `q` (ties to the smaller
    * id): the brute-force answer graph search recall is measured against.
    */
  def bruteForceTopK(q: Array[Float], corpus: Iterable[(Long, Array[Float])],
      k: Int): Seq[Long] =
    corpus.toSeq.map { case (id, v) => (-cosine(q, v), id) }.sorted.take(k).map(_._2)
}
