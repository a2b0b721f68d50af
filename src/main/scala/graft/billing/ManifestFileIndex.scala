package graft.billing

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] over one [[RawManifest]] snapshot — the Delta
  * `TahoeFileIndex` pattern: the table's file list comes from the
  * committed manifest (never a directory listing), and `listFiles`
  * applies BOTH hive partition pruning and [[FileStats]] skipping
  * (timestamp min/max ranges, user-id blooms) against whatever filters
  * Catalyst pushes down. That turns file skipping from a dedicated-API
  * feature into an optimizer-driven one: ANY query through
  * [[BillingStore.raw]] — `raw.filter($"timestamp" > X)`,
  * `raw.filter($"user_id" === id)`, a SQL view over it, a join whose
  * runtime filter narrows the probe side — plans tasks only for the
  * files its own predicates can match, with no caller cooperation.
  *
  * Unsupported/complex predicates degrade to keep-the-file (skipping
  * is an optimization, never a correctness dependency — the residual
  * filter still runs). Partition values are parsed from the manifest's
  * relative paths; file sizes come from one `listStatus` per partition
  * directory (at real object-store scale the manifest would carry
  * sizes; the API shape is unchanged by that upgrade).
  *
  * Partition-filter binding mirrors Spark's own
  * `PartitioningAwareFileIndex.prunePartitions`.
  */
private[billing] class ManifestFileIndex(
    spark: SparkSession,
    tableRoot: Path,
    relFiles: Seq[String],
    stats: FileStats.Stats,
    override val partitionSchema: StructType) extends FileIndex {

  private val fs = graft.store.ControlFile.fs(spark, tableRoot.toString)

  /** (partition values, files with status). Statuses come from the
    * sidecar's recorded file sizes when present — ZERO filesystem calls
    * to plan a query, the reason table formats carry sizes in their
    * logs — with one listStatus per partition dir as the fallback for
    * size-less entries (pre-size sidecars); files the manifest retired
    * are simply absent from the match.
    */
  private val partitions: Seq[(InternalRow, Seq[(String, FileStatus)])] = {
    val byDir = relFiles.groupBy(f =>
      f.lastIndexOf('/') match {
        case -1 => ""
        case i  => f.substring(0, i)
      })
    byDir.toSeq.sortBy(_._1).map { case (dir, fsInDir) =>
      lazy val listed = fs.listStatus(
        if (dir.isEmpty) tableRoot else new Path(tableRoot, dir))
        .map(st => st.getPath.getName -> st).toMap
      val values = InternalRow.fromSeq(partitionSchema.map { f =>
        val seg = dir.split("/").find(_.startsWith(f.name + "="))
          .map(_.substring(f.name.length + 1))
        f.dataType match {
          case IntegerType => seg.map(_.toInt).getOrElse(null)
          case _ => seg.map(UTF8String.fromString).getOrElse(null)
        }
      })
      val files = fsInDir.flatMap { rel =>
        stats.get(rel).flatMap(_.size) match {
          case Some(len) =>
            Some(rel -> new FileStatus(len, false, 1, 128L * 1024 * 1024,
              0L, new Path(tableRoot, rel)))
          case None =>
            val name = rel.substring(rel.lastIndexOf('/') + 1)
            listed.get(name).map(st => rel -> st)
        }
      }
      (values, files)
    }
  }

  override def rootPaths: Seq[Path] = Seq(tableRoot)

  override def inputFiles: Array[String] =
    partitions.flatMap(_._2.map(_._2.getPath.toString)).toArray

  override def refresh(): Unit = () // a manifest snapshot is immutable

  override def sizeInBytes: Long =
    partitions.flatMap(_._2.map(_._2.getLen)).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned =
      if (partitionFilters.isEmpty) partitions
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partitionSchema.indexWhere(_.name == a.name)
              BoundReference(i, partitionSchema(i).dataType,
                nullable = true)
          })
        partitions.filter { case (values, _) => bound.eval(values) }
      }
    val skip = SkipPredicates(dataFilters)
    pruned.map { case (values, files) =>
      PartitionDirectory(values,
        files.filter { case (rel, _) => skip.keep(stats.get(rel)) }
          .map(_._2).toArray)
    }.filter(_.files.nonEmpty)
  }

  /** The skippable content of a conjunction of pushed data filters: an
    * event-time window (inclusive micros) and a set of user-id probes.
    * Anything it can't recognize contributes nothing — never a wrong
    * skip.
    */
  private case class SkipPredicates(
      tsLo: Option[Long], tsHi: Option[Long],
      users: Option[Seq[String]]) {

    def keep(stat: Option[FileStats.FileStat]): Boolean = stat match {
      case None => true // no stats for this file: conservative keep
      case Some(st) =>
        val tsOk = (tsLo, tsHi, st.ts) match {
          case (None, None, _) => true
          // a range/equality predicate on ts is null-rejecting, so a
          // file with no non-null timestamps can't match it
          case (_, _, None) => false
          case (lo, hi, Some((mn, mx))) =>
            lo.forall(mx >= _) && hi.forall(mn <= _)
        }
        tsOk && users.forall(_.exists(st.mayContain))
    }
  }

  private object SkipPredicates {
    private def ts(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == "timestamp"
      case _ => false
    }
    private def uid(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == "user_id"
      case _ => false
    }
    private def lit(e: Expression): Option[Any] = e match {
      case Literal(v, _) if v != null => Some(v)
      case _ => None
    }

    def apply(conjuncts: Seq[Expression]): SkipPredicates = {
      var lo = Option.empty[Long]
      var hi = Option.empty[Long]
      var users = Option.empty[Seq[String]]
      def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
      def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
      def probe(vs: Seq[String]): Unit =
        // intersecting candidate sets would need value-level reasoning;
        // keeping the smaller set is safe (files must satisfy EVERY
        // conjunct, so any one conjunct's probe set upper-bounds the
        // keepable files)
        users = Some(users.fold(vs)(old =>
          if (vs.length < old.length) vs else old))
      conjuncts.foreach {
        case GreaterThanOrEqual(t, Micros(v)) if ts(t) => tightenLo(v)
        case GreaterThan(t, Micros(v)) if ts(t)        => tightenLo(v + 1)
        case LessThanOrEqual(t, Micros(v)) if ts(t)    => tightenHi(v)
        case LessThan(t, Micros(v)) if ts(t)           => tightenHi(v - 1)
        case EqualTo(t, Micros(v)) if ts(t) => tightenLo(v); tightenHi(v)
        case GreaterThanOrEqual(Micros(v), t) if ts(t) => tightenHi(v)
        case GreaterThan(Micros(v), t) if ts(t)        => tightenHi(v - 1)
        case LessThanOrEqual(Micros(v), t) if ts(t)    => tightenLo(v)
        case LessThan(Micros(v), t) if ts(t)           => tightenLo(v + 1)
        case EqualTo(u, l) if uid(u) =>
          lit(l).foreach(v => probe(Seq(v.toString)))
        case EqualTo(l, u) if uid(u) =>
          lit(l).foreach(v => probe(Seq(v.toString)))
        case In(u, ls) if uid(u) && ls.forall(lit(_).isDefined) =>
          probe(ls.flatMap(lit).map(_.toString))
        case InSet(u, vs) if uid(u) && !vs.contains(null) =>
          probe(vs.toSeq.map(_.toString))
        case _ => () // unrecognized conjunct: no skipping contribution
      }
      SkipPredicates(lo, hi, users)
    }
  }

  /** Extracts the micros of a (possibly Cast-wrapped) timestamp
    * literal.
    */
  private object Micros {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, org.apache.spark.sql.types.TimestampType) =>
        Some(v)
      case Cast(Literal(v: Long,
        org.apache.spark.sql.types.TimestampType), _, _, _) => Some(v)
      case _ => None
    }
  }
}
