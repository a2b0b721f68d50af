package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Laws of the Bloom-sidecar presence probe ([[IdBloom]] /
  * [[IndexStore.liveRowsAmong]]): value-identical to the unpruned
  * probe, actually prunes (only possibly-matching segments' files in
  * the plan; a pruned segment's data is never touched — provable by
  * deleting it), sidecars are build-once per immutable segment, and
  * tombstone masking still applies inside the pruned read.
  */
class IdBloomSpec extends SparkSpec {
  import spark.implicits._

  private def band(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"doc number $i")).toDF("id", "text")

  /** A corpus store of three appends with disjoint id bands — three
    * immutable segments the probe can tell apart.
    */
  private def freshStore(): String = {
    val p = tmpDir("bloom_store")
    CorpusStore.build(band(1, 10), col("id"), p)
    CorpusStore.append(spark, p, band(11, 20), col("id"))
    CorpusStore.append(spark, p, band(21, 30), col("id"))
    p
  }

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  test("bit set/test roundtrip and designed false-positive rate") {
    val nbits = 16384L
    val bits = new Array[Byte]((nbits >>> 3).toInt)
    val present = (1 to 1000).map(i => s"id-$i")
    present.foreach { id =>
      val (h1, h2) = IdBloom.hashPair(id)
      IdBloom.setBits(bits, h1, h2, nbits)
    }
    assert(present.forall { id => // no false negatives, ever
      val (h1, h2) = IdBloom.hashPair(id)
      IdBloom.testBits(bits, h1, h2, nbits)
    })
    val fp = (1 to 10000).count { i =>
      val (h1, h2) = IdBloom.hashPair(s"absent-$i")
      IdBloom.testBits(bits, h1, h2, nbits)
    }
    assert(fp < 100, s"false-positive rate way over design: $fp/10000")
  }

  test("hashPair is deterministic and long/string key forms agree") {
    assert(IdBloom.hashPair("doc-7") == IdBloom.hashPair("doc-7"))
    // probes cast keys to string on both sides; 7L and "7" must meet
    assert(IdBloom.hashPair(7L.toString) == IdBloom.hashPair("7"))
  }

  test("collectPairs drops nulls and returns None over the probe cap") {
    val cands = Seq(Some("a"), None, Some("b"), Some("a"))
      .toDF("id")
    assert(IdBloom.collectPairs(cands, "id").get.length == 2)
    assert(IdBloom.collectPairs(cands, "id", maxProbe = 1).isEmpty)
  }

  test("liveRowsAmong is value-identical to the unpruned semi-join") {
    val p = freshStore()
    CorpusStore.delete(spark, p, Seq(15L, 3L).toDF("id"), col("id"))
    CorpusStore.append(spark, p, band(15, 15), col("id")) // readd 15
    val snap = IndexStore.snapshot(spark, p)
    // candidates spanning: live (7, 22), deleted (3), readded (15),
    // never-present (99)
    val cands = Seq(7L, 22L, 3L, 15L, 99L).toDF("id")
    val got = IndexStore.liveRowsAmong(snap, "rows", "id", cands)
      .join(broadcast(cands), Seq("id"), "left_semi")
      .select("id").as[Long].collect().toSet
    val want = IndexStore.liveRows(snap, "rows", key = "id")
      .join(broadcast(cands), Seq("id"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(got == want)
    assert(got == Set(7L, 22L, 15L)) // 3 deleted, 15 readded, 99 absent
  }

  test("probe reads only the segments that may hold a candidate") {
    val p = freshStore()
    val snap = IndexStore.snapshot(spark, p)
    val segs = snap.segments("rows")
    assert(segs.size == 3)
    // which segment holds id 15? (names are random — look it up)
    val segOf15 = segs.find { s =>
      spark.read.parquet(s"$p/$s/rows")
        .filter(col("id") === 15L).count() > 0
    }.get
    val probed = IndexStore.liveRowsAmong(
      snap, "rows", "id", Seq(15L).toDF("id"))
    val files = probed.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(_.contains(s"/$segOf15/")),
      s"probe read outside $segOf15: $files")
  }

  test("a pruned segment's data is never touched (bloom, not column)") {
    val p = freshStore()
    val snap = IndexStore.snapshot(spark, p)
    // first probe builds every sidecar
    IndexStore.liveRowsAmong(snap, "rows", "id", Seq(15L).toDF("id"))
      .count()
    val segs = snap.segments("rows")
    val segOf25 = segs.find { s =>
      spark.read.parquet(s"$p/$s/rows")
        .filter(col("id") === 25L).count() > 0
    }.get
    // destroy every OTHER segment's data (sidecars stay): a probe for
    // 25 succeeds only if the pruned segments were truly never read
    segs.filterNot(_ == segOf25).foreach { s =>
      assert(fs(p).delete(new Path(s"$p/$s/rows"), true))
    }
    val c25 = Seq(25L).toDF("id")
    val got = IndexStore.liveRowsAmong(snap, "rows", "id", c25)
      .join(broadcast(c25), Seq("id"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(got == Set(25L))
  }

  test("no-hit probe returns empty without reading any segment") {
    val p = freshStore()
    val snap = IndexStore.snapshot(spark, p)
    val got = IndexStore.liveRowsAmong(
      snap, "rows", "id", Seq(999L, 1000L).toDF("id"))
    assert(got.count() == 0)
    assert(got.columns.toSeq == CorpusStore.read(spark, p).columns.toSeq)
  }

  test("sidecars build once per immutable segment, then serve as-is") {
    val p = freshStore()
    val snap = IndexStore.snapshot(spark, p)
    val seg = snap.segments("rows").head
    val sidecar = new Path(s"$p/$seg/${IdBloom.sidecarName("rows")}")
    assert(!fs(p).exists(sidecar))
    IndexStore.liveRowsAmong(snap, "rows", "id", Seq(5L).toDF("id"))
      .count()
    assert(fs(p).exists(sidecar))
    val t0 = fs(p).getFileStatus(sidecar).getModificationTime
    IndexStore.liveRowsAmong(snap, "rows", "id", Seq(6L).toDF("id"))
      .count()
    assert(fs(p).getFileStatus(sidecar).getModificationTime == t0,
      "second probe rebuilt an existing sidecar")
  }

  test("delete-path presence judge goes through the pruned probe") {
    // a takedown for ids in ONE delivery must not scan the others:
    // wreck two segments' data after sidecars exist, then delete an id
    // from the surviving one — tombstoneIds' liveness judge succeeds
    // only if it read just that segment
    val p = freshStore()
    val snap0 = IndexStore.snapshot(spark, p)
    IndexStore.liveRowsAmong(snap0, "rows", "id", Seq(1L).toDF("id"))
      .count() // build sidecars
    val segs = snap0.segments("rows")
    val segOf25 = segs.find { s =>
      spark.read.parquet(s"$p/$s/rows")
        .filter(col("id") === 25L).count() > 0
    }.get
    segs.filterNot(_ == segOf25).foreach { s =>
      assert(fs(p).delete(new Path(s"$p/$s/rows"), true))
    }
    CorpusStore.delete(spark, p, Seq(25L).toDF("id"), col("id"))
    val snap1 = IndexStore.snapshot(spark, p)
    val cands = Seq(25L, 26L).toDF("id")
    val live = IndexStore.liveRowsAmong(snap1, "rows", "id", cands)
      .join(broadcast(cands), Seq("id"), "left_semi")
      .select("id").as[Long].collect().toSet
    assert(live == Set(26L)) // 25 tombstoned inside the pruned read
  }
}
