package graft.store

import org.apache.hadoop.fs.{FileAlreadyExistsException, FilterFileSystem, Path}
import graft.SparkSpec
import graft.ext.{Ingest, SelectionLog, Takedown}

/** The control-file contract: publish/read round trips, a missing file
  * reads as None, publish never clobbers, replace rewrites in place, land
  * moves a staged directory, and the hidden temps a crash leaves behind
  * are invisible to every lister that reads control files. No Spark job
  * runs here; the session only supplies the Hadoop configuration.
  */
class ControlFileSpec extends SparkSpec {

  private def fresh(prefix: String) = {
    val root = tmpDir(prefix)
    (root, ControlFile.fs(spark, root))
  }

  /** Names under `dir` that a publish or replace temp would carry. */
  private def temps(fs: org.apache.hadoop.fs.FileSystem, dir: Path) =
    fs.listStatus(dir).map(_.getPath.getName).filter(_.contains(".tmp-")).toSeq

  private def plant(fs: org.apache.hadoop.fs.FileSystem, p: Path) = {
    val out = fs.create(p, true)
    try out.write("torn".getBytes("UTF-8")) finally out.close()
  }

  test("publish then read round-trips the bytes; a missing file is None") {
    val (root, fs) = fresh("cf_rt")
    val p = new Path(root, "sub/entry")
    ControlFile.publish(fs, p, "kind\npäth ✓")
    assert(ControlFile.read(fs, p).contains("kind\npäth ✓"))
    assert(ControlFile.read(fs, new Path(root, "nope")).isEmpty)
    assert(temps(fs, p.getParent).isEmpty)
  }

  test("publish onto an existing file fails by name and leaves no temp") {
    val (root, fs) = fresh("cf_race")
    val p = new Path(root, "v000000000001")
    ControlFile.publish(fs, p, "first")
    val e = intercept[FileAlreadyExistsException] {
      ControlFile.publish(fs, p, "second")
    }
    assert(e.getMessage.contains("v000000000001"))
    assert(ControlFile.read(fs, p).contains("first"))
    assert(temps(fs, new Path(root)).isEmpty)
  }

  test("replace of an existing file leaves the new bytes and no temp") {
    val (root, fs) = fresh("cf_replace")
    val p = new Path(root, "_graph_debt")
    ControlFile.replace(fs, p, "1 0")
    ControlFile.replace(fs, p, "2 5")
    assert(ControlFile.read(fs, p).contains("2 5"))
    assert(temps(fs, new Path(root)).isEmpty)
  }

  test("land moves a staged directory into place, and fails by name " +
      "when the rename fails") {
    val (root, fs) = fresh("cf_land")
    val staged = new Path(root, "r-1/ids-staging")
    plant(fs, new Path(staged, "part-0"))
    val target = new Path(root, "r-1/ids")
    ControlFile.land(fs, staged, target)
    assert(fs.exists(new Path(target, "part-0")) && !fs.exists(staged))

    val refusing = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val again = new Path(root, "r-2/ids-staging")
    fs.mkdirs(again)
    val e = intercept[java.io.IOException] {
      ControlFile.land(refusing, again, new Path(root, "r-2/ids"))
    }
    assert(e.getMessage.contains("r-2/ids-staging") &&
      e.getMessage.contains("r-2/ids "))
  }

  test("a crash-leftover hidden temp is invisible to every lister") {
    val (root, fs) = fresh("cf_hidden")
    val manifest = new VersionedManifest("_manifest")
    manifest.commit(fs, root, Seq("seg-a/rows"))
    plant(fs, new Path(root, "_manifest/.v000000000002.tmp-0123"))
    assert(manifest.versions(fs, root) == Seq(1L))

    val bm25 = Takedown.Surface("bm25", s"$root/bm25")
    Takedown.register(spark, root, bm25)
    plant(fs, new Path(root, "_surfaces/.s-0123456789abcdef.tmp-0123"))
    assert(Takedown.surfaces(spark, root) == Seq(bm25))

    plant(fs, new Path(root, "_retractions/.r-0123.tmp-0123/ids/part-0"))
    plant(fs, new Path(root, "_deliveries/.d-0123.tmp-0123/rows/part-0"))
    assert(Takedown.pending(spark, root).isEmpty)
    assert(Ingest.pending(spark, root).isEmpty)

    plant(fs, new Path(root, "_selections/s-0123/.vector.tmp-0123"))
    assert(SelectionLog.list(spark, root).isEmpty)
  }
}
