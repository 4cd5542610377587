package graft.operators

import graft.SparkTestBase
import org.apache.hadoop.fs.Path

import java.nio.file.Files

/** The write-then-swap protocol behind every compacted artifact
  * (the IVF-PQ index): crash-stranded artifacts are
  * renamed back in NUMERIC stamp order, a live swap's marker makes
  * concurrent readers back off instead of racing the writer's second
  * rename, and a crashed swap's marker is adjudicated dead after the
  * timeout (rename-back + marker cleanup) rather than wedging reads.
  */
class ArtifactSwapSpec extends SparkTestBase {

  private def freshRoot(): (org.apache.hadoop.fs.FileSystem, Path) = {
    val dir = Files.createTempDirectory("graft-swap").toString
    val root = new Path(dir, "artifact")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, root)
  }

  private def mkdirWithTag(fs: org.apache.hadoop.fs.FileSystem, p: Path, tag: String): Unit = {
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "tag"), true)
    try out.write(tag.getBytes("UTF-8")) finally out.close()
  }

  private def tagOf(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(new Path(p, "tag"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("recover picks the NEWEST stranded old dir by numeric stamp, not lexicographic") {
    val (fs, root) = freshRoot()
    // "999" > "1000" lexicographically but older numerically — the
    // legacy sortBy-name bug would resurrect the stale artifact
    mkdirWithTag(fs, new Path(root.getParent, s".${root.getName}_compact_old_999"), "older")
    mkdirWithTag(fs, new Path(root.getParent, s".${root.getName}_compact_old_1000"), "newer")
    ArtifactSwap.recover(fs, root, "spec", sweep = false)
    assert(fs.exists(root))
    assert(tagOf(fs, root) == "newer", "recovery resurrected an older artifact")
  }

  test("swap publishes tmp as root, cleans old + marker; stamps are fixed-width") {
    val (fs, root) = freshRoot()
    mkdirWithTag(fs, root, "v1")
    val stamp = ArtifactSwap.newStamp()
    assert(stamp.length == 19 && stamp.forall(_.isDigit), s"stamp not fixed-width: $stamp")
    mkdirWithTag(fs, ArtifactSwap.tmpPath(root, stamp), "v2")
    ArtifactSwap.swap(fs, root, stamp, "spec")
    assert(tagOf(fs, root) == "v2")
    val leftovers = fs.globStatus(new Path(root.getParent, s".${root.getName}_*"))
    assert(leftovers.isEmpty, s"swap left debris: ${leftovers.map(_.getPath).mkString(", ")}")
  }

  test("read-side recover backs off on a live swap's marker instead of renaming the old dir back") {
    val (fs, root) = freshRoot()
    val stamp = ArtifactSwap.newStamp()
    // mid-swap snapshot: root renamed out, marker present, second
    // rename not yet done
    val old = new Path(root.getParent, s".${root.getName}_compact_old_$stamp")
    mkdirWithTag(fs, old, "v1")
    fs.create(new Path(root.getParent, s".${root.getName}_swap_inprogress_$stamp"), true).close()
    // the "writer" completes its second rename 200 ms into the
    // reader's poll window
    val writer = new Thread(() => {
      Thread.sleep(200L)
      mkdirWithTag(fs, root, "v2")
      fs.delete(old, true)
      fs.delete(new Path(root.getParent, s".${root.getName}_swap_inprogress_$stamp"), false)
    })
    writer.start()
    ArtifactSwap.recover(fs, root, "spec", sweep = false, liveSwapTimeoutMs = 5000L)
    writer.join()
    assert(tagOf(fs, root) == "v2",
      "reader raced the live swap: the pre-compaction artifact won over the writer's publish")
  }

  test("a crashed swap's marker is adjudicated dead after the timeout: rename-back + cleanup") {
    val (fs, root) = freshRoot()
    val stamp = ArtifactSwap.newStamp()
    mkdirWithTag(fs, new Path(root.getParent, s".${root.getName}_compact_old_$stamp"), "v1")
    fs.create(new Path(root.getParent, s".${root.getName}_swap_inprogress_$stamp"), true).close()
    val t0 = System.currentTimeMillis()
    ArtifactSwap.recover(fs, root, "spec", sweep = false, liveSwapTimeoutMs = 300L)
    assert(System.currentTimeMillis() - t0 >= 300L, "reader did not wait out the marker")
    assert(fs.exists(root) && tagOf(fs, root) == "v1", "crashed swap not healed")
    assert(fs.globStatus(new Path(root.getParent, s".${root.getName}_swap_inprogress_*")).isEmpty,
      "dead marker survived — every later read would re-wait the full timeout")
  }

  test("writer-side recover treats any marker as a crash leftover: no wait, heal, sweep") {
    val (fs, root) = freshRoot()
    val stamp = ArtifactSwap.newStamp()
    mkdirWithTag(fs, new Path(root.getParent, s".${root.getName}_compact_old_$stamp"), "v1")
    mkdirWithTag(fs, ArtifactSwap.tmpPath(root, stamp), "half-built")
    fs.create(new Path(root.getParent, s".${root.getName}_swap_inprogress_$stamp"), true).close()
    val t0 = System.currentTimeMillis()
    ArtifactSwap.recover(fs, root, "spec", sweep = true)
    assert(System.currentTimeMillis() - t0 < 5000L, "writer-side recover waited on its own marker")
    assert(fs.exists(root) && tagOf(fs, root) == "v1")
    val leftovers = fs.globStatus(new Path(root.getParent, s".${root.getName}_compact_*")) ++
      fs.globStatus(new Path(root.getParent, s".${root.getName}_swap_inprogress_*"))
    assert(leftovers.isEmpty, s"sweep left debris: ${leftovers.map(_.getPath).mkString(", ")}")
  }
}
