package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

class SnapshotSpec extends SparkTestBase {
  import spark.implicits._

  private val oldSnap = Seq(
    (1L, Option("alpha"), Option("src0")), // unchanged
    (2L, Option("beta"), Option("src0")),  // text changes
    (3L, Option("gamma"), Option("src1")), // removed in new
    (5L, None: Option[String], Option("src2")), // null text -> '' fingerprint
    (6L, Option(""), Option("src3"))       // source changes
  ).toDF("doc_id", "text", "source")

  private val newSnap = Seq(
    (1L, Option("alpha"), Option("src0")),
    (2L, Option("beta v2"), Option("src0")),
    (4L, Option("delta"), Option("src1")), // added
    (5L, Option(""), Option("src2")),      // '' vs old null -> SAME fingerprint
    (6L, Option(""), Option("src9"))
  ).toDF("doc_id", "text", "source")

  test("diff classifies added/removed/changed, drops unchanged, never emits null fingerprints") {
    val got = Snapshot.diff(oldSnap, newSnap, "doc_id", Seq("source", "text"))
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> r).toMap

    assert(got.keySet == Set(2L, 3L, 4L, 6L))
    assert(got(2L)._2 == "changed" && got(3L)._2 == "removed" && got(4L)._2 == "added")
    assert(got(6L)._2 == "changed") // content change in a non-text column
    // absent-side fingerprints are empty strings, not nulls
    assert(got(3L)._4 == "" && got(4L)._3 == "")
    // present-side fingerprints are real 32-hex md5s
    assert(got(2L)._3.length == 32 && got(2L)._4.length == 32 && got(2L)._3 != got(2L)._4)
    // doc 5: null text and empty text fingerprint identically (documented
    // coalesce trade) -> unchanged, filtered
    assert(!got.contains(5L))
    // doc 1 untouched -> filtered
    assert(!got.contains(1L))
  }

  test("fingerprint is order-sensitive in its column list and separator-safe against aliasing") {
    val df = Seq(("ab", "c"), ("a", "bc")).toDF("x", "y")
    val fps = df.select(Snapshot.fingerprint(Seq("x", "y")).as("fp"))
      .as[String].collect()
    // 'ab'+sep+'c' must not collide with 'a'+sep+'bc'
    assert(fps.distinct.length == 2)
    val fwd = df.limit(1).select(Snapshot.fingerprint(Seq("x", "y"))).as[String].head()
    val rev = df.limit(1).select(Snapshot.fingerprint(Seq("y", "x"))).as[String].head()
    assert(fwd != rev)
  }

  test("diff of a snapshot against itself is empty") {
    assert(Snapshot.diff(oldSnap, oldSnap, "doc_id", Seq("source", "text")).count() == 0L)
  }

  test("delta + unchanged partition the new snapshot; fingerprint state maintained via delta equals full recompute") {
    val cols = Seq("source", "text")
    val delta = Snapshot.delta(oldSnap, newSnap, "doc_id", cols)
      .as[(Long, Option[String], Option[String])].collect()
    // added (4) and changed (2, 6); NOT the null-vs-empty doc 5, NOT unchanged 1
    assert(delta.map(_._1).sorted.toSeq == Seq(2L, 4L, 6L))
    // delta rows are the full new-snapshot rows, not fingerprints
    assert(delta.find(_._1 == 2L).get._2.contains("beta v2"))

    val removed = Snapshot.removedKeys(oldSnap, newSnap, "doc_id", cols)
      .as[Long].collect()
    assert(removed.toSeq == Seq(3L))

    // the incremental-refresh identity the API exists for: retire
    // (removed ∪ changed) from the old fingerprint table, add the
    // delta's fingerprints -> EXACTLY the new snapshot's table
    def fps(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), Snapshot.fingerprint(cols).as("fp"))
    val diffKeys = Snapshot.diff(oldSnap, newSnap, "doc_id", cols)
      .filter(col("status") =!= "added").select("doc_id")
    val maintained = fps(oldSnap).join(diffKeys, Seq("doc_id"), "left_anti")
      .unionByName(fps(Snapshot.delta(oldSnap, newSnap, "doc_id", cols)))
      .as[(Long, String)].collect().toSet
    val full = fps(newSnap).as[(Long, String)].collect().toSet
    assert(maintained == full, "delta-maintained fingerprint state diverged from recompute")
  }
}
