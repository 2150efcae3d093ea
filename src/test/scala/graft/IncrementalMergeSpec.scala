package graft

import org.apache.spark.sql.functions._

/** Incremental MERGE upsert + generation retention on the bucketed
  * manifest layout (reference: in-place id-replace crud.rs:19-127 +
  * compaction/autovacuum storage/compaction.rs — re-expressed as
  * partition-pruned parquet rewrites named by a manifest).
  *
  * The load-bearing assertions are FILE-level: an upsert batch must
  * rewrite only the bucket dirs its ids hash to, while every untouched
  * bucket keeps serving the exact same parquet files across publishes —
  * that's the property that turns a 100 TB ingest from O(collection)
  * into O(batch). */
class IncrementalMergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshCols(buckets: Int = 8): (Collections, String) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    (new Collections(spark, tmp), tmp)
  }

  private def files(cols: Collections, name: String): Set[String] =
    cols.table(name).get.inputFiles.toSet

  test("upsert rewrites only touched buckets; untouched files survive identically") {
    val (cols, _) = freshCols()
    cols.create("c", buckets = 8)
    cols.upsert("c", (1L to 400L).map(i => (i, s"v$i")).toDF("id", "payload"))
    val before = files(cols, "c")
    assert(before.size > 1, s"want multiple bucket files, got $before")

    // a 2-row batch touches at most 2 of 8 buckets
    cols.upsert("c", Seq((1L, "v1b"), (2L, "v2b")).toDF("id", "payload"))
    val after = files(cols, "c")
    val kept = before.intersect(after)
    val rewritten = before -- after
    assert(rewritten.isEmpty && (after -- before).size == 1,
      s"expected every base file kept and one delta file added, got " +
        s"${rewritten.size} rewritten, ${(after -- before).size} added")
    assert(kept.size == before.size - rewritten.size,
      "every untouched bucket must keep serving its original file")

    // merge semantics: replaced rows replaced, everything else intact
    assert(cols.count("c") == 400)
    val got = cols.get("c", Seq(1L, 2L, 3L)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "v1b"), (2L, "v2b"), (3L, "v3")))
  }

  test("delete is bucket-pruned and the lifecycle stays hash-stable") {
    val (cols, _) = freshCols()
    cols.create("c", buckets = 8)
    cols.upsert("c", (1L to 300L).map(i => (i, i * 10)).toDF("id", "score"))
    val before = files(cols, "c")
    cols.delete("c", Seq(5L))
    val after = files(cols, "c")
    assert((before -- after).size <= 1, "a 1-id delete rewrites ≤1 bucket")
    assert(cols.count("c") == 299)
    assert(cols.get("c", Seq(5L)).count() == 0)

    // upsert → delete → compact → stable content
    cols.upsert("c", Seq((5L, 55L), (301L, 3010L)).toDF("id", "score"))
    cols.compact("c", 1)
    assert(cols.table("c").get.inputFiles.length == 1)
    assert(cols.count("c") == 301)
    val sums = cols.table("c").get.agg(sum("score")).first().getLong(0)
    assert(sums == (1L to 300L).map(_ * 10).sum - 50L + 55L + 3010L)
  }

  test("generation retention bounds disk; vacuum reclaims to current only") {
    val (cols, dir) = freshCols()
    cols.create("c", buckets = 4)
    (1 to 6).foreach { i =>
      cols.upsert("c", Seq((i.toLong, s"p$i")).toDF("id", "payload"))
    }
    def genDirs: Seq[String] = Collections.children(
      java.nio.file.Paths.get(dir, "c"))
      .map(_.getFileName.toString).filter(_.startsWith("points-g"))
    def manifests: Seq[String] = Collections.children(
      java.nio.file.Paths.get(dir, "c"))
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("points.manifest-"))
    // retention: ≤ retainGenerations (2) manifests survive; data dirs are
    // bounded by what those manifests reference
    assert(manifests.size <= 2, s"manifests not pruned: $manifests")
    val before = genDirs.size
    cols.vacuum("c")
    assert(manifests.size == 1, "vacuum keeps only the current manifest")
    assert(genDirs.size <= before)
    // every file the current manifest references still reads
    assert(cols.count("c") == 6)
  }

  test("snapshots survive incremental upserts, vacuum and compaction") {
    val (cols, _) = freshCols()
    cols.create("c", buckets = 4)
    cols.upsert("c", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "payload"))
    cols.snapshot("c", "t0")
    cols.upsert("c", Seq((1L, "CHANGED")).toDF("id", "payload"))
    cols.delete("c", Seq(2L))
    cols.vacuum("c")
    cols.compact("c", 1)
    // time-travel read unaffected by later generations disappearing
    val snap = cols.snapshotTable("c", "t0")
    assert(snap.count() == 50)
    assert(snap.where(col("id") === 1L).select("payload").first().getString(0) == "v1")
    // restore publishes the snapshot as the live state
    cols.restoreSnapshot("c", "t0")
    assert(cols.count("c") == 50)
    assert(cols.get("c", Seq(1L)).select("payload").first().getString(0) == "v1")
  }

  test("schema widening merges incrementally; type change falls back to full rewrite") {
    val (cols, _) = freshCols()
    cols.create("c", buckets = 8)
    cols.upsert("c", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "payload"))
    val before = files(cols, "c")

    // widening batch (new column) still merges incrementally
    cols.upsert("c", Seq((1L, "v1c", 9L)).toDF("id", "payload", "extra"))
    val after = files(cols, "c")
    assert(before.intersect(after).nonEmpty, "widening must stay incremental")
    // untouched buckets null-fill the new column on read
    val row3 = cols.get("c", Seq(3L)).select("payload", "extra").first()
    assert(row3.getString(0) == "v3" && row3.isNullAt(1))
    assert(cols.get("c", Seq(1L)).select("extra").first().getLong(0) == 9L)

    // a type change on a shared column rewrites everything (one type per
    // column across all files), values coerced like unionByName
    // (long extra → double extra widens; stored longs cast to double)
    val befTC = files(cols, "c")
    cols.upsert("c", Seq((2L, "v2c", 4.5)).toDF("id", "payload", "extra"))
    val aftTC = files(cols, "c")
    assert(befTC.intersect(aftTC).isEmpty, "type change must publish a full rewrite")
    assert(cols.count("c") == 100)
    assert(cols.get("c", Seq(1L)).select("extra").first().getDouble(0) == 9.0)
  }

  test("get is bucket-pruned: scans fewer files than a full read") {
    val (cols, _) = freshCols()
    cols.create("c", buckets = 8)
    cols.upsert("c", (1L to 400L).map(i => (i, s"v$i")).toDF("id", "payload"))
    val allFiles = files(cols, "c")
    val pruned = cols.get("c", Seq(7L)).inputFiles.toSet
    assert(pruned.subsetOf(allFiles) && pruned.size < allFiles.size,
      s"expected a pruned scan, got ${pruned.size} of ${allFiles.size} files")
    assert(cols.get("c", Seq(7L)).select("payload").first().getString(0) == "v7")
  }

  test("emptied collection keeps its schema; indexed collections keep clustering") {
    val (cols, _) = freshCols()
    cols.create("c", buckets = 4)
    cols.upsert("c", Seq((1L, "a")).toDF("id", "payload"))
    cols.deleteWhere("c", lit(true))
    val t = cols.table("c").get
    assert(t.count() == 0 && t.columns.toSeq == Seq("id", "payload"))
    // an index flips the layout to flat range-clustered; upserts then pay
    // the full rewrite (the clustering IS the layout) but stay correct
    cols.upsert("c", (1L to 60L).map(i => (i, s"v$i")).toDF("id", "payload"))
    cols.createIndex("c", "Point", "id", "range")
    cols.upsert("c", Seq((61L, "v61")).toDF("id", "payload"))
    assert(cols.count("c") == 61)
    assert(cols.get("c", Seq(61L)).select("payload").first().getString(0) == "v61")
  }
}
