package graft

import org.apache.spark.sql.functions._

/** r15 review findings on the store layer, pinned: null-id rows survive
  * upserts and targeted deletes, intra-batch duplicate ids resolve
  * later-wins, compact honors numFiles on indexed layouts, the epoch
  * pad survives digit-count boundaries, meta.json is injection-proof,
  * and collection names cannot traverse out of the data dir. */
class CollectionsHardeningSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshStore(): (Collections, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-hard-").toString
    (new Collections(spark, dir), dir)
  }

  test("upsert keeps every null-id row (merge must not collapse them)") {
    val (c, _) = freshStore()
    c.create("nulls")
    val first = Seq((Some(1L), "a"), (None, "n1"), (None, "n2"), (None, "n3"))
      .toDF("id", "v")
    c.upsert("nulls", first)
    assert(c.count("nulls") == 4)
    // the second upsert replaces id=1 but must not touch null-id rows
    c.upsert("nulls", Seq((Some(1L), "a2"), (None, "n4")).toDF("id", "v"))
    val rows = c.table("nulls").get.collect()
    assert(rows.length == 5, rows.mkString(","))
    assert(rows.count(_.isNullAt(0)) == 4)
    assert(rows.filter(!_.isNullAt(0)).map(_.getString(1)).toSeq == Seq("a2"))
  }

  test("id-less store appends across batches instead of discarding stored rows") {
    // r15 ADVICE: when NEITHER side has the id column, the old merge
    // `return batch` published only the incoming batch — every stored
    // row was silently lost
    val (c, _) = freshStore()
    c.create("noid")
    c.upsert("noid", Seq(("a", 1), ("b", 2)).toDF("v", "n"))
    c.upsert("noid", Seq(("c", 3)).toDF("v", "n"))
    val rows = c.table("noid").get.orderBy("n").collect()
    assert(rows.length == 3, rows.mkString(","))
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // widening still applies on the append path
    c.upsert("noid", Seq(("d", 4, "x")).toDF("v", "n", "extra"))
    val widened = c.table("noid").get
    assert(widened.columns.contains("extra") && widened.count() == 4)
  }

  test("delete by ids keeps null-id rows (three-valued NOT IN trap)") {
    val (c, _) = freshStore()
    c.create("deln")
    c.upsert("deln", Seq((Some(1L), "a"), (Some(2L), "b"), (None, "n1"),
      (None, "n2")).toDF("id", "v"))
    c.delete("deln", Seq(2L))
    val rows = c.table("deln").get.collect()
    assert(rows.length == 3, rows.mkString(","))
    assert(rows.count(_.isNullAt(0)) == 2) // both null-id rows survive
    // empty-id delete is a no-op, not a null-id purge
    c.delete("deln", Nil)
    assert(c.count("deln") == 3)
  }

  test("duplicate ids WITHIN one batch resolve later-wins on first write") {
    val (c, _) = freshStore()
    c.create("dup")
    // fresh collection → no existing rows → the old merge stored both
    val batch = Seq((1L, "first"), (2L, "only"), (1L, "last")).toDF("id", "v")
    c.upsert("dup", batch)
    val rows = c.table("dup").get.orderBy("id").collect()
    assert(rows.length == 2, rows.mkString(","))
    assert(rows(0).getString(1) == "last") // later row won
  }

  test("compact honors numFiles on an INDEXED collection") {
    val (c, _) = freshStore()
    c.create("idxc")
    c.upsert("idxc", (1 to 500).map(i => (i.toLong, i % 7, s"v$i"))
      .toDF("id", "prop", "v"))
    c.createIndex("idxc", "node", "prop", "range")
    c.upsert("idxc", (501 to 600).map(i => (i.toLong, i % 7, s"v$i"))
      .toDF("id", "prop", "v"))
    c.compact("idxc", numFiles = 1)
    val files = c.table("idxc").get.inputFiles
    assert(files.length == 1, s"expected 1 file, got ${files.length}")
    assert(c.count("idxc") == 600)
  }

  test("meta.json is injection-proof for quoted idCol/metric values") {
    val (c, _) = freshStore()
    c.create("inj", idCol = """x", "buckets": 1, "y": "z""", metric = "co\"sine")
    val (idc, _, metric) = c.metaOf("inj")
    assert(idc == """x", "buckets": 1, "y": "z""") // round-trips exactly
    assert(metric == "co\"sine")
    assert(c.bucketsOf("inj") == 16) // the injected field did NOT take
  }

  test("collection names cannot traverse out of the data dir") {
    val (c, dir) = freshStore()
    val canary = java.nio.file.Paths.get(dir).getParent.resolve(
      s"canary-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.createDirectories(canary)
    try {
      for (bad <- Seq("..", ".", "", "a/b", "../x", "..\\x"))
        intercept[IllegalArgumentException](c.create(bad))
      for (bad <- Seq("..", s"../${canary.getFileName}"))
        intercept[IllegalArgumentException](c.drop(bad))
      assert(java.nio.file.Files.exists(canary))
    } finally Collections.deleteRec(canary)
  }
}
