package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Datalake, Watermark}

class DatalakeSpec extends SparkSpecBase {
  import spark.implicits._

  test("jsonl bulk-export sink round-trips documents") {
    val tmp = Files.createTempDirectory("graft-jsonl").toString
    val docs = Seq((1L, "a", 10.5), (2L, "b", 20.0)).toDF("id", "name", "price")
    Datalake.writeJsonl(docs, s"$tmp/out")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("price", DoubleType)))
    val back = Datalake.readJsonl(spark, s"$tmp/out", schema)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ===
      docs.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("multiline JSON-array file reads one row per array element") {
    val tmp = Files.createTempDirectory("graft-jsonarr").toString
    // the reference's raw layer: one pretty-printed JSON ARRAY per fetch
    Files.writeString(java.nio.file.Paths.get(s"$tmp/fetch1.json"),
      """[
        |  {"id": 1, "name": "a", "price": 10.5},
        |  {"id": 2, "name": "b",
        |   "price": 20.0},
        |  {"id": 3, "name": "c", "price": null}
        |]""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("price", DoubleType)))
    val back = Datalake.readJsonArray(spark, s"$tmp/fetch1.json", schema)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2))))
    assert(back.toSeq === Seq((1L, "a", Some(10.5)), (2L, "b", Some(20.0)),
      (3L, "c", None)))
    // the same file through the JSONL reader loses rows (the per-line parser
    // can't see records spanning lines) → the array reader is load-bearing
    val asJsonl = Datalake.readJsonl(spark, s"$tmp/fetch1.json", schema)
    assert(asJsonl.filter(col("id").isNotNull).count() < 3)
  }

  test("csv read with schema coerces malformed cells to null") {
    val tmp = Files.createTempDirectory("graft-csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$tmp/in.csv"),
      "id,price\n1,10.5\n2,notanumber\n3,\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType)))
    val got = Datalake.readCsv(spark, s"$tmp/in.csv", schema)
      .orderBy("id").collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(got.toSeq === Seq((1L, Some(10.5)), (2L, None), (3L, None)))
  }

  test("watermark state: first read sees all, committed read sees only newer") {
    val state = s"${Files.createTempDirectory("graft-wm")}/wm.state"
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val batch1 = Seq((1L, t(0)), (2L, t(5))).toDF("id", "ts")
    assert(Watermark.read(spark, state).isEmpty)
    val first = Watermark.incrementalRead(spark, batch1, "ts", state)
    assert(first.count() === 2, "no watermark yet → everything")
    Watermark.commit(spark, first, "ts", state)
    assert(Watermark.read(spark, state) === Some(t(5)))
    val batch2 = Seq((2L, t(5)), (3L, t(9))).toDF("id", "ts") // 2 = already seen
    val second = Watermark.incrementalRead(spark, batch2, "ts", state)
    assert(second.collect().map(_.getLong(0)).toSeq === Seq(3L),
      "only rows strictly past the watermark")
    Watermark.commit(spark, second, "ts", state)
    assert(Watermark.read(spark, state) === Some(t(9)))
    // empty increment must not regress the watermark
    Watermark.commit(spark, second.filter(lit(false)), "ts", state)
    assert(Watermark.read(spark, state) === Some(t(9)))
  }

  test("composed DAG: raw→formatted→usage layers populated, watermark advances, re-run is a no-op") {
    val root = Files.createTempDirectory("graft-dag").toString
    val out1 = graft.queries.DatalakeQueries.run(spark, sfDir, root).collect()
    assert(out1.nonEmpty, "usage layer has market stats")
    // every layer materialized on disk
    for (p <- Seq("raw/events/bulk", "raw/events/page0/fetch.json",
        "formatted/events/latest", "usage/events/market_stats",
        "usage/events/export"))
      assert(new java.io.File(s"$root/$p").exists(), s"layer missing: $p")
    // watermark advanced to the batch max ts
    val wm = Watermark.read(spark, s"$root/state/events.watermark")
    val mx = graft.sources.Tables.events(spark, sfDir)
      .agg(max(col("ts"))).head().getTimestamp(0)
    assert(wm === Some(mx), "watermark = max ingested ts")
    // formatted layer absorbed the page/bulk overlap: exactly one row per
    // (user_id, event_type)
    val fmt = spark.read.parquet(s"$root/formatted/events/latest")
    assert(fmt.count() ===
      fmt.select("user_id", "event_type").distinct().count())
    // second run on the SAME root: empty increment → usage output unchanged
    val out2 = graft.queries.DatalakeQueries.run(spark, sfDir, root).collect()
    assert(out2.map(_.toSeq).toSeq === out1.map(_.toSeq).toSeq,
      "idempotent re-run (at-least-once fetch + dedup)")
    assert(Watermark.read(spark, s"$root/state/events.watermark") === Some(mx),
      "empty increment does not regress the watermark")
  }

  test("dual-feed DAG: CSV.gz + JSON feeds land, coerce, and join in usage") {
    val root = Files.createTempDirectory("graft-dualdag").toString
    val out = graft.queries.DatalakeQueries.runDual(spark, sfDir, root)
    val rows = out.collect()
    assert(rows.nonEmpty, "usage layer has segment stats")
    // both raw feeds + both formatted layers on disk; the CSV drop is gzip
    for (p <- Seq("raw/events/feed", "raw/customer/bulk_csv",
        "formatted/events/latest", "formatted/customer/latest",
        "usage/events/segment_stats"))
      assert(new java.io.File(s"$root/$p").exists(), s"layer missing: $p")
    val gz = new java.io.File(s"$root/raw/customer/bulk_csv").listFiles()
      .filter(_.getName.endsWith(".csv.gz"))
    assert(gz.length === 1, "one gzip CSV bulk drop")
    // usage = direct-from-source compute (the lake round trips are lossless)
    val e = graft.sources.Tables.events(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val expected = e
      .withColumn("value_clean", coalesce(col("value"), lit(0.0)))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("value_clean") > 0)
      .join(graft.sources.Tables.customer(spark, sfDir),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value_clean").cast(DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .orderBy(col("c_mktsegment"), col("event_type")).collect()
    assert(rows.map(_.toSeq).toSeq === expected.map(_.toSeq).toSeq)
    // the usage join must broadcast the dimension side (never shuffle the
    // fact for a dim join)
    val joinPlan = graft.queries.DatalakeQueries.segmentStats(
      spark.read.parquet(s"$root/formatted/events/latest"),
      spark.read.parquet(s"$root/formatted/customer/latest"))
      .queryExecution.executedPlan.toString
    assert(joinPlan.contains("BroadcastHashJoin"),
      s"dimension join is not broadcast:\n$joinPlan")
  }

  test("dynamic partition overwrite replaces only the re-run day") {
    val tmp = Files.createTempDirectory("graft-upsert").toString
    val day1 = Seq((1L, "20240101", 1.0), (2L, "20240102", 2.0))
      .toDF("id", "ingest_date", "v")
    Datalake.upsertPartitions(day1, s"$tmp/t", Seq("ingest_date"))
    // re-run day 2 with corrected data; day 1 must survive
    val day2fix = Seq((2L, "20240102", 99.0)).toDF("id", "ingest_date", "v")
    Datalake.upsertPartitions(day2fix, s"$tmp/t", Seq("ingest_date"))
    val got = spark.read.parquet(s"$tmp/t")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).toSet
    assert(got === Set((1L, 1.0), (2L, 99.0)),
      "day1 kept, day2 replaced, nothing else")
  }

  test("mergeSchema read unions columns added over time") {
    val tmp = Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$tmp/t/f1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$tmp/t/f2")
    val got = Datalake.readMergedSchema(spark, s"$tmp/t/*")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(r.fieldIndex("score")))))
    assert(got.toSeq === Seq((1L, None), (2L, Some(9.5))),
      "old files read with nulls for the new column")
  }

  test("compaction rewrites many small files into the target count") {
    val tmp = Files.createTempDirectory("graft-compact").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .repartition(37) // simulate the small-files problem
      .write.parquet(s"$tmp/small")
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$tmp/small") === 37)
    Datalake.compact(spark, s"$tmp/small", s"$tmp/compacted", 4)
    assert(parquetFiles(s"$tmp/compacted") === 4)
    assert(spark.read.parquet(s"$tmp/compacted").count() ===
      spark.read.parquet(s"$tmp/small").count(), "compaction loses nothing")
  }

  test("orc round-trip preserves data and pushes filters to the scan") {
    val tmp = Files.createTempDirectory("graft-orc").toString
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
    Datalake.writeOrc(src, s"$tmp/orders_orc")
    val back = Datalake.readOrc(spark, s"$tmp/orders_orc")
    assert(back.count() === src.count())
    assert(back.schema === src.schema, "ORC round-trip must keep the schema")
    val filtered = back.filter(col("o_totalprice") > 100000.0)
    assert(filtered.count() ===
      src.filter(col("o_totalprice") > 100000.0).count())
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      s"ORC scan did not receive the pushed filter:\n$plan")
  }

  test("manifest publish is atomic: readers see old or new, never partial") {
    val root = s"${Files.createTempDirectory("graft-pub")}/t"
    Datalake.publish(Seq((1L, "a")).toDF("id", "v"), root, "001")
    assert(Datalake.readPublished(spark, root)
      .collect().map(_.getString(1)).toSeq === Seq("a"))
    // a new version lands fully before the manifest swap; until then
    // readers still resolve v=001
    val newData = Seq((1L, "b"), (2L, "c")).toDF("id", "v")
    newData.write.parquet(s"$root/v=002") // data written, NOT yet published
    assert(Datalake.readPublished(spark, root).count() === 1,
      "unpublished version must be invisible")
    Datalake.publish(newData, root, "002")
    assert(Datalake.readPublished(spark, root)
      .orderBy("id").collect().map(_.getString(1)).toSeq === Seq("b", "c"))
    // the old version dir still exists for time-travel/rollback
    assert(spark.read.parquet(s"$root/v=001").count() === 1)
  }

  test("partitioned parquet write enables partition pruning") {
    val tmp = Files.createTempDirectory("graft-pq").toString
    val df = Seq((1L, "20240101", 1.0), (2L, "20240102", 2.0)).toDF("id", "ingest_date", "v")
    Datalake.writeParquet(df, s"$tmp/t", partitionBy = Seq("ingest_date"))
    val read = spark.read.parquet(s"$tmp/t").filter(col("ingest_date") === "20240102")
    assert(read.collect().map(_.getAs[Long]("id")).toSeq === Seq(2L))
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ingest_date"),
      s"no partition pruning:\n$plan")
  }

  test("vacuum keeps the newest k AND the manifest-current version; retained reads unchanged") {
    val root = Files.createTempDirectory("graft-vacuum").toString + "/t"
    Datalake.publish(Seq((1L, "a")).toDF("id", "s"), root, "1")
    Datalake.publish(Seq((2L, "b")).toDF("id", "s"), root, "2")
    Datalake.publish(Seq((3L, "c")).toDF("id", "s"), root, "3")
    // pin the manifest back to v1 (a reader pinned for reproducibility):
    // vacuum must NOT delete the version the manifest points at, however
    // old — only v2, outside both keepLast=1 and the manifest, may go
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "MANIFEST"), true)
    try out.write("v=1\n".getBytes("UTF-8")) finally out.close()
    val dropped = Datalake.vacuum(spark, root, keepLast = 1)
    assert(dropped === Seq("2"))
    assert(Datalake.listVersions(spark, root) === Seq("1", "3"))
    // retained version dirs are untouched: both the pinned current and
    // the newest read back their exact content
    assert(Datalake.readPublished(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a")))
    assert(Datalake.readVersion(spark, root, "3").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((3L, "c")))
    // the expired version fails fast, not partially
    intercept[Exception] {
      Datalake.readVersion(spark, root, "2").collect()
    }
  }

  test("versions order numerically (10 > 9) and merged reads union schemas across versions") {
    val root = Files.createTempDirectory("graft-vacuum-num").toString + "/t"
    Datalake.publish(Seq((9L, "i")).toDF("id", "s"), root, "9")
    // v10 ADDS a column — the schema-evolution event across versions
    Datalake.publish(Seq((10L, "j", 0.5)).toDF("id", "s", "score"), root, "10")
    assert(Datalake.listVersions(spark, root) === Seq("9", "10"),
      "numeric versions must order numerically, not lexicographically")
    val merged = Datalake.readVersionsMerged(spark, root, Seq("9", "10"))
    assert(merged.columns.toSet === Set("id", "s", "score"))
    val byId = merged.collect().map(r => r.getAs[Long]("id") ->
      Option(r.getAs[Any]("score"))).toMap
    assert(byId === Map(9L -> None, 10L -> Some(0.5)),
      "old files must read null for columns added later")
    // keepLast=1 must keep "10" (the numeric max), not "9"
    assert(Datalake.vacuum(spark, root, keepLast = 1) === Seq("9"))
  }

  test("change feed replays v1 to v2 exactly (inserts, deletes, null-safe updates)") {
    val root = Files.createTempDirectory("graft-cdf").toString + "/t"
    // key 1: deleted; key 2: value updated; key 3: NULL -> value (a
    // null-unsafe compare would miss it); key 4: value -> NULL; key 5:
    // unchanged (must emit nothing); key 6: unchanged NULL (ditto);
    // key 7: inserted
    val v1 = Seq((1L, Option("a")), (2L, Option("b")), (3L, None),
      (4L, Option("d")), (5L, Option("e")), (6L, None)).toDF("id", "s")
    val v2 = Seq((2L, Option("B")), (3L, Option("c")), (4L, None),
      (5L, Option("e")), (6L, None), (7L, Option("g"))).toDF("id", "s")
    Datalake.publish(v1, root, "1")
    Datalake.publish(v2, root, "2")
    val feed = Datalake.changeFeed(spark, root, "1", "2", Seq("id"))
    val rows = feed.collect().map(r => (r.getAs[Long]("id"),
      Option(r.getAs[String]("s")), r.getAs[String]("_change_type"))).toSet
    assert(rows === Set(
      (1L, Some("a"), "delete"),
      (2L, Some("b"), "update_preimage"), (2L, Some("B"), "update_postimage"),
      (3L, None, "update_preimage"), (3L, Some("c"), "update_postimage"),
      (4L, Some("d"), "update_preimage"), (4L, None, "update_postimage"),
      (7L, Some("g"), "insert")))
    assert(feed.columns.toSeq ===
      Seq("id", "s", "_change_type", "_from_version", "_to_version"))
    // THE algebra that makes a feed a feed: v1 + feed == v2. Apply =
    // drop keys with delete/update_preimage rows, add insert/postimage
    // images.
    val applied = Datalake.readVersion(spark, root, "1")
      .join(feed.filter(col("_change_type").isin("delete", "update_preimage"))
        .select(col("id")), Seq("id"), "left_anti")
      .unionByName(feed
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col("id"), col("s")))
    val got = applied.collect().map(r =>
      (r.getAs[Long]("id"), Option(r.getAs[String]("s")))).toSet
    val want = Datalake.readVersion(spark, root, "2").collect().map(r =>
      (r.getAs[Long]("id"), Option(r.getAs[String]("s")))).toSet
    assert(got === want, "v1 + feed must equal v2")
  }

  test("stats-pruned read equals unpruned read and opens fewer files") {
    val root = s"${Files.createTempDirectory("graft-stats")}/t"
    // 8 contiguous key ranges, one file each (repartition on the bucket →
    // every bucket lands in exactly one task's partition)
    val df = spark.range(0, 800)
      .select(col("id").as("k"), (col("id") % 7).cast("double").as("v"),
        (col("id") / 100).cast("int").as("b"))
      .repartition(col("b"))
    Datalake.publish(df, root, "1", Seq("b"), Seq("k", "v"))
    val stats = Datalake.readFileStats(spark, s"$root/v=1")
    assert(stats.length === 8, s"expected 8 files, got $stats")
    assert(stats.map(_.rows).sum === 800)
    assert(stats.forall(f => f.cols.contains("k") && f.cols.contains("v")))

    val s = Datalake.readPublishedPruned(spark, root, Seq(("k", 150, 349)))
    assert(s.filesTotal === 8 && s.filesScanned === 3,
      s"expected 3/8 files, got ${s.filesScanned}/${s.filesTotal}")
    assert(s.rowsInScannedFiles === 300)
    // pruned + exact predicate == unpruned + exact predicate, value-exact
    val pruned = s.df.filter(col("k").between(150, 349))
      .select("k", "v").orderBy("k").collect().map(_.toSeq).toSeq
    val full = Datalake.readPublished(spark, root)
      .filter(col("k").between(150, 349))
      .select("k", "v").orderBy("k").collect().map(_.toSeq).toSeq
    assert(pruned === full && pruned.length === 200)

    // a column with NO recorded stats can never prune: every file is kept
    val noStats = Datalake.readPublishedPruned(spark, root, Seq(("nope", 0, 1)))
    assert(noStats.filesScanned === noStats.filesTotal)

    // a predicate outside every envelope opens zero files, returns empty
    val none = Datalake.readPublishedPruned(spark, root, Seq(("k", 5000, 6000)))
    assert(none.filesScanned === 0 && none.df.count() === 0)
  }

  test("optimize republishes identical data in fewer clustered files; old version retained") {
    val root = s"${Files.createTempDirectory("graft-opt")}/t"
    val df = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 3 % 11).as("v"))
    Datalake.publish(df.repartition(16), root, "7")
    assert(Datalake.dataFiles(spark, root, "7").length === 16)
    val newV = Datalake.optimize(spark, root, nFiles = 2,
      clusterBy = Seq("k"), statsCols = Seq("k"))
    assert(newV === "8", s"numeric successor expected, got $newV")
    assert(Datalake.currentVersion(spark, root) === Some("8"))
    assert(Datalake.dataFiles(spark, root, "8").length === 2)
    // byte-identical row set through the manifest
    val got = Datalake.readPublished(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = df.orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want)
    // old version still time-travels; stats sidecar works on the rewrite
    assert(Datalake.readVersion(spark, root, "7").count() === 1000)
    val s = Datalake.readPublishedPruned(spark, root, Seq(("k", 0, 100)))
    assert(s.filesTotal === 2 && s.filesScanned === 1,
      s"range clustering should prune to 1/2 files, got ${s.filesScanned}")
  }

  test("shallow clone: zero-copy serve, copy-on-write divergence, vacuum hazard") {
    val base = Files.createTempDirectory("graft-clone").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    Datalake.publish(df, src, "1")
    Datalake.shallowClone(spark, src, dst)
    // zero copy: the clone has NO version dirs of its own...
    assert(Datalake.listVersions(spark, dst).isEmpty)
    // ...yet serves the full source row set through its own manifest
    assert(Datalake.readPublished(spark, dst).count() === 100)
    assert(Datalake.readPublished(spark, dst).agg(sum(col("v")))
      .head.getLong(0) === 9900L)
    // copy-on-write divergence: the clone's own publish rewires only the
    // clone; the source is untouched by the clone's whole lifecycle
    Datalake.publish(
      Datalake.readPublished(spark, dst).filter(col("k") < 50), dst, "2")
    assert(Datalake.listVersions(spark, dst) === Seq("2"))
    assert(Datalake.readPublished(spark, dst).count() === 50)
    assert(Datalake.readPublished(spark, src).count() === 100)
    assert(Datalake.currentVersion(spark, src) === Some("1"))
    // version-dir consumers resolve the ref= token too: an UNDIVERGED
    // clone of a stats-published table prunes with the source's sidecar,
    // and OPTIMIZE-on-clone is that clone's first divergence (local v1;
    // source untouched)
    val src3 = s"$base/src3"
    val dst3 = s"$base/dst3"
    Datalake.publish(df.repartitionByRange(2, col("k")), src3, "1",
      Nil, Seq("k"))
    Datalake.shallowClone(spark, src3, dst3)
    val pruned = Datalake.readPublishedPruned(spark, dst3, Seq(("k", 0, 10)))
    assert(pruned.filesTotal === 2 && pruned.filesScanned === 1,
      s"undiverged clone must prune via the source sidecar, " +
        s"got ${pruned.filesScanned}/${pruned.filesTotal}")
    val newV = Datalake.optimize(spark, dst3, nFiles = 1)
    assert(newV === "1", s"clone's first own version expected, got $newV")
    assert(Datalake.listVersions(spark, dst3) === Seq("1"))
    assert(Datalake.readPublished(spark, dst3).count() === 100)
    assert(Datalake.currentVersion(spark, src3) === Some("1") &&
      Datalake.listVersions(spark, src3) === Seq("1"),
      "optimize-on-clone must not touch the source")
    // the documented hazard, pinned: source vacuum can strand an
    // UNDIVERGED clone (Delta's caveat). Publish v2 to src, vacuum
    // keepLast=1: a fresh clone made before the vacuum that still refs
    // v1 must now fail loudly on read, not return partial data
    val dst2 = s"$base/dst2"
    Datalake.shallowClone(spark, src, dst2) // refs src v1
    Datalake.publish(df.filter(col("k") >= 10), src, "2")
    Datalake.vacuum(spark, src, keepLast = 1)
    intercept[Exception] {
      Datalake.readPublished(spark, dst2).count()
    }
    // a DIVERGED clone survives source vacuum by construction
    assert(Datalake.readPublished(spark, dst).count() === 50)
  }

  test("CAS publish: stale snapshot aborts loudly and rolls back its staged files") {
    val root = s"${Files.createTempDirectory("graft-cas")}/t"
    val (s1, _) = Datalake.publishCas(Seq((1L, "a")).toDF("id", "v"), root, 0L)
    assert(s1 === 1L)
    assert(Datalake.latestCommitSeq(spark, root) === 1L)
    assert(Datalake.readPublished(spark, root).count() === 1)
    // a second writer that read BEFORE commit 1 (expectedSeq=0) must be
    // refused — last-writer-wins here would silently drop commit 1
    val before = Datalake.listVersions(spark, root).toSet
    intercept[Datalake.ConcurrentCommitException] {
      Datalake.publishCas(Seq((2L, "b")).toDF("id", "v"), root, 0L)
    }
    assert(Datalake.listVersions(spark, root).toSet === before,
      "losing claimant must remove its staged version dir")
    assert(Datalake.readPublished(spark, root).count() === 1,
      "aborted publish must not change the table")
    // with the CURRENT snapshot the same write commits as seq 2
    val (s2, _) = Datalake.publishCas(Seq((2L, "b")).toDF("id", "v"), root, 1L)
    assert(s2 === 2L && Datalake.readPublished(spark, root).count() === 1,
      "seq-2 publish replaces the snapshot (full-state semantics)")
  }

  test("CAS transact: conflicting appends serialize with no lost update") {
    val root = s"${Files.createTempDirectory("graft-cas-tx")}/t"
    def append(rows: Seq[(Long, String)]) =
      Datalake.transact(spark, root, {
        case Some(cur) => cur.unionByName(rows.toDF("id", "v"))
        case None => rows.toDF("id", "v")
      })
    // sequential baseline: two appends = two commits, union content
    append(Seq((1L, "a")))
    append(Seq((2L, "b")))
    assert(Datalake.latestCommitSeq(spark, root) === 2L)
    assert(Datalake.readPublished(spark, root).orderBy("id")
      .collect().map(_.getString(1)).toSeq === Seq("a", "b"))
    // racing appends from two threads: both must land exactly once
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(3L -> "c", 4L -> "d").map { kv =>
      val t = new Thread(() => {
        try { barrier.await(); append(Seq(kv)); () }
        catch { case e: Throwable => errs.add(e); () }
      })
      t.start(); t
    }
    ts.foreach(_.join())
    assert(errs.isEmpty, s"racing transact failed: ${errs.peek()}")
    assert(Datalake.latestCommitSeq(spark, root) === 4L,
      "each racing writer claims exactly one commit")
    assert(Datalake.readPublished(spark, root).orderBy("id")
      .collect().map(_.getString(1)).toSeq === Seq("a", "b", "c", "d"),
      "no lost update, no double-apply")
  }

  test("CAS repair: a crash between claim and manifest swap is healed from the log") {
    val root = s"${Files.createTempDirectory("graft-cas-rep")}/t"
    Datalake.publishCas(Seq((1L, "a")).toDF("id", "v"), root, 0L)
    // simulate the crash: write commit 2's data + record directly, but
    // DON'T swap the manifest (exactly what a writer dying between
    // claimCommit and swapManifest leaves behind)
    val v2 = "c2-deadbeef"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$root/v=$v2")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rec = new org.apache.hadoop.fs.Path(root, f"_commits/${2L}%020d")
    val out = fs.create(rec, false)
    out.write(s"v=$v2\n".getBytes("UTF-8")); out.close()
    assert(Datalake.readPublished(spark, root).count() === 1,
      "manifest still serves commit 1 before repair")
    Datalake.repairManifest(spark, root)
    assert(Datalake.readPublished(spark, root).count() === 2,
      "repair must sync the manifest to the newest commit record")
    // transact snapshots from the LOG, so even a stale manifest cannot
    // fork history: next transact sees commit 2's rows
    Datalake.transact(spark, root, {
      case Some(cur) => cur.unionByName(Seq((3L, "c")).toDF("id", "v"))
      case None => Seq((3L, "c")).toDF("id", "v")
    })
    assert(Datalake.readPublished(spark, root).count() === 3)
  }

  test("deletion vectors: accumulate, fold into OPTIMIZE, vacuum retires stale ones") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = s"${Files.createTempDirectory("graft-dv")}/t"
    val base = spark.range(0, 100).select(col("id"),
      (col("id") * 2).as("v")).repartition(4)
    Datalake.publish(base.toDF(), root, "1", Nil, Seq("id"))
    val files1 = Datalake.dataFiles(spark, root, "1")

    // two accumulating deletes, zero data files touched
    val n1 = Datalake.deleteWhere(spark, root, col("id") < 10)
    assert(n1 === 10)
    val n2 = Datalake.deleteWhere(spark, root, col("id") >= 90)
    assert(n2 === 20, "second vector must merge with the first")
    assert(Datalake.dataFiles(spark, root, "1") === files1,
      "delete must not rewrite any data file")
    val visible = Datalake.readPublished(spark, root)
    assert(visible.count() === 80)
    assert(visible.agg(org.apache.spark.sql.functions.min(col("id")))
      .head.getLong(0) === 10)
    // deleting an already-deleted row is a no-op in the merged vector
    val n3 = Datalake.deleteWhere(spark, root, col("id") < 10)
    assert(n3 === 20)

    // a stats-pruned read applies the vector too
    val pruned =
      Datalake.readPublishedPruned(spark, root, Seq(("id", 0.0, 20.0)))
    assert(pruned.df.filter(col("id") <= 20).count() === 11,
      "pruned scan must not resurrect deleted rows") // ids 10..20

    // OPTIMIZE folds the vector: rewrite holds only live rows, token is
    // plain v= again, and the old vector becomes vacuum-retirable garbage
    val v2 = Datalake.optimize(spark, root, 2, statsCols = Seq("id"))
    assert(Datalake.currentVersion(spark, root).contains(v2))
    assert(Datalake.readPublished(spark, root).count() === 80)
    assert(Datalake.readVersion(spark, root, v2).count() === 80,
      "the rewrite itself must contain only live rows")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDir = new org.apache.hadoop.fs.Path(root, "_dv")
    assert(fs.listStatus(dvDir).nonEmpty)
    Datalake.vacuum(spark, root, keepLast = 2)
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty,
      "vacuum must retire vectors the manifest no longer references")

    // vacuum PROTECTS the base of a live vector: delete again on v2,
    // then vacuum — v2 (the dv base) must survive even beyond keepLast
    Datalake.deleteWhere(spark, root, col("id") === lit(50L))
    assert(Datalake.readPublished(spark, root).count() === 79)
    Datalake.vacuum(spark, root, keepLast = 1)
    assert(Datalake.readPublished(spark, root).count() === 79,
      "vacuum deleted the base version of a live deletion vector")
  }

  test("partitioned optimizeCompact: per-partition rewrite, vector carried across encoded dir names") {
    import org.apache.spark.sql.functions.col
    val root = s"${Files.createTempDirectory("graft-cpart")}/t"
    val ver = s"$root/v=1"
    // two partitions, one with a SPACE in its value (the Hive dir is
    // URL-encoded in _metadata.file_path — the carried-vector compare
    // must encode too, or its deletes resurrect); 1 big + 2 small each
    val df = spark.range(0, 200).select(col("id"),
      org.apache.spark.sql.functions.when(col("id") % 2 === 0, "A")
        .otherwise("NOT SPECIFIED").as("p"))
    df.filter(col("id") < 120).repartition(col("p"))
      .write.partitionBy("p").parquet(ver)
    Seq((120, 160), (160, 200)).foreach { case (lo, hi) =>
      df.filter(col("id") >= lo && col("id") < hi).repartition(col("p"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("p").parquet(ver)
    }
    Datalake.adoptVersion(spark, root, "1", Seq("id"))
    // vector spans a big file (id<120) and a small file (id>=160) in the
    // space-valued partition, plus a small file of the plain one
    assert(Datalake.deleteWhere(spark, root,
      col("id").isin(7L, 171L, 4L, 190L)) === 4)
    val (v2, nCompacted, nCopied) =
      Datalake.optimizeCompact(spark, root, minRows = 30, Seq("id"))
    assert(nCompacted === 4 && nCopied === 2) // 2 small x 2 parts; 1 big x 2
    val after = Datalake.readPublished(spark, root)
    assert(after.count() === 196, "compaction resurrected deleted rows")
    assert(after.filter(col("id").isin(7L, 171L, 4L, 190L)).count() === 0,
      "a deleted row is visible (encoded-name carry or fold broke)")
    // per-partition layout preserved: files stay in their own value dirs
    val byPart = Datalake.dataFiles(spark, root, v2)
      .groupBy(_.takeWhile(_ != '/'))
    assert(byPart.keySet === Set("p=A", "p=NOT SPECIFIED"))
    assert(byPart.values.forall(_.length === 2),
      "each partition must hold exactly 1 copied + 1 compacted file")
  }

  test("mergeInto folds a live deletion vector, retires it, and preserves partition layout") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val root = s"${Files.createTempDirectory("graft-merge")}/t"
    val base = spark.range(0, 100).select(col("id"),
      (col("id") % 4).as("grp"), (col("id") * 2).as("v"))
    Datalake.publish(base.toDF(), root, "1", Seq("grp"), Seq("id"))
    // live vector: ids 0..9 deleted at merge time
    assert(Datalake.deleteWhere(spark, root, col("id") < 10) === 10)
    // delta: update 50..59 (v=-1), insert 100..104, DELETE 90..94, and
    // RE-INSERT id 5 — its base row is DV-deleted, so ANSI MERGE must
    // treat it as NOT MATCHED (insert), which only holds if the merge
    // read folds the vector instead of resurrecting the dead row
    val delta = spark.range(50, 60)
      .unionAll(spark.range(100, 105)).unionAll(spark.range(90, 95))
      .unionAll(spark.range(5, 6))
      .select(col("id"), (col("id") % 4).as("grp"), lit(-1L).as("v"),
        when(col("id") >= 90 && col("id") < 95, lit("del"))
          .otherwise(lit("up")).as("op"))
    val newV = Datalake.mergeInto(spark, root, delta, Seq("id"),
      deleteWhen = Some(col("op") === "del"), statsCols = Seq("id"))
    val got = Datalake.readPublished(spark, root)
    // survivors: 10..89 (80) + 95..99 (5) + inserts 100..104 (5) + 5 (1)
    assert(got.count() === 91)
    assert(got.filter(col("id") < 10).select(col("id"))
      .collect().map(_.getLong(0)).toSeq === Seq(5L),
      "merge must fold the vector: only the re-inserted key returns")
    assert(got.filter(col("id") === 5).head.getAs[Long]("v") === -1L,
      "re-insert must carry the delta's values")
    assert(got.filter(col("id") >= 90 && col("id") < 95).count() === 0,
      "matched-delete arm failed")
    assert(got.filter(col("id").between(50, 59) && col("v") === -1L)
      .count() === 10, "matched-update arm failed")
    // the committed version is PLAIN (vector folded + retired): the
    // version dir itself holds exactly the visible rows, and a vacuum
    // sweep finds no vector the manifest still references
    assert(Datalake.currentVersion(spark, root).contains(newV))
    assert(Datalake.readVersion(spark, root, newV).count() === 91)
    Datalake.vacuum(spark, root, keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDir = new org.apache.hadoop.fs.Path(root, "_dv")
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty,
      "merge left the superseded vector referenced")
    // Hive layout preserved across the merge commit
    assert(Datalake.detectPartitionColumns(spark,
      Datalake.currentDataPath(spark, root).get) === Seq("grp"))
  }

  test("maintenance commits ride the log on CAS tables; plain tables keep the plain swap") {
    import org.apache.spark.sql.functions.col
    // CAS table: every maintenance op claims the next record, so a
    // cross-process CAS writer's commit inside the token-read→commit
    // window forces a re-derivation (arbitrated by the log) instead of
    // being discarded by the swap
    val root = s"${Files.createTempDirectory("graft-mntcas")}/t"
    Datalake.transact(spark, root, {
      case None => spark.range(0, 100).toDF("id")
      case Some(_) => fail("fresh table")
    })
    assert(Datalake.latestCommitSeq(spark, root) === 1L)
    assert(Datalake.deleteWhere(spark, root, col("id") < 10) === 10)
    assert(Datalake.latestCommitSeq(spark, root) === 2L)
    Datalake.optimize(spark, root, 2)
    assert(Datalake.latestCommitSeq(spark, root) === 3L,
      "optimize on a CAS table must claim a commit record")
    assert(Datalake.readPublished(spark, root).count() === 90,
      "optimize fold lost under the logged commit")
    Datalake.mergeInto(spark, root,
      spark.range(200, 205).toDF("id"), Seq("id"))
    assert(Datalake.latestCommitSeq(spark, root) === 4L,
      "mergeInto on a CAS table must claim a commit record")
    assert(Datalake.readPublished(spark, root).count() === 95)
    // transact composes over the maintenance commits: the snapshot is
    // the merge's version (the log and manifest agree)
    Datalake.transact(spark, root, {
      case Some(cur) => cur.unionByName(Seq(300L).toDF("id"))
      case None => fail("snapshot must exist")
    })
    assert(Datalake.readPublished(spark, root).count() === 96)
    // plain table: no log appears — non-CAS tables keep plain swaps
    val plain = s"${Files.createTempDirectory("graft-mntplain")}/t"
    Datalake.publish(spark.range(0, 50).toDF("id"), plain, "1")
    Datalake.optimize(spark, plain, 2)
    assert(Datalake.latestCommitSeq(spark, plain) === 0L,
      "maintenance on a never-CAS table must not start a commit log")
    assert(Datalake.readPublished(spark, plain).count() === 50)
  }

  test("absolute-arm merges are idempotent: re-applying a replayed delta reproduces the same rows") {
    // the CDC apply stream's replay contract (DatalakeStreams.mergeStream):
    // a crash-replayed micro-batch re-runs its mergeTransact, and because
    // update/insert arms carry ABSOLUTE values the re-application must be
    // a value-level no-op (one version later)
    import org.apache.spark.sql.functions.{col, lit, when}
    val root = s"${Files.createTempDirectory("graft-mergeidem")}/t"
    Datalake.publish(spark.range(0, 50)
      .select(col("id"), (col("id") * 2).as("v")).toDF(), root, "1")
    val delta = spark.range(40, 60).select(col("id"), lit(-7L).as("v"),
      when(col("id") % 5 === 0, "del").otherwise("up").as("op"))
    def applyOnce(): Seq[(Long, Long)] = {
      Datalake.mergeTransact(spark, root, delta, Seq("id"),
        deleteWhen = Some(col("op") === "del"))
      Datalake.readPublished(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    val first = applyOnce()
    val seqAfterFirst = Datalake.latestCommitSeq(spark, root)
    val second = applyOnce()
    assert(second === first,
      "replaying an absolute-arm delta must reproduce the same rows")
    assert(Datalake.latestCommitSeq(spark, root) === seqAfterFirst + 1,
      "the replay commits a new (identical) version, it does not skip")
  }

  test("commit-log retention: old records swept, claims and replays keep working") {
    import org.apache.spark.sql.functions.col
    val root = s"${Files.createTempDirectory("graft-logvac")}/t"
    (1 to 5).foreach { i =>
      Datalake.transact(spark, root, {
        case Some(cur) => cur.unionByName(Seq(i.toLong).toDF("id"))
        case None => Seq(i.toLong).toDF("id")
      })
    }
    assert(Datalake.latestCommitSeq(spark, root) === 5L)
    assert(Datalake.vacuumCommits(spark, root, keepLast = 2) === 3)
    assert(Datalake.latestCommitSeq(spark, root) === 5L,
      "retention must never drop the newest record")
    assert(Datalake.readPublished(spark, root).count() === 5)
    // the protocol continues over the truncated log: new claims take the
    // next sequence, snapshots still read the newest record
    Datalake.transact(spark, root, {
      case Some(cur) => cur.unionByName(Seq(6L).toDF("id"))
      case None => fail("snapshot must exist")
    })
    assert(Datalake.latestCommitSeq(spark, root) === 6L)
    assert(Datalake.readPublished(spark, root).count() === 6)
    // a delete commit rides the truncated log too
    assert(Datalake.deleteWhere(spark, root, col("id") === 1L) === 1)
    assert(Datalake.latestCommitSeq(spark, root) === 7L)
    assert(Datalake.readPublished(spark, root).count() === 5)
  }

  test("transact snapshots read through a dv= commit token; shallow clones carry a live vector") {
    import org.apache.spark.sql.functions.col
    // transact over a deleted table: the RMW snapshot must fold the
    // vector (r14 review finding: deletes now ride the commit log, so the
    // newest record can be dv= — a raw base-dir read resurrected)
    val root = s"${Files.createTempDirectory("graft-txndv")}/t"
    Datalake.publish(spark.range(0, 100).toDF("id"), root, "1")
    assert(Datalake.deleteWhere(spark, root, col("id") < 20) === 20)
    Datalake.transact(spark, root, {
      case Some(cur) => cur.unionByName(
        spark.range(200, 210).toDF("id"))
      case None => fail("snapshot must exist")
    })
    val after = Datalake.readPublished(spark, root)
    assert(after.count() === 90, "transact resurrected deleted rows")
    assert(after.filter(col("id") < 20).count() === 0)
    // shallow clone of a table with a live vector: the clone must hide
    // the same rows (vector copied — O(deleted), not O(table)), and
    // must keep hiding them if the SOURCE's vector is later retired
    val src = s"${Files.createTempDirectory("graft-clonedv")}/src"
    val dst = s"${Files.createTempDirectory("graft-clonedv")}/dst"
    Datalake.publish(spark.range(0, 50).toDF("id"), src, "1")
    Datalake.deleteWhere(spark, src, col("id") >= 45)
    Datalake.shallowClone(spark, src, dst)
    assert(Datalake.readPublished(spark, dst).count() === 45,
      "clone resurrected the source's deleted rows")
    // the SOURCE retires its vector (optimize folds it; sweep the _dv
    // dirs as vacuum would — version dirs left alone, since the clone's
    // DATA pointer legitimately dies with source data retention, the
    // documented shallowClone caveat): the clone's own vector copy must
    // keep serving the cloned snapshot
    Datalake.optimize(spark, src, 1)
    val srcDv = new org.apache.hadoop.fs.Path(src, "_dv")
    val fs = srcDv.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(srcDv)) fs.delete(srcDv, true)
    assert(Datalake.readPublished(spark, dst).count() === 45,
      "clone's vector must be its own copy, not a pointer into the source")
  }

  test("mergeInto refuses a delta with multiple rows per key (ANSI MERGE cardinality)") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = s"${Files.createTempDirectory("graft-mergedup")}/t"
    Datalake.publish(
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")).toDF(),
      root, "1")
    val dup = spark.range(0, 4).select((col("id") % 2).as("id"),
      lit(-1L).as("v")) // keys 0 and 1, twice each
    val e = intercept[IllegalArgumentException] {
      Datalake.mergeInto(spark, root, dup, Seq("id"))
    }
    assert(e.getMessage.contains("multiple source matches"),
      s"wrong error: ${e.getMessage}")
    // and the table is untouched — the guard fires before any write
    assert(Datalake.readPublished(spark, root).count() === 10)
    assert(Datalake.currentVersion(spark, root) === Some("1"))
  }

  test("mergeInto refuses a delta row with a NULL merge key") {
    // r14 review (low): a NULL-key delta row passed the cardinality
    // check, matched nothing in the full-outer join, and the select
    // emitted an all-NULL ghost row while silently dropping the delta's
    // values. The merge now fails loudly up front.
    import org.apache.spark.sql.functions.col
    val root = s"${Files.createTempDirectory("graft-mergenull")}/t"
    Datalake.publish(
      spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")).toDF(),
      root, "1")
    val bad = Seq[(java.lang.Long, Long)]((null, -1L), (2L, -5L))
      .toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Datalake.mergeInto(spark, root, bad, Seq("id"))
    }
    assert(e.getMessage.contains("NULL merge key"),
      s"wrong error: ${e.getMessage}")
    assert(Datalake.readPublished(spark, root).count() === 10)
    assert(Datalake.currentVersion(spark, root) === Some("1"))
    // a clean delta on the same table still merges
    Datalake.mergeInto(spark, root, Seq((2L, -5L)).toDF("id", "v"),
      Seq("id"))
    assert(Datalake.readPublished(spark, root)
      .filter(col("id") === 2L).head.getLong(1) === -5L)
  }

  test("vacuumCommits never sweeps the issuer of the current manifest token") {
    // r14 review (low): a writer that crashed between claiming its
    // commit and syncing the manifest leaves the manifest at an OLDER
    // commit's token; repairManifest proves that token log-issued by
    // scanning surviving records — so retention must keep the issuing
    // record or the table is stranded unrepairable forever.
    val root = s"${Files.createTempDirectory("graft-vacstrand")}/t"
    Datalake.transact(spark, root, {
      case None => Seq(1L).toDF("id")
      case Some(_) => fail("fresh table")
    }) // seq 1; manifest = seq 1's token
    // the crashed writer: claims seq 2, dies before the manifest sync
    spark.range(100, 105).toDF("id").write
      .parquet(s"$root/v=crashed")
    assert(Datalake.claimCommit(spark, root, 2L, "v=crashed"))
    assert(Datalake.latestCommitSeq(spark, root) === 2L)
    // retention that would (pre-fix) sweep record 1 — the issuer of the
    // manifest's current (stale) token — must sweep nothing
    assert(Datalake.vacuumCommits(spark, root, keepLast = 1) === 0,
      "the current manifest token's issuing record was swept")
    // repair can still prove the stale token log-issued, and heals
    Datalake.repairManifest(spark, root)
    assert(Datalake.currentVersion(spark, root) === Some("crashed"))
    assert(Datalake.readPublished(spark, root).count() === 5)
    // once healed, the old record is sweepable again
    assert(Datalake.vacuumCommits(spark, root, keepLast = 1) === 1)
  }

  test("pipeline retry: transient absorbed with attempt evidence, exhaustion fails loudly") {
    import graft.ops.Pipeline
    var n = 0
    val (v, attempts) = Pipeline.retry("flaky", retries = 2) {
      n += 1; if (n < 3) throw new RuntimeException(s"transient $n"); 42
    }
    assert((v, attempts) === ((42, 3)))
    val e = intercept[Pipeline.StageFailed] {
      Pipeline.retry[Unit]("always", retries = 1) {
        throw new RuntimeException("boom")
      }
    }
    assert(e.stage === "always" && e.attempts === 2)
    assert(e.getMessage.contains("always") && e.getMessage.contains("boom"))
    // earlier attempts' causes ride along for the post-mortem
    assert(e.getSuppressed.length === 1)
    // fatal errors are NOT retried (a scheduler must not mask an OOM)
    var fatalRuns = 0
    intercept[OutOfMemoryError] {
      Pipeline.retry[Unit]("fatal", retries = 5) {
        fatalRuns += 1
        throw new OutOfMemoryError("nope")
      }
    }
    assert(fatalRuns === 1)
  }

  test("commit-log checkpoint: probe resolution, vacuum raises the pointer before sweeping, fallback survives") {
    val root = s"${Files.createTempDirectory("graft-ckpt")}/t"
    (1 to 12).foreach { i =>
      Datalake.transact(spark, root, {
        case Some(cur) => cur.unionByName(Seq(i.toLong).toDF("id"))
        case None => Seq(i.toLong).toDF("id")
      })
    }
    // pointer rolled at seq 10 → resolution probes 11,12 (+1 pointer read)
    val (latest, examined, usedCk) = Datalake.commitResolution(spark, root)
    assert((latest, examined, usedCk) === ((12L, 3L, true)))
    assert(Datalake.commitLogSize(spark, root) === 12L)
    // vacuum raises the pointer to its cutoff BEFORE deleting, so the
    // probe range stays dense: sweep to newest 2 → records 11,12 left,
    // pointer at 10 (whose record is gone — the probe never needs it)
    assert(Datalake.vacuumCommits(spark, root, keepLast = 2) === 10)
    assert(Datalake.latestCommitSeq(spark, root) === 12L)
    assert(Datalake.commitLogSize(spark, root) === 2L)
    // pointer gone → full-listing fallback resolves the same state
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root,
      "_commits/_last_checkpoint"), false)
    val (l2, _, ck2) = Datalake.commitResolution(spark, root)
    assert((l2, ck2) === ((12L, false)))
    // the protocol continues: the next claim lands 13 and re-derives
    Datalake.transact(spark, root, {
      case Some(cur) => cur.unionByName(Seq(13L).toDF("id"))
      case None => fail("snapshot must exist")
    })
    assert(Datalake.latestCommitSeq(spark, root) === 13L)
    assert(Datalake.readPublished(spark, root).count() === 13)
  }

  test("timestamp time travel: ≤-boundary, tie toward the newest version, predate fails loudly") {
    import org.apache.spark.sql.functions.col
    val root = s"${Files.createTempDirectory("graft-asof")}/t"
    Datalake.publishAt(spark.range(1).toDF("id"), root, "1", 1000L)
    Datalake.publishAt(spark.range(2).toDF("id"), root, "2", 2000L)
    // a TIE: two versions stamped the same millisecond (clock-skewed
    // writers) — resolution breaks toward the newest in listVersions
    // order, deterministically
    Datalake.publishAt(spark.range(3).toDF("id"), root, "3", 2000L)
    assert(Datalake.versionAsOf(spark, root, 1500L) === Some("1"))
    assert(Datalake.versionAsOf(spark, root, 2000L) === Some("3"),
      "tie at 2000 must break toward the newest version")
    assert(Datalake.versionAsOf(spark, root, 999L) === None)
    val e = intercept[IllegalArgumentException] {
      Datalake.readAsOf(spark, root, 999L)
    }
    assert(e.getMessage.contains("predates"))
    assert(Datalake.readAsOf(spark, root, 5000L).count() === 3)
    // vacuum retires the expired version's history entry with the dir:
    // as-of fails on RESOLUTION (None), not on a missing path mid-scan
    Datalake.publishAt(spark.range(4).toDF("id"), root, "4", 4000L)
    Datalake.vacuum(spark, root, keepLast = 2)
    assert(Datalake.versionAsOf(spark, root, 1500L) === None,
      "a vacuumed version's history entry must be retired with it")
    assert(Datalake.readAsOf(spark, root, 4000L)
      .agg(org.apache.spark.sql.functions.count(col("id"))).head.getLong(0)
      === 4L)
  }

  test("evolving merge appends delta-only columns; strict merge still drops them") {
    import org.apache.spark.sql.functions.col
    val root = s"${Files.createTempDirectory("graft-evolve")}/t"
    Datalake.publish(
      spark.range(0, 6).select(col("id"), (col("id") * 2).as("v")),
      root, "1")
    val delta = Seq((2L, 100L, "x"), (10L, 200L, "y"))
      .toDF("id", "v", "note")
    // strict (default): the extra column is an op marker, dropped
    Datalake.mergeInto(spark, root, delta, Seq("id"))
    assert(!Datalake.readPublished(spark, root).columns.contains("note"))
    // evolving: the column lands; delta rows carry it, the rest backfill
    Datalake.mergeInto(spark, root, delta, Seq("id"), evolveSchema = true)
    val out = Datalake.readPublished(spark, root)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getString(2)))).toMap
    assert(out(2L) === ((100L, Some("x"))))
    assert(out(10L) === ((200L, Some("y"))))
    assert(out(3L) === ((6L, None)), "pre-existing rows must null-backfill")
    assert(out.size === 7)
  }

  test("delete commits ride the CAS log: a stale claim loses, rolls back, and no positions are lost") {
    import org.apache.spark.sql.functions.col
    val root = s"${Files.createTempDirectory("graft-dvcas")}/t"
    Datalake.publish(spark.range(0, 100).toDF("id"), root, "1", Nil, Seq("id"))
    // the winner: a real delete claims log record 1
    assert(Datalake.deleteWhere(spark, root, col("id") < 10) === 10)
    assert(Datalake.latestCommitSeq(spark, root) === 1L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDir = new org.apache.hadoop.fs.Path(root, "_dv")
    val dvBefore = fs.listStatus(dvDir).length
    // the cross-process interleaving (competitor commits between snapshot
    // and claim) forced via a stale sequence: the claim must LOSE, the
    // staged vector must be rolled back, and the table must be untouched
    val lost = Datalake.deleteWhereAttempt(spark, root,
      col("id") >= 95, seqOverride = Some(0L))
    assert(lost.isEmpty, "a claim against a taken sequence must lose")
    assert(Datalake.latestCommitSeq(spark, root) === 1L,
      "a lost claim must not create a log record")
    assert(fs.listStatus(dvDir).length === dvBefore,
      "a lost claim must roll back its staged vector")
    assert(Datalake.readPublished(spark, root).count() === 90,
      "a lost claim must leave the table untouched")
    // the loser's retry (what deleteWhere's loop does): re-read and
    // re-derive — the new vector must carry the WINNER'S positions too
    assert(Datalake.deleteWhere(spark, root, col("id") >= 95) === 15,
      "retry must merge over the winner's vector, not its own stale read")
    assert(Datalake.latestCommitSeq(spark, root) === 2L)
    val survivors = Datalake.readPublished(spark, root)
    assert(survivors.count() === 85)
    assert(survivors.agg(org.apache.spark.sql.functions.min(col("id")))
      .head.getLong(0) === 10, "winner's delete resurrected")
  }

  test("maintenance rewrite and a concurrent delete serialize: neither update is lost") {
    // r13 ADVICE (medium): optimize/optimizeCompact/optimizeZorder/
    // overwritePartitions read the manifest token and swapped later
    // WITHOUT the per-root stripe — a delete committing a dv= token
    // inside that window was silently discarded by the maintenance swap.
    // Under the stripe every serialization order yields the same visible
    // state: delete-then-optimize folds the vector into the rewrite,
    // optimize-then-delete masks the rewrite; both show 90 live rows.
    // Without the stripe the lost-delete schedule shows 100.
    import org.apache.spark.sql.functions.col
    (1 to 3).foreach { round =>
      val root = s"${Files.createTempDirectory("graft-dvopt")}/t"
      Datalake.publish(spark.range(0, 100).toDF("id").repartition(4),
        root, "1", Nil, Seq("id"))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def runner(name: String)(body: => Unit): Thread = {
        val t = new Thread(() => {
          try { barrier.await(); body }
          catch { case e: Throwable => errs.add(e); () }
        }, name)
        t.start(); t
      }
      val ts = Seq(
        runner(s"graft-opt-$round") {
          Datalake.optimize(spark, root, 2, statsCols = Seq("id")); ()
        },
        runner(s"graft-del-$round") {
          Datalake.deleteWhere(spark, root, col("id") < 10); ()
        })
      ts.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
      val visible = Datalake.readPublished(spark, root)
      assert(visible.count() === 90,
        s"round $round: the maintenance swap discarded the concurrent " +
          "delete (or the rewrite resurrected it)")
      assert(visible.agg(org.apache.spark.sql.functions.min(col("id")))
        .head.getLong(0) === 10, s"round $round: deleted rows visible")
    }
  }

  test("optimizeCompact folds the small files' deletions and carries the copied files' vector") {
    import org.apache.spark.sql.functions.col
    val root = s"${Files.createTempDirectory("graft-dvc")}/t"
    val ver = s"$root/v=1"
    // one big file (ids 0..99) + two small files (100..104, 105..109)
    spark.range(0, 100).toDF("id").coalesce(1)
      .write.parquet(ver)
    spark.range(100, 105).toDF("id").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(ver)
    spark.range(105, 110).toDF("id").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(ver)
    Datalake.adoptVersion(spark, root, "1", Seq("id"))
    // delete rows living in the big file AND in a small file
    Datalake.deleteWhere(spark, root, col("id") < 5 || col("id") >= 108)
    assert(Datalake.readPublished(spark, root).count() === 103)
    val (v2, nCompacted, nCopied) =
      Datalake.optimizeCompact(spark, root, minRows = 50, Seq("id"))
    assert(nCompacted === 2 && nCopied === 1)
    // no resurrection: small-file deletions folded into the rewrite,
    // big-file deletions still masked by the carried vector
    val after = Datalake.readPublished(spark, root)
    assert(after.count() === 103,
      "compaction resurrected or over-deleted rows")
    assert(after.filter(col("id") < 5 || col("id") >= 108).count() === 0)
    // the carried vector exists (big-file deletions can't be folded
    // without rewriting the copied file) and a full optimize retires it
    assert(Datalake.currentVersion(spark, root).contains(v2))
    Datalake.optimize(spark, root, 1, statsCols = Seq("id"))
    assert(Datalake.readPublished(spark, root).count() === 103)
  }

  test("multi-table txn: snapshot isolation and partial write-set pin carry-forward") {
    import org.apache.spark.sql.functions.col
    val root = s"${Files.createTempDirectory("graft-cat")}/c"
    val t1 = Datalake.publishAtomic(spark, root, Seq(
      "a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq((1L, "y")).toDF("id", "v")))
    assert(t1 === 1L)
    val (_, snap1) = Datalake.catalogSnapshot(spark, root)
    // second txn updates BOTH tables
    Datalake.publishAtomic(spark, root, Seq(
      "a" -> Seq((2L, "x2")).toDF("id", "v"),
      "b" -> Seq((2L, "y2")).toDF("id", "v")))
    // the held snapshot still serves txn 1 for BOTH tables — immutable
    // version dirs make a snapshot a consistent point-in-time view
    assert(Datalake.readCatalogTable(spark, root, snap1, "a")
      .select(col("id")).head.getLong(0) === 1L)
    assert(Datalake.readCatalogTable(spark, root, snap1, "b")
      .select(col("id")).head.getLong(0) === 1L)
    // a fresh snapshot serves txn 2 for both
    val (txn2, snap2) = Datalake.catalogSnapshot(spark, root)
    assert(txn2 === 2L)
    assert(Datalake.readCatalogTable(spark, root, snap2, "a")
      .select(col("id")).head.getLong(0) === 2L)
    assert(Datalake.readCatalogTable(spark, root, snap2, "b")
      .select(col("id")).head.getLong(0) === 2L)
    // a txn touching only `a` carries b's pin forward unchanged
    Datalake.publishAtomic(spark, root, Seq(
      "a" -> Seq((3L, "x3")).toDF("id", "v")))
    val (txn3, snap3) = Datalake.catalogSnapshot(spark, root)
    assert(txn3 === 3L)
    assert(snap3("a").startsWith("v=3-") && snap3("b") === snap2("b"),
      s"partial write set must keep other pins: $snap3")
    assert(Datalake.readCatalogTable(spark, root, snap3, "b")
      .select(col("id")).head.getLong(0) === 2L)

    // crash repair: a committer that claimed record 4 but died before the
    // catalog swap is healed from the log (readers at txn3 until then)
    val fsRoot = new org.apache.hadoop.fs.Path(root)
    val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((4L, "x4")).toDF("id", "v").write.parquet(s"$root/a/v=4-crash")
    val rec = new org.apache.hadoop.fs.Path(fsRoot, f"_commits/${4L}%020d")
    val out = fs.create(rec, false)
    out.write(s"txn=4\na\tv=4-crash\nb\t${snap3("b")}\n".getBytes("UTF-8"))
    out.close()
    assert(Datalake.catalogSnapshot(spark, root)._1 === 3L)
    Datalake.repairCatalog(spark, root)
    val (txn4, snap4) = Datalake.catalogSnapshot(spark, root)
    assert(txn4 === 4L && snap4("a") === "v=4-crash")
    assert(Datalake.readCatalogTable(spark, root, snap4, "a")
      .select(col("id")).head.getLong(0) === 4L)
  }

  test("CAS swap ordering: a stalled writer's late sync cannot regress the manifest") {
    val root = s"${Files.createTempDirectory("graft-cas-ord")}/t"
    // writer A commits seq 1, writer B commits seq 2 (manifest now at B)
    Datalake.publishCas(Seq((1L, "a")).toDF("id", "v"), root, 0L)
    Datalake.publishCas(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, 1L)
    assert(Datalake.readPublished(spark, root).count() === 2)
    val v2 = Datalake.currentVersion(spark, root).get
    // replay writer A waking up AFTER B's commit+sync and re-attempting its
    // manifest sync for seq 1 (the r12 ADVICE lost-update window): the
    // newest-commit check must skip the swap, so readers never see the
    // superseded snapshot with B's rows missing
    Datalake.syncManifestIfNewest(spark, root, 1L, "v=c1-stale")
    assert(Datalake.currentVersion(spark, root).get === v2,
      "a sync for a superseded commit must not regress the manifest")
    assert(Datalake.readPublished(spark, root).count() === 2)
    // and the newest committer's own sync still goes through
    Datalake.syncManifestIfNewest(spark, root, 2L, s"v=$v2")
    assert(Datalake.readPublished(spark, root).count() === 2)
  }
}
