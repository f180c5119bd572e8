package graft

import org.apache.spark.sql.functions._
import graft.queries.{DatalakeQueries, EventQueries, Relational, StreamQueries}

/** Round-15c additions: K-fold out-of-fold target encoding, the EWMA
  * control chart, incremental JOIN-view maintenance, and streaming HLL.
  * The driver oracle proves exactness at sf0.01; these pin the SEMANTICS
  * that make each op the thing it claims to be.
  */
class Round15cSpec extends SparkSpecBase {

  test("target encode: leave-one-fold-out means, never the row's own fold") {
    val rows = Relational.qTargetEncode(spark, sfDir).collect()
    assert(rows.length === 25, "5 segments x 5 folds")
    // recompute each encoding directly from the other folds' partials
    val byKey = rows.map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    rows.groupBy(_.getString(0)).foreach { case (seg, rs) =>
      val totN = rs.map(_.getLong(2)).sum
      rs.foreach { r =>
        assert(r.getLong(2) + r.getLong(3) === totN,
          s"$seg fold ${r.getLong(1)}: own + other folds = segment total")
      }
      // out-of-fold means differ across folds unless the data conspires —
      // at minimum they must all be finite and positive (prices are)
      assert(rs.forall(r => r.getDouble(4) > 0.0 &&
        !r.getDouble(4).isNaN && !r.getDouble(4).isInfinite))
    }
    // leakage check: encoding for (seg, fold) must NOT equal the naive
    // whole-segment mean when the fold is non-empty (it excludes the fold)
    val seg0 = rows.filter(_.getString(0) == rows.head.getString(0))
    val distinctEnc = seg0.map(_.getDouble(4)).distinct
    assert(distinctEnc.length > 1,
      "out-of-fold encodings vary by fold — a constant would mean leakage " +
        "of the whole-table mean")
    assert(byKey.nonEmpty)
  }

  test("ewma: warmup rows dropped, deviation identity, weights sum to 1") {
    val rows = EventQueries.qEwmaAnomaly(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per type: first 8 days are warmup — emitted days per type = total - 8
    val daily = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")).collect()
    val daysPerType = daily.groupBy(_.getString(0)).view.mapValues(_.length)
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      assert(rs.length === daysPerType(t) - 8, s"$t: all post-warmup days")
    }
    rows.foreach { r =>
      val v = r.getDouble(2); val f = r.getDouble(4); val dev = r.getDouble(5)
      assert(dev === v - f, "deviation is the single IEEE subtract")
      val expectAlert = if (math.abs(dev) > f * 0.25) 1L else 0L
      assert(r.getLong(6) === expectAlert, "alert rule replays")
    }
    // the weight vector is a partition of unity: a CONSTANT series'
    // forecast equals the constant exactly (exact dyadic scaling)
    val w = (1 to 7).map(k => 1.0 / (1L << k)) :+ 1.0 / (1L << 7)
    assert(w.sum === 1.0)
  }

  test("mv join incremental == from-scratch join, provenance disjoint") {
    val rows = DatalakeQueries.qMvJoinIncremental(spark, sfDir).collect()
    val o = graft.sources.Tables.orders(spark, sfDir)
    val c = graft.sources.Tables.customer(spark, sfDir)
    val direct = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) === direct(r.getString(0)),
        s"${r.getString(0)}: incremental row count == full recompute")
      assert(r.getLong(2) + r.getLong(3) === r.getLong(1),
        "store + delta provenance partitions the view exactly")
      assert(r.getLong(3) > 0, "the delta terms actually contributed")
    }
  }

  test("partition evolution: chain walks, union complete, no rewrite") {
    import graft.sources.{Datalake, Tables}
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-evolve-spec").toString + "/t"
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 1)
      .repartition(1), root, "1", Seq("event_type"))
    val v1Files = new java.io.File(s"$root/v=1/add").listFiles()
      .filter(_.isDirectory).map(_.lastModified()).toSeq
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 2)
      .repartition(1), root, "2", Seq("day"))
    // a third evolution back to UNPARTITIONED also chains
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 0)
      .repartition(1), root, "3", Nil)
    val segs = Datalake.evolvedSegments(spark, root)
    assert(segs.map(_.version) === Seq("3", "2", "1"), "newest → oldest")
    assert(segs.map(_.spec) === Seq(Nil, Seq("day"), Seq("event_type")))
    // the union is exactly the source table — nothing dropped or doubled
    assert(Datalake.readPublished(spark, root).count() === e.count())
    // v1's files were NOT touched by the later evolutions (zero rewrite)
    val v1After = new java.io.File(s"$root/v=1/add").listFiles()
      .filter(_.isDirectory).map(_.lastModified()).toSeq
    assert(v1After === v1Files, "pre-evolution segment is immutable")
    // pruning: the day-spec segment admits one dir's file; others full
    val day = e.filter(col("event_id") % 3 === 2)
      .select(min(col("day")).cast("string")).collect()(0).getString(0)
    val scans = Datalake.evolvedPrunedScan(spark, root, "day", day)
    val byV = scans.map(s => s.segment.version -> s).toMap
    assert(byV("2").filesScanned === 1L && byV("2").filesTotal > 1L)
    assert(byV("1").filesScanned === byV("1").filesTotal,
      "pre-evolution layout honestly full-scans")
    assert(byV("3").filesScanned === byV("3").filesTotal)
  }

  test("evolved read refuses a plain-published table (no silent empty)") {
    import graft.sources.{Datalake, Tables}
    val root = java.nio.file.Files
      .createTempDirectory("graft-evolve-plain").toString + "/t"
    Datalake.publish(Tables.nation(spark, sfDir), root, "1")
    val ex = intercept[IllegalStateException] {
      Datalake.evolvedSegments(spark, root)
    }
    assert(ex.getMessage.contains("not an evolved segment"))
  }

  test("l-diversity: every released group carries >= l distinct sensitives") {
    val rows = Relational.qLDiversity(spark, sfDir).collect()
    val released = rows.filter(_.getLong(5) == 1L)
    val suppressed = rows.filter(_.getLong(5) == 0L)
    assert(released.nonEmpty)
    // the law: released groups have >= 3 distinct sensitive values OBSERVED
    released.groupBy(r => (r.getString(1), r.getString(2))).foreach {
      case (g, rs) =>
        assert(rs.map(_.getString(3)).distinct.length >= 3,
          s"group $g released with < 3 distinct sensitive values")
    }
    // suppression is all-or-nothing: a suppressed row shows '*' on BOTH
    // quasi columns and keeps its sensitive value readable
    suppressed.foreach { r =>
      assert(r.getString(1) == "*" && r.getString(2) == "*")
      assert(r.getString(3).nonEmpty, "sensitive column survives")
    }
    // k-anonymity alone would NOT imply this: at least one suppressed
    // group must be bigger than l (size was fine, diversity wasn't) OR
    // the dataset trivially satisfies it — assert only the law above
  }

  test("cusum: identity vs direct max(0,...) recurrence, alarm rule") {
    val rows = EventQueries.qCusumShift(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (t, rs0) =>
      val rs = rs0.sortBy(_.getTimestamp(1).getTime)
      val n = rs.length.toLong
      val vs = rs.map(_.getDouble(2))
      val total = BigDecimal(vs.map(BigDecimal(_)).sum.toString)
      // replay the recurrence S_t = max(0, S_(t-1) + (n·v_t − T)) in
      // exact BigDecimal and compare to the window-identity output
      var s = BigDecimal(0)
      rs.zip(vs).foreach { case (r, v) =>
        s = (s + BigDecimal(v) * n - total).max(BigDecimal(0))
        assert(math.abs(r.getDouble(3) - s.toDouble) < 1e-6,
          s"$t: prefix-min identity == direct recurrence")
        // the engine decides the alarm in EXACT decimals; this replay
        // works from emitted doubles, so only assert clear-cut cases
        if ((s * 2 - total).abs > BigDecimal("0.001")) {
          val expectAlarm = if (s * 2 > total) 1L else 0L
          assert(r.getLong(4) === expectAlarm)
        }
      }
    }
  }

  test("interval merge: spans disjoint, mass preserved, no double-count") {
    val rows = EventQueries.qIntervalMerge(spark, sfDir).collect()
    val nEvents = graft.sources.Tables.events(spark, sfDir).count()
    assert(rows.map(_.getLong(4)).sum === nEvents,
      "every event lands in exactly one span")
    rows.groupBy(_.getLong(0)).foreach { case (u, rs0) =>
      val rs = rs0.sortBy(_.getLong(1))
      rs.foreach(r => assert(r.getLong(5) >= 1800,
        s"user $u: span at least one 30-min interval"))
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getTimestamp(2).getTime > a.getTimestamp(3).getTime,
            s"user $u: merged spans are disjoint and ordered")
        case _ =>
      }
      // merging is maximal: total covered seconds < naive sum of
      // interval lengths whenever any two intervals overlapped
      val covered = rs.map(_.getLong(5)).sum
      val naive = rs.map(_.getLong(4)).sum * 1800
      assert(covered <= naive)
    }
  }

  test("largest remainder: allocations sum exactly to the budget") {
    val rows = graft.queries.CorpusQueries
      .qLargestRemainder(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum === 10000L, "Σ alloc == S exactly")
    // Hamilton quota property: every alloc is floor or ceil of the
    // exact proportional share
    val total = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val lo = 10000L * r.getLong(1) / total
      assert(r.getLong(2) == lo || r.getLong(2) == lo + 1,
        s"${r.getString(0)}: alloc within one slot of the exact share")
    }
    assert(rows.map(_.getLong(3)).distinct.length === rows.length,
      "remainder ranks are a total order")
  }

  test("geo grid join: complete vs brute force, no cartesian in plan") {
    val res = Relational.qGeoGridJoin(spark, sfDir)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "grid join must never plan a cartesian")
    val rows = res.collect()
    // brute-force within-radius counts (driver-side, test scale only)
    def pos(k: Long) = (48.0 + (k * 2654435761L % 1000).toDouble / 1000.0,
      2.0 + (k * 1099087573L % 1000).toDouble / 1000.0)
    val custs = graft.sources.Tables.customer(spark, sfDir)
      .select("c_custkey").collect().map(_.getLong(0)).map(pos)
    val supps = graft.sources.Tables.supplier(spark, sfDir)
      .select("s_suppkey").collect().map(_.getLong(0))
    val brute = supps.map { sk =>
      val (sla, slo) = pos(sk)
      sk -> custs.count { case (cla, clo) =>
        (sla - cla) * (sla - cla) + (slo - clo) * (slo - clo) < 0.0025
      }.toLong
    }.toMap
    rows.foreach { r =>
      assert(r.getLong(2) === brute(r.getLong(0)),
        s"supplier ${r.getLong(0)}: grid n_within == brute force")
    }
    // cell/radius contract: every within-radius pair was a candidate
    rows.foreach(r => assert(r.getLong(1) >= r.getLong(2)))
  }

  test("rfm: quintiles balanced, segment composes the three scores") {
    val rows = Relational.qRfmSegmentation(spark, sfDir).collect()
    Seq(4, 5, 6).foreach { qi =>
      val sizes = rows.groupBy(_.getLong(qi)).view.mapValues(_.length)
      assert(sizes.keySet === Set(1L, 2L, 3L, 4L, 5L))
      assert(sizes.values.max - sizes.values.min <= 1,
        s"column $qi: NTILE buckets differ by at most one")
    }
    rows.foreach { r =>
      assert(r.getString(7) ===
        s"${r.getLong(4)}-${r.getLong(5)}-${r.getLong(6)}")
      assert(r.getLong(1) >= 0, "recency non-negative (anchored to max)")
    }
    // quintile 1 of monetary dominates quintile 5
    val m1 = rows.filter(_.getLong(6) == 1L).map(_.getDouble(3)).min
    val m5 = rows.filter(_.getLong(6) == 5L).map(_.getDouble(3)).max
    assert(m1 >= m5)
  }

  test("benford: frequencies sum to ~1, digit coverage, audit shape") {
    val rows = Relational.qBenfordAudit(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ===
      (1 to 9).map(_.toString), "all nine leading digits present")
    val obsSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(obsSum - 1.0) < 1e-9, "observed ratios partition 1")
    // expectations are the snapped Benford constants, descending in d
    val exp = rows.map(_.getDouble(3))
    assert(exp.sliding(2).forall { case Array(a, b) => a > b; case _ => true })
    assert(math.abs(exp.sum - 1.0) < 1e-3, "Benford expectations ~1")
  }

  test("geohash: quantized interleave == canonical bisection algorithm") {
    // independent reference implementation (textbook bisection form)
    def ref(lat: Double, lon: Double): String = {
      val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
      var (la0, la1, lo0, lo1) = (-90.0, 90.0, -180.0, 180.0)
      val bits = new StringBuilder
      var even = true
      while (bits.length < 30) {
        if (even) {
          val mid = (lo0 + lo1) / 2
          if (lon >= mid) { bits += '1'; lo0 = mid }
          else { bits += '0'; lo1 = mid }
        } else {
          val mid = (la0 + la1) / 2
          if (lat >= mid) { bits += '1'; la0 = mid }
          else { bits += '0'; la1 = mid }
        }
        even = !even
      }
      (0 until 6).map(i =>
        alpha(Integer.parseInt(bits.substring(i * 5, i * 5 + 5), 2)))
        .mkString
    }
    val rows = Relational.qGeohash(spark, sfDir).limit(200).collect()
    rows.foreach { r =>
      assert(r.getString(3) === ref(r.getDouble(1), r.getDouble(2)),
        s"custkey ${r.getLong(0)}: engine geohash == canonical")
    }
    // prefix densities partition the table
    val all = Relational.qGeohash(spark, sfDir).collect()
    val byPrefix = all.groupBy(_.getString(4))
    all.foreach(r => assert(r.getLong(5) === byPrefix(r.getString(4)).length))
  }

  test("pseudonymize: within-release bijection, rotation breaks linkage") {
    val rows = Relational.qPseudonymize(spark, sfDir).collect()
    val names = graft.sources.Tables.customer(spark, sfDir)
      .select("c_name").collect().map(_.getString(0))
    assert(rows.map(_.getString(1)).distinct.length ===
      names.distinct.length, "token is a bijection of the identifier")
    // rotation: the two releases' token sets are disjoint
    val t1 = rows.map(_.getString(1)).toSet
    val t2 = rows.map(_.getString(2)).toSet
    assert(t1.intersect(t2).isEmpty, "rotated salt breaks linkage")
    // the raw identifier never appears in the output schema
    assert(!Relational.qPseudonymize(spark, sfDir).columns
      .contains("c_name"))
  }

  test("kmv: sketches merge (k smallest of sub-sketch union == direct)") {
    import graft.sources.Tables
    val K = 64
    val mask = (1L << 62) - 1
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def hashes(c: org.apache.spark.sql.DataFrame) =
      c.select(explode(graft.functions.text.wordShingles(col("text"), 3))
          .as("s"))
        .select(graft.functions.text.md5Lanes(col("s"))(0)
          .bitwiseAND(lit(mask)).as("h")).distinct()
    val cohort = d.filter(col("doc_id") % 2 === 0)
    val direct = hashes(cohort).orderBy(col("h")).limit(K)
      .collect().map(_.getLong(0)).toSeq
    // split the SAME cohort into per-source shards, sketch each, merge
    val shards = (0 until 4).map(i =>
      hashes(cohort.filter(col("doc_id") % 8 === i * 2))
        .orderBy(col("h")).limit(K).collect().map(_.getLong(0)).toSeq)
    val merged = shards.flatten.distinct.sorted.take(K)
    assert(merged === direct,
      "per-shard sketches re-merged by k-smallest equal the direct sketch")
    // the estimates are in the right regime vs the exact count
    val row = graft.queries.CorpusQueries.qKmvOverlap(spark, sfDir)
      .collect()(0)
    val estU = row.getDouble(2); val exactU = row.getLong(3)
    assert(math.abs(estU - exactU) / exactU < 0.25,
      s"KMV union estimate $estU within 25% of exact $exactU (k=256)")
    val estI = row.getDouble(6); val exactI = row.getLong(7)
    assert(math.abs(estI - exactI) / exactI.toDouble < 0.35,
      s"KMV intersection estimate $estI vs exact $exactI")
  }

  test("evolve optimize: old chain stays time-travel readable") {
    import graft.sources.{Datalake, Tables}
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-evolve-opt-spec").toString + "/t"
    Datalake.publishEvolved(e.filter(col("event_id") % 2 === 0)
      .repartition(1), root, "1", Seq("event_type"))
    Datalake.publishEvolved(e.filter(col("event_id") % 2 === 1)
      .repartition(1), root, "2", Seq("day"))
    val total = Datalake.readPublished(spark, root).count()
    Datalake.rewriteEvolved(spark, root, "3", Seq("day"), tasks = Some(1))
    val segs = Datalake.evolvedSegments(spark, root)
    assert(segs.map(_.version) === Seq("3"), "migrated chain is one segment")
    assert(Datalake.readPublished(spark, root).count() === total)
    // the superseded chain's dirs are immutable and still readable —
    // time travel until retention retires them
    assert(spark.read.parquet(s"$root/v=1/add").count() +
      spark.read.parquet(s"$root/v=2/add").count() === total)
  }

  test("stream cusum == batch cusum bit-for-bit (decimal linearity)") {
    val streamed = StreamQueries.qStreamCusum(spark, sfDir).collect()
    val batch = EventQueries.qCusumShift(spark, sfDir).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getString(0) === b.getString(0))
      assert(s.getTimestamp(1) === b.getTimestamp(1))
      assert(s.getDouble(3) === b.getDouble(3), "cusum exact")
      assert(s.getLong(4) === b.getLong(4), "alarm agrees")
    }
  }

  test("bom rollup: pointer doubling == naive per-level walk") {
    val rows = graft.queries.GraphQueries.qBomRollup(spark, sfDir).collect()
    val keys = graft.sources.Tables.part(spark, sfDir)
      .select("p_partkey").collect().map(_.getLong(0))
    // naive walk, driver-side (test scale only)
    val agg = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    keys.foreach { p =>
      var cur = p; var prod = 1L; var depth = 0L
      while (cur >= 4) { prod *= cur % 3 + 1; cur /= 4; depth += 1 }
      val k = (cur, depth)
      val (n0, u0) = agg.getOrElse(k, (0L, 0L))
      agg(k) = (n0 + 1, u0 + prod)
    }
    assert(rows.length === agg.size)
    rows.foreach { r =>
      val (n, u) = agg((r.getLong(0), r.getLong(1)))
      assert(r.getLong(2) === n && r.getLong(3) === u,
        s"root ${r.getLong(0)} depth ${r.getLong(1)}")
    }
  }

  test("stream hll == batch hll bit-for-bit (register max is idempotent)") {
    val streamed = StreamQueries.qStreamHll(spark, sfDir).collect()
    val batch = Relational.qHllDistinct(spark, sfDir).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getString(0) === b.getString(0))
      assert(s.getDouble(3) === b.getDouble(3),
        s"${s.getString(0)}: stream estimate == batch estimate exactly")
      assert(s.getString(4) === b.getString(4), "same estimator regime")
    }
  }
}
