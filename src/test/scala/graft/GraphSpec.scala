package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph
import graft.queries.GraphQueries

class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  test("pagerank: symmetric pair splits evenly, star centre dominates") {
    // pair 1<->2 plus star 10<->{11,12,13}, all bidirected
    val pairs = Seq((1L, 2L), (10L, 11L), (10L, 12L), (10L, 13L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 5)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Double]("r")).toMap
    assert(math.abs(r(1L) - r(2L)) < 1e-12, "symmetric nodes rank equal")
    assert(r(10L) > r(11L) * 2, "star centre concentrates rank")
    assert(math.abs(r(11L) - r(12L)) < 1e-12 && math.abs(r(12L) - r(13L)) < 1e-12)
    // total rank mass conserved up to the per-edge snapping bias
    val mass = r.values.sum
    assert(mass > 0.99 && mass <= 1.0001, s"rank mass drifted: $mass")
  }

  test("trade-graph pagerank: suppliers outrank customers, deterministic") {
    val a = GraphQueries.qPagerank(spark, "/root/testdata/sf0.01").collect()
    val b = GraphQueries.qPagerank(spark, "/root/testdata/sf0.01").collect()
    assert(a.toSeq === b.toSeq, "snapped contributions must be order-exact")
    val byKind = a.groupBy(_.getAs[String]("kind"))
    assert(byKind("supplier").length === 100 && byKind("customer").length === 1500)
    // 100 suppliers absorb the trade mass of 1500 customers: the WEAKEST
    // supplier must outrank the STRONGEST customer
    val minSupp = byKind("supplier").map(_.getAs[Double]("pr")).min
    val maxCust = byKind("customer").map(_.getAs[Double]("pr")).max
    assert(minSupp > maxCust,
      s"supplier floor $minSupp should exceed customer ceiling $maxCust")
  }

  test("pagerank with sinks: dangling mass redistributes, matches reference, mass conserved") {
    // chain 1→2→3: node 3 is a SINK (no out-edges), node 1 has no
    // in-edges — both degeneracies the general path must handle. The
    // reference is the standard dangling-mass recurrence computed in
    // plain Scala; snapping bias is ~2^-52 per term, so 1e-9 tolerance.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 5)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Double]("r")).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "sink and source nodes must stay ranked")
    val n = 3.0
    var r = Map(1L -> 1 / n, 2L -> 1 / n, 3L -> 1 / n)
    for (_ <- 1 to 5) {
      val dm = r(3L) // node 3 is the only sink
      r = Map(
        1L -> (0.15 / n + 0.85 * (dm / n)),
        2L -> (0.15 / n + 0.85 * (r(1L) + dm / n)),
        3L -> (0.15 / n + 0.85 * (r(2L) + dm / n)))
    }
    got.foreach { case (node, v) =>
      assert(math.abs(v - r(node)) < 1e-9, s"node $node: $v vs ${r(node)}")
    }
    // with redistribution the total mass stays 1 (up to snapping bias)
    val mass = got.values.sum
    assert(mass > 0.9999 && mass <= 1.0001, s"mass with sinks drifted: $mass")
    // determinism: the snapped reduction is order-exact on re-run
    val again = Graph.pageRank(edges, iters = 5)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Double]("r")).toMap
    assert(again === got)
  }

  test("reliable-checkpoint mode converges identically to localCheckpoint mode") {
    // spark.graft.checkpointDir switches every iterative operator to
    // lake-backed reliable checkpoints (the dynamic-allocation-safe 100 TB
    // mode; executor-local checkpoints die with a lost executor). Results
    // must be bit-identical in both modes.
    val pairs = Seq((1L, 2L), (10L, 11L), (10L, 12L), (2L, 3L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val local = Graph.pageRank(edges, iters = 3).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Double]("r")).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.ops.Checkpoints.ConfKey, dir)
    try {
      val reliable = Graph.pageRank(edges, iters = 3).collect()
        .map(x => x.getAs[Long]("node") -> x.getAs[Double]("r")).toMap
      assert(reliable === local)
      // components take the same switch
      val comps = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
      val nodesDf = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
      val viaReliable = graft.ops.Components
        .connectedComponents(nodesDf, comps).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaReliable === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L, 99L -> 99L))
      // reliable checkpoint files actually landed in the lake dir
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    } finally {
      spark.conf.unset(graft.ops.Checkpoints.ConfKey)
    }
  }

  test("frontier BFS equals the union-min fixpoint on a deep chain with a shortcut") {
    // 0→1→…→40 chain, bidirected, plus shortcut 0↔25: the shortcut makes
    // frontier-settling CONTESTED (node 24 is reachable at hop 2 via the
    // shortcut AND hop 24 along the chain — the min must win), and the
    // 40-deep chain is exactly the shape where the frontier variant's
    // per-round edge join must stay O(1)-ish while reached grows. The
    // reference is the union-min fixpoint (distances only decrease),
    // folded in plain Scala to the same maxHops bound.
    val base = (0L until 40L).map(i => (i, i + 1)) :+ (0L, 25L)
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    val adj = (base ++ base.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    for (bound <- Seq(3, 12, 60)) {
      var ref = Map(0L -> 0L)
      for (_ <- 1 to bound) {
        val relaxed = ref.toSeq.flatMap { case (n, d) =>
          adj.getOrElse(n, Nil).map(_ -> (d + 1)) }
        ref = (ref.toSeq ++ relaxed).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).min }
      }
      // duplicate source row on purpose: the append-only settled table
      // must dedup it at init (one (0, 0) row, not two) — the contract
      // the old union-min groupBy gave for free
      val got = Graph.bfsDistances(edges, Seq(0L, 0L).toDF("node"), bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(got.length === got.toMap.size,
        s"bound $bound: duplicate source produced duplicate result rows")
      assert(got.toMap === ref,
        s"bound $bound: frontier BFS diverged from union-min")
    }
  }

  test("pagerank releases its working storage: only the result survives") {
    // the edge cache and every superseded rank checkpoint must be
    // unpersisted by the time the query returns — one invocation may leave
    // exactly ONE persistent RDD behind (the returned checkpointed ranks)
    // Shared mechanics + the confirming-attempt tightening live in
    // SparkSpecBase.assertReleasesStorage; slack 0 here — the unpersist
    // calls under test are unconditional straight-line code, so a
    // regression leaks on EVERY attempt and no racy-reading allowance is
    // needed (round-7 ADVICE: len+3 admitted [3,3,0]).
    val df = assertReleasesStorage("q_pagerank",
      () => GraphQueries.qPagerank(spark, "/root/testdata/sf0.01"), slack = 0)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"))
  }

  test("bfsDistances releases both caches and restores the loop conf when materialization throws") {
    val boom = udf { (x: Long) =>
      if (x >= 0L) throw new IllegalStateException("derivation failed")
      x
    }
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val sc = spark.sparkContext
    // Suites share the SparkContext, and its cleaner unpersists other
    // suites' garbage at any time: judge only the RDDs a call left
    // persisted, and retry so that one racing suite cannot fail a clean
    // call. Each attempt derives a NEW plan (`n` is folded into it): a
    // leaked cache of an identical plan would be reused by the next
    // attempt and hide the leak.
    def fails(edges: Int => org.apache.spark.sql.DataFrame,
        sources: org.apache.spark.sql.DataFrame, why: String): Unit = {
      val leaked = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (leaked.size < 3 && !leaked.contains(0)) {
        val confBefore = keys.map(spark.conf.getOption)
        val cachedBefore = sc.getPersistentRDDs.keySet.toSet
        val e = intercept[Exception](
          Graph.bfsDistances(edges(leaked.size), sources, 3))
        assert(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(_.contains(why))),
          s"unexpected failure $e")
        assert(keys.map(spark.conf.getOption) === confBefore,
          "AQE and the shuffle width must be restored")
        leaked += (sc.getPersistentRDDs.keySet.toSet -- cachedBefore).size
      }
      assert(leaked.contains(0), "the raw and partitioned edge caches " +
        s"must both be released; RDDs left per attempt: $leaked")
    }
    val ids = spark.range(8)
    // the edge derivation itself throws while its cache materializes
    fails(n => ids.select(col("id").as("src"), boom(col("id") + n).as("dst")),
      Seq(0L).toDF("node"), "derivation failed")
    // the edges materialize; the loop then fails under its own conf
    fails(n => ids.select(col("id").as("src"), (col("id") + 1 + n).as("dst")),
      ids.select(col("id").as("not_node")), "`node`")
  }
}
