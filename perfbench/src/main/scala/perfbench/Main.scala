package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.streaming.StreamReplay

/** One run of one benchmark workload in one JVM.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *   <outDir> <processStartMs> <genSeconds>
  *
  * It drives the engine only through its public entry points
  * (GraftSession, the SparkEntry registry, the Datalake API), runs an
  * untimed check pass, then timed passes for `seconds`, and writes
  * `<outDir>/result.json` (and `<outDir>/spans.jsonl` when traced).
  * Registry outputs of the check pass land in `<outDir>/check/` with their
  * oracle SQL, for the DuckDB comparison that follows the run.
  */
object Main {
  /** Registry rows of the registry workload; why it was chosen is
    * recorded in BENCHMARK.json. */
  val Registry = Map(
    "stream_kcore" -> Seq("q_stream_sessionize", "q_kcore"))

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, outDir,
      processStartS, genS) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val loadStart = Run.loadAvg
    val (spark, startSpan) =
      Trace.span("GraftSession.start", -1)(GraftSession.get("perfbench"))
    val run = new Run(spark, traced, processStartS.toDouble, genS.toDouble)
    run.sessionStartS = startSpan.seconds
    run.note(f"session started in ${startSpan.seconds}%.2f s, " +
      f"${(startSpan.endMs - processStartS.toDouble) / 1000}%.2f s after set-up began")
    val body: Map[String, Any] = Registry.get(workload) match {
      case Some(names) => new RegistryWorkload(spark, run, names, seed)
        .apply(dataDir, outDir, secondsS.toDouble)
      case None if workload == "lake_ops" =>
        new LakeOps(spark, run, seed).apply(dataDir, outDir, secondsS.toDouble)
      case None => throw new IllegalArgumentException(s"unknown workload $workload")
    }
    Trace.drain(spark.sparkContext)
    val sc = spark.sparkContext
    val env = Map(
      "master" -> sc.master,
      "defaultParallelism" -> sc.defaultParallelism,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "seed" -> seed,
      "load_avg_start" -> loadStart,
      "load_avg_end" -> Run.loadAvg)
    val layers = if (traced) run.layers else Map.empty[String, Any]
    val result = Map(
      "workload" -> workload, "env" -> env,
      "attempted" -> run.attempted, "failed" -> run.failedOps.size,
      "failed_ops" -> run.failedOps.toSeq,
      "hygiene" -> Map("leaked_streams" -> run.leakedStreams,
        "leaked_cached" -> run.leakedCached),
      "pass_walls_s" -> run.passWalls.toSeq,
      "end_to_end" -> run.endToEnd, "per_layer" -> layers) ++ body
    if (traced) Files.writeString(Paths.get(outDir, "spans.jsonl"),
      Trace.spans.map(s => Json(Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs))).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(outDir, "result.json"), Json(result))
    spark.stop()
  }
}

/** A registry workload: each op is one SparkEntry query, materialized
  * through the `noop` sink as graft.Bench does. The seed drives the order
  * of the queries in each pass. */
class RegistryWorkload(spark: SparkSession, run: Run, names: Seq[String],
    seed: Long) {
  def apply(dataDir: String, outDir: String, seconds: Double): Map[String, Any] = {
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val checkDir = s"$outDir/check"
    // Untimed: the check pass, which also compiles the plans and fills the
    // engine's model and feed caches, then one pass through the timed
    // passes' noop sink, since the JIT settles over the first passes.
    val (_, warm) = Trace.span("setup.warm", -1) {
      run.shuffled(fns, seed, -2).foreach { case (name, fn) =>
        run.op(name, kind(name), -2)(fn(spark, dataDir)) { df =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
        }
      }
      run.shuffled(fns, seed, -1).foreach { case (name, fn) =>
        run.op(name, kind(name), -1)(fn(spark, dataDir))(Run.noop)
      }
    }
    run.warmS = warm.seconds
    run.note(f"check and warm passes took ${warm.seconds}%.2f s")
    run.timedPasses(seconds) { pass =>
      run.shuffled(fns, seed, pass).foreach { case (name, fn) =>
        run.op(name, kind(name), pass)(fn(spark, dataDir))(Run.noop)
      }
    }
    // Oracles of trained models exist only once the model was built in
    // this JVM, so they are read after the passes.
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"), Json(oracles))
    Files.writeString(Paths.get(checkDir, "queries.txt"),
      names.sorted.mkString("", "\n", "\n"))
    Map.empty
  }

  private def kind(name: String) =
    if (name.startsWith("q_stream_")) "stream" else "query"
}

/** One executed operation and its spans. */
final case class Op(id: Int, name: String, kind: String, pass: Int,
    ok: Boolean, span: Span, call: Span, mat: Option[Span])

/** Op execution, hygiene checks and the metrics derived from them. */
class Run(spark: SparkSession, val traced: Boolean, processStartMs: Double,
    genS: Double) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failedOps = mutable.ArrayBuffer.empty[String]
  val passWalls = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var leakedStreams = 0
  var leakedCached = 0
  var sessionStartS = 0.0
  var warmS = 0.0
  var firstTimedMs = Double.NaN
  private var lastCached = spark.sparkContext.getPersistentRDDs.size
  private val execProbe = new ExecProbe
  private var peakHeapAfterGc = 0L
  val tracedWalls = mutable.ArrayBuffer.empty[Double]

  def note(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  /** In a traced run, odd passes are traced and even ones are not, so the
    * difference between the two is the tracing overhead. */
  def tracedPass(p: Int): Boolean = traced && p % 2 == 1

  /** Runs passes until their ops have taken `seconds` in all and there
    * are at least five, so that a per-op median leaves out the first
    * passes, in which the JIT is still settling, and a slow pass; a traced
    * run makes an even number. A full garbage collection after
    * each pass keeps collection out of the next one. After each of the
    * first three it also reads the driver heap the pass left behind; the
    * peak is taken over those three only, so that it does not grow with
    * the number of passes a faster engine fits in. */
  def timedPasses(seconds: Double)(pass: Int => Unit): Unit = {
    firstTimedMs = Trace.nowMs
    var p = 0
    while (p < 5 || (traced && p % 2 == 1) ||
        passWalls.sum + tracedWalls.sum < seconds) {
      val on = tracedPass(p)
      if (on) spark.sparkContext.addSparkListener(execProbe)
      Trace.enabled = on
      Trace.span(s"pass.$p", -1)(pass(p))
      if (on) {
        Trace.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(execProbe)
      }
      Trace.enabled = false
      // a pass's wall time is that of its ops, without the checks between
      (if (on) tracedWalls else passWalls) +=
        ops.filter(_.pass == p).map(_.span.seconds).sum
      if (p < Run.HeapPasses) {
        val heap = Run.heapAfterGc()
        note(f"pass $p: heap ${heap / 1048576.0}%.2f MB")
        peakHeapAfterGc = peakHeapAfterGc.max(heap)
      } else System.gc()
      p += 1
    }
  }

  /** One operation: `call` is the engine call (a query function, a lake
    * read or commit) and `materialize` forces what it returned; an empty
    * `matLayer` means the call itself does all the work. An exception
    * counts the op as failed; the run goes on. */
  def op[T](name: String, kind: String, pass: Int,
      callLayer: String = "queries.build", matLayer: String = "exec.materialize")
      (call: => T)(materialize: T => Unit): Option[T] = {
    val id = Trace.reserveId()
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, id.toString)
    attempted += 1
    var callSpan: Span = null
    var matSpan: Option[Span] = None
    var out: Option[T] = None
    val t0 = Trace.nowMs
    val ok = try {
      val (v, cs) = Trace.span(callLayer, id, id)(call)
      callSpan = cs
      if (matLayer.nonEmpty) {
        val (_, ms) = Trace.span(matLayer, id, id)(materialize(v))
        matSpan = Some(ms)
      }
      out = Some(v)
      true
    } catch { case e: Throwable =>
      note(s"op $name (pass $pass) failed: $e")
      failedOps += s"$name#$pass"
      false
    }
    val span = Span(id, s"op.$kind", -1, id, t0, Trace.nowMs)
    Trace.spans += span
    if (callSpan == null) callSpan = Span(id, callLayer, id, id, t0, span.endMs)
    sc.setLocalProperty(Trace.OpProperty, null)
    ops += Op(id, name, kind, pass, ok, span, callSpan, matSpan)
    hygiene()
    out
  }

  /** Outside the engine, after every op: stop streams left running (so a
    * leak cannot slow later ops) and count cached RDDs that appeared. */
  private def hygiene(): Unit = {
    val active = StreamReplay.activeStreamsAnywhere(spark)
    if (active.nonEmpty) {
      leakedStreams += active.size
      active.foreach(q => try q.stop() catch { case _: Throwable => () })
    }
    val cached = spark.sparkContext.getPersistentRDDs.size
    if (cached > lastCached) leakedCached += cached - lastCached
    lastCached = cached
  }

  def untracedOps: Seq[Op] = ops.filter(o => o.pass >= 0 && !tracedPass(o.pass)).toSeq

  /** The wall time of a typical pass: each op's median over the passes,
    * summed, so that a spike in one pass moves the result little. An op is
    * known by its name and its occurrence within the pass. */
  def typicalPass(xs: Seq[Op]): Double =
    xs.groupBy(_.pass).values.flatMap(_.groupBy(_.name).values.flatMap(
      _.sortBy(_.id).zipWithIndex.map { case (o, i) => ((o.name, i), o) }))
      .groupBy(_._1).values.map(v => Stats.median(v.map(_._2.span.seconds).toSeq))
      .sum

  /** The end-to-end metrics, each with its unit and sample count. Latency
    * of one kind of op comes as a median and a tail. */
  def endToEnd: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val timed = untracedOps.filter(_.ok)
    def one(v: Double, unit: String, n: Int) =
      Map("value" -> v, "unit" -> unit, "samples" -> n)
    def lat(name: String, xs: Seq[Double], unit: String): Map[String, Any] =
      if (xs.isEmpty) Map.empty else {
        val (p, tail) = Stats.tail(xs)
        Map(s"${name}_p50_$unit" -> one(Stats.median(xs), unit, xs.size),
          s"${name}_tail_$unit" -> (one(tail, unit, xs.size) + ("pct" -> p)))
      }
    val batches = Trace.batches.asScala.toSeq.filter(b => timed.exists(o =>
      b.startMs >= o.span.startMs - 1 && b.startMs <= o.span.endMs + 1))
    Map(
      "setup_s" -> one((firstTimedMs - processStartMs) / 1000.0, "s", 1),
      "wall_s" -> one(if (untracedOps.forall(_.ok)) typicalPass(untracedOps)
        else Double.NaN, "s", passWalls.size),
      "peak_heap_mb" -> one(peakHeapAfterGc / 1048576.0, "MB",
        passWalls.size.min(Run.HeapPasses))) ++
      lat("op", timed.map(_.span.seconds), "s") ++
      lat("commit", timed.filter(_.kind == "commit").map(_.span.seconds), "s") ++
      lat("read", timed.filter(_.kind == "read").map(_.span.seconds), "s") ++
      lat("maintenance", timed.filter(_.kind == "maintenance").map(_.span.seconds), "s") ++
      lat("batch", batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble), "ms")
  }

  /** Per-layer metrics of a traced run, per timed pass where they are
    * counts or times. */
  def layers: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val passes = tracedWalls.size.max(1).toDouble
    val timed = ops.filter(o => tracedPass(o.pass)).toSeq
    val opIds = timed.map(_.id).toSet
    val jobs = Trace.jobs.asScala.toSeq
    val ends = Trace.jobEnds.asScala
    val timedJobs = jobs.filter(j => opIds.contains(j.op))
    val stageOp = timedJobs.flatMap(j => j.stages.map(_ -> j.op)).toMap
    val tasks = Trace.tasks.asScala.toSeq.filter(t => stageOp.contains(t.stage))
    val stages = stageOp.keys.toSeq
    val execs = Trace.executions.asScala.toSeq
    val cores = spark.sparkContext.defaultParallelism
    def jobIv(op: Int) = jobs.filter(_.op == op).map(j =>
      (j.startMs.toDouble, ends.get(j.id).map(_.toDouble).getOrElse(j.startMs.toDouble)))
    def inOp(e: Trace.Phases, o: Op) =
      e.startMs >= o.span.startMs - 1 && e.startMs <= o.span.endMs + 1
    // Per-op decomposition of wall time. exec is the union of the op's
    // jobs within the op; catalyst the union of all phase time within the
    // op, less those jobs (a job can run inside a phase, as when analysis
    // lists files). Phases are cut to the op by time, not assigned by the
    // execution they belong to: one op runs at a time, and a DataFrame
    // built in one op can be planned in a later one, whose wall time that
    // planning is. Build and driver self time are the parts of the call
    // and materialize spans that neither covers, so the sum matches the
    // op's wall time by construction, less the gaps the spans leave.
    val perOp = timed.map { o =>
      val lo = o.span.startMs; val hi = o.span.endMs
      val jobsIv = Intervals.clip(jobIv(o.id), lo, hi)
      val phaseIv = Intervals.clip(execs.flatMap(_.intervals).map {
        case (a, b) => (a.toDouble, b.toDouble) }, lo, hi)
      val execS = Intervals.length(jobsIv) / 1000
      val catalystS = Intervals.length(Intervals.minus(phaseIv, jobsIv)) / 1000
      val covered = Intervals.union(jobsIv ++ phaseIv)
      val buildSelf = Intervals.length(Intervals.minus(
        Seq((o.call.startMs, o.call.endMs)), covered)) / 1000
      val restSelf = Intervals.length(Intervals.minus(o.mat.toSeq.map(m =>
        (m.startMs, m.endMs)), covered)) / 1000
      val wall = o.span.seconds
      val sum = execS + catalystS + buildSelf + restSelf
      val buildJobs = jobs.count(j => j.op == o.id &&
        j.startMs >= o.call.startMs && j.startMs <= o.call.endMs)
      (o, execS, catalystS, buildSelf, restSelf, wall,
        math.abs(wall - sum) / wall.max(1e-9), buildJobs)
    }
    val inOps = execs.filter(e => timed.exists(inOp(e, _)))
    val busy = perOp.map(_._2).sum
    val run = tasks.map(_.runMs).sum / 1000.0
    val mb = 1048576.0
    val batches = Trace.batches.asScala.toSeq.filter(b => timed.exists(o =>
      b.startMs >= o.span.startMs - 1 && b.startMs <= o.span.endMs + 1))
    def bd(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble)
    val nonStream = perOp.filterNot(_._1.kind == "stream")
    val registry = timed.filter(o => Run.Registry(o.kind))
    Map(
      "GraftSession.start_s" -> sessionStartS,
      "setup.gen_s" -> genS,
      "setup.warm_s" -> warmS,
      "queries.build_s" -> registry.map(_.call.seconds).sum / passes,
      "queries.build_jobs" -> perOp.filter(p => Run.Registry(p._1.kind)).map(_._8).sum / passes,
      "catalyst.analysis_s" -> inOps.map(_.analysisMs).sum / 1000.0 / passes,
      "catalyst.optimization_s" -> inOps.map(_.optimizationMs).sum / 1000.0 / passes,
      "catalyst.planning_s" -> inOps.map(_.planningMs).sum / 1000.0 / passes,
      "catalyst.executions" -> inOps.size / passes,
      "exec.jobs" -> timedJobs.size / passes,
      "exec.stages" -> stages.size / passes,
      "exec.tasks" -> tasks.size / passes,
      "exec.tasks_per_stage_p50" -> Stats.median(
        stages.map(s => Trace.stageTasks.getOrDefault(s, 0).toDouble)),
      "exec.job_busy_s" -> busy / passes,
      "exec.driver_only_s" -> (timed.map(_.span.seconds).sum - busy) / passes,
      "exec.run_s" -> run / passes,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / passes,
      "exec.deser_s" -> tasks.map(_.deserMs).sum / 1000.0 / passes,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / passes,
      "exec.core_util" -> (if (busy > 0) run / (busy * cores) else 0.0),
      "exec.input_mb" -> tasks.map(_.inBytes).sum / mb / passes,
      "exec.input_rows" -> tasks.map(_.inRows).sum / passes,
      "exec.shuffle_read_mb" -> tasks.map(_.shReadBytes).sum / mb / passes,
      "exec.shuffle_write_mb" -> tasks.map(_.shWriteBytes).sum / mb / passes,
      "exec.spill_mb" -> tasks.map(_.spillBytes).sum / mb / passes,
      "exec.result_mb" -> tasks.map(_.resultBytes).sum / mb / passes,
      "exec.task_failures" -> tasks.count(_.failed),
      "streaming.batches" -> batches.size / passes,
      "streaming.trigger_ms" -> Stats.median(bd("triggerExecution")),
      "streaming.addBatch_ms" -> Stats.median(bd("addBatch")),
      "streaming.fixed_ms" -> Stats.median(batches.map(b =>
        (b.durations.getOrElse("triggerExecution", 0L) -
          b.durations.getOrElse("addBatch", 0L)).toDouble)),
      "streaming.walCommit_ms" -> Stats.median(bd("walCommit")),
      "streaming.commitOffsets_ms" -> Stats.median(bd("commitOffsets")),
      "streaming.queryPlanning_ms" -> Stats.median(bd("queryPlanning")),
      "streaming.latestOffset_ms" -> Stats.median(bd("latestOffset")),
      "streaming.state_commit_ms" -> Stats.median(batches.map(_.stateCommitMs.toDouble)),
      "streaming.state_rows" -> Stats.median(batches.map(_.stateRows.toDouble)),
      "hygiene.leaked_streams" -> leakedStreams,
      "hygiene.leaked_cached" -> leakedCached,
      "trace.overhead_s" ->
        (typicalPass(ops.filter(o => tracedPass(o.pass)).toSeq) -
          typicalPass(untracedOps)),
      "trace.unaccounted_frac" ->
        (if (nonStream.isEmpty) 0.0 else nonStream.map(_._7).max),
      "trace.ops" -> perOp.map { case (o, e, c, b, r, w, u, bj) => Map(
        "op" -> o.id, "name" -> o.name, "kind" -> o.kind, "pass" -> o.pass,
        "wall_s" -> w, "exec_s" -> e, "catalyst_s" -> c, "build_self_s" -> b,
        "driver_self_s" -> r, "build_jobs" -> bj, "unaccounted_frac" -> u) })
  }
}

object Run {
  /** Op kinds whose call is a registry query function. */
  val Registry = Set("query", "stream")

  /** The timed passes over which peak_heap_mb is taken. */
  val HeapPasses = 3

  /** Driver heap in use after a full garbage collection, in bytes. A
    * first collection queues what Spark's context cleaner frees (broadcast
    * and shuffle state of dropped plans); the pause lets it run, and a
    * second collection takes what it freed. */
  def heapAfterGc(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p99/p95/p90/p75 that has at least ten samples beyond
    * it, as (percentile, value); the median when there are fewer than 20. */
  def tail(xs: Seq[Double]): (Long, Double) = {
    val p = Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(q => xs.size * (1 - q) >= 10)
      .getOrElse(0.5)
    (math.round(p * 100), quantile(xs, p))
  }
}

/** Interval arithmetic on (start, end) pairs in milliseconds. */
object Intervals {
  type Iv = (Double, Double)
  def union(xs: Seq[Iv]): Seq[Iv] =
    xs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, b.max(d)) :: rest
      case (acc, i) => i :: acc
    }.reverse
  def length(xs: Seq[Iv]): Double = union(xs).map(i => i._2 - i._1).sum
  def clip(xs: Seq[Iv], lo: Double, hi: Double): Seq[Iv] =
    xs.map(i => (i._1.max(lo), i._2.min(hi))).filter(i => i._2 > i._1)
  /** Parts of `xs` (unioned) not covered by `ys`. */
  def minus(xs: Seq[Iv], ys: Seq[Iv]): Seq[Iv] = {
    val cut = union(ys)
    union(xs).flatMap { x =>
      cut.foldLeft(Seq(x)) { (parts, y) =>
        parts.flatMap { p =>
          if (y._2 <= p._1 || y._1 >= p._2) Seq(p)
          else Seq((p._1, y._1), (y._2, p._2)).filter(i => i._2 > i._1)
        }
      }
    }
  }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
