package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.sources.Datalake

/** The lake workload: a seeded sequence of commits, reads and maintenance
  * on one Datalake table built from `orders`, checked read by read against
  * a reference state the benchmark keeps itself, without Datalake.
  *
  * One pass is a fixed sequence: 2 mergeInto of a ~1% delta, 1
  * deleteWhere, 1 publish (a full overwrite from the source), 2
  * readPublished, 1 readVersion and 1 readAsOf of the previous version, 1
  * changeFeed over the last commit, then optimize and vacuum. The seed
  * drives the generated table, the delta rows and the predicates.
  */
class LakeOps(spark: SparkSession, run: Run, seed: Long) {
  private val Key = "o_orderkey"
  private val DeleteMod = 211
  private val PublishMod = 50
  private val KeepLast = 4
  private val rnd = new scala.util.Random(seed)

  private type State = Map[Long, Row]
  private var base: State = Map.empty
  private var current: State = Map.empty
  private val snapshots = mutable.LinkedHashMap.empty[String, State]
  private val committedAt = mutable.Map.empty[String, Long]
  private var baseVersion = ""
  private var nextKey = 0L
  var wrongResults = 0
  private val bytesWritten = mutable.ArrayBuffer.empty[(Int, Long)]

  def apply(dataDir: String, outDir: String, seconds: Double): Map[String, Any] = {
    val root = s"$outDir/lake/orders"
    val source = spark.read.parquet(s"$dataDir/orders.parquet")
    base = source.collect().map(r => r.getAs[Long](Key) -> r).toMap
    nextKey = base.keys.max + 1
    run.note(f"reference state loaded at ${Trace.nowMs}%.0f")
    val (_, warm) = Trace.span("setup.warm", -1) {
      run.op("publish", "commit", -1, "Datalake.publish", "")(
        Datalake.publish(source, root, "1"))(_ => ())
      committed("1", base, root)
      pass(-1, root, source)
    }
    run.warmS = warm.seconds
    run.note(f"warm pass took ${warm.seconds}%.2f s")
    run.timedPasses(seconds)(p => pass(p, root, source))
    // The reference states live in the driver heap beside the engine's;
    // their share of peak_heap_mb is what freeing them gives back.
    val withRef = Run.heapAfterGc()
    base = Map.empty; current = Map.empty; snapshots.clear()
    run.note(f"reference state: ${(withRef - Run.heapAfterGc()) / 1048576.0}%.2f MB " +
      f"of the ${withRef / 1048576.0}%.2f MB heap")
    // plain parquet rewrite of the final table, for space amplification
    val plain = s"$outDir/plain"
    Datalake.readPublished(spark, root).write.mode("overwrite").parquet(plain)
    val lakeBytes = treeBytes(Paths.get(root))
    val liveFiles = Datalake.currentDataPath(spark, root)
      .map(p => treeFiles(Paths.get(new java.net.URI(p).getPath)).count(
        _.toString.endsWith(".parquet"))).getOrElse(0)
    val traced = run.ops.filter(o => run.tracedPass(o.pass))
    def med(xs: Seq[Double]) = Stats.median(xs)
    val perOp = Seq("publish", "mergeInto", "deleteWhere", "optimize", "vacuum")
      .map(n => s"Datalake.${n}_s" -> med(traced.filter(_.name == n).map(_.span.seconds).toSeq))
    val reads = traced.filter(_.kind == "read").toSeq
    Map(
      "layers" -> (perOp.toMap ++ Map(
        "Datalake.resolve_s" -> med(reads.map(_.call.seconds)),
        "Datalake.scan_s" -> med(reads.flatMap(_.mat.map(_.seconds))),
        "Datalake.bytes_written_mb" -> bytesWritten.filter(b => run.tracedPass(b._1))
          .map(_._2).sum / 1048576.0 / run.tracedWalls.size.max(1),
        "Datalake.commit_log_entries" -> Datalake.commitLogSize(spark, root),
        "Datalake.files_live" -> liveFiles)),
      "wrong_results" -> wrongResults,
      "lake_space_amp" -> lakeBytes.toDouble / treeBytes(Paths.get(plain)))
  }

  private def pass(p: Int, root: String, source: DataFrame): Unit = {
    Schedule.foreach {
      case "mergeInto" => merge(p, root)
      case "deleteWhere" => delete(p, root)
      case "publish" => publish(p, root, source)
      case "readPublished" =>
        read(p, "readPublished", current)(Datalake.readPublished(spark, root))
      case "readVersion" =>
        val v = olderVersion()
        read(p, "readVersion", snapshots(v))(Datalake.readVersion(spark, root, v))
      case "readAsOf" =>
        val v = olderVersion()
        read(p, "readAsOf", snapshots(v))(
          Datalake.readAsOf(spark, root, committedAt(v)))
      case "changeFeed" => changeFeed(p, root)
      case "optimize" =>
        val v = commit(p, "optimize", "maintenance", root)(
          Datalake.optimize(spark, root, 4))
        v.foreach(committed(_, current, root))
      case "vacuum" =>
        commit(p, "vacuum", "maintenance", root)(
          Datalake.vacuum(spark, root, KeepLast)).foreach(_.foreach { v =>
            snapshots.remove(v); committedAt.remove(v) })
    }
  }

  /** One pass. The order is fixed so that every pass does the same kind
    * of work: a read of an older version or a change feed always spans the
    * commit just before it. */
  private val Schedule = Seq("mergeInto", "readPublished", "deleteWhere",
    "readVersion", "mergeInto", "readAsOf", "publish", "changeFeed",
    "readPublished", "optimize", "vacuum")

  private def commit[T](p: Int, name: String, kind: String, root: String)
      (call: => T): Option[T] = {
    val before = treeBytes(Paths.get(root))
    val out = run.op(name, kind, p, s"Datalake.$name", "")(call)(_ => ())
    bytesWritten += ((p, (treeBytes(Paths.get(root)) - before).max(0L)))
    out
  }

  /** Records a version the table now serves. The pause keeps the next
    * commit's timestamp strictly later, so an as-of read at this commit's
    * end resolves to this version. */
  private def committed(v: String, state: State, root: String): Unit = {
    current = state
    snapshots(v) = state
    baseVersion = v
    Thread.sleep(2)
    committedAt(v) = System.currentTimeMillis()
    Thread.sleep(2)
  }

  private def merge(p: Int, root: String): Unit = {
    val keys = current.keysIterator.toArray
    val n = (current.size / 100).max(2)
    val updates = (0 until n / 2).map { _ =>
      val r = current(keys(rnd.nextInt(keys.length)))
      val price = BigDecimal(r.getAs[Double]("o_totalprice") +
        rnd.nextInt(100000) / 100.0).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      like(r, r.toSeq.updated(r.fieldIndex("o_totalprice"), price.toDouble)
        .updated(r.fieldIndex("o_orderstatus"), Seq("F", "O", "P")(rnd.nextInt(3))))
    }
    val inserts = (0 until n - n / 2).map { _ =>
      val r = current(keys(rnd.nextInt(keys.length)))
      nextKey += 1
      like(r, r.toSeq.updated(r.fieldIndex(Key), nextKey))
    }
    val delta = (updates ++ inserts).groupBy(_.getAs[Long](Key)).map(_._2.last).toSeq
    val schema = current.head._2.schema
    val df = spark.createDataFrame(delta.asJava, schema)
    commit(p, "mergeInto", "commit", root)(
      Datalake.mergeInto(spark, root, df, Seq(Key))).foreach { v =>
      committed(v, current ++ delta.map(r => r.getAs[Long](Key) -> r), root)
    }
  }

  private def like(r: Row, values: Seq[Any]): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      values.toArray, r.schema)

  private def delete(p: Int, root: String): Unit = {
    val k = rnd.nextInt(DeleteMod)
    val next = current.filterNot { case (_, r) =>
      Math.floorMod(r.getAs[Long]("o_custkey"), DeleteMod.toLong) == k }
    commit(p, "deleteWhere", "commit", root)(Datalake.deleteWhere(spark, root,
      pmod(col("o_custkey"), lit(DeleteMod)) === k)).foreach { n =>
      current = next
      // the vector counts every row of the base version deleted so far
      if (n != snapshots(baseVersion).size - next.size) {
        System.err.println(s"perfbench: deleteWhere reported $n rows, " +
          s"reference ${snapshots(baseVersion).size - next.size}")
        wrongResults += 1
      }
    }
  }

  private def publish(p: Int, root: String, source: DataFrame): Unit = {
    val k = rnd.nextInt(PublishMod)
    val v = (snapshots.keys.flatMap(_.toLongOption).maxOption.getOrElse(0L) + 1).toString
    commit(p, "publish", "commit", root)(Datalake.publish(
      source.filter(pmod(col(Key), lit(PublishMod)) =!= k), root, v)).foreach { _ =>
      committed(v, base.filter { case (key, _) => Math.floorMod(key, PublishMod.toLong) != k }, root)
    }
  }

  /** The version committed before the one the table serves. */
  private def olderVersion(): String = {
    val vs = snapshots.keys.toSeq
    if (vs.size < 2) vs.last else vs(vs.size - 2)
  }

  private def read(p: Int, name: String, expected: State)(call: => DataFrame): Unit =
    run.op(name, "read", p, "Datalake.resolve", "Datalake.scan")(call)(Run.noop)
      .foreach { df =>
        val got = df.collect()
        val ok = got.length == expected.size && got.forall { r =>
          expected.get(r.getAs[Long](Key)).contains(r) }
        if (!ok) {
          System.err.println(s"perfbench: $name returned ${got.length} rows " +
            s"that differ from the reference (${expected.size} rows)")
          wrongResults += 1
        }
      }

  private def changeFeed(p: Int, root: String): Unit = {
    val vs = snapshots.keys.toSeq
    if (vs.size < 2) return
    val (from, to) = (vs(vs.size - 2), vs.last)
    val (a, b) = (snapshots(from), snapshots(to))
    def img(r: Row, t: String) = r.toSeq :+ t
    val expected =
      (b.keySet -- a.keySet).toSeq.map(k => img(b(k), "insert")) ++
      (a.keySet -- b.keySet).toSeq.map(k => img(a(k), "delete")) ++
      (a.keySet intersect b.keySet).toSeq.filter(k => a(k) != b(k)).flatMap(k =>
        Seq(img(a(k), "update_preimage"), img(b(k), "update_postimage")))
    val cols = a.head._2.schema.fieldNames.toSeq :+ "_change_type"
    run.op("changeFeed", "read", p, "Datalake.resolve", "Datalake.scan")(
      Datalake.changeFeed(spark, root, from, to, Seq(Key)))(Run.noop).foreach { df =>
      val got = df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      if (got.groupBy(identity).map { case (k, v) => k -> v.size } !=
          expected.groupBy(identity).map { case (k, v) => k -> v.size }) {
        System.err.println(s"perfbench: changeFeed $from..$to returned " +
          s"${got.size} rows that differ from the reference (${expected.size})")
        wrongResults += 1
      }
    }
  }

  private def treeFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).toSeq finally w.close()
    }

  private def treeBytes(p: Path): Long = treeFiles(p).map(Files.size).sum
}
