package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.sources.Datalake

/** Every lake table feature crossed with every read selector. Each cell's
  * expectation is derived here from the rows the test wrote (plain Scala
  * collections, never a Datalake read), so a selector that forgets a
  * feature — a vector it does not apply, a chain it does not walk, a
  * clone pointer it does not follow — shows up as one wrong cell.
  *
  * A cell is a row set, a change feed, a loud failure (the message it
  * must carry), or a combination the protocol cannot produce, listed
  * with the reason.
  */
class LakeSnapshotSpec extends SparkSpecBase {
  import spark.implicits._
  import LakeSnapshotSpec._

  private val Selectors = Seq("latest", "version", "as-of", "alias",
    "commit token", "catalog pin", "stats-pruned", "evolved-pruned",
    "change feed")

  private val A: Seq[R] = Seq((1L, "a", 10.0), (2L, "a", 20.0),
    (3L, "b", 30.0), (4L, "b", 40.0), (5L, "c", 50.0), (6L, "c", 60.0))
  // A with id 2 updated, id 6 gone and id 7 new
  private val B: Seq[R] = Seq((1L, "a", 10.0), (2L, "a", 25.0),
    (3L, "b", 30.0), (4L, "b", 40.0), (5L, "c", 50.0), (7L, "c", 70.0))
  private val C: Seq[R] = Seq((1L, "a", 11.0), (3L, "b", 30.0),
    (9L, "c", 90.0))
  // the two segments of an evolved chain
  private val E1: Seq[R] = Seq((1L, "a", 10.0), (2L, "b", 20.0),
    (3L, "a", 30.0))
  private val E2: Seq[R] = Seq((4L, "b", 40.0), (5L, "a", 50.0))

  private val NoCatalogDv = "publishAtomic pins plain version dirs only; " +
    "a catalog never holds a dv=, evolved or ref= token"
  private val NotEvolved = "not an evolved segment"
  private val NoStats = "publish with statsCols to prune"

  private def table(rows: Seq[R]): DataFrame = rows.toDF("id", "k", "v")

  private def fresh(name: String): String =
    Files.createTempDirectory(s"graft-cell-$name").toString

  private def manifest(root: String): String =
    new String(Files.readAllBytes(Paths.get(s"$root/MANIFEST")), "UTF-8").trim

  /** A wall-clock instant strictly after every commit so far and strictly
    * before the next one. */
  private def instant(): Long = {
    Thread.sleep(3)
    val t = System.currentTimeMillis()
    Thread.sleep(3)
    t
  }

  private def within(rows: Seq[R], lo: Long, hi: Long): Seq[R] =
    rows.filter(r => r._1 >= lo && r._1 <= hi)

  /** The CDC rows that take `a` to `b`, keyed on id. */
  private def diff(a: Seq[R], b: Seq[R]): Seq[(R, String)] = {
    val (am, bm) = (a.map(r => r._1 -> r).toMap, b.map(r => r._1 -> r).toMap)
    (bm.keySet -- am.keySet).toSeq.map(k => bm(k) -> "insert") ++
      (am.keySet -- bm.keySet).toSeq.map(k => am(k) -> "delete") ++
      (am.keySet intersect bm.keySet).toSeq.filter(k => am(k) != bm(k))
        .flatMap(k => Seq(am(k) -> "update_preimage",
          bm(k) -> "update_postimage"))
  }

  private def token(root: String, t: String): () => DataFrame =
    () => Datalake.scan(spark,
      Datalake.resolve(spark, root, Datalake.Selector.Token(t)))

  private def pruned(root: String, lo: Long, hi: Long): () => DataFrame =
    () => Datalake.readPublishedPruned(spark, root,
      Seq(("id", lo.toDouble, hi.toDouble))).df
      .filter(col("id").between(lo, hi))

  private def evolvedPruned(root: String, value: String): () => DataFrame =
    () => Datalake.evolvedPrunedScan(spark, root, "k", value)
      .map(_.df).reduce(_.unionByName(_)).filter(col("k") === value)

  private def rowsOf(df: DataFrame): Seq[R] =
    df.select("id", "k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted

  private def feedOf(df: DataFrame): Seq[(R, String)] =
    df.select("id", "k", "v", "_change_type").collect()
      .map(r => ((r.getLong(0), r.getString(1), r.getDouble(2)),
        r.getString(3))).toSeq.sorted

  private def check(feature: String, cells: Seq[(String, Cell)]): Unit = {
    assert(cells.map(_._1) === Selectors,
      s"$feature must list every selector, in order")
    cells.foreach { case (sel, cell) =>
      val where = s"$feature × $sel"
      cell match {
        case Rows(read, want) => assert(rowsOf(read()) === want.sorted, where)
        case Feed(read, want) => assert(feedOf(read()) === want.sorted, where)
        case Fails(read, msg) =>
          val e = intercept[Exception] {
            read() match {
              case df: org.apache.spark.sql.Dataset[_] => df.collect(); ()
              case _ => ()
            }
          }
          assert(Option(e.getMessage).exists(_.contains(msg)),
            s"$where must fail loudly with '$msg', got $e")
        case NotProducible(why) => assert(why.nonEmpty, where)
      }
    }
  }

  test("plain table × every selector") {
    val root = s"${fresh("plain")}/t"
    Datalake.publish(table(A), root, "1", Nil, Seq("id"))
    val t1 = instant()
    Datalake.publish(table(B), root, "2", Nil, Seq("id"))
    Datalake.writeAlias(spark, root, "prod", "1")
    val cat = fresh("plain-cat")
    Datalake.publishAtomic(spark, cat, Seq("t" -> table(A)))
    val pin1 = Datalake.catalogSnapshot(spark, cat)._2
    Datalake.publishAtomic(spark, cat, Seq("t" -> table(B)))
    check("plain", Seq(
      "latest" -> Rows(() => Datalake.readPublished(spark, root), B),
      "version" -> Rows(() => Datalake.readVersion(spark, root, "1"), A),
      "as-of" -> Rows(() => Datalake.readAsOf(spark, root, t1), A),
      "alias" -> Rows(() => Datalake.readAlias(spark, root, "prod"), A),
      "commit token" -> Rows(token(root, "v=2"), B),
      "catalog pin" -> Rows(
        () => Datalake.readCatalogTable(spark, cat, pin1, "t"), A),
      "stats-pruned" -> Rows(pruned(root, 2, 5), within(B, 2, 5)),
      "evolved-pruned" -> Fails(evolvedPruned(root, "a"), NotEvolved),
      "change feed" -> Feed(
        () => Datalake.changeFeed(spark, root, "1", "2", Seq("id")),
        diff(A, B))))
  }

  test("deletion vector × every selector") {
    val root = s"${fresh("dv")}/t"
    Datalake.publish(table(A), root, "1", Nil, Seq("id"))
    Datalake.deleteWhere(spark, root, col("id") % 2 === 0)
    val dv = manifest(root)
    assert(dv.startsWith("dv=v=1;"), dv)
    val afterDelete = instant()
    Datalake.writeAlias(spark, root, "prod", "1")
    val live = A.filter(_._1 % 2 != 0)
    // version-addressed reads serve the PHYSICAL version: the vector is
    // commit state, and a delete stages no version of its own
    check("deletion vector", Seq(
      "latest" -> Rows(() => Datalake.readPublished(spark, root), live),
      "version" -> Rows(() => Datalake.readVersion(spark, root, "1"), A),
      "as-of" -> Rows(() => Datalake.readAsOf(spark, root, afterDelete), A),
      "alias" -> Rows(() => Datalake.readAlias(spark, root, "prod"), A),
      "commit token" -> Rows(token(root, dv), live),
      "catalog pin" -> NotProducible(NoCatalogDv),
      "stats-pruned" -> Rows(pruned(root, 2, 5), within(live, 2, 5)),
      "evolved-pruned" -> Fails(evolvedPruned(root, "a"), NotEvolved),
      "change feed" -> Feed(() => Datalake.changeFeedTokens(spark, root,
        "v=1", dv, Seq("id")), diff(A, live))))
  }

  test("evolved chain × every selector") {
    val root = s"${fresh("evolved")}/t"
    Datalake.publishEvolved(table(E1), root, "1", Nil)
    val t1 = instant()
    Datalake.publishEvolved(table(E2), root, "2", Seq("k"))
    Datalake.writeAlias(spark, root, "prod", "1")
    check("evolved chain", Seq(
      "latest" -> Rows(() => Datalake.readPublished(spark, root), E1 ++ E2),
      "version" -> Rows(() => Datalake.readVersion(spark, root, "2"),
        E1 ++ E2),
      "as-of" -> Rows(() => Datalake.readAsOf(spark, root, t1), E1),
      "alias" -> Rows(() => Datalake.readAlias(spark, root, "prod"), E1),
      "commit token" -> Rows(token(root, "v=2"), E1 ++ E2),
      "catalog pin" -> NotProducible(NoCatalogDv),
      "stats-pruned" -> Fails(pruned(root, 2, 5), NoStats),
      "evolved-pruned" -> Rows(evolvedPruned(root, "a"),
        (E1 ++ E2).filter(_._2 == "a")),
      "change feed" -> Feed(
        () => Datalake.changeFeed(spark, root, "1", "2", Seq("id")),
        diff(E1, E1 ++ E2))))
  }

  test("evolved chain with a deletion vector × every selector") {
    val root = s"${fresh("evolved-dv")}/t"
    Datalake.publishEvolved(table(E1), root, "1", Nil)
    Datalake.publishEvolved(table(E2), root, "2", Seq("k"))
    // one row of each segment: a single root-relative vector
    Datalake.deleteWhere(spark, root, col("id").isin(1L, 4L))
    val dv = manifest(root)
    assert(dv.startsWith("dv=v=2;"), dv)
    val afterDelete = instant()
    Datalake.writeAlias(spark, root, "prod", "2")
    val all = E1 ++ E2
    val live = all.filterNot(r => Set(1L, 4L).contains(r._1))
    check("evolved chain with a deletion vector", Seq(
      "latest" -> Rows(() => Datalake.readPublished(spark, root), live),
      "version" -> Rows(() => Datalake.readVersion(spark, root, "2"), all),
      "as-of" -> Rows(() => Datalake.readAsOf(spark, root, afterDelete),
        all),
      "alias" -> Rows(() => Datalake.readAlias(spark, root, "prod"), all),
      "commit token" -> Rows(token(root, dv), live),
      "catalog pin" -> NotProducible(NoCatalogDv),
      "stats-pruned" -> Fails(pruned(root, 2, 5), NoStats),
      "evolved-pruned" -> Rows(evolvedPruned(root, "a"),
        live.filter(_._2 == "a")),
      "change feed" -> Feed(() => Datalake.changeFeedTokens(spark, root,
        "v=2", dv, Seq("id")), diff(all, live))))
  }

  /** An undiverged clone owns no version directory, no history and one
    * commit, so the version-addressed selectors fail loudly and the ones
    * needing two of its own commits cannot be produced. */
  private def cloneCells(dst: String, want: Seq[R]): Seq[(String, Cell)] =
    Seq(
      "latest" -> Rows(() => Datalake.readPublished(spark, dst), want),
      "version" -> Fails(() => Datalake.readVersion(spark, dst, "1"),
        "does not exist"),
      "as-of" -> Fails(
        () => Datalake.readAsOf(spark, dst, System.currentTimeMillis()),
        "predates"),
      "alias" -> NotProducible(
        "writeAlias refuses a version the clone never staged"),
      "commit token" -> Rows(token(dst, manifest(dst)), want),
      "catalog pin" -> NotProducible(NoCatalogDv),
      "stats-pruned" -> Rows(pruned(dst, 2, 5), within(want, 2, 5)),
      "evolved-pruned" -> Fails(evolvedPruned(dst, "a"), NotEvolved),
      "change feed" -> NotProducible(
        "an undiverged clone holds one commit: no pair of its tokens"))

  test("undiverged shallow clone × every selector") {
    val base = fresh("clone")
    Datalake.publish(table(A), s"$base/src", "1", Nil, Seq("id"))
    Datalake.shallowClone(spark, s"$base/src", s"$base/dst")
    assert(manifest(s"$base/dst").startsWith("ref="))
    check("shallow clone", cloneCells(s"$base/dst", A))
  }

  test("undiverged shallow clone of a deleted-from table (dv=ref=) × every selector") {
    val base = fresh("clone-dv")
    Datalake.publish(table(A), s"$base/src", "1", Nil, Seq("id"))
    Datalake.deleteWhere(spark, s"$base/src", col("id") % 2 === 0)
    Datalake.shallowClone(spark, s"$base/src", s"$base/dst")
    assert(manifest(s"$base/dst").startsWith("dv=ref="))
    check("shallow clone with a vector",
      cloneCells(s"$base/dst", A.filter(_._1 % 2 != 0)))
  }

  test("dynamic partition overwrite × every selector") {
    val root = s"${fresh("overwrite")}/t"
    Datalake.publish(table(A), root, "1", Seq("k"), Seq("id"))
    val t1 = instant()
    // restates partition k=a: id 1 dropped, id 2 updated, id 8 new
    val batch: Seq[R] = Seq((2L, "a", 21.0), (8L, "a", 80.0))
    val v2 = Datalake.overwritePartitions(spark, root, table(batch),
      Seq("k"), Seq("id"))
    Datalake.writeAlias(spark, root, "prod", v2)
    val next = A.filterNot(_._2 == "a") ++ batch
    check("partition overwrite", Seq(
      "latest" -> Rows(() => Datalake.readPublished(spark, root), next),
      "version" -> Rows(() => Datalake.readVersion(spark, root, "1"), A),
      "as-of" -> Rows(() => Datalake.readAsOf(spark, root, t1), A),
      "alias" -> Rows(() => Datalake.readAlias(spark, root, "prod"), next),
      "commit token" -> Rows(token(root, s"v=$v2"), next),
      "catalog pin" -> NotProducible(NoCatalogDv),
      "stats-pruned" -> Rows(pruned(root, 2, 5), within(next, 2, 5)),
      "evolved-pruned" -> Fails(evolvedPruned(root, "a"), NotEvolved),
      "change feed" -> Feed(
        () => Datalake.changeFeed(spark, root, "1", v2, Seq("id")),
        diff(A, next))))
  }

  test("OPTIMIZE folding a deletion vector × every selector") {
    val root = s"${fresh("optimize-dv")}/t"
    Datalake.publish(table(A), root, "1", Nil, Seq("id"))
    Datalake.deleteWhere(spark, root, col("id") % 2 === 0)
    val dv = manifest(root)
    val v2 = Datalake.optimize(spark, root, 2, statsCols = Seq("id"))
    assert(manifest(root) === s"v=$v2", "OPTIMIZE returns to a plain token")
    val afterOptimize = instant()
    Datalake.writeAlias(spark, root, "prod", v2)
    val live = A.filter(_._1 % 2 != 0)
    check("OPTIMIZE folding a vector", Seq(
      "latest" -> Rows(() => Datalake.readPublished(spark, root), live),
      "version" -> Rows(() => Datalake.readVersion(spark, root, "1"), A),
      "as-of" -> Rows(() => Datalake.readAsOf(spark, root, afterOptimize),
        live),
      "alias" -> Rows(() => Datalake.readAlias(spark, root, "prod"), live),
      "commit token" -> Rows(token(root, s"v=$v2"), live),
      "catalog pin" -> NotProducible(NoCatalogDv),
      "stats-pruned" -> Rows(pruned(root, 2, 5), within(live, 2, 5)),
      "evolved-pruned" -> Fails(evolvedPruned(root, "a"), NotEvolved),
      // a maintenance rewrite changes no live row: the empty feed
      "change feed" -> Feed(() => Datalake.changeFeedTokens(spark, root,
        dv, s"v=$v2", Seq("id")), Nil)))
  }

  test("vacuumed version × every selector") {
    val root = s"${fresh("vacuum")}/t"
    Datalake.publish(table(A), root, "1", Nil, Seq("id"))
    val t1 = instant()
    Datalake.publish(table(B), root, "2", Nil, Seq("id"))
    Datalake.writeAlias(spark, root, "old", "1")
    Datalake.publish(table(C), root, "3", Nil, Seq("id"))
    assert(Datalake.vacuum(spark, root, keepLast = 1) === Seq("1", "2"))
    val cat = fresh("vacuum-cat")
    Datalake.publishAtomic(spark, cat, Seq("t" -> table(A)))
    val pin1 = Datalake.catalogSnapshot(spark, cat)._2
    Datalake.publishAtomic(spark, cat, Seq("t" -> table(B)))
    assert(Datalake.vacuum(spark, s"$cat/t", keepLast = 1).size === 1)
    check("vacuumed version", Seq(
      "latest" -> Rows(() => Datalake.readPublished(spark, root), C),
      "version" -> Fails(() => Datalake.readVersion(spark, root, "1"),
        "does not exist"),
      "as-of" -> Fails(() => Datalake.readAsOf(spark, root, t1), "predates"),
      "alias" -> Fails(() => Datalake.readAlias(spark, root, "old"),
        "dangles"),
      "commit token" -> Fails(token(root, "v=1"), "does not exist"),
      "catalog pin" -> Fails(
        () => Datalake.readCatalogTable(spark, cat, pin1, "t"),
        "does not exist"),
      "stats-pruned" -> Rows(pruned(root, 2, 5), within(C, 2, 5)),
      "evolved-pruned" -> Fails(evolvedPruned(root, "a"), NotEvolved),
      "change feed" -> Fails(
        () => Datalake.changeFeed(spark, root, "1", "3", Seq("id")),
        "does not exist")))
  }
}

object LakeSnapshotSpec {
  private type R = (Long, String, Double)

  private sealed trait Cell
  private final case class Rows(read: () => DataFrame, want: Seq[R])
    extends Cell
  private final case class Feed(read: () => DataFrame,
      want: Seq[(R, String)]) extends Cell
  private final case class Fails(read: () => Any, msg: String) extends Cell
  private final case class NotProducible(why: String) extends Cell
}
