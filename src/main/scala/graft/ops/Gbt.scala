package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gradient-boosted regression stumps with a per-feature importance
  * readout — the in-engine twin of the reference's Kibana Data Frame
  * Analytics *Regression* (a boosted tree with "Importance des
  * features", /root/reference/ML_ROADMAP.md Phase 2.2 steps 5-7 and
  * Phase 4 step 4), the one reference capability the closed-form OLS
  * pair (q_regression / q_regression_eval) only approximated.
  *
  * Spark-first shape — the BPE-merge-loop discipline applied to tree
  * induction: each boosting round is ONE distributed aggregate
  * (count, Σy per (leaf-pattern, feature, bin) — the classic
  * histogram-split search), whose result is BOUNDED by construction
  * (≤ 2^round · features · bins cells, a model step like Packing's
  * bucket totals), prefix-scanned on the driver for the best variance-
  * reduction split. The corpus is never collected and never sorted; K
  * rounds cost K scans of the (checkpointed) training projection with
  * map-side partial aggregation. At 100 TB this is exactly the
  * XGBoost/LightGBM histogram algorithm's data-parallel half.
  *
  * Cross-engine exactness (the DuckDB replay oracle re-runs the WHOLE
  * training): everything data-sized stays in exact integer domains —
  * the target is integer cents, leaf values are SNAPPED to whole cents
  * (`floor(η·mean + 0.5)`), so per-cell residual sums are exact
  * BIGINT/HUGEINT in both engines and immune to partition order. The
  * only IEEE arithmetic is the per-split gain/delta formula, written as
  * the identical expression tree on both sides; the argmax tie-break is
  * (gain DESC, feature ASC, bin ASC) in both.
  */
object Gbt {

  final case class Stump(f: Int, b: Int, dl: Long, dr: Long, gain: Double)
  final case class Model(base: Long, stumps: Seq[Stump])

  /** Gbt.train invocations this JVM — test-visible evidence that
    * store-serving paths never retrain (Round17Spec pins it). */
  private[graft] val trainCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The model as a tiny versionable frame — the lake ARTIFACT the
    * reference's Phase 3 stores server-side ("le modèle est stocké …
    * prêt à répondre", /root/reference/ML_ROADMAP.md Phase 3): row
    * idx = -1 carries (base, n_train); rows 0..k-1 the stumps in
    * boosting order. Gains travel as raw IEEE bit patterns so the
    * publish → read round trip is LOSSLESS — a re-served model scores
    * bit-identically to the in-session one, which is exactly what the
    * q_model_serve oracle hash-proves.
    */
  def modelToDf(spark: org.apache.spark.sql.SparkSession, m: Model,
      nTrain: Long): DataFrame = {
    import spark.implicits._
    val rows = (-1L, -1, -1, m.base, nTrain, 0L) +:
      m.stumps.zipWithIndex.map { case (s, i) =>
        (i.toLong, s.f, s.b, s.dl, s.dr,
          java.lang.Double.doubleToLongBits(s.gain))
      }
    rows.toDF("idx", "f", "b", "dl", "dr", "gain_bits")
  }

  /** Inverse of [[modelToDf]] — a BOUNDED collect (rounds + 1 rows).
    * Fails loudly on a frame that is not a published model artifact.
    */
  def modelFromDf(df: DataFrame): (Model, Long) = {
    val rows = df.select(col("idx"), col("f"), col("b"), col("dl"),
        col("dr"), col("gain_bits"))
      .collect().sortBy(_.getLong(0))
    require(rows.nonEmpty && rows.head.getLong(0) == -1L,
      "Gbt.modelFromDf: no base row (idx = -1) — not a model artifact")
    val head = rows.head
    val stumps = rows.tail.zipWithIndex.map { case (r, i) =>
      require(r.getLong(0) == i.toLong,
        s"Gbt.modelFromDf: stump rows out of order at idx ${r.getLong(0)}")
      Stump(r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
        java.lang.Double.longBitsToDouble(r.getLong(5)))
    }
    (Model(head.getLong(3), stumps.toVector), head.getLong(4))
  }

  /** The DEPTH-2 model as a versionable frame (round 18 — r17 verdict
    * #1: the registry could only carry stumps, locking the engine's
    * best model class out of the serve/rollback lifecycle while the
    * reference's stored Phase 3 model is a real tree ensemble,
    * /root/reference/ML_ROADMAP.md Phase 3). One row per tree: the root
    * split, each optional child split (feature -1 = a side with no
    * child — that side serves its single leaf), the four leaf deltas,
    * and the three variance-reduction gains as raw IEEE bit patterns —
    * the same lossless round-trip contract as [[modelToDf]]. Row
    * idx = -1 carries (base, n_train).
    */
  def treeModelToDf(spark: org.apache.spark.sql.SparkSession,
      m: TreeModel, nTrain: Long): DataFrame = {
    import spark.implicits._
    val rows = (-1L, -1, -1, -1, -1, -1, -1, m.base, nTrain, 0L, 0L,
      0L, 0L, 0L) +:
      m.trees.zipWithIndex.map { case (t, i) =>
        (i.toLong, t.root.f, t.root.b,
          t.lChild.map(_.f).getOrElse(-1), t.lChild.map(_.b).getOrElse(-1),
          t.rChild.map(_.f).getOrElse(-1), t.rChild.map(_.b).getOrElse(-1),
          t.dLL, t.dLR, t.dRL, t.dRR,
          java.lang.Double.doubleToLongBits(t.rootGain),
          java.lang.Double.doubleToLongBits(t.lGain),
          java.lang.Double.doubleToLongBits(t.rGain))
      }
    rows.toDF("idx", "rf", "rb", "lf", "lb", "rcf", "rcb",
      "dll", "dlr", "drl", "drr", "rg_bits", "lg_bits", "cg_bits")
  }

  /** Inverse of [[treeModelToDf]] — a BOUNDED collect (rounds + 1
    * rows). Fails loudly on a frame that is not a tree-model artifact.
    */
  def treeModelFromDf(df: DataFrame): (TreeModel, Long) = {
    val rows = df.select(col("idx"), col("rf"), col("rb"), col("lf"),
        col("lb"), col("rcf"), col("rcb"), col("dll"), col("dlr"),
        col("drl"), col("drr"), col("rg_bits"), col("lg_bits"),
        col("cg_bits"))
      .collect().sortBy(_.getLong(0))
    require(rows.nonEmpty && rows.head.getLong(0) == -1L,
      "Gbt.treeModelFromDf: no base row (idx = -1) — not a tree-model " +
        "artifact")
    val head = rows.head
    val trees = rows.tail.zipWithIndex.map { case (r, i) =>
      require(r.getLong(0) == i.toLong,
        s"Gbt.treeModelFromDf: tree rows out of order at idx ${r.getLong(0)}")
      def child(fi: Int, bi: Int): Option[Node] =
        if (r.getInt(fi) < 0) None else Some(Node(r.getInt(fi), r.getInt(bi)))
      Tree(Node(r.getInt(1), r.getInt(2)), child(3, 4), child(5, 6),
        r.getLong(7), r.getLong(8), r.getLong(9), r.getLong(10),
        java.lang.Double.longBitsToDouble(r.getLong(11)),
        java.lang.Double.longBitsToDouble(r.getLong(12)),
        java.lang.Double.longBitsToDouble(r.getLong(13)))
    }
    (TreeModel(head.getLong(7), trees.toVector), head.getLong(8))
  }

  val FeatureNames: Seq[String] = Seq("x_size", "x_mod", "x_noise", "x_cat")
  val BinCols: Seq[String] = Seq("b_size", "b_mod", "b_noise", "b_cat")
  val NBins = 16
  val Rounds = 6

  /** Engine-shared feature/target SQL over `part` — `%DIV%` renders as
    * `div` (Spark) or `//` (DuckDB); everything else parses identically.
    * Features: p_size (the planted NONLINEAR signal — the target is
    * quadratic in it, so a linear fit reads ~zero slope), a linear
    * modular term, a pure-noise feature whose importance must come out
    * ≈ 0, and (round 17 — ML_ROADMAP.md Phase 2.2 step 6's `type_local`
    * keyword feature) the CATEGORICAL p_brand, reachable by the model
    * only through the leakage-safe out-of-fold target encoding below.
    * The target adds deterministic "noise" from a Knuth-hash lane (the
    * q_geo_grid_join synthesis discipline) so both engines rebuild the
    * identical supervised slice from the raw table, a per-brand-level
    * categorical term (8000·(brand# mod 5) — signal only a categorical
    * path can reach), and an axis-aligned INTERACTION term
    * (p_size × mod lane — the depth-2 tree's reason to exist: a stump
    * can capture at most half of it). All moduli are taken BEFORE
    * multiplication so the arithmetic stays in BIGINT at any key range.
    */
  val BinSql: Seq[String] = Seq(
    "LEAST(GREATEST(((CAST(p_size AS BIGINT) - 1) * 16) %DIV% 50, 0), 15)",
    "((CAST(p_partkey AS BIGINT) % 97) * 16) %DIV% 97",
    "((((CAST(p_partkey AS BIGINT) % 100000) * 2654435761) % 41) * 16) %DIV% 41")
  val TargetSql: String =
    "90000 + 100 * (CAST(p_size AS BIGINT) - 25) * (CAST(p_size AS BIGINT) - 25)" +
      " + 370 * (CAST(p_partkey AS BIGINT) % 97)" +
      " + ((CAST(p_partkey AS BIGINT) % 100000) * 1099087573) % 500" +
      " + 8000 * (CAST(substring(p_brand, 7) AS BIGINT) % 5)" +
      " + CASE WHEN p_size > 25 AND (CAST(p_partkey AS BIGINT) % 97) > 48" +
      " THEN 6000 ELSE 0 END"
  val TrainPredSql = "p_partkey % 5 <> 0"

  /** Categorical encoding constants — engine-shared literals. The
    * encoded value is the category's mean target in EXACT integer cents
    * (floor-div of exact sums), OUT-OF-FOLD for training rows (fold =
    * pk % 3; each row's own fold is excluded from its encoding — the
    * leakage-safe q_target_encode discipline) and the full-train mean
    * for test rows. The bin clamps a fixed linear grid over the
    * encoding: both engines' integer division differs on negative
    * operands (trunc vs floor), but any negative numerator lands < 0 in
    * both and the GREATEST(…, 0) clamp absorbs the difference.
    */
  val CatSql = "p_brand"
  val CatFoldSql = "CAST(p_partkey AS BIGINT) % 3"
  val CatEncLo = 126000L
  val CatEncSpan = 40000L

  def catBinSql(enc: String): String =
    s"CAST(LEAST(GREATEST((($enc - $CatEncLo) * 16) %DIV% $CatEncSpan," +
      " 0), 15) AS BIGINT)"

  def render(sql: String, duck: Boolean): String =
    sql.replace("%DIV%", if (duck) "//" else "div")

  /** Collected categorical-encoder model per memo key (r17 ADVICE #3:
    * the encoder aggregate is an eager bounded collect, and one query
    * family — q_model_serve alone calls featurize three times — was
    * paying an identical full part scan per call to rebuild the same
    * broadcast frame). Keyed by the caller's sfDir; the encoder is a
    * pure function of that dir's part table, so one JVM needs it once.
    */
  private val encMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long, Long)], Long)]()

  /** The out-of-fold encoder as driver data: ONE bounded aggregate over
    * the train slice (≤ |categories| × folds cells), collected, and the
    * per-fold/full/global encodings derived with exact `Math.floorDiv`
    * — the same floor division the oracle's `//` replays.
    */
  private def trainEncoder(base: DataFrame): (Seq[(String, Long, Long)], Long) = {
    val cells = base.filter(col("is_train"))
      .groupBy(col("cat"), col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      .collect()
      .map(r => (r.getAs[String]("cat"), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    require(cells.nonEmpty,
      "Gbt.featurize: empty training slice — the categorical encoder " +
        "needs training rows")
    // fold = -1 is the full-train encoding, served to test rows; the
    // global mean is the COALESCE fallback for a category unseen in
    // training. All integer floor-divs on non-negative sums — identical
    // to the oracle's HUGEINT `//`.
    val encRows: Seq[(String, Long, Long)] =
      cells.groupBy(_._1).toSeq.flatMap { case (cat, cs) =>
        val nn = cs.iterator.map(_._3).sum
        val ss = cs.iterator.map(_._4).sum
        cs.toSeq.map { case (_, f, n, sy) =>
          (cat, f, if (nn - n > 0) java.lang.Math.floorDiv(ss - sy, nn - n)
          else java.lang.Math.floorDiv(ss, nn))
        } :+ ((cat, -1L, java.lang.Math.floorDiv(ss, nn)))
      }
    val genc = java.lang.Math.floorDiv(
      cells.iterator.map(_._4).sum, cells.iterator.map(_._3).sum)
    (encRows, genc)
  }

  /** Spark-side featurized frame: the row key `pk`, the four bin
    * columns, integer-cents target `y`, and the train/test flag. The
    * three numeric bins are scan-side projections; the categorical bin
    * needs the out-of-fold encoder — [[trainEncoder]]'s bounded collect
    * turned into a local broadcast frame (the Ranking-offsets model-step
    * discipline), which keeps the consumer plan to one broadcast join:
    * leaving the encodings as dependent aggregates re-planned the cm/ct
    * subtree 3-4× per consumer with no exchange reuse (observed
    * exch=2 → 13 on every scoring row). A non-empty `memoKey` (the
    * caller's sfDir) memoizes the collected encoder so repeated
    * featurize calls in one JVM pay the encoder scan once.
    */
  def featurize(part: DataFrame, memoKey: String = ""): DataFrame = {
    val base = part.filter("p_size IS NOT NULL").selectExpr(
      Seq("CAST(p_partkey AS BIGINT) AS pk") ++
        BinCols.take(3).zip(BinSql).map { case (n, s) =>
          s"${render(s, duck = false)} AS $n"
        } ++ Seq(s"$CatSql AS cat",
        s"CAST($CatFoldSql AS BIGINT) AS fold",
        s"CAST($TargetSql AS BIGINT) AS y",
        s"($TrainPredSql) AS is_train"): _*)
    val (encRows, genc) =
      if (memoKey.nonEmpty)
        encMemo.computeIfAbsent(memoKey, _ => trainEncoder(base))
      else trainEncoder(base)
    val spark = part.sparkSession
    import spark.implicits._
    val encf = encRows.toDF("e_cat", "e_fold", "enc")
    base
      .join(broadcast(encf),
        col("cat") === col("e_cat") &&
          col("e_fold") === when(col("is_train"), col("fold"))
            .otherwise(lit(-1L)),
        "left")
      .select(col("pk"), col("b_size"), col("b_mod"), col("b_noise"),
        expr(render(catBinSql(s"coalesce(enc, ${genc}L)"), duck = false))
          .as("b_cat"),
        col("y"), col("is_train"))
  }

  /** Leaf-pattern column after `stumps`: bit j set iff stump j routes
    * the row left. Exact integer CASE chain — identical in the replay.
    */
  def patCol(stumps: Seq[Stump]): Column =
    if (stumps.isEmpty) lit(0)
    else stumps.zipWithIndex.map { case (s, j) =>
      when(col(BinCols(s.f)) <= s.b, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Model value (integer cents) at a leaf pattern. */
  def fOf(base: Long, stumps: Seq[Stump], p: Int): Long =
    base + stumps.zipWithIndex.map { case (s, j) =>
      if (((p >> j) & 1) == 1) s.dl else s.dr
    }.sum

  /** Scoring column: base + per-stump routed delta, all exact longs. */
  def fhatCol(m: Model): Column =
    m.stumps.foldLeft(lit(m.base): Column) { (acc, s) =>
      acc + when(col(BinCols(s.f)) <= s.b, lit(s.dl)).otherwise(lit(s.dr))
    }

  // ==================== depth-2 trees ====================
  //
  // Round 17 (r16 verdict #3): stumps cannot express feature
  // interactions — the planted p_size × mod term is the real-estate
  // lat×lon of this slice. A depth-2 tree is the same bounded histogram
  // induction run twice per round: ONE (pattern, feature, bin)
  // aggregate finds the root split, ONE (pattern, side, feature, bin)
  // aggregate finds the per-side child splits and the four leaf deltas.
  // The leaf-pattern bitmap carries 2 bits per round (leaf ∈ 0..3), so
  // K rounds keep the aggregate bounded by 4^K · features · bins cells
  // — still the XGBoost histogram algorithm's data-parallel half, one
  // level deeper. All recorded gains are variance REDUCTIONS
  // (raw split score minus the parent's sum-of-squares term — ≥ 0 by
  // Cauchy-Schwarz), floor-snapped at readout exactly like the stump
  // importance.

  final case class Node(f: Int, b: Int)
  final case class Tree(root: Node, lChild: Option[Node],
      rChild: Option[Node], dLL: Long, dLR: Long, dRL: Long, dRR: Long,
      rootGain: Double, lGain: Double, rGain: Double)
  final case class TreeModel(base: Long, trees: Seq[Tree])

  val TreeRounds = 4

  /** Tree-model scoring column: base + per-tree routed leaf delta. */
  def fhatColTree(m: TreeModel): Column =
    m.trees.foldLeft(lit(m.base): Column) { (acc, t) =>
      val l = t.lChild
        .map(c => when(col(BinCols(c.f)) <= c.b, lit(t.dLL))
          .otherwise(lit(t.dLR)))
        .getOrElse(lit(t.dLL))
      val r = t.rChild
        .map(c => when(col(BinCols(c.f)) <= c.b, lit(t.dRL))
          .otherwise(lit(t.dRR)))
        .getOrElse(lit(t.dRL))
      acc + when(col(BinCols(t.root.f)) <= t.root.b, l).otherwise(r)
    }

  /** Best (feature, bin) over collected histogram cells (p, f, v, n, Σy)
    * against the current model values `fint` — the shared split search
    * of the stump trainer, factored so root and child searches run the
    * IDENTICAL expression sequence the SQL replay writes. Returns
    * (f, b, rawGain, gainReduction, dl, dr); argmax on rawGain with
    * (f asc, b asc) tie-break, exactly the stump rule.
    */
  private def bestOver(cells: Array[(Int, Int, Int, Long, Long)],
      fint: Map[Int, Long],
      feats: Range): Option[(Int, Int, Double, Double, Long, Long)] = {
    var best: Option[(Int, Int, Double, Double, Long, Long)] = None
    for (f <- feats) {
      val fc = cells.filter(_._2 == f)
      val tn = fc.iterator.map(_._4).sum
      val tr = fc.iterator.map(c => c._5 - c._4 * fint(c._1)).sum
      var ln = 0L
      var lr = 0L
      for (b <- 0 until NBins - 1) {
        val at = fc.filter(_._3 == b)
        ln += at.iterator.map(_._4).sum
        lr += at.iterator.map(c => c._5 - c._4 * fint(c._1)).sum
        val rn = tn - ln
        val rr = tr - lr
        if (ln > 0 && rn > 0) {
          val lnD = ln.toDouble; val lrD = lr.toDouble
          val rnD = rn.toDouble; val rrD = rr.toDouble
          val gain = (lrD * lrD) / lnD + (rrD * rrD) / rnD
          if (best.forall(gain > _._3)) {
            val tnD = tn.toDouble; val trD = tr.toDouble
            // reduction = raw − parent term; the replay writes this
            // exact two-step (materialized gain, then the subtraction)
            val gainRed = gain - (trD * trD) / tnD
            val dl = math.floor(0.5 * (lrD / lnD) + 0.5).toLong
            val dr = math.floor(0.5 * (rrD / rnD) + 0.5).toLong
            best = Some((f, b, gain, gainRed, dl, dr))
          }
        }
      }
    }
    best
  }

  // ==================== depth-d generic induction ====================
  //
  // Round 18 (r17 verdict #6): the stump trainer and the depth-2 trainer
  // shared only `bestOver` — one more depth would have meant a third
  // copy. `trainDepth` is the ONE induction loop with depth as a
  // parameter: per round, ONE bounded histogram aggregate PER LEVEL,
  // keyed (boosting pattern, within-round path prefix, feature, bin) —
  // ≤ (2^depth)^rounds · 2^level · features · bins cells, the same
  // LightGBM-histogram data-parallel shape at every depth. The split
  // search per node and the leaf fitting stay driver model steps on the
  // collected cells. Round18Spec pins trainDepth(d=1) == train (the
  // stump trainer) model-for-model, and trainTree below IS
  // trainDepth(d=2) — the depth-2 output is conversion-exact against
  // the r17 two-level trainer (q_gbt_tree's full SQL training replay
  // re-proves every split decision each round).

  /** A split node of the generic trainer, carrying both the RAW argmax
    * gain (what [[Stump.gain]] records) and the variance REDUCTION
    * (what [[Tree]] records). */
  final case class DeepNode(f: Int, b: Int, gainRaw: Double, gainRed: Double)

  /** One depth-d tree: `splits` keyed by (level, path-prefix); `deltas`
    * keyed by leaf index (level-0 direction = most significant bit,
    * 0 = left/≤). A node with no valid split fills its whole leaf range
    * with its side-mean delta — rows under it route with all-left
    * suffix bits, so every reachable leaf is always present. */
  final case class DeepTree(depth: Int, splits: Map[(Int, Int), DeepNode],
      deltas: Map[Int, Long])

  final case class DeepModel(base: Long, depth: Int, trees: Seq[DeepTree])

  /** Within-round path prefix after `levels` levels of `splits` — the
    * exact integer CASE chain 0..2^levels-1 (dir 0 = routed left /
    * ≤ bin; a path with no recorded split routes 0). */
  private def pathPrefixCol(splits: Map[(Int, Int), DeepNode],
      levels: Int): Column = {
    var q: Column = lit(0)
    for (l <- 0 until levels) {
      val dir = (0 until (1 << l)).foldRight(lit(0): Column) { (p, els) =>
        splits.get((l, p)) match {
          case Some(n) =>
            when(q === lit(p),
              when(col(BinCols(n.f)) <= n.b, lit(0)).otherwise(lit(1)))
              .otherwise(els)
          case None => els
        }
      }
      q = q * lit(2) + dir
    }
    q
  }

  /** Leaf-pattern column after `trees` — `depth` bits per tree. */
  def patColDeep(trees: Seq[DeepTree], depth: Int): Column =
    if (trees.isEmpty) lit(0)
    else trees.zipWithIndex.map { case (t, j) =>
      pathPrefixCol(t.splits, depth) * lit(1 << (depth * j))
    }.reduce(_ + _)

  /** Deep-model value (integer cents) at a leaf pattern. */
  def fOfDeep(base: Long, trees: Seq[DeepTree], depth: Int, p: Int): Long = {
    val mask = (1 << depth) - 1
    base + trees.zipWithIndex.map { case (t, j) =>
      t.deltas((p >> (depth * j)) & mask)
    }.sum
  }

  /** Generic depth-d boosted-tree training — see the section comment.
    * η = 0.5 whole-cent leaf snapping, (gain DESC, f ASC, b ASC)
    * argmax, variance-reduction gains: the stump and depth-2 trainers'
    * exact rules at every level.
    */
  def trainDepth(trainDf: DataFrame, rounds: Int, depth: Int): DeepModel = {
    require(depth >= 1 && depth <= 4,
      s"Gbt.trainDepth: depth must be in 1..4, got $depth")
    trainCount.incrementAndGet()
    val r0 = trainDf.agg(count(lit(1)).cast("long").as("n"),
      sum(col("y")).as("sy")).collect()(0)
    val n0 = r0.getLong(0)
    require(n0 > 0, "Gbt.trainDepth: empty training slice")
    val base = java.lang.Math.floorDiv(r0.getLong(1), n0)
    var trees = Vector.empty[DeepTree]
    var exhausted = false
    val fv = explode(array(BinCols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("f"), col(c).cast("int").as("v"))
    }: _*)).as("fv")
    for (_ <- 1 to rounds if !exhausted) {
      val pat = patColDeep(trees, depth).cast("int").as("p")
      var splits = Map.empty[(Int, Int), DeepNode]
      var deltas = Map.empty[Int, Long]
      var fint: Map[Int, Long] = Map.empty
      var rootMissing = false
      for (l <- 0 until depth if !rootMissing) {
        // ONE aggregate for the whole level: every node's histogram in
        // one pass, sliced per path prefix on the driver
        val cells = trainDf
          .select(pat, pathPrefixCol(splits, l).cast("int").as("q"),
            col("y"), fv)
          .select(col("p"), col("q"), col("fv.f").as("f"),
            col("fv.v").as("v"), col("y"))
          .groupBy("p", "q", "f", "v")
          .agg(count(lit(1)).as("n"), sum("y").as("sy"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
            r.getLong(4), r.getLong(5)))
        if (l == 0)
          fint = cells.iterator.map(_._1).toSet
            .map((p: Int) => p -> fOfDeep(base, trees, depth, p)).toMap
        for (path <- 0 until (1 << l)) {
          val live = l == 0 || splits.contains((l - 1, path >> 1))
          if (live) {
            val sc = cells.filter(_._2 == path)
              .map(c => (c._1, c._3, c._4, c._5, c._6))
            bestOver(sc, fint, BinCols.indices) match {
              case Some((f, b, raw, red, dl, dr)) =>
                splits += ((l, path) -> DeepNode(f, b, raw, red))
                if (l == depth - 1) {
                  deltas += ((path << 1) -> dl)
                  deltas += (((path << 1) | 1) -> dr)
                }
              case None if l == 0 =>
                // no valid root split anywhere: training is done
                rootMissing = true
              case None =>
                // no valid split for this node: one leaf at the side
                // mean — totals from the f = 0 cells (every row appears
                // once under every feature; the replay reads the same
                // f = 0 slice). The whole leaf range under this node
                // gets the delta (rows route all-left below it).
                val f0c = sc.filter(_._2 == 0)
                val tn = f0c.iterator.map(_._4).sum
                val tr = f0c.iterator
                  .map(c => c._5 - c._4 * fint(c._1)).sum
                val d = math.floor(
                  0.5 * (tr.toDouble / tn.toDouble) + 0.5).toLong
                val width = depth - l
                for (leaf <- (path << width) until ((path + 1) << width))
                  deltas += (leaf -> d)
            }
          }
        }
      }
      if (rootMissing) exhausted = true
      else trees :+= DeepTree(depth, splits, deltas)
    }
    DeepModel(base, depth, trees)
  }

  /** Deep-model scoring column: base + per-tree routed leaf delta via
    * the recursive nested CASE (route left/right at each recorded
    * split; a node with no split serves its filled leaf delta
    * unconditionally) — the depth-d generalization of [[fhatColTree]],
    * mirrored token for token by the generated oracle's SQL.
    */
  def fhatColDeep(m: DeepModel): Column =
    m.trees.foldLeft(lit(m.base): Column) { (acc, t) =>
      def route(l: Int, p: Int): Column =
        t.splits.get((l, p)) match {
          case Some(n) if l < m.depth =>
            when(col(BinCols(n.f)) <= n.b, route(l + 1, p << 1))
              .otherwise(route(l + 1, (p << 1) | 1))
          case _ => lit(t.deltas(p << (m.depth - l)))
        }
      acc + route(0, 0)
    }

  /** A depth-1 [[DeepModel]] as the stump [[Model]] — Round18Spec pins
    * this against [[train]] bit-for-bit. */
  def deepToModel(m: DeepModel): Model = {
    require(m.depth == 1, s"deepToModel needs depth 1, got ${m.depth}")
    Model(m.base, m.trees.map { t =>
      val n = t.splits((0, 0))
      Stump(n.f, n.b, t.deltas(0), t.deltas(1), n.gainRaw)
    })
  }

  /** A depth-2 [[DeepModel]] as the [[TreeModel]] the serving /
    * importance paths consume. */
  def deepToTreeModel(m: DeepModel): TreeModel = {
    require(m.depth == 2, s"deepToTreeModel needs depth 2, got ${m.depth}")
    TreeModel(m.base, m.trees.map { t =>
      val root = t.splits((0, 0))
      def child(p: Int): Option[Node] =
        t.splits.get((1, p)).map(n => Node(n.f, n.b))
      Tree(Node(root.f, root.b), child(0), child(1),
        t.deltas(0), t.deltas(1), t.deltas(2), t.deltas(3),
        root.gainRed,
        t.splits.get((1, 0)).map(_.gainRed).getOrElse(0.0),
        t.splits.get((1, 1)).map(_.gainRed).getOrElse(0.0))
    })
  }

  /** Train depth-2 boosted trees — [[trainDepth]] at depth 2: per
    * round ONE root histogram aggregate + ONE path-conditioned child
    * aggregate, both bounded; split search and leaf fitting on the
    * collected cells (driver model step). A side with no valid child
    * split keeps a single leaf at its side mean. Same η = 0.5
    * whole-cent snapping as the stumps.
    */
  def trainTree(trainDf: DataFrame, rounds: Int = TreeRounds): TreeModel =
    deepToTreeModel(trainDepth(trainDf, rounds, depth = 2))

  /** Train on a (checkpointed) featurized TRAIN frame. One bounded
    * histogram aggregate per round; split search and leaf fitting on
    * the collected cells (driver model step). Learning rate η = 0.5,
    * leaf deltas snapped to whole cents so the model stays in the exact
    * integer domain end to end.
    */
  def train(trainDf: DataFrame, rounds: Int = Rounds,
      nFeatures: Int = BinCols.length): Model = {
    require(nFeatures >= 1 && nFeatures <= BinCols.length,
      s"nFeatures must be in 1..${BinCols.length}")
    val feats = BinCols.take(nFeatures)
    trainCount.incrementAndGet()
    val r0 = trainDf.agg(count(lit(1)).cast("long").as("n"),
      sum(col("y")).as("sy")).collect()(0)
    val n0 = r0.getLong(0)
    require(n0 > 0, "Gbt.train: empty training slice")
    // exact floor-div mean — DuckDB's HUGEINT // replays it verbatim
    val base = java.lang.Math.floorDiv(r0.getLong(1), n0)
    var stumps = Vector.empty[Stump]
    var exhausted = false
    for (_ <- 1 to rounds if !exhausted) {
      val cells = trainDf.select(patCol(stumps).cast("int").as("p"),
          col("y"), explode(array(feats.zipWithIndex.map { case (c, i) =>
            struct(lit(i).as("f"), col(c).cast("int").as("v"))
          }: _*)).as("fv"))
        .select(col("p"), col("fv.f").as("f"), col("fv.v").as("v"),
          col("y"))
        .groupBy("p", "f", "v")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          r.getLong(3), r.getLong(4)))
      val fint: Map[Int, Long] = cells.iterator.map(_._1).toSet
        .map((p: Int) => p -> fOf(base, stumps, p)).toMap
      var best: Option[Stump] = None
      for (f <- feats.indices) {
        val fc = cells.filter(_._2 == f)
        val tn = fc.iterator.map(_._4).sum
        val tr = fc.iterator.map(c => c._5 - c._4 * fint(c._1)).sum
        var ln = 0L
        var lr = 0L
        for (b <- 0 until NBins - 1) {
          val at = fc.filter(_._3 == b)
          ln += at.iterator.map(_._4).sum
          lr += at.iterator.map(c => c._5 - c._4 * fint(c._1)).sum
          val rn = tn - ln
          val rr = tr - lr
          if (ln > 0 && rn > 0) {
            val lnD = ln.toDouble; val lrD = lr.toDouble
            val rnD = rn.toDouble; val rrD = rr.toDouble
            // the replay writes this exact tree: (lr²/ln) + (rr²/rn)
            val gain = (lrD * lrD) / lnD + (rrD * rrD) / rnD
            if (best.forall(gain > _.gain)) {
              val dl = math.floor(0.5 * (lrD / lnD) + 0.5).toLong
              val dr = math.floor(0.5 * (rrD / rnD) + 0.5).toLong
              best = Some(Stump(f, b, dl, dr, gain))
            }
          }
        }
      }
      best match {
        case Some(s) => stumps :+= s
        case None => exhausted = true // no valid split anywhere: stop
      }
    }
    Model(base, stumps)
  }
}
