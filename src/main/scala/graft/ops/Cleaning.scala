package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Coercing-cleanup column helpers — the reference's pandas idioms
  * (`to_numeric(errors='coerce').fillna(0)`, `to_datetime(errors='coerce')`,
  * NaN-dropping doc cleanup in index_to_es.clean_doc) as Column expressions
  * that run inside codegen on every executor.
  */
object Cleaning {

  /** to_numeric(errors='coerce').fillna(default): try_cast gives null on
    * garbage, coalesce fills.
    */
  def coerceDouble(c: Column, default: Double = 0.0): Column =
    coalesce(c.try_cast("double"), lit(default))

  /** to_datetime(errors='coerce'): null on unparseable (try_to_timestamp —
    * plain to_timestamp THROWS under ANSI mode, like cast).
    */
  def coerceTimestamp(c: Column, fmt: String = "yyyy-MM-dd HH:mm:ss"): Column =
    try_to_timestamp(c, lit(fmt))

  /** Range-validation predicate builder (index_to_es.py filters). */
  def inRange(c: Column, lo: Double, hi: Double): Column =
    c.isNotNull && c >= lo && c <= hi

  /** QUARANTINE / dead-letter split (r13 verdict #6): the reference's
    * bulk indexer tolerates and ACCOUNTS per-doc failures
    * (index_to_es.py:116-143) — a production pipeline never silently
    * drops a reject, it routes it to a dead-letter output with a reason.
    * `rules` are (reason, validity-predicate) pairs evaluated null-safely
    * (a NULL verdict is a failure — an unevaluable rule must quarantine,
    * not pass); a row failing several rules carries every reason,
    * comma-joined in rule order, so the dead-letter table is directly
    * aggregable by failure mode. Returns (valid, quarantined-with-
    * `reject_reason`).
    *
    * Scale: the reason array is one codegen projection over the scan —
    * both outputs share it and their row-class filters push to the scan;
    * a sink writing both sides pays two passes (or one `foreachBatch`
    * with two filtered writes — the streaming shape), never a shuffle.
    */
  def quarantine(df: org.apache.spark.sql.DataFrame,
      rules: Seq[(String, Column)])
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(rules.nonEmpty, "quarantine needs at least one rule")
    val reason = array_join(array_compact(array(rules.map { case (name, ok) =>
      when(!coalesce(ok, lit(false)), lit(name))
    }: _*)), ",")
    val tagged = df.withColumn("reject_reason", reason)
    (tagged.filter(col("reject_reason") === "").drop("reject_reason"),
      tagged.filter(col("reject_reason") =!= ""))
  }
}
