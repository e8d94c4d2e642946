package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Table-valued functions exposing the ACID table's read surface to pure
  * SQL (VERDICT r13 task #5 — the "SQL surface" story). A Thrift/Connect
  * user who never sees a Scala DataFrame can now write
  *
  * {{{
  *   SELECT * FROM txtable_merged('/data/telemetry')
  *   SELECT * FROM txtable_at('/data/telemetry', 7)       -- time travel
  *   SELECT * FROM txtable_asof('/data/telemetry', 1718000000000)
  * }}}
  *
  * Each builder turns literal arguments into the SAME logical plan the
  * DataFrame API produces ([[graft.streaming.TxTable.read]] /
  * `readMergedAt` / `readAt` / `readAsOf`), so Catalyst sees one plan
  * shape regardless of entry path — SqlParitySpec pins hash equality
  * between the SQL and DSL forms. SQL text sees them on a session built
  * with [[graft.GraftExtensions]] or after [[GraftFunctions.register]];
  * DataFrame code calls `TxTable` directly and needs neither.
  *
  * Arguments must be foldable literals: a table PATH is catalog metadata,
  * not data — resolving it per-row is meaningless, and literal-only
  * arguments keep the snapshot pinned at ANALYSIS time exactly like the
  * DataFrame read path.
  */
object TxTableTvf {

  private def litString(e: Expression, fn: String, arg: String): String =
    if (e.foldable) e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a string literal, got $other")
    } else throw new IllegalArgumentException(
      s"$fn: $arg must be a literal, got ${e.sql}")

  private def litLong(e: Expression, fn: String, arg: String): Long =
    if (e.foldable) e.eval() match {
      case n: Number => n.longValue
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got $other")
    } else throw new IllegalArgumentException(
      s"$fn: $arg must be a literal, got ${e.sql}")

  private def csv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def spark: SparkSession = SparkSession.active

  private def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.logical

  private def emptyTable(fn: String, path: String): Nothing =
    throw new IllegalArgumentException(
      s"$fn: table $path is empty or absent — commit at least once first")

  /** txtable_read(path): the raw current snapshot (delta-granular rows on
    * an LSM table — use txtable_merged for the last-value view).
    */
  def read(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 1, "txtable_read(path)")
    val path = litString(exprs.head, "txtable_read", "path")
    plan(graft.streaming.TxTable.read(spark, path)
      .getOrElse(emptyTable("txtable_read", path)))
  }

  /** txtable_merged(path[, keysCsv, orderCsv]): the last-value view —
    * correct on both merge-on-write and LSM-delta tables.
    */
  def merged(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 1 || exprs.size == 3,
      "txtable_merged(path) or txtable_merged(path, keysCsv, orderCsv)")
    val path = litString(exprs.head, "txtable_merged", "path")
    val keys = if (exprs.size == 3)
      csv(litString(exprs(1), "txtable_merged", "keys"))
    else Seq("serverName", "tag")
    val order = if (exprs.size == 3)
      csv(litString(exprs(2), "txtable_merged", "order"))
    else Seq("serverTimestamp", "sourceTimestamp")
    plan(graft.streaming.TxTable.readMerged(spark, path, keys, order)
      .getOrElse(emptyTable("txtable_merged", path)))
  }

  /** txtable_at(path, version): time travel to a committed version. */
  def at(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 2, "txtable_at(path, version)")
    val path = litString(exprs.head, "txtable_at", "path")
    val version = litLong(exprs(1), "txtable_at", "version")
    plan(graft.streaming.TxTable.readAt(spark, path, version)
      .getOrElse(emptyTable("txtable_at", s"$path@v$version")))
  }

  /** txtable_asof(path, tsMillis): TIMESTAMP AS OF — the latest version
    * whose commit time is <= tsMillis (epoch ms).
    */
  def asof(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 2, "txtable_asof(path, tsMillis)")
    val path = litString(exprs.head, "txtable_asof", "path")
    val tsMs = litLong(exprs(1), "txtable_asof", "tsMillis")
    plan(graft.streaming.TxTable.readAsOf(spark, path, tsMs)
      .getOrElse(emptyTable("txtable_asof", s"$path@$tsMs")))
  }

  /** txtable_history(path): the DESCRIBE HISTORY analog — one row per
    * retained commit, newest first: (version, op, timestamp_ms,
    * n_added, n_removed). Ops/observability from pure SQL; the detail
    * map is deliberately flattened away (its keys are op-specific).
    */
  def history(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 1, "txtable_history(path)")
    val path = litString(exprs.head, "txtable_history", "path")
    val rows = graft.streaming.TxTable.history(path)
      .map(c => (c.version, c.op, c.timestampMs, c.nAdded, c.nRemoved))
    val sp = spark
    import sp.implicits._
    plan(rows.toDF("version", "op", "timestamp_ms", "n_added", "n_removed"))
  }

  /** txtable_key_history(path, keyCol, keyValue[, sinceVersion,
    * untilVersion]): one key's change trajectory across the (bounded)
    * retained history — the [[graft.streaming.TxTable.keyHistory]]
    * audit from pure SQL, with the same windowing contract (64-version
    * cap, pagination via the version bounds, vacuumed prefixes skipped
    * by default and refused when named explicitly). The key filter is
    * an equality on one key column — the audit question as asked
    * ("this tag: when, from what, to what").
    */
  def keyHistory(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 3 || exprs.size == 5,
      "txtable_key_history(path, keyCol, keyValue[, sinceVersion, untilVersion])")
    val path = litString(exprs.head, "txtable_key_history", "path")
    val keyCol = litString(exprs(1), "txtable_key_history", "keyCol")
    val keyValue = litString(exprs(2), "txtable_key_history", "keyValue")
    val since = if (exprs.size == 5)
      litLong(exprs(3), "txtable_key_history", "sinceVersion") else -1L
    val until = if (exprs.size == 5)
      litLong(exprs(4), "txtable_key_history", "untilVersion") else -1L
    plan(graft.streaming.TxTable.keyHistory(spark, path, keyCol,
      org.apache.spark.sql.functions.col(keyCol) === keyValue,
      sinceVersion = since, untilVersion = until))
  }

  /** (name, usage, builder) for every TVF — one list consumed by both
    * registration paths so they can never drift.
    */
  val all: Seq[(String, String, Seq[Expression] => LogicalPlan)] = Seq(
    ("txtable_key_history",
      "txtable_key_history(path, keyCol, keyValue[, sinceVersion, untilVersion]) " +
        "- one key's change trajectory across the bounded retained history",
      keyHistory _),
    ("txtable_history",
      "txtable_history(path) - one row per retained commit, newest first",
      history _),
    ("txtable_read",
      "txtable_read(path) - raw current snapshot of a graft ACID table",
      read _),
    ("txtable_merged",
      "txtable_merged(path[, keysCsv, orderCsv]) - last-value view of a graft ACID table",
      merged _),
    ("txtable_at",
      "txtable_at(path, version) - time travel to a committed version",
      at _),
    ("txtable_asof",
      "txtable_asof(path, tsMillis) - latest version committed at or before tsMillis",
      asof _))
}
