package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One verifiable query: a Spark implementation plus (when SQL-expressible)
  * an equivalent ANSI SQL string the driver runs in DuckDB over the same
  * parquet tables. Column names/aliases MUST match between the two.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** DuckDB `list_reduce` twin: left fold seeded with the FIRST element,
    * so operand order is identical on both engines — the bit-exact
    * cross-engine recipe used by the embedding queries (q73/q99/q146).
    * The 10000-element slice cap bounds any plausible vector dim; it
    * lives HERE so a future dim bump lands in one place.
    */
  def seededFold(
      arr: org.apache.spark.sql.Column,
      f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
        (a, x) => a + x): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{aggregate, element_at, slice}
    aggregate(slice(arr, 2, 10000), element_at(arr, 1), f)
  }

  /** An empty scratch directory for queries that materialize a table or
    * index per execution (q173, q175). One SINGLETON directory per
    * prefix, cleared (not re-created) on every call: bench's min-of-N
    * loop re-runs such queries many times per JVM, and a fresh temp dir
    * per call would accumulate N full table/index copies on disk and N
    * shutdown-hook threads for the life of the process — steady-state
    * disk stays at one copy per query this way. The single hook per
    * prefix removes the directory at JVM exit. Not safe for concurrent
    * calls with the same prefix (queries run sequentially in
    * bench/verify).
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  def scratchDir(prefix: String): String = {
    val dir = scratchDirs.computeIfAbsent(prefix, p => {
      val d = java.nio.file.Files.createTempDirectory(p)
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(d.toFile)))
      d
    })
    // clear the previous run's contents; keep the directory itself
    Option(dir.toFile.listFiles()).toSeq.flatten.foreach(rmTree)
    dir.toString
  }

  /** PER-JVM root for oracle artifacts (VERDICT r17 task #4). The
    * previous FIXED `/tmp/graft_oracle_artifacts/<name>` design raced:
    * any two JVMs sharing an artifact name (a correctness sweep and a
    * concurrent test suite) clear/rewrite each other's files mid-run —
    * the r17 q54b phantom failure (NOTES item 104). Keying the root by
    * JVM pid makes concurrent runs disjoint BY CONSTRUCTION; the oracle
    * SQL texts interpolate this root at class-load, so the per-run path
    * lands verbatim in the `oracle_sql.json` each Verify run dumps, and
    * the DuckDB oracle (a separate, later process) reads exactly the
    * files the SAME run's queries wrote.
    *
    * The artifacts must OUTLIVE the JVM (the oracle runs after it
    * exits), so nothing is deleted at exit; instead, first use prunes
    * sibling run roots idle for >24 h — steady-state disk stays bounded
    * at the last day's runs instead of growing forever.
    */
  lazy val oracleArtifactRoot: String = {
    val base = new java.io.File("/tmp/graft_oracle_artifacts")
    base.mkdirs()
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(base.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("run_") && f.lastModified() < cutoff)
      .foreach(rmTree)
    val dir = new java.io.File(base, s"run_${ProcessHandle.current().pid()}")
    dir.mkdirs()
    dir.getAbsolutePath
  }

  /** A scratch directory under [[oracleArtifactRoot]] that SURVIVES this
    * JVM: for queries whose oracle SQL must read back an artifact the
    * query wrote (q202b's saved IVF index — the driver runs Verify
    * first, then the DuckDB oracles in a separate process, so the path
    * must be on disk after exit and spelled verbatim in the dumped SQL).
    * Cleared on every call like [[scratchDir]] (re-runs within one JVM
    * stay at one copy per name); cross-JVM isolation comes from the
    * per-pid root.
    */
  def oracleArtifactDir(name: String): String = {
    val dir = new java.io.File(s"$oracleArtifactRoot/$name")
    Option(dir.listFiles()).toSeq.flatten.foreach(rmTree)
    dir.mkdirs()
    dir.toString
  }

  /** Read one of the driver-generated test tables (TESTDATA.md).
    *
    * The `events.ts` physical encoding has varied across testdata
    * generations — parquet TIMESTAMP(NANOS) (which Spark can only read as
    * a long, via `nanosAsLong`) and plain TIMESTAMP(µs) (which Spark reads
    * as TimestampNTZ when `isAdjustedToUTC=false`). Hard-coding either
    * encoding breaks every events query the day the data is regenerated,
    * so the reader branches on the type that actually comes back; see
    * [[normalizeEventsTs]]. Spark reads TIMESTAMP(NANOS) only under
    * `spark.sql.legacy.parquet.nanosAsLong`, which must still be set when
    * the scan runs, so `t` sets it on the session only when the footer of
    * an `events` file says `ts` is TIMESTAMP(NANOS) ([[tsIsNanos]], no
    * Spark job); any other encoding leaves the session's config as it was.
    *
    * A path-based parquet read infers its schema with a Spark job over
    * the file footers, every time. `t` infers it once per unchanged
    * table instead: [[schemaMemo]] maps the table path to the schema
    * Spark inferred, keyed by a fingerprint of every leaf file's (path,
    * length, modification time) plus the session's parquet-reading
    * confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
    * `spark.sql.caseSensitive`), taken after the `events` branch has
    * decided `nanosAsLong`. A hit reads with that schema declared, so the
    * read launches no job; the schema is exactly what inference returned for
    * the same files under the same confs, so plans and results are
    * unchanged. A changed fingerprint replaces the path's one entry.
    * The memo goes stale only if a file is rewritten with a different
    * footer but the same length and the same modification time (a
    * rewrite within the file system's mtime granularity, one
    * millisecond locally).
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      if (tsIsNanos(s, path)) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventsTs(readMemoized(s, path))
    } else readMemoized(s, path)
  }

  /** Whether `ts` is stored as parquet TIMESTAMP(NANOS), read from the
    * footer of `path` (a file, or the first parquet file of a directory)
    * on the driver. False when there is no such file or column; the read
    * then reports any problem itself.
    */
  private def tsIsNanos(s: SparkSession, path: String): Boolean =
    scala.util.Try {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation.{
        TimeUnit, TimestampLogicalTypeAnnotation}
      val conf = s.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val files = if (!st.isDirectory) Array(st)
        else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
      files.headOption.exists { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          schema.containsField("ts") &&
            (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
              case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
              case _ => false
            })
        } finally reader.close()
      }
    }.getOrElse(false)

  /** Every leaf file's (path, length, mtime) and the parquet confs. */
  private type Fingerprint = (Vector[(String, Long, Long)], Vector[(String, String)])

  /** Table path → (fingerprint, inferred schema); see [[t]]. One entry
    * per path, JVM-wide, holding no session.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Fingerprint, StructType)]()

  private def readMemoized(s: SparkSession, path: String): DataFrame = {
    val key = tableFingerprint(s, path)
    Option(schemaMemo.get(path)).filter(e => key.contains(e._1)) match {
      case Some((_, schema)) => s.read.schema(schema).parquet(path)
      case None =>
        val df = s.read.parquet(path)
        key.foreach(k => schemaMemo.put(path, (k, df.schema)))
        df
    }
  }

  /** Listed through the path's Hadoop `FileSystem` on the driver, no
    * job. None when the listing fails (say, a missing path): the read
    * then goes through unmemoized and reports the error itself.
    * `listStatus`, not `listFiles`: a `LocatedFileStatus` reads the
    * file's permissions, which the local file system gets by starting
    * an `ls` process per file (about 3 ms).
    */
  private def tableFingerprint(s: SparkSession, path: String): Option[Fingerprint] =
    scala.util.Try {
      import org.apache.hadoop.fs.{FileSystem, Path}
      def leaves(fs: FileSystem, p: Path): Vector[(String, Long, Long)] =
        fs.listStatus(p).toVector.flatMap { f =>
          if (f.isDirectory) leaves(fs, f.getPath)
          else Vector((f.getPath.toString, f.getLen, f.getModificationTime))
        }
      val p = new Path(path)
      val files = leaves(p.getFileSystem(s.sessionState.newHadoopConf()), p)
      val confs = s.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      }.toVector
      (files.sorted, confs.sorted)
    }.toOption

  /** Normalize whatever physical encoding `events.ts` arrived in to the
    * session-timezone `TimestampType` every downstream query expects.
    * All sessions here pin `spark.sql.session.timeZone=UTC`, so the
    * NTZ→TZ cast is wall-clock- and instant-preserving and DuckDB (which
    * reads the same parquet as a naive timestamp) stays in exact parity.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      // TIMESTAMP(NANOS) read under nanosAsLong: integer division — the ns
      // epoch exceeds 2^53, double math would round
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as unsupported type $other; expected LongType (nanos), " +
            "TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
}
