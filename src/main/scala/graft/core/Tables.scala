package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lazy handles to the driver-generated test tables (TESTDATA.md).
  *
  * Each parquet file is read only when a query actually touches it —
  * one unreadable table must never fail queries that don't reference
  * it (round-1 lesson: an events-only format issue failed all 35
  * declared queries through the old eager loader).
  *
  * Resolving a table (listing its files, inferring its schema with one
  * Spark job, sizing it) is done once per (session, path), not once
  * per query: see [[Tables#t]].
  *
  * At 100 TB these would be date-partitioned parquet/iceberg
  * directories; everything downstream takes a [[DataFrame]] so the
  * swap is purely a change of path here.
  */
final class Tables(val spark: SparkSession, private[graft] val dir: String) {
  /** Scan with small-file fan-out, memoized per (session, path).
    *
    * The memo holds the resolved scan: the listed relation with its
    * inferred schema, and the fan-out below. It holds no rows — every
    * query still reads the files. Each lookup revalidates the entry
    * with one metadata call, [[Tables.stamp]] (a file's length and
    * modification time; for a directory its files' summed length and
    * newest modification time), and a table whose files changed is
    * resolved again. A path the call cannot stat is never memoized: its
    * read fails, or succeeds, as it would unmemoized. Entries of stopped
    * sessions are swept.
    *
    * Fan-out: the gate tables are written as ONE parquet row group
    * each, and a row group is the unit Spark can't split —
    * `maxPartitionBytes` assigns it to a single task, so without this
    * every narrow pass (tokenize, shingle, signature) would run on one
    * core however many sit idle. Tables under [[Tables.SmallFileBytes]]
    * are fanned out to the full default parallelism right after the
    * scan: the shuffle moves at most that many bytes (trivial by
    * construction), predicates and pruning still push through the
    * exchange to the scan, and a production-scale table — many files,
    * many row groups — never enters the branch.
    */
  private def t(n: String): DataFrame = {
    val path = s"$dir/$n.parquet"
    def resolve(bytes: Long): DataFrame = {
      val df = spark.read.parquet(path)
      if (bytes < Tables.SmallFileBytes)
        df.repartition(spark.sparkContext.defaultParallelism)
      else df
    }
    Tables.stamp(spark, path) match {
      case Some(s) =>
        Tables.scans.get(spark, path, (_: (Tables.Stamp, DataFrame))._1 == s)(
          (s, resolve(s.bytes)))._2
      case None =>
        // missing or unreadable: the read reports it (or finds the
        // path after all); the size stays unknown, so no fan-out
        resolve(Long.MaxValue)
    }
  }

  lazy val region: DataFrame = t("region")
  lazy val nation: DataFrame = t("nation")
  lazy val customer: DataFrame = t("customer")
  lazy val supplier: DataFrame = t("supplier")
  lazy val part: DataFrame = t("part")
  lazy val orders: DataFrame = t("orders")
  lazy val lineitem: DataFrame = t("lineitem")
  lazy val documents: DataFrame = t("documents")
  lazy val embeddings: DataFrame = t("embeddings")

  /** `events.parquet` has stored `ts` two ways across driver fixture
    * generations, and downstream code must see ONE type (LTZ
    * TIMESTAMP, micros) either way:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    as a timestamp; with `spark.sql.legacy.parquet.nanosAsLong=
    *    true` (set here and in [[GraftSession]]) it surfaces as a
    *    nanos LongType, converted to micros via floor division —
    *    `ns div 1000` truncates toward zero == floor for the
    *    all-positive epoch range, matching DuckDB's `epoch_us`
    *    truncation so micro-aligned threshold comparisons agree.
    *  - parquet timestamp[us] with no zone (current fixtures): reads
    *    back as TIMESTAMP_NTZ, which time functions like
    *    `unix_micros` reject. Cast to LTZ — exact and monotone under
    *    the pinned-UTC session zone every entry point shares
    *    ([[GraftSession]]), and the instant DuckDB's `epoch_us` sees.
    */
  lazy val events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp_ltz"))
      case _ => raw // already an LTZ timestamp
    }
  }
}

object Tables {
  /** Below this, a scan is fanned out to full parallelism (see [[Tables#t]]). */
  val SmallFileBytes: Long = 64L * 1024 * 1024

  /** What a table's files looked like when it was resolved: their
    * summed length and newest modification time. */
  private final case class Stamp(bytes: Long, modified: Long)

  /** The resolved scans of [[Tables#t]], each with its [[Stamp]]. */
  private val scans = new SessionMemo[(Stamp, DataFrame)]

  /** `path`'s [[Stamp]] from one recursive listing (a plain file lists
    * as itself), or None when it cannot be listed. */
  private def stamp(spark: SparkSession, path: String): Option[Stamp] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      var bytes, modified = 0L
      while (files.hasNext) {
        val f = files.next()
        bytes += f.getLen
        modified = math.max(modified, f.getModificationTime)
      }
      Some(Stamp(bytes, modified))
    } catch {
      // best-effort (a missing path surfaces on the real read) — but
      // fatal VM errors and interrupts must propagate
      case scala.util.control.NonFatal(_) => None
    }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Run a read action against catalog tables that a concurrent
    * `compact` may be swapping — the reader-side
    * half of the maintenance contract. The swap is two directory
    * renames (original set aside, rewrite moved in), so a reader
    * listing or scanning inside that window — or holding a file
    * index cached BEFORE the swap — fails with a missing-path error.
    * The window is two rename syscalls wide; this helper closes it
    * by refreshing the named tables' file indexes and retrying with
    * bounded backoff. Any other failure (analysis, arithmetic, OOM)
    * rethrows immediately — retrying those would mask real bugs.
    *
    * This is the non-transactional-lake contract made explicit:
    * readers never see a torn table (the swap directories are
    * complete at every instant a directory exists) and transient
    * listing failures are absorbed here; a table format with
    * snapshot isolation remains the 100 TB upgrade path.
    */
  def withSwapRetry[T](spark: SparkSession, tables: Seq[String],
      attempts: Int = 8, backoffMs: Long = 50L)(body: => T): T = {
    def missingPath(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
        case _: java.io.FileNotFoundException => true
        case t => val m = t.getMessage
          m != null && (m.contains("FileNotFoundException") ||
            m.contains("does not exist") || m.contains("PATH_NOT_FOUND"))
      }
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: Throwable if missingPath(e) && attempt < attempts =>
          tables.foreach { t =>
            try spark.catalog.refreshTable(t)
            catch { case _: Throwable => () } // table mid-swap: retry resolves
          }
          Thread.sleep(backoffMs * attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Session factory with the scale-oriented defaults every entry point
  * shares: AQE (runtime re-plan, skew-join splitting, broadcast
  * demotion), partition counts sized for the local harness (on a real
  * cluster these come from spark-defaults / dynamic allocation).
  */
object GraftSession {
  /** Environment variable `name` as a positive integer, if set. A set
    * value that is not one fails, naming the variable, before it can
    * reach a conf or a loop bound. `env` is the environment lookup.
    */
  def positiveInt(name: String, env: String => Option[String] = sys.env.get): Option[Int] =
    checked(name, env, "a positive integer")(_.toIntOption.filter(_ > 0))

  /** Environment variable `name` as `true` or `false`, if set; any
    * other value fails, naming the variable. */
  def boolean(name: String, env: String => Option[String] = sys.env.get): Option[Boolean] =
    checked(name, env, "true or false")(v => Option.when(v == "true" || v == "false")(v == "true"))

  private def checked[T](name: String, env: String => Option[String], what: String)(
      parse: String => Option[T]): Option[T] =
    env(name).map(v => parse(v).getOrElse(
      throw new IllegalArgumentException(s"$name must be $what, got '$v'")))

  /** Task slots from `SPARK_GRAFT_CPUS` (default 4), checked before a
    * session starts instead of reaching `local[...]` as a bad master URL.
    */
  def cpus(raw: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int =
    positiveInt("SPARK_GRAFT_CPUS", _ => raw).getOrElse(4)

  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Spark's cache of compiled generated classes is one JVM-wide LRU
      // of 100 entries by default, and an LRU cycled through a working
      // set larger than itself evicts every entry before it is reused:
      // eleven interleaved sub-second gates compile about 114 classes,
      // so a long-lived session recompiled nearly all of them (Janino,
      // ~10 ms each) on every query. A gate compiles the same classes
      // at any data scale, so the bound is a constant, not a scale
      // knob. 1,024 is a memory ceiling, not the whole surface: one
      // pass over all 346 gates compiles ~8,300 classes at ~54 KB of
      // heap each, so this caps the cache at ~55 MB.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      // Spark 4.1 writes a sibling .crc checksum file for every
      // streaming-checkpoint file (offset/commit logs AND every state
      // store delta/snapshot) and probes for it on every read. For
      // stateful operators that is 2× the metadata ops per state
      // commit — measured on the stream-stream join gates: t184 min
      // 25.2 s → 17.3 s, t100 17.9 s → 12.1 s with checksums off,
      // identical results. The checksums guard against storage-layer
      // corruption of checkpoint files; recovery correctness does not
      // depend on them (format-level validation stays on). This is an
      // EXPLICIT engine setting, not an accident of the harness:
      // default off because at scale these are object-store PUT/HEAD
      // requests on the per-batch critical path; a deployment on
      // storage WITHOUT strong integrity guarantees opts back into the
      // upstream-safe value with SPARK_GRAFT_CHECKPOINT_CHECKSUM=true
      // (or spark-defaults) — no code edit, no knowledge of Spark's
      // conf key required.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        boolean("SPARK_GRAFT_CHECKPOINT_CHECKSUM").getOrElse(false))
      .config("spark.ui.enabled", "false")
}
