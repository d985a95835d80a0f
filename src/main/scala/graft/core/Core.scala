package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Shared table loaders and oracle-safe expression helpers.
  *
  * Determinism rules (SURVEY.md §7.3): every contract query ends in a
  * total-order sort; money/double aggregations go through integer cents;
  * timestamps leave the engine as formatted strings so Spark (µs) and
  * DuckDB (ns) agree.
  */
object Core {
  /** Driver contract query type: (session, sfDir) => result. */
  type Q = (SparkSession, String) => DataFrame

  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts normalization — the generator has shipped it as parquet
    // TIMESTAMP(NANOS) (which Spark reads as a raw long under the
    // legacy conf) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    // (which Spark reads as TIMESTAMP_NTZ). Normalize both to the
    // session-zoned TimestampType the engine computes on: nanos long →
    // integer DIV 1000 (exact, the same truncation DuckDB's epoch_us
    // applies, SURVEY.md §7.3d); NTZ → cast, which under the harness's
    // UTC session timezone is a wall-time identity — exactly how the
    // DuckDB oracle reads the same column.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val files = fileIndex(s, path).allFiles()
    val raw = footerSchema(s, files).fold(s.read)(s.read.schema).parquet(path)
    val normalized = if (name == "events") raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
    else raw
    if (ScanFloorTables(name)) scanFloor(s, files, normalized)
    else normalized
  }

  /** The schema `s.read.parquet(path)` infers, read on the driver with
    * no job: Spark's non-merging inference reads ONE footer — the first
    * `_common_metadata`, else the first `_metadata`, else the first
    * data file in path order — on a one-task job per call, which was
    * most of the jobs a contract query ran while it was built. This
    * reads that same footer, from `files`, the listing Spark's own
    * file index makes of the path, and converts it as Spark does: the
    * row schema Spark stored in the file's metadata when it carries
    * one, else `ParquetToSparkSchemaConverter` under the session's
    * conf (so `nanosAsLong` and the NTZ inference apply). Partition
    * columns of `k=v` directories need no footer: Spark appends them to
    * a given schema as it does to an inferred one. None, and the caller
    * infers, when the session merges schemas or the index lists no
    * file. */
  private def footerSchema(s: SparkSession, files: Seq[FileStatus])
      : Option[StructType] = {
    val state = sessionState(s)
    if (state.conf.isParquetSchemaMergingEnabled) None
    else {
      val (summaries, data) = files.map(_.getPath)
        .sortBy(_.toString).partition(f => isSummary(f.getName))
      (Seq("_common_metadata", "_metadata")
        .flatMap(n => summaries.find(_.getName == n)) ++ data)
        .headOption.map { f =>
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(f, footer(state.newHadoopConf(), f)),
            new ParquetToSparkSchemaConverter(state.conf))
        }
    }
  }

  /** Rows of table `name` under `dir`, summed from its data files'
    * Parquet footers on the driver in path order, no job. Reading stops
    * once the running sum passes `cap`, so the driver reads a bounded
    * number of footers at any scale: the result is exact up to `cap`
    * and some value above `cap` past it. */
  def footerRows(s: SparkSession, dir: String, name: String,
      cap: Long): Long = {
    val conf = sessionState(s).newHadoopConf()
    val files = fileIndex(s, s"$dir/$name.parquet").allFiles()
      .map(_.getPath).filterNot(f => isSummary(f.getName))
      .sortBy(_.toString).iterator
    var rows = 0L
    while (rows <= cap && files.hasNext)
      rows += footer(conf, files.next()).getBlocks.asScala
        .map(_.getRowCount).sum
    rows
  }

  private def sessionState(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** Spark's listing of `path`, with its hidden-file rules and its
    * partition discovery, as a read of `path` builds it. */
  private def fileIndex(s: SparkSession, path: String) =
    new InMemoryFileIndex(s, Seq(new Path(path)), Map.empty, None)

  private def isSummary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  private def footer(conf: Configuration, f: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try r.getFooter finally r.close()
  }

  /** Scan-parallelism floor for small low-split inputs (optimization
    * guide §2.5 "input skew" / §6): a table whose parquet footprint
    * yields fewer scan splits than the session has cores serializes not
    * just the read but EVERY map-side operator up to the first exchange
    * — tokenize/explode, sketch hashing, vector decode — onto those few
    * tasks while the rest of the machine idles (measured: the sf0.1
    * single-file, single-row-group tables run their whole pre-exchange
    * segment on ONE task; a row-group-bounded file cannot be split by
    * `spark.sql.files.maxPartitionBytes`, so the fix must be an explicit
    * round-robin exchange after the read). [[table]] applies it to the
    * tables in [[ScanFloorTables]]; [[scanFloorFires]] gates it on the
    * parquet files of the table's one listing, so the exchange exists
    * only where it pays.
    *
    * Round-robin (`repartition(n)`) rather than a key: even spread with
    * no key-skew risk, and deterministic under retries because Spark
    * local-sorts before round-robin assignment (SPARK-23207, on by
    * default). Row content is untouched and every contract query ends
    * in a total-order sort, so results are unchanged (oracle-verified).
    * Lazy: the listing is bounded driver IO at plan build, no job runs
    * (LazinessSpec).
    */
  private[graft] def scanFloor(s: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame =
    scanFloor(s, fileIndex(s, s"$dir/$name.parquet").allFiles(), df)

  private def scanFloor(s: SparkSession, files: Seq[FileStatus],
      df: DataFrame): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    // only parquet data files count toward the gate: the suffix drops
    // the summary files (_metadata, _common_metadata) the index lists
    val data = files.filter(_.getPath.getName.endsWith(".parquet"))
    if (scanFloorFires(data.map(_.getLen).sum, data.size, n))
      df.repartition(n)
    else df
  }

  /** The tables [[table]] reads through [[scanFloor]]. The exchange
    * pays only where the pre-exchange per-row work is heavy — the text
    * corpus's tokenize/sketch/winnow/quality chains burn whole seconds
    * single-threaded, while the relational tables' scan segments are
    * cheap projections and the embeddings family runs many small
    * bounded jobs (Lloyd rounds, probe builds) where an extra exchange
    * per job is pure overhead. MEASURED both ways at sf0.1 on 32 cores
    * (full 171-query bench): ungated, the heavy text queries won
    * 5.5/4.6/2.7/2.6 s (dedup_incremental, pipeline_dedup,
    * dedup_cluster_cc, txt_langid_ngram) but the sub-1.5 s basket paid
    * +29 s in aggregate and the embeddings family +8 s — net +11 s;
    * gated to `documents` the wins stay and the tax goes
    * (OPTIMIZATION_r17.md). `profile_table` applies the floor to its
    * one `orders` read itself. */
  val ScanFloorTables: Set[String] = Set("documents")

  /** Below this many parquet bytes a table gets no scan exchange:
    * dimension tables this small broadcast anyway, and an exchange
    * there is pure stage overhead. */
  val ScanFloorMinBytes: Long = 64L * 1024

  /** Above this many parquet bytes a table gets no scan exchange: the
    * natural splits already spread the scan, and repartitioning a large
    * input is exactly the shuffle this engine spends its plans avoiding
    * — at 100 TB the gate NEVER fires (inputs arrive as many >= 128 MB
    * files) and the plan is identical to the ungated read. */
  val ScanFloorMaxBytes: Long = 32L * 1024 * 1024

  /** Whether [[scanFloor]] inserts its exchange for a table of `bytes`
    * parquet bytes in `files` parquet files on a session of `cores`
    * cores: the bytes lie in [[ScanFloorMinBytes]] ..
    * [[ScanFloorMaxBytes]], and there are fewer files than half the
    * cores (a many-file directory already scans wide). */
  def scanFloorFires(bytes: Long, files: Int, cores: Int): Boolean =
    cores > 1 && bytes >= ScanFloorMinBytes && bytes <= ScanFloorMaxBytes &&
      files < cores / 2

  /** Mark a multiply-referenced subplan as compute-once. Catalyst does
    * not common-subexpression-eliminate repeated subplans, so an
    * iterative/unrolled plan (label propagation, Lloyd rounds, prefix
    * self-joins) re-executes the shared relation through lineage on
    * every reference — at 100 TB that is re-reading the corpus once per
    * round. `persist` only MARKS the plan (no job is scheduled, build
    * stays lazy — LazinessSpec), and the first action materializes the
    * relation once; every later reference is a cache read. MEMORY_AND_DISK
    * spills instead of recomputing under pressure, the right level for
    * executor-sized intermediates.
    *
    * Every `shared` relation is also registered so [[releaseShared]]
    * can drop them after the consuming action: a persisted plan that is
    * never unpersisted outlives its query, and a session composing many
    * queries (a library user, Verify, Bench, the perfbench harness)
    * would otherwise accumulate dead cached relations until
    * memory pressure degrades every later plan.
    *
    * A plan the cache manager already holds is returned as is: a second
    * `persist` only logs "Asked to cache already cached data", and a
    * second registration would queue the same entry twice for release.
    */
  def shared(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      sharedRegistry.add(p)
      p
    }

  /** Relations [[shared]] has registered and not yet released. */
  private[graft] def sharedPending: Int = sharedRegistry.size

  private val sharedRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every relation [[shared]] has registered since the last
    * release — the per-query cache scope. Call after the action that
    * consumes a query's result (Verify's write, Bench's sink);
    * between queries the cache manager is then empty of graft-created
    * entries. Unpersisting an already-unpersisted plan is a no-op, so
    * utilities that manage their own lifecycle (the CC loop's
    * per-segment intermediates) compose safely. Non-blocking: eviction proceeds while the
    * next query plans.
    */
  def releaseShared(): Unit = {
    var df = sharedRegistry.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = sharedRegistry.poll()
    }
  }

  /** Exact money arithmetic: double -> integer cents. Test values carry
    * <= 2 decimals, so x*100 is within ~1e-10 of an integer and rounding
    * is unambiguous in both Spark and DuckDB; summing longs is exact and
    * associative (shuffle-order independent, unlike double sums).
    */
  def cents(c: Column): Column = round(c * 100).cast(LongType)

  /** events-as-weather-observations: `props.k` is the WMO-style code
    * (0..99), `value` the temperature reading, `ts` the observation time.
    * Mirrors the forecast record shape of /root/reference/weather.py:73-85.
    */
  def observations(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").withColumn(
      "code",
      from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
        .getField("k"))

  /** Python's `"{:.0f}".format(x)` exactly: round-half-even via bround,
    * plus the "-0" output Python produces for x in [-0.5, -0) (Spark's
    * bround goes through BigDecimal, which has no negative zero). */
  def pyFmt0f(c: Column): Column =
    when(c < 0 && bround(c) === 0.0, lit("-0"))
      .otherwise(format_string("%.0f", bround(c)))

  /** ISO-8601 to minute precision, the reference's `current.time` format
    * ("YYYY-MM-DDTHH:MM", /root/reference/weather.py:77,306). */
  def isoMin(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm")

  /** DuckDB-side equivalents, kept adjacent so Spark/SQL stay in sync. */
  val isoMinSql: String => String = c => s"strftime($c, '%Y-%m-%dT%H:%M')"
  val kSql: String = "CAST(json_extract_string(props, '$.k') AS INTEGER)"

  /** The local session the command-line mains (Verify, Bench, Smoke)
    * run on: `local[N]` with N shuffle partitions, N from
    * `SPARK_GRAFT_CPUS`, else the host's available processors. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fingerprint of a testdata corpus: a hash over the (name, size)
    * pairs of the dir's parquet files. The driver REGENERATES
    * /root/testdata between rounds (observed round 7: events.ts
    * changed physical type and the dedup family's density moved);
    * Bench's timing history keys on this tag so numbers measured
    * against data that no longer exists can't poison its tripwire.
    * File sizes are a content proxy: deterministic generation ⇒ same
    * bytes ⇒ same sizes, and any content change at these row counts
    * moves parquet sizes. */
  def corpusTag(dir: String): String = {
    try {
      val entries = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      // an empty/missing dir must not hash to a CONSTANT: two broken
      // dirs would share a tag and their histories would cross-match
      if (entries.isEmpty) throw new IllegalStateException(s"no parquet in $dir")
      val fs = entries.map { e =>
        if (e.isFile) s"${e.getName}:${e.length}" // driver-written flat files:
          // digest unchanged since round 7 so the tagged history stays valid;
          // deterministic generation ⇒ same bytes ⇒ same sizes
        else {
          // Spark-written parquet DIRECTORIES: File.length on a dir is
          // filesystem-dependent — walk the leaves and fold size + mtime
          // so a size-coincident rewrite still moves the tag (ADVICE r7)
          val ls = scala.util.Using.resource(
            java.nio.file.Files.walk(e.toPath))(
            _.iterator.asScala.map(_.toFile).filter(_.isFile).toList)
          s"${e.getName}:${ls.map(_.length).sum}:" +
            s"${if (ls.isEmpty) 0L else ls.map(_.lastModified).max}"
        }
      }.mkString(",")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(fs.getBytes("UTF-8"))
      md.take(4).map(b => f"$b%02x").mkString
    } catch { case NonFatal(_) =>
      // NEVER-EQUAL failure value (ADVICE r7): a constant "unknown"
      // silently re-enabled cross-corpus median matching between any
      // two failure cases; a per-call unique tag instead finds no
      // history rows, so tripwires/medians just stay quiet
      s"unknown-${java.util.UUID.randomUUID().toString.take(8)}"
    }
  }
}
