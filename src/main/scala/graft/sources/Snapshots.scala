package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count => fCount, input_file_name, lit, when, max => fMax, min => fMin}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Minimal snapshot-isolated table layout — versioned (time-travel) reads
  * over immutable parquet, the public core idea of lakehouse table
  * formats (an immutable MANIFEST per version enumerating the data files
  * that constitute the snapshot; data files are never rewritten; commit
  * = atomic publication of the next manifest):
  *
  *   - a commit stages its parquet into a fresh per-ATTEMPT subdirectory
  *     (`data/commit-v<N>-<uuid>/` — unique per attempt, so a crashed
  *     attempt's orphan directory never blocks the retry of the same
  *     version), then publishes `_manifests/v<N>.list` by writing `.tmp`
  *     and atomically claiming the destination (hard LINK on local
  *     filesystems, where rename(2) would overwrite; exclusive RENAME on
  *     HDFS-like stores — see `tryPublish`). Readers either see version
  *     N whole (the manifest exists and every listed file is immutable)
  *     or not at all; a crash mid-commit leaves a `.tmp` and
  *     unreferenced data files — garbage for [[vacuum]], never a torn
  *     snapshot. The exclusive publish is the concurrency check: two
  *     racing writers of the same version cannot both publish — the
  *     loser RE-READS the new latest and retries at the next version
  *     (append/overwrite never lose data to a race; read-modify-write
  *     commits — [[commitDelete]], [[commitMerge]], [[commitOptimize]] —
  *     abort instead, because their staged rows were derived from a
  *     snapshot that is no longer latest);
  *   - APPEND commits list the previous snapshot's files plus the staged
  *     ones; OVERWRITE commits list only the staged ones. Every prior
  *     version stays readable until an explicit [[vacuum]];
  *   - a read at version N hands Spark exactly the manifest's files: the
  *     scan is the same parquet scan the unversioned table would get —
  *     column pruning and predicate pushdown per file as usual — plus
  *     one small manifest read, which is what keeps time travel free at
  *     100 TB (snapshotting never copies data, only file lists);
  *   - a commit may declare ZONE-MAP columns (`statsCols`, integral):
  *     the manifest then carries each file's per-column min/max, and
  *     [[readVersionRange]] / [[commitDelete]] / [[commitMerge]] prune
  *     at PLANNING time to the overlapping files. Multi-column maps are
  *     what a Z-order/Hilbert layout needs to pay off: a predicate on
  *     ANY declared column skips files (the manifest line format is
  *     `path\tmin1\tmax1\tmin2\tmax2...`, one (min,max) per declared
  *     column in declaration order).
  */
object Snapshots {

  private val VersionRe = "v(\\d+)\\.list".r
  private val StatsHeader = "#stats="
  private val BatchHeader = "#batch="
  private val OpHeader = "#op="
  private val TsHeader = "#ts="
  private val RowsHeader = "#rows="
  private val CopiedHeader = "#copied="
  private val DvHeader = "#dv="
  private val DvRowsHeader = "#dvrows="
  private val HwmName = "_batch.hwm"

  /** The change-feed columns appended to table rows by [[readChangeFeed]]. */
  val ChangeTypeCol = "_change_type"
  val ChangeVersionCol = "_commit_version"

  /** Target rows per staged change-record file (~4M narrow CDC rows ≈
    * tens of MB of snappy parquet — the guide-§6 file-size band).
    */
  private val FeedRowsPerFile = 4000000L

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = new Path(dir, "_manifests")

  /** Highest published version, 0 when the table has none. */
  def latestVersion(spark: SparkSession, dir: String): Int = {
    val md = manifestDir(dir)
    val f = fs(spark, md)
    if (!f.exists(md)) 0
    else
      f.listStatus(md)
        .map(_.getPath.getName)
        .collect { case VersionRe(v) => v.toInt }
        .foldLeft(0)(math.max)
  }

  /** One zone-map cell: the declared column's [min, max] within a file. */
  final case class ColStats(min: Long, max: Long)

  /** One manifest entry: a data file plus its zone maps — one [[ColStats]]
    * per commit-declared stats column, in declaration order (empty when
    * the snapshot carries none) — and the file's ROW COUNT. Every
    * manifest published since the `#rows=` header exists carries counts
    * (`None` only when parsing a pre-rows manifest), which is what lets
    * [[metadataRowCount]] / [[metadataRangeCount]] answer aggregates
    * without touching data files.
    */
  final case class ManifestEntry(path: String, stats: Seq[ColStats], rows: Option[Long] = None)

  /** (declared stats columns — empty when the snapshot carries no zone
    * maps — and the entries). Public so specs and metadata harnesses can
    * audit manifests without a data read.
    */
  private val CrcHeader = "#crc="

  private def crc32Of(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** Manifest lines, INTEGRITY-CHECKED: manifests publish with a leading
    * `#crc=` line (CRC32 of everything after it), and every read
    * re-verifies — a flipped bit in the commit metadata surfaces as a
    * loud refusal naming the version, never as a silently wrong file
    * list (a corrupted path or zone-map bound would otherwise read the
    * wrong data or prune wrongly — the metadata is the one place the
    * format cannot lean on parquet's own checksums). Pre-CRC manifests
    * (no header) read unchecked, so the check is backwards-compatible.
    */
  private def manifestLines(spark: SparkSession, dir: String, version: Int): List[String] = {
    val mf = new Path(manifestDir(dir), s"v$version.list")
    val f = fs(spark, mf)
    require(f.exists(mf), s"snapshot v$version does not exist under $dir")
    val in = f.open(mf)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val body =
      if (content.startsWith(CrcHeader)) {
        val nl = content.indexOf('\n')
        val declared = content.substring(CrcHeader.length, nl).toLong
        val rest = content.substring(nl + 1)
        require(crc32Of(rest) == declared,
          s"manifest v$version of $dir is CORRUPT (crc mismatch): refusing to read a " +
            "damaged file list — restore the manifest or time-travel to another version")
        rest
      } else content
    body.linesIterator.filter(_.nonEmpty).toList
  }

  /** The commit operation that produced `version` (`append`, `overwrite`,
    * `delete`, `merge`, `optimize`, `restore`), None for manifests
    * published before op headers existed. [[readChangeFeed]] keys its
    * per-version semantics off this.
    */
  def commitOp(spark: SparkSession, dir: String, version: Int): Option[String] =
    manifestLines(spark, dir, version)
      .find(_.startsWith(OpHeader))
      .map(_.drop(OpHeader.length))

  /** Publication wall-clock (epoch ms) of `version`, None for manifests
    * published before timestamp headers existed.
    */
  def commitTimestampMs(spark: SparkSession, dir: String, version: Int): Option[Long] =
    manifestLines(spark, dir, version)
      .find(_.startsWith(TsHeader))
      .map(_.drop(TsHeader.length).toLong)

  /** Time travel by TIMESTAMP — "the table as the pipeline saw it at
    * time T": resolves to the HIGHEST surviving version whose commit
    * timestamp is <= `tsMs` and reads it. The version number stays the
    * ground truth (a writer clock stepping backwards cannot resurrect an
    * older snapshot: among qualifying versions the max VERSION wins, the
    * Delta convention); vacuumed versions are transparently skipped.
    * Refuses a timestamp before the first surviving commit.
    */
  def readAsOfTimestamp(spark: SparkSession, dir: String, tsMs: Long): DataFrame = {
    val latest = latestVersion(spark, dir)
    val md = manifestDir(dir)
    val f = fs(spark, md)
    val v = (1 to latest).iterator
      .filter(v => f.exists(new Path(md, s"v$v.list")))
      .flatMap(v => commitTimestampMs(spark, dir, v).filter(_ <= tsMs).map(_ => v))
      .foldLeft(0)(math.max)
    require(v >= 1,
      s"no surviving version of $dir was published at or before epoch-ms $tsMs")
    readVersion(spark, dir, v)
  }

  def manifest(
      spark: SparkSession,
      dir: String,
      version: Int): (Seq[String], Seq[ManifestEntry]) = {
    val lines = manifestLines(spark, dir, version)
    val statsCols = lines
      .find(_.startsWith(StatsHeader))
      .map(_.drop(StatsHeader.length).split(',').toSeq)
      .getOrElse(Nil)
    // `#rows=1` flags that every entry line carries a trailing row count
    // (all manifests published since the header exists do; its absence
    // means a pre-rows manifest, whose entries parse with rows = None)
    val hasRows = lines.exists(_.startsWith(RowsHeader))
    val entries = lines.filterNot(_.startsWith("#")).map { line =>
      val parts = line.split('\t')
      val expected = 1 + 2 * statsCols.length + (if (hasRows) 1 else 0)
      require(parts.length == expected,
        s"bad manifest line (expected ${statsCols.length} zone-map column pairs" +
          s"${if (hasRows) " + row count" else ""}): $line")
      val stats = statsCols.indices.map { i =>
        ColStats(parts(1 + 2 * i).toLong, parts(2 + 2 * i).toLong)
      }
      ManifestEntry(parts(0), stats, if (hasRows) Some(parts.last.toLong) else None)
    }
    (statsCols, entries)
  }

  /** The highest `#batch=` header ever committed. The common case reads
    * ONE side file: each exactly-once commit records (batchId, version)
    * in `_manifests/_batch.hwm` after its manifest rename, so the scan
    * only walks manifests ABOVE the recorded version (a crash between
    * rename and hwm update leaves the hwm stale-LOW, which the scan
    * covers; a missing/corrupt hwm degrades to the full downward walk —
    * the hwm is a high-water hint, never load-bearing for correctness).
    * Without it, a long un-vacuumed history paid O(versions) small-file
    * reads per micro-batch — O(V^2) over a stream's lifetime.
    */
  private def lastBatchId(spark: SparkSession, dir: String): Option[Long] =
    lastBatchIdUpTo(spark, dir, latestVersion(spark, dir))

  /** [[lastBatchId]] bounded to versions <= `upTo` — the form [[commit]]'s
    * exactly-once check uses so the check and the version claim are
    * LINEARIZED: the caller lists latest ONCE, checks batch ids within
    * exactly that prefix, and then claims version latest+1 exclusively.
    * Winning the claim proves no commit interleaved between the listing
    * and the publish (it would have taken latest+1 and made us lose), so
    * two zombie attempts of the SAME batch can never both land — the CAS
    * the r11 docstring said the filesystem lacked was the version claim
    * all along; the old code just re-listed latest AFTER the batch check,
    * leaving a check-then-act gap.
    */
  private def lastBatchIdUpTo(spark: SparkSession, dir: String, upTo: Int): Option[Long] = {
    val hwm = readHwm(spark, dir)
    val floor = hwm.map(_._2).getOrElse(0)
    val latest = upTo
    val scanned = (latest to math.max(1, floor + 1) by -1).iterator
      .map { v =>
        val mf = new Path(manifestDir(dir), s"v$v.list")
        val f = fs(spark, mf)
        // versions below a vacuum's keepFrom no longer exist — skip them
        // (their batch ids are necessarily older than the survivors')
        if (!f.exists(mf)) None
        else {
          val in = f.open(mf)
          try
            scala.io.Source
              .fromInputStream(in, "UTF-8")
              .getLines()
              .find(_.startsWith(BatchHeader))
              .map(_.drop(BatchHeader.length).toLong)
          finally in.close()
        }
      }
      .collectFirst { case Some(id) => id }
    (scanned.toSeq ++ hwm.map(_._1).toSeq).reduceOption(_ max _)
  }

  /** (batchId, version) hint from the side file; None when absent or
    * unparseable (both degrade to the full manifest walk).
    */
  private def readHwm(spark: SparkSession, dir: String): Option[(Long, Int)] = {
    val p = new Path(manifestDir(dir), HwmName)
    val f = fs(spark, p)
    try {
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val line =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
          finally in.close()
        val Array(b, v) = line.split('\t')
        Some((b.toLong, v.toInt))
      }
    } catch { case _: Throwable => None }
  }

  /** Advance the high-water hint (best-effort: written AFTER the manifest
    * rename, so a crash leaves it stale-low; write/replace failures are
    * swallowed — the hint only ever saves reads).
    */
  private def writeHwm(spark: SparkSession, dir: String, batchId: Long, version: Int): Unit =
    try {
      val md = manifestDir(dir)
      val f = fs(spark, md)
      val tmp = new Path(md, s"$HwmName.tmp")
      val out = f.create(tmp, true)
      try out.write(s"$batchId\t$version\n".getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val dst = new Path(md, HwmName)
      f.delete(dst, false)
      f.rename(tmp, dst)
      ()
    } catch { case _: Throwable => () }

  /** EXACTLY-ONCE streaming append — the foreachBatch sink contract:
    * Structured Streaming replays a failed micro-batch with the SAME
    * (batchId, data), so committing the batch id inside the manifest
    * makes the retry provably a no-op: a crash before the manifest
    * rename left no version (the retry re-runs cleanly — staged orphan
    * files are vacuum fodder, never visible); a crash after the rename
    * but before the checkpoint commit replays a batch id ≤ the recorded
    * one and is SKIPPED. The skip check is re-evaluated after every lost
    * publish race, so a retry that loses the rename to its twin attempt
    * sees the twin's batch header and skips. Two attempts of the SAME
    * batch interleaving arbitrarily (a zombie driver racing its
    * replacement) cannot both land: each iteration lists latest ONCE,
    * checks batch ids within that prefix, and claims EXACTLY latest+1
    * exclusively — winning the claim proves no commit interleaved
    * between check and publish, so the exclusive version claim is the
    * CAS (the Delta txn-log discipline; SnapshotsSpec races real
    * threads on one batch id to pin it). Returns whether the batch was
    * committed (false = already present).
    */
  def commitAppendExactlyOnce(
      df: DataFrame,
      dir: String,
      batchId: Long,
      statsCols: Seq[String] = Nil): Boolean =
    commit(df, dir, carryForward = true, statsCols, batchId = Some(batchId)).isDefined

  /** A foreachBatch function writing this table exactly-once:
    * `stream.writeStream.foreachBatch(Snapshots.sink(dir)).start()`.
    */
  def sink(dir: String, statsCols: Seq[String] = Nil): (DataFrame, Long) => Unit =
    (df, batchId) => { commitAppendExactlyOnce(df, dir, batchId, statsCols); () }

  /** [[sink]] with commit-time constraint enforcement: a micro-batch
    * violating any declared predicate FAILS THE QUERY (the exception
    * propagates out of foreachBatch, the checkpoint does not advance,
    * nothing is published) — the Delta-constraints streaming behavior: a
    * poisoned batch stops the pipeline for the operator to fix rather
    * than landing silently. The replay SKIP runs BEFORE validation: a
    * batch id the table already holds no-ops without re-validating, so
    * the recovery path works end to end — the query dies on the poison,
    * the operator lands the CORRECTED batch out-of-band under the same
    * batch id ([[commitAppendExactlyOnce]]), and the restarted query's
    * replay of that id skips cleanly and the stream proceeds; nothing
    * before or after the poison is lost. The violation profile costs one
    * aggregate pass per micro-batch (all constraints in one job).
    */
  def checkedSink(
      dir: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)],
      statsCols: Seq[String] = Nil): (DataFrame, Long) => Unit =
    (df, batchId) => {
      if (!lastBatchId(df.sparkSession, dir).exists(_ >= batchId)) {
        val bad = constraintViolations(df, constraints)
          .filter(col("n_violations") > 0L)
          .collect()
        require(bad.isEmpty,
          s"micro-batch $batchId refused by $dir: constraint violations — " +
            bad.map(r => s"${r.getString(0)} (${r.getLong(1)} rows)").mkString(", "))
        commitAppendExactlyOnce(df, dir, batchId, statsCols)
        ()
      }
    }

  /** Zone maps for freshly staged files: one narrow read of ONLY the
    * staged batch computes each file's per-column min/max (at real
    * cluster scale this would come from the parquet footers the write
    * already produced; the extra single-column scan keeps this
    * implementation honest without a footer parser). Declared columns
    * must be integral-typed and non-null within every staged file — a
    * silently truncated or null zone map would prune wrongly later, so
    * both are rejected AT COMMIT time.
    */
  private def zoneEntries(
      spark: SparkSession,
      stage: Path,
      statsCols: Seq[String]): Seq[ManifestEntry] =
    zoneEntriesOf(spark, Seq(stage.toString), statsCols)

  /** Per-file zone maps + row counts from the staged files' PARQUET
    * FOOTERS — driver-side metadata reads, never a second scan of data
    * that was just written (the place Delta/Iceberg writers source their
    * per-file stats). Footer min/max are EXACT for INT32/INT64 columns
    * (truncation applies only to binary types), and the commit contract
    * already restricts zone-map columns to integral types, so the stats
    * are bit-identical to the scan the old implementation ran — minus
    * one full Spark read job per commit, which at 100 TB re-read the
    * entire staged output. Falls back to the scan path if a footer
    * carries no statistics (e.g. stats-disabled external files on the
    * COPY INTO path).
    */
  private def zoneEntriesOf(
      spark: SparkSession,
      paths: Seq[String],
      statsCols: Seq[String]): Seq[ManifestEntry] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    val conf = spark.sparkContext.hadoopConfiguration
    val files: Seq[Path] = paths.flatMap { s =>
      val p = new Path(s)
      val f = fs(spark, p)
      if (f.getFileStatus(p).isDirectory)
        f.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
      else Seq(p)
    }
    val out = files.flatMap { fp =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fp, conf))
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        // a 0-row staged file carries no zone information and is skipped,
        // exactly as the scan's per-file groupBy produced no row for it
        if (reader.getRecordCount == 0L) None
        else {
          val stats = statsCols.map { c =>
            require(schema.containsField(c), s"zone-map column $c missing from staged schema")
            val t = schema.getType(Seq(c): _*)
            val ann: org.apache.parquet.schema.LogicalTypeAnnotation =
              if (t.isPrimitive) t.asPrimitiveType().getLogicalTypeAnnotation else null
            val prim = t.isPrimitive && {
              val pt = t.asPrimitiveType()
              (pt.getPrimitiveTypeName == INT64 || pt.getPrimitiveTypeName == INT32) &&
              (ann == null ||
                ann.isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation])
            }
            require(prim, s"zone-map column $c must be integral, got ${t}")
            // UNSIGNED int columns (possible on the COPY INTO path) store
            // unsigned-ordered statistics whose raw bits sign-extend wrong
            // through genericGetMin/Max — take the scan fallback, which
            // reads UINT32 as LongType correctly (and refuses UINT64 as
            // Decimal, exactly as before the footer path existed)
            ann match {
              case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
                  if !i.isSigned =>
                throw new NoFooterStats
              case _ => ()
            }
            var mn = Long.MaxValue
            var mx = Long.MinValue
            var seen = false
            footer.getBlocks.forEach { b =>
              b.getColumns.forEach { cc =>
                if (cc.getPath.toDotString == c) {
                  val s = cc.getStatistics
                  // null statistics (stats disabled at write) abort the
                  // footer path — the caller falls back to the scan
                  if (s == null) throw new NoFooterStats
                  if (s.hasNonNullValue) {
                    val (lo, hi) = (s.genericGetMin, s.genericGetMax) match {
                      case (a: java.lang.Long, b2: java.lang.Long) => (a.longValue, b2.longValue)
                      case (a: java.lang.Integer, b2: java.lang.Integer) =>
                        (a.longValue, b2.longValue)
                      case other => throw new NoFooterStats
                    }
                    if (lo < mn) mn = lo
                    if (hi > mx) mx = hi
                    seen = true
                  }
                }
              }
            }
            require(seen,
              s"zone-map column $c is all-NULL in staged file ${fp.toString}; " +
                "commit refused (a null zone map cannot prune)")
            ColStats(mn, mx)
          }
          Some(ManifestEntry(fp.toString, stats, Some(reader.getRecordCount)))
        }
      } catch {
        case _: NoFooterStats => return zoneEntriesScan(spark, paths, statsCols)
      } finally reader.close()
    }
    out.sortBy(_.path)
  }

  private final class NoFooterStats extends RuntimeException

  /** The scan-based fallback: one Spark job grouping the staged read by
    * file. Only taken when a footer carries no usable statistics.
    */
  private def zoneEntriesScan(
      spark: SparkSession,
      paths: Seq[String],
      statsCols: Seq[String]): Seq[ManifestEntry] = {
    val staged = spark.read.parquet(paths: _*)
    statsCols.foreach { c =>
      val dt = staged.schema(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
        s"zone-map column $c must be integral, got $dt")
    }
    val aggs = statsCols.flatMap(c =>
      Seq(fMin(col(c)).cast("long").as(s"mn_$c"), fMax(col(c)).cast("long").as(s"mx_$c"))) :+
      org.apache.spark.sql.functions.count(lit(1)).as("n_rows")
    staged
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val stats = statsCols.indices.map { i =>
          require(!r.isNullAt(1 + 2 * i) && !r.isNullAt(2 + 2 * i),
            s"zone-map column ${statsCols(i)} is all-NULL in staged file ${r.getString(0)}; " +
              "commit refused (a null zone map cannot prune)")
          ColStats(r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
        }
        ManifestEntry(r.getString(0), stats, Some(r.getLong(1 + 2 * statsCols.length)))
      }
      .sortBy(_.path)
      .toSeq
  }

  /** Stage-directory entries for a no-zone-map commit: list the staged
    * parquet and take each file's row count from its FOOTER — metadata
    * the writer already wrote, so counting costs one footer read per
    * staged file, never a data scan (the same place Iceberg/Delta
    * writers source their per-file stats).
    */
  private def listedEntries(spark: SparkSession, stage: Path): Seq[ManifestEntry] = {
    val f = fs(spark, stage)
    val conf = spark.sparkContext.hadoopConfiguration
    f.listStatus(stage)
      .map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(p => ManifestEntry(p.toString, Nil, Some(footerRowCount(conf, p))))
      .sortBy(_.path)
      .toSeq
  }

  private def footerRowCount(
      conf: org.apache.hadoop.conf.Configuration,
      p: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try r.getRecordCount
    finally r.close()
  }

  /** Stage `df` once, then publish at the next free version — retrying
    * the version number (never the data write) on a lost rename race.
    * Returns None iff `batchId` was already committed (exactly-once
    * skip); the skip re-checks after every lost race.
    */
  private def commit(
      df: DataFrame,
      dir: String,
      carryForward: Boolean,
      statsCols: Seq[String],
      batchId: Option[Long] = None): Option[Int] = {
    val spark = df.sparkSession
    if (batchId.exists(b => lastBatchId(spark, dir).exists(_ >= b))) return None
    // stage under a per-attempt unique name: a crashed attempt's orphaned
    // stage directory (left when the manifest rename never ran) must not
    // block the RETRY of the same version — the manifest records absolute
    // file paths, so the stage name never matters to readers, and orphan
    // files are unreferenced vacuum fodder
    val stage = new Path(dir, s"data/stage-${java.util.UUID.randomUUID()}")
    df.write.mode("error").parquet(stage.toString)
    val staged: Seq[ManifestEntry] =
      if (statsCols.nonEmpty) zoneEntries(spark, stage, statsCols)
      else listedEntries(spark, stage)
    var out: Option[Option[Int]] = None
    while (out.isEmpty) {
      // ONE listing per iteration: the batch-id check runs over exactly
      // the versions <= latest, and the publish claims exactly latest+1 —
      // winning the exclusive claim proves nothing interleaved between
      // check and commit (see lastBatchIdUpTo), closing the zombie-writer
      // window where two attempts of the same batch id both landed
      val latest = latestVersion(spark, dir)
      if (batchId.exists(b => lastBatchIdUpTo(spark, dir, latest).exists(_ >= b))) {
        // a twin attempt of this batch won the race while we staged:
        // drop our orphan stage eagerly (it would only be vacuum fodder)
        fs(spark, stage).delete(stage, true)
        out = Some(None)
      } else {
        val v = latest + 1
        val carried =
          if (carryForward && v > 1) {
            val (prevCols, prev) = manifest(spark, dir, v - 1)
            require(prevCols == statsCols,
              s"append stats columns $statsCols must match the carried snapshot's $prevCols")
            prev
          } else Nil
        if (tryPublish(spark, dir, v, statsCols, carried ++ staged, batchId,
            if (carryForward) "append" else "overwrite",
            // an append carries the previous version's deletion vector
            // (its dead rows stay dead); an overwrite replaces the
            // content wholesale and drops it
            if (carryForward && v > 1) dvCarryHeader(spark, dir, v - 1) else "")) {
          batchId.foreach(b => writeHwm(spark, dir, b, v))
          out = Some(Some(v))
        }
        // else: lost the publish race — loop re-reads latest and retries
      }
    }
    out.get
  }

  /** Write the manifest to `.tmp` and publish it EXCLUSIVELY — the
    * atomic commit point: a failed publish (a concurrent writer already
    * owns this version) leaves the snapshot unborn, never torn. The
    * exclusive primitive is store-dependent: on HDFS-like stores,
    * rename-without-overwrite is enforced atomically server-side; on a
    * LOCAL filesystem Hadoop's rename is check-then-act over POSIX
    * rename(2), which silently OVERWRITES — two racing writers can both
    * "win" (the r11 concurrency spec caught exactly this) — so the local
    * path publishes via hard LINK (link(2) fails with EEXIST atomically,
    * the classic lock-file primitive). Returns whether this writer won.
    */
  private def tryPublish(
      spark: SparkSession,
      dir: String,
      v: Int,
      statsCols: Seq[String],
      entries: Seq[ManifestEntry],
      batchId: Option[Long],
      op: String,
      extraHeader: String = ""): Boolean = {
    val md = manifestDir(dir)
    val f = fs(spark, md)
    f.mkdirs(md)
    // every NEW manifest carries per-file row counts: entries missing one
    // (carried from a pre-rows manifest) are filled from the parquet
    // footer — one footer read per legacy file, once, after which the
    // count rides the manifest chain forever
    val conf = spark.sparkContext.hadoopConfiguration
    val counted = entries.map {
      case e if e.rows.isDefined => e
      case e                     => e.copy(rows = Some(footerRowCount(conf, new Path(e.path))))
    }
    val header = s"$OpHeader$op\n" +
      s"$TsHeader${System.currentTimeMillis()}\n" +
      (if (statsCols.nonEmpty) s"$StatsHeader${statsCols.mkString(",")}\n" else "") +
      s"${RowsHeader}1\n" +
      extraHeader +
      batchId.map(b => s"$BatchHeader$b\n").getOrElse("")
    val body = counted.map { e =>
      (Seq(e.path) ++ e.stats.flatMap(s => Seq(s.min.toString, s.max.toString))
        :+ e.rows.get.toString).mkString("\t")
    }
    claimChecked(f, new Path(md, s"v$v.list"), header + body.mkString("", "\n", "\n"))
  }

  /** Write `payload` behind its `#crc=` line to a unique `.tmp` beside
    * `dst` and [[claimExclusive]] `dst` from it — the one write path of
    * manifests, tags and schema-change entries. Returns whether this
    * writer won.
    */
  private def claimChecked(f: FileSystem, dst: Path, payload: String): Boolean = {
    val tmp = new Path(dst.getParent, s"${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write((s"$CrcHeader${crc32Of(payload)}\n" + payload).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val won = claimExclusive(f, tmp, dst)
    f.delete(tmp, false) // winner's hard link persists; loser's tmp is junk
    won
  }

  /** The body of a [[claimChecked]] file, CRC-verified: a missing header
    * or a flipped bit is a loud refusal naming `what`, never a wrong read.
    */
  private def readChecked(f: FileSystem, p: Path, what: String): String = {
    val in = f.open(p)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    require(content.startsWith(CrcHeader), s"$what is malformed")
    val nl = content.indexOf('\n')
    val body = content.substring(nl + 1)
    require(crc32Of(body) == content.substring(CrcHeader.length, nl).toLong,
      s"$what failed its CRC check: metadata corruption")
    body
  }

  /** Atomically claim `dst` from `tmp` — hard LINK on local filesystems
    * (link(2) fails with EEXIST atomically; Hadoop's local rename is
    * check-then-act and silently overwrites), exclusive RENAME on
    * HDFS-like stores. The one publish primitive manifests, tags, and
    * the batch high-water mark all go through.
    */
  private def claimExclusive(f: FileSystem, tmp: Path, dst: Path): Boolean =
    if (f.getScheme == "file") {
      val srcP = java.nio.file.Paths.get(tmp.toUri.getPath)
      val dstP = java.nio.file.Paths.get(dst.toUri.getPath)
      try {
        java.nio.file.Files.createLink(dstP, srcP)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else f.rename(tmp, dst)

  /** require-or-throw publish for the read-modify-write commits: their
    * staged rows were derived from a snapshot that a lost race proves is
    * no longer latest, so retrying at the next version would silently
    * drop the interleaved commit's effect (the lost-update anomaly).
    */
  private[graft] def publishOrAbort(
      spark: SparkSession,
      dir: String,
      v: Int,
      statsCols: Seq[String],
      entries: Seq[ManifestEntry],
      op: String,
      extraHeader: String = ""): Unit =
    require(tryPublish(spark, dir, v, statsCols, entries, None, op, extraHeader),
      s"commit of v$v lost the publish race to a concurrent writer; " +
        "re-run the operation against the new latest snapshot")

  /** Publish a new snapshot = previous snapshot + `df`. Returns its
    * version. `statsCols` (integral-typed) adds per-file zone maps to the
    * manifest; an append's stats columns must match the carried
    * snapshot's.
    */
  def commitAppend(df: DataFrame, dir: String, statsCols: Seq[String] = Nil): Int =
    commit(df, dir, carryForward = true, statsCols).get

  /** Publish a new snapshot containing ONLY `df` (logical replace — prior
    * versions' files remain on disk and readable).
    */
  def commitOverwrite(df: DataFrame, dir: String, statsCols: Seq[String] = Nil): Int =
    commit(df, dir, carryForward = false, statsCols).get

  /** Copy-on-write row-level DELETE of `column BETWEEN lo AND hi` —
    * the GDPR/right-to-erasure primitive at table scale: only files
    * whose zone map on `column` MAY contain matching rows are rewritten
    * (read, anti-filtered, re-staged); every other file is carried into
    * the new manifest untouched — at 100 TB a selective delete against a
    * range-clustered table rewrites O(matching files), not the table.
    * Prior versions still read the undeleted rows (physical erasure is
    * the retention/vacuum pass's job — same split as every
    * manifest-based format). Publishes and returns the new version.
    */
  def commitDelete(spark: SparkSession, dir: String, column: String, lo: Long, hi: Long): Int = {
    val prev = latestVersion(spark, dir)
    val (statsCols, entries) = manifest(spark, dir, prev)
    requireNoActiveSchemaChange(spark, dir, prev, entries, "DELETE")
    val ci = statsCols.indexOf(column)
    require(ci >= 0, s"delete needs a zone map on $column; $dir declares $statsCols")
    val (touched, untouched) =
      entries.partition(e => e.stats(ci).max >= lo && e.stats(ci).min <= hi)
    val v = prev + 1
    var chStage: Option[Path] = None
    val staged: Seq[ManifestEntry] =
      if (touched.isEmpty) Nil
      else {
        val stage = new Path(dir, s"data/stage-${java.util.UUID.randomUUID()}")
        // both reads run under the live deletion vector: a raw read of a
        // MOR-deleted table would resurrect its dead rows into the
        // rewrite (and double-report them in the feed). ONE persisted
        // scan of the pruned file set serves both halves — previously
        // the survivors and the feed each re-read the touched files.
        val liveTouched = readFilesDv(spark, dir, prev, touched.map(_.path))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          liveTouched
            .filter(!col(column).between(lo, hi))
            .write.mode("error").parquet(stage.toString)
          // change-feed record: the doomed rows, read from the same pruned
          // file set the rewrite read — O(touched files), the price every
          // CDF-enabled format pays on DELETE (the feed row count is the
          // deleted row count, never the table's)
          chStage = Some(stageChanges(spark, dir,
            liveTouched
              .filter(col(column).between(lo, hi))
              .withColumn(ChangeTypeCol, lit("delete"))))
          zoneEntries(spark, stage, statsCols)
        } finally {
          liveTouched.unpersist(blocking = false)
          ()
        }
      }
    // the carried vector still covers the UNTOUCHED files (its entries
    // for the rewritten files key on paths no longer listed — inert)
    publishOrAbort(spark, dir, v, statsCols, untouched ++ staged, "delete",
      dvCarryHeader(spark, dir, prev))
    chStage.foreach(publishChanges(spark, dir, _, v))
    v
  }

  /** Copy-on-write MERGE (keyed upsert) of a `changes` batch — the BATCH
    * form of the reference's last-writer-wins put_record semantic
    * (reference: src/lambda/StreamingIngestAggFeatures/lambda_function
    * .py:31 upserts one record per key into the online store): every
    * base row whose `keyCol` appears in `changes` is REPLACED by the
    * change row; change keys absent from the base are inserted. Only
    * files whose zone map on `keyCol` contains at least one change key
    * are rewritten (the per-file hit test joins the distinct change keys
    * against the BROADCAST file-range list — metadata-sized, exact);
    * every other file is carried untouched, so a merge of a small change
    * batch into a key-clustered 100 TB table rewrites O(touched files).
    * When the table declares no zone map on `keyCol` every file is
    * rewritten (correct, just unpruned — documented cost of merging on
    * an uncovered key). `changes` must carry at most one row per key
    * (the batch's own LWW collapse is the caller's policy — e.g.
    * [[graft.operators.LatestPerKey]]) and exactly the table's columns.
    * Publishes and returns the new version.
    */
  /** Broadcast hint gated on a KNOWN row count. The change-batch key set
    * and deletion vectors are broadcast-joined by design at CDC scale,
    * but both are unbounded in principle — a backfill merge can carry
    * hundreds of millions of keys, a long-unoptimized vector likewise —
    * and a forced broadcast past Spark's 8 GB / 512M-row relation cap is
    * a hard driver failure, not a slowdown (guide §3.1). At or under the
    * threshold the hint pins the hash join (keeping the probe side's
    * scan partitioning); above it the hint is dropped and the planner
    * picks the join from its own estimates (shuffle join at real scale).
    * Tunable: `spark.graft.broadcastMaxRows` (default 8M rows ≈ tens of
    * MB hashed — comfortably under the cap, far above any CDC batch).
    */
  private def maybeBroadcast(spark: SparkSession, df: DataFrame, rows: Long): DataFrame = {
    val cap =
      try spark.conf.get("spark.graft.broadcastMaxRows", "8000000").toLong
      catch { case _: NumberFormatException => 8000000L }
    if (rows <= cap) broadcast(df) else df
  }

  def commitMerge(spark: SparkSession, dir: String, changes: DataFrame, keyCol: String): Int = {
    val prev = latestVersion(spark, dir)
    require(prev >= 1, s"cannot merge into an empty table at $dir")
    val (statsCols, entries) = manifest(spark, dir, prev)
    requireNoActiveSchemaChange(spark, dir, prev, entries, "MERGE")
    // The change SOURCE is read once (persisted) and shared by the key
    // aggregation, the rewrite's union side, and the feed's postimage
    // typing join — previously each of those re-derived the caller's
    // change query (three scans of the change source per commit; guide
    // §1.2: don't recompute what you already have). Batch-sized, freed
    // before return — unless the caller persisted it: that cache is the
    // caller's, reused here and never evicted.
    val ownsCache = changes.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val ch =
      if (ownsCache) changes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else changes
    // ONE aggregation serves both the dup-key guard and every key-distinct
    // consumer below (hit test, anti-join, feed semi-joins) — the change
    // batch was previously re-aggregated four times per commit, which at
    // 100 TB means four reads of the change source (guide §1.2: don't
    // compute things you throw away). The persisted key frame is
    // batch-sized (one row per key) and freed before return.
    val keyCounts = ch
      .groupBy(col(keyCol))
      .count()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var baseTouched: Option[DataFrame] = None
    var matchedKeysP: Option[DataFrame] = None
    // try/finally so an abort in publishOrAbort (or any write failure)
    // frees the MEMORY_AND_DISK blocks too — commit paths run outside
    // CacheScope, so a leak here lived for the session
    try {
      // ONE aggregation over the persisted key frame serves the dup-key
      // guard AND the broadcast-size guard (row count)
      val kc = keyCounts
        .agg(fCount(lit(1)).as("n"), coalesce(fMax(col("count")), lit(0L)).as("mx"))
        .head()
      val nKeys = kc.getLong(0)
      require(kc.getLong(1) <= 1L, s"merge changes must carry at most one row per $keyCol")
      def keyB(df: DataFrame): DataFrame = maybeBroadcast(spark, df, nKeys)
      val changeKeys = keyCounts.select(col(keyCol))
      val ci = statsCols.indexOf(keyCol)
      val touchedPaths: Set[String] =
        if (ci < 0) entries.map(_.path).toSet
        else if (entries.isEmpty) Set.empty
        else {
          val ranges = spark
            .createDataFrame(entries.map(e => (e.path, e.stats(ci).min, e.stats(ci).max)))
            .toDF("path", "mn", "mx")
          changeKeys
            .select(col(keyCol).cast("long").as("k"))
            .join(broadcast(ranges), col("k").between(col("mn"), col("mx")))
            .select("path")
            .distinct()
            .collect()
            .map(_.getString(0))
            .toSet
        }
      val (touched, untouched) = entries.partition(e => touchedPaths.contains(e.path))
      val v = prev + 1
      val stage = new Path(dir, s"data/stage-${java.util.UUID.randomUUID()}")
      // the touched files are read ONCE (persisted) and shared by the
      // rewrite and the feed below — previously three separate scans of the
      // same pruned file set per commit. The guarded broadcast pins the hash
      // join so the staged files keep the scan's partitioning.
      baseTouched =
        if (touched.isEmpty) None
        else Some(
          readFilesDv(spark, dir, prev, touched.map(_.path))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val survivors = baseTouched match {
        case None => ch
        case Some(bt) =>
          bt.join(keyB(changeKeys), Seq(keyCol), "left_anti").unionByName(ch)
      }
      survivors.write.mode("error").parquet(stage.toString)
      // change-feed record: replaced rows surface as update_preimage (their
      // old values) + update_postimage (the change row), unmatched change
      // keys as insert — all derived from the SAME pruned touched-file set
      // the rewrite read, so the feed costs O(touched + changes), never a
      // table scan
      val chStage = {
        val feed = baseTouched match {
          case None => ch.withColumn(ChangeTypeCol, lit("insert"))
          case Some(bt) =>
            val pre = bt.join(keyB(changeKeys), Seq(keyCol), "left_semi")
            val matchedKeys = pre
              .select(col(keyCol))
              .distinct()
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            matchedKeysP = Some(matchedKeys)
            // one pass over the change batch: a guarded-broadcast LEFT join
            // against the matched keys types each change row in place
            // (matched → update_postimage, unmatched → insert) — the
            // semi + anti pair read the batch twice for the same split.
            // Marker column name is salted so a table column can never
            // collide with it (an ambiguous-reference AnalysisException
            // at commit time otherwise).
            val mCol = s"__matched_${java.util.UUID.randomUUID().toString.take(8)}"
            val changeCols = ch.columns.map(col).toIndexedSeq
            pre
              .withColumn(ChangeTypeCol, lit("update_preimage"))
              .unionByName(ch
                .join(
                  keyB(matchedKeys.withColumn(mCol, lit(1L))),
                  Seq(keyCol),
                  "left")
                .select(changeCols :+
                  when(col(mCol) === 1L, lit("update_postimage"))
                    .otherwise(lit("insert"))
                    .as(ChangeTypeCol): _*))
        }
        // the feed is at most one preimage + one postimage per change key
        stageChanges(spark, dir, feed, approxRows = 2L * nKeys)
      }
      val staged =
        if (statsCols.nonEmpty) zoneEntries(spark, stage, statsCols)
        else listedEntries(spark, stage)
      publishOrAbort(spark, dir, v, statsCols, untouched ++ staged, "merge",
        dvCarryHeader(spark, dir, prev))
      publishChanges(spark, dir, chStage, v)
      v
    } finally {
      if (ownsCache) ch.unpersist(blocking = false)
      keyCounts.unpersist(blocking = false)
      baseTouched.foreach(_.unpersist(blocking = false))
      matchedKeysP.foreach(_.unpersist(blocking = false))
      ()
    }
  }

  /** Versioned OPTIMIZE — compaction + re-cluster AS A SNAPSHOT COMMIT:
    * bin-packs the latest version's files to `targetFileBytes` (the
    * exactly-once streaming sink accretes one file set per micro-batch;
    * left alone, a year of micro-batches is a year of manifest entries
    * and tiny scans), range-re-clustered on the FIRST declared zone-map
    * column so the rewritten files' zone maps come out tight again
    * (fragmented appends overlap arbitrarily; post-OPTIMIZE a range read
    * prunes like the freshly clustered table). The new version's ROWS
    * are bit-identical to the old's — OPTIMIZE moves bytes, never data —
    * and the fragments stay readable via time travel until [[vacuum]]
    * reclaims them (their refcount drops to zero once the pre-OPTIMIZE
    * versions expire). Publishes and returns the new version.
    */
  def commitOptimize(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L << 20,
      zOrder: Boolean = false,
      statsColsOverride: Option[Seq[String]] = None): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val prev = latestVersion(spark, dir)
    val (statsCols0, entries) = manifest(spark, dir, prev)
    // RE-DECLARE the zone-map columns as part of the rewrite — the one
    // legal moment to change them (stats live per manifest entry, so a
    // declaration change without a rewrite would lie about the files).
    // This is also the remedy commitDropColumn's stats refusal names:
    // OPTIMIZE with the column removed from the declaration, THEN drop.
    val statsCols = statsColsOverride.getOrElse(statsCols0)
    require(entries.nonEmpty, s"cannot OPTIMIZE an empty snapshot at $dir")
    require(!zOrder || statsCols.size >= 2,
      s"Z-order OPTIMIZE interleaves the first TWO stats columns; $dir declares $statsCols")
    val f = fs(spark, new Path(entries.head.path))
    val totalBytes = entries.map(e => f.getFileStatus(new Path(e.path)).getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // OPTIMIZE is the schema-change FOLD: while a rename, widen or drop
    // is still active on live files, the rewrite reads THROUGH every
    // mapping (each file group under its logical names and types — a raw
    // multi-footer read would silently NULL or mis-type columns across
    // mixed physical schemas) and stages every row under the logical
    // schema. The staged files sit outside every change's fileKeys scope,
    // so after the fold no mapping applies and the physical schema is
    // uniform again — the escape hatch the rewrite commits name in their
    // refusal. The deletion vector folds too (readVersion anti-joins it),
    // so OPTIMIZE publishes with no read-time debt.
    val active = activeSchemaChanges(spark, dir, prev, entries)
    // zone-map columns follow the active rename chain (the stats header
    // addresses the files' physical names, which post-fold are the
    // logical ones); an explicit override is already in logical names
    val foldedStats =
      if (statsColsOverride.isDefined) statsCols
      else statsCols.map(c => active.foldLeft(c) {
        case (n, r: ColumnRename) if r.from == n => r.to
        case (n, _)                              => n
      })
    val all =
      if (active.isEmpty) readVersion(spark, dir, prev)
      else readVersionEvolved(spark, dir, prev)
    statsColsOverride.foreach(_.foreach(c =>
      require(all.columns.contains(c),
        s"statsColsOverride names '$c', absent from $dir's logical schema " +
          s"(have: ${all.columns.mkString(", ")})")))
    // zOrder = true re-clusters on the Morton interleave of the first two
    // stats columns (low 16 bits each — the x10/z1 convention) so the
    // rewritten zone maps prune on EITHER dimension; the default
    // range-clusters on the leading column alone (tightest single-dim
    // pruning). Both are bit-identical rewrites — only the LAYOUT differs.
    val packed = foldedStats match {
      case Seq(c1, c2, _*) if zOrder =>
        val zk = graft.operators.ZOrder.interleaveCol(
          col(c1).bitwiseAND(lit(65535L)),
          col(c2).bitwiseAND(lit(65535L)))
        all.withColumn("__zk", zk).repartitionByRange(nFiles, col("__zk")).drop("__zk")
      case Seq(c, _*) => all.repartitionByRange(nFiles, col(c))
      case _          => all.repartition(nFiles)
    }
    val stage = new Path(dir, s"data/stage-${java.util.UUID.randomUUID()}")
    packed.write.mode("error").parquet(stage.toString)
    val staged =
      if (foldedStats.nonEmpty) zoneEntries(spark, stage, foldedStats)
      else listedEntries(spark, stage)
    val v = prev + 1
    publishOrAbort(spark, dir, v, foldedStats, staged, "optimize")
    v
  }

  /** RESTORE — roll the table back to `toVersion` AS A NEW COMMIT (the
    * Delta RESTORE shape): publishes version latest+1 whose manifest is a
    * COPY of `toVersion`'s file list, so the rollback moves zero bytes
    * (the restored files are carried by reference, exactly like an
    * append's carry-forward) and the botched versions in between stay
    * readable via time travel until [[vacuum]] expires them — an undo
    * that is itself audit-logged, not a history rewrite. Vacuum's
    * per-file reference counting keeps the restored files alive as long
    * as the restore commit survives, even once the original version
    * expires. Aborts on a lost publish race (restoring over a commit it
    * never saw would silently discard that commit — the lost-update
    * anomaly again). Returns the new version.
    */
  def commitRestore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val prev = latestVersion(spark, dir)
    require(toVersion >= 1 && toVersion <= prev,
      s"cannot restore $dir to v$toVersion (latest is v$prev)")
    val (statsCols, entries) = manifest(spark, dir, toVersion)
    val v = prev + 1
    // the restored snapshot's deletion vector (if any) travels with its
    // file list — restoring to a MOR-deleted state restores the deletes
    publishOrAbort(spark, dir, v, statsCols, entries, "restore",
      dvCarryHeader(spark, dir, toVersion))
    v
  }

  /** Violation profile for declarative table constraints — ONE
    * distributed pass over `df` counts every constraint's violating rows
    * (a conditional sum per constraint inside a single aggregate, the
    * q10 data-quality shape — never one job per constraint). A NULL
    * predicate result counts as a violation (the SQL CHECK convention is
    * the opposite, but for data-quality gating an unevaluable row is a
    * bad row). Returns (constraint, n_violations), every constraint
    * present.
    */
  def constraintViolations(
      df: DataFrame,
      constraints: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(constraints.nonEmpty, "need at least one constraint")
    import org.apache.spark.sql.functions.{coalesce, explode, map => fMap, sum, when}
    val counters = constraints.flatMap { case (name, pred) =>
      Seq(
        lit(name),
        coalesce(sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)), lit(0L)))
    }
    df.agg(fMap(counters: _*).as("m"))
      .select(explode(col("m")).as(Seq("constraint", "n_violations")))
  }

  /** CHECKED append — commit-time constraint enforcement (the Delta CHECK
    * constraint / expectations shape): the staged batch must satisfy
    * every named predicate or the commit REFUSES — no version published,
    * nothing staged — with a message listing each violated constraint
    * and its violating-row count. Enforcement at the COMMIT is what
    * makes the table's invariants trustworthy downstream (a reader never
    * re-validates); the price is one extra aggregate pass over the batch
    * (counted in ONE job regardless of constraint count). Returns the
    * new version.
    */
  def commitAppendChecked(
      df: DataFrame,
      dir: String,
      constraints: Seq[(String, org.apache.spark.sql.Column)],
      statsCols: Seq[String] = Nil): Int = {
    val bad = constraintViolations(df, constraints)
      .filter(col("n_violations") > 0L)
      .collect()
    require(bad.isEmpty,
      s"commit to $dir refused: constraint violations — " +
        bad.map(r => s"${r.getString(0)} (${r.getLong(1)} rows)").mkString(", "))
    commitAppend(df, dir, statsCols)
  }

  /** A commit's row-level change record staged under a per-attempt unique
    * name (`changes/stage-<uuid>`), renamed to `changes/v<N>` only AFTER
    * the manifest rename wins — a lost publish race leaves an orphan
    * stage directory no reader ever resolves (vacuum reclaims it), never
    * a change record attributed to somebody else's version. An empty
    * change set still writes one schema-bearing empty file so the feed
    * read can infer its schema.
    */
  private def stageChanges(
      spark: SparkSession,
      dir: String,
      rows: DataFrame,
      approxRows: Long = -1L): Path = {
    val stage = new Path(dir, s"changes/stage-${java.util.UUID.randomUUID()}")
    // When the caller knows the feed's row count (the merge paths do —
    // it is bounded by 2x the change-key count), pack the record into
    // row-count-derived files instead of inheriting the union's task
    // layout (touched-file scan partitions + the change batch's) — a
    // CDC-sized feed otherwise lands as ~40 near-empty files whose
    // per-file open cost every change-feed read then pays (guide §6).
    // Data-derived, so a backfill-sized batch still fans out. The floor
    // keeps a few write tasks alive below one file's worth of rows:
    // coalesce folds the upstream into its tasks (guide §2), and a
    // single-task parquet encode of a ~1M-row feed measurably serialized
    // the commit (+0.9 s at sf0.1).
    val packed =
      if (approxRows >= 0L) {
        val sizeParts = approxRows / FeedRowsPerFile + 1L
        val parts =
          if (sizeParts >= 8L) math.min(10000L, sizeParts)
          else math.min(8L, approxRows / 32768L + 1L)
        rows.coalesce(parts.toInt)
      } else rows
    packed.write.mode("error").parquet(stage.toString)
    val f = fs(spark, stage)
    if (!f.listStatus(stage).exists(_.getPath.getName.endsWith(".parquet")))
      spark
        .createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), rows.schema)
        .repartition(1)
        .write.mode("overwrite").parquet(stage.toString)
    stage
  }

  private def publishChanges(spark: SparkSession, dir: String, stage: Path, v: Int): Unit = {
    val dst = new Path(dir, s"changes/v$v")
    fs(spark, dst).rename(stage, dst)
    ()
  }

  /** CHANGE DATA FEED — every row-level change between `fromVersion`
    * (exclusive) and `toVersion` (inclusive), typed like Delta's CDF:
    * table columns plus [[ChangeTypeCol]] (`insert`, `delete`,
    * `update_preimage`, `update_postimage`) and [[ChangeVersionCol]].
    * Per-version semantics key off the manifest's op header:
    *
    *   - `append` versions derive their inserts from the MANIFEST DIFF
    *     (the new files ARE the new rows — zero recorded state, zero
    *     re-reads of consumed history, same as [[readChangesSince]]);
    *   - `delete`/`merge` versions read the change record their commit
    *     staged (`changes/v<N>` — deleted rows, update pre/post images,
    *     merge inserts), sized by the CHANGE, not the table;
    *   - `optimize` versions contribute nothing (bytes moved, rows
    *     bit-identical — an empty feed is the correct feed);
    *   - `overwrite`/`restore` versions REFUSE: both rewrite history
    *     wholesale, so "the row changes" would be a table-sized diff the
    *     consumer should express as a full re-read of the latest
    *     snapshot instead (the same contract [[readChangesSince]]
    *     exposes for non-append ranges).
    *
    * This is the consumption primitive that keeps a downstream FEATURE
    * STORE in sync with a mutable upstream table without re-scanning it:
    * apply inserts/postimages as upserts and deletes as removals, in
    * version order.
    */
  def readChangeFeed(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(fromVersion >= 1 && toVersion >= fromVersion,
      s"need 1 <= fromVersion <= toVersion, got [$fromVersion, $toVersion]")
    def emptyAt(v: Int) =
      readVersion(spark, dir, v).limit(0).withColumn(ChangeTypeCol, lit(""))
    var prevKeys = manifest(spark, dir, fromVersion)._2.map(e => fileKey(e.path)).toSet
    val parts = ((fromVersion + 1) to toVersion).map { v =>
      val op = commitOp(spark, dir, v).getOrElse(
        throw new IllegalArgumentException(
          s"v$v of $dir carries no op header (pre-CDF manifest): change feed undefined"))
      val cur = manifest(spark, dir, v)._2.map(_.path)
      val slice = op match {
        case "append" =>
          val added = cur.filter(p => !prevKeys.contains(fileKey(p)))
          if (added.isEmpty) emptyAt(v)
          else
            spark.read
              .option("mergeSchema", "true")
              .parquet(added: _*)
              .withColumn(ChangeTypeCol, lit("insert"))
        case "delete" | "merge" =>
          val chDir = new Path(dir, s"changes/v$v")
          if (fs(spark, chDir).exists(chDir)) spark.read.parquet(chDir.toString)
          else emptyAt(v) // a delete that touched no files records nothing
        case "optimize" => emptyAt(v)
        case other =>
          throw new IllegalArgumentException(
            s"v$v of $dir is a $other commit: row-level changes are undefined across a " +
              "history rewrite — re-read the latest snapshot instead")
      }
      prevKeys = cur.map(fileKey).toSet
      slice.withColumn(ChangeVersionCol, lit(v.toLong))
    }
    if (parts.isEmpty) emptyAt(toVersion).withColumn(ChangeVersionCol, lit(0L))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Scheme-insensitive file identity ("file:///x" == "file:/x" — manifest
    * paths come from input_file_name URIs, listings from Hadoop Paths).
    */
  private def fileKey(p: String): String = new Path(p).toUri.getPath

  /** Retention pass — the physical-erasure half every manifest-based
    * format splits off from its logical operations: delete every data
    * file referenced by NO surviving version (>= `keepFrom`) and drop the
    * expired manifests. A file carried forward by appends survives as
    * long as ANY surviving version lists it — reference counting is by
    * file, not by the commit that wrote it. After vacuum, time travel
    * before `keepFrom` is gone (that is the point: commitDelete's doomed
    * rows stop being readable ANYWHERE once the versions holding them
    * expire), and every surviving version still reads bit-identically
    * (SnapshotsSpec pins both). Returns the number of data files deleted.
    *
    * CONCURRENCY: an in-flight commit's staged files are not yet
    * referenced by any manifest, so a vacuum racing that commit would
    * eat them as orphans and the commit would publish a torn snapshot.
    * `retainMs` is the guard (the Delta/Iceberg retention pattern): only
    * unreferenced files whose modification time is older than `retainMs`
    * are deleted, so any commit that stages and publishes within the
    * retention window is safe. The default 0 deletes ALL orphans and is
    * only safe when the caller holds exclusive write access to the table
    * (the single-writer deployments the specs and gates model); set
    * `retainMs` above the longest plausible stage→publish latency
    * otherwise.
    */
  /** DRY-RUN of [[vacuum]]'s data-file retention pass — the `VACUUM ...
    * DRY RUN` every lakehouse exposes, because an operator wants to see
    * the blast radius (file count + bytes reclaimed) before an
    * irreversible delete. Same reachability computation as the real
    * pass (tag-pinned versions are retention roots, the mtime guard
    * applies), zero mutations. Returns (files that would be deleted,
    * their total bytes).
    */
  def vacuumPlan(
      spark: SparkSession,
      dir: String,
      keepFrom: Int,
      retainMs: Long = 0L): (Int, Long) = {
    val latest = latestVersion(spark, dir)
    require(keepFrom >= 1 && keepFrom <= latest, s"keepFrom $keepFrom out of [1, $latest]")
    val pinned = tags(spark, dir).values.filter(_ < keepFrom).toSet
    val referenced = ((keepFrom to latest) ++ pinned)
      .flatMap(v => manifest(spark, dir, v)._2.map(e => fileKey(e.path)))
      .toSet
    val cutoffMs = System.currentTimeMillis() - retainMs
    val dataDir = new Path(dir, "data")
    val f = fs(spark, dataDir)
    if (!f.exists(dataDir)) return (0, 0L)
    def walk(p: Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).iterator.flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Iterator.single(st)
      }
    var n = 0
    var bytes = 0L
    walk(dataDir).foreach { st =>
      if (st.isFile && st.getPath.getName.endsWith(".parquet")
        && !referenced.contains(fileKey(st.getPath.toString))
        && st.getModificationTime <= cutoffMs) {
        n += 1
        bytes += st.getLen
      }
    }
    (n, bytes)
  }

  def vacuum(spark: SparkSession, dir: String, keepFrom: Int, retainMs: Long = 0L): Int = {
    val latest = latestVersion(spark, dir)
    require(keepFrom >= 1 && keepFrom <= latest, s"keepFrom $keepFrom out of [1, $latest]")
    // tagged versions are RETENTION ROOTS: a named ref pins its manifest
    // and files below keepFrom — "the snapshot the production model was
    // trained on" survives routine retention until the tag is dropped
    val pinned = tags(spark, dir).values.filter(_ < keepFrom).toSet
    val referenced = ((keepFrom to latest) ++ pinned)
      .flatMap(v => manifest(spark, dir, v)._2.map(e => fileKey(e.path)))
      .toSet
    val cutoffMs = System.currentTimeMillis() - retainMs
    val dataDir = new Path(dir, "data")
    val f = fs(spark, dataDir)
    var deleted = 0
    if (f.exists(dataDir)) {
      // plain listStatus walk, NOT listFiles(recursive=true): the located
      // iterator resolves block locations per file, which the r11
      // metadata cell measured at ~5 ms/file — the whole retention pass
      // was list-bound (3 s to list 600 local files). Status entries
      // already carry everything vacuum needs (type, mtime, path).
      def walk(p: Path): Iterator[org.apache.hadoop.fs.FileStatus] =
        f.listStatus(p).iterator.flatMap { st =>
          if (st.isDirectory) walk(st.getPath) else Iterator.single(st)
        }
      val doomed = scala.collection.mutable.ListBuffer.empty[Path]
      walk(dataDir).foreach { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet")
          && !referenced.contains(fileKey(st.getPath.toString))
          && st.getModificationTime <= cutoffMs)
          doomed += st.getPath
      }
      // deletes run on a bounded pool, not one-by-one on the caller
      // thread: the r11 metadata scale cell measured sequential deletes
      // super-linear at 10x files (2.2 s -> 43.5 s for 300 -> 3000) —
      // each FileSystem.delete pays per-call filesystem latency, so at
      // real table sizes (a year of micro-batch commits) the retention
      // pass would be hours of driver time. Every manifest-based format
      // batches its deletes; 16 concurrent callers is the local-mode
      // stand-in (Hadoop FileSystem instances are thread-safe).
      if (doomed.nonEmpty) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, doomed.size))
        try {
          val futures = doomed.toList.map { p =>
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              override def call(): Boolean = f.delete(p, false)
            })
          }
          deleted = futures.count(_.get())
        } finally pool.shutdown()
      }
    }
    // deletion-vector sidecars referenced by NO surviving version are
    // reclaimed like data files (same retention guard — an in-flight MOR
    // delete's freshly staged vector is younger than the cutoff)
    val dvReferenced = ((keepFrom to latest) ++ pinned).iterator
      .filter(v => f.exists(new Path(manifestDir(dir), s"v$v.list")))
      .flatMap(v => dvInfo(spark, dir, v).map(i => fileKey(i._1)))
      .toSet
    val dvRoot = new Path(dir, "dv")
    if (f.exists(dvRoot))
      f.listStatus(dvRoot).foreach { st =>
        if (!dvReferenced.contains(fileKey(st.getPath.toString))
          && st.getModificationTime <= cutoffMs)
          f.delete(st.getPath, true)
      }
    // bloom sidecars are content-addressed by data file: one whose file
    // is no longer referenced by any surviving version is dead weight
    // (advisory-only, so reclaim is always safe; same retention guard).
    // Not counted in the returned total — they are metadata, not data.
    val bloomKeep = referenced.map { k =>
      MessageDigest.getInstance("MD5")
        .digest(k.getBytes(StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x")
        .mkString + ".bf"
    }
    val bRoot = bloomRoot(dir)
    if (f.exists(bRoot))
      f.listStatus(bRoot).foreach { st =>
        if (st.getPath.getName.endsWith(".bf") && !bloomKeep.contains(st.getPath.getName)
          && st.getModificationTime <= cutoffMs)
          f.delete(st.getPath, false)
      }
    // PROVABLY dead schema-change entries are reclaimed BEFORE the
    // manifests proving them dead can be deleted below (the
    // [[SchemaChange]] liveness rule); pending ones are left alone — an
    // in-flight change may be about to publish them (it rolls its own
    // entry back on a lost race)
    rawSchemaChanges(spark, dir).foreach { c =>
      if (schemaChangeLive(spark, dir, latest, c).contains(false))
        f.delete(schemaFile(dir, c.kind, c.seq), false)
    }
    (1 until keepFrom).filterNot(pinned).foreach(v =>
      f.delete(new Path(manifestDir(dir), s"v$v.list"), false))
    // change-feed hygiene: an expired version's change record is no longer
    // reachable (the feed refuses ranges that cross vacuumed history), and
    // a lost-race commit's orphaned change stage is never resolved by any
    // reader — both are reclaimed here, stage orphans under the same
    // retention guard as data orphans
    val chRoot = new Path(dir, "changes")
    if (f.exists(chRoot)) {
      (1 until keepFrom).filterNot(pinned).foreach(v => f.delete(new Path(chRoot, s"v$v"), true))
      f.listStatus(chRoot).foreach { st =>
        if (st.getPath.getName.startsWith("stage-") && st.getModificationTime <= cutoffMs)
          f.delete(st.getPath, true)
      }
    }
    deleted
  }

  // ---- Bloom-filter sidecars (point-lookup file skipping) -----------------

  private def bloomRoot(dir: String) = new Path(dir, "bloom")

  /** A data file's bloom sidecar path — content-addressed by the md5 of
    * its [[fileKey]], so the sidecar rides the FILE (not the version):
    * appends and OPTIMIZE never invalidate existing sidecars, and vacuum
    * reclaims a sidecar exactly when its data file dies.
    */
  private def bloomPathFor(dir: String, dataPath: String): Path = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md
      .digest(fileKey(dataPath).getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x")
      .mkString
    new Path(bloomRoot(dir), s"$hex.bf")
  }

  private val BloomMagic = "graftbf1"

  /** Build per-file Bloom sidecars on `column` for every file of
    * `version` that lacks one — the equality-skipping complement to zone
    * maps for HIGH-CARDINALITY unclustered columns (a zone map on a
    * shuffled key spans the whole domain in every file; a Bloom filter
    * answers "is THIS key possibly here" per file). Sidecars are pure
    * ACCELERATORS, deliberately outside the commit protocol: a missing
    * or half-written sidecar just means "scan that file" — readers never
    * trust a bloom for inclusion, only for exclusion, so non-atomic
    * sidecar maintenance can never corrupt a result (the same contract
    * parquet's own column indexes rely on). ONE distributed pass builds
    * every missing filter ([[graft.functions.BloomAgg]] — map-side
    * partial bit-ORs, O(nBits/8) state per file); the driver then writes
    * |files| small sidecars. Re-run after OPTIMIZE to cover the
    * rewritten files; already-covered files are skipped (their sidecar
    * is content-addressed by file, not version). Returns the number of
    * sidecars written.
    */
  def buildBlooms(
      spark: SparkSession,
      dir: String,
      version: Int,
      column: String,
      nBits: Int = 1 << 20,
      nHashes: Int = 5): Int = {
    val entries = manifest(spark, dir, version)._2
    val f = fs(spark, new Path(dir))
    val missing = entries.filterNot(e => f.exists(bloomPathFor(dir, e.path)))
    if (missing.isEmpty) return 0
    val perFile = spark.read
      .parquet(missing.map(_.path): _*)
      .select(col(column).as("v"), col("_metadata.file_path").as("__f"))
      .groupBy(col("__f"))
      .agg(graft.functions.BloomAgg.bloomAgg(col("v"), nBits, nHashes).as("bf"))
      .collect()
    var written = 0
    perFile.foreach { r =>
      val dst = bloomPathFor(dir, r.getString(0))
      val tmp = new Path(bloomRoot(dir), s".tmp-${java.util.UUID.randomUUID()}")
      f.mkdirs(bloomRoot(dir))
      val header = s"$BloomMagic\n$column\n$nHashes\n"
      val out = f.create(tmp, true)
      try {
        out.write(header.getBytes(StandardCharsets.UTF_8))
        out.write(r.getAs[Array[Byte]]("bf"))
      } finally out.close()
      if (claimExclusive(f, tmp, dst)) written += 1
      f.delete(tmp, false)
    }
    written
  }

  /** Load a file's bloom sidecar if present AND built on `column` —
    * (nHashes, packed bits); None means "no filter, must scan".
    */
  private def loadBloom(
      f: FileSystem,
      dir: String,
      dataPath: String,
      column: String): Option[(Int, Array[Byte])] = {
    val p = bloomPathFor(dir, dataPath)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val bytes =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          buf.toByteArray
        } finally in.close()
      val s = new String(bytes, StandardCharsets.UTF_8)
      val l1 = s.indexOf('\n')
      if (l1 < 0 || s.substring(0, l1) != BloomMagic) None
      else {
        val l2 = s.indexOf('\n', l1 + 1)
        val l3 = s.indexOf('\n', l2 + 1)
        if (l2 < 0 || l3 < 0 || s.substring(l1 + 1, l2) != column) None
        else {
          val nHashes = s.substring(l2 + 1, l3).toInt
          Some((nHashes, bytes.drop(l3 + 1)))
        }
      }
    }
  }

  /** The files of `version` a point lookup `column = value` must scan,
    * after bloom pruning — the planning half of [[readVersionPoint]],
    * exposed so the skipping contract is assertable (SnapshotsSpec pins
    * pruned < total on covered tables and zero result drift). Files
    * without a usable sidecar are always kept: blooms prune, never veto.
    */
  def pointLookupFiles(
      spark: SparkSession,
      dir: String,
      version: Int,
      column: String,
      value: Any): Seq[String] = {
    val entries = manifest(spark, dir, version)._2
    val f = fs(spark, new Path(dir))
    entries.map(_.path).filter { p =>
      loadBloom(f, dir, p, column) match {
        case Some((nHashes, bits)) =>
          graft.functions.BloomHash.mightContain(bits, nHashes, value)
        case None => true
      }
    }
  }

  /** Point lookup `column = value` as of `version`, scanning only the
    * bloom-surviving files (deletion-vector-aware, like every read).
    * False positives cost an extra file scan; the equality filter on the
    * real scan guarantees exact results either way.
    */
  def readVersionPoint(
      spark: SparkSession,
      dir: String,
      version: Int,
      column: String,
      value: Any): DataFrame = {
    val paths = pointLookupFiles(spark, dir, version, column, value)
    if (paths.isEmpty) readVersion(spark, dir, version).filter(lit(false))
    else readFilesDv(spark, dir, version, paths).filter(col(column) === lit(value))
  }

  /** [[readVersionPoint]] at the latest version. */
  def readLatestPoint(
      spark: SparkSession,
      dir: String,
      column: String,
      value: Any): DataFrame =
    readVersionPoint(spark, dir, latestVersion(spark, dir), column, value)

  // ---- Schema changes (metadata-only rename / widen / drop) ---------------

  private def schemaDir(dir: String) = new Path(dir, "_schema")
  private val SchemaFileRe = "(rename|widen|drop)-(\\d+)\\.list".r
  private def schemaFile(dir: String, kind: String, seq: Int) =
    new Path(schemaDir(dir), s"$kind-$seq.list")
  private def seqHeader(kind: String) = s"#${kind}seq="

  /** One recorded METADATA-ONLY schema change — the Delta/Iceberg
    * column-mapping idea in file-set form. No data file is rewritten: the
    * change is a table version of its own (op = its `kind`, the previous
    * version's file list unchanged), and [[readVersionEvolved]] applies
    * its `project`ion at read time to exactly `fileKeys` — the files that
    * carried the old physical schema when it committed. Files staged
    * later are written under the new schema and need no mapping; a read
    * of a version before `version` never sees the change (schema time
    * travel, the x11 discipline). Scoping by an explicit file set (not
    * "every file in manifests <= version") keeps the mapping correct after
    * OPTIMIZE/MERGE rewrites drop some of those files, and survives
    * vacuuming of the change-era manifests.
    *
    * ENTRY FORMAT — `_schema/<kind>-<seq>.list`, seq counted per kind
    * from 1:
    * {{{
    *   #crc=<CRC32 of every byte after this line>
    *   #version=<the table version that publishes the change>
    *   #<key>=<value>    one line per payload header, in `headers` order
    *   <file key>        one line per data file (URI path) in scope
    * }}}
    * The publishing manifest names its entry with a `#<kind>seq=<seq>`
    * header (`#renameseq=`, `#widenseq=`, `#dropseq=`).
    *
    * LIVENESS — the commit is two steps made atomic: the entry is claimed
    * exclusively FIRST and is inert until the manifest naming it
    * publishes. While its version is unpublished the entry is PENDING (a
    * crashed or in-flight claim) and never applies. Once that manifest
    * exists the entry is LIVE iff the manifest is an op=<kind> commit
    * naming exactly its seq, and provably DEAD otherwise (another commit
    * took the version; a writer that loses the publish race rolls its own
    * entry back). [[vacuum]] deletes dead entries before it deletes the
    * manifests proving them dead, so a surviving entry whose manifest was
    * vacuumed was validated first and stays live.
    *
    * REFUSALS — a change is ACTIVE while some live file is in its scope.
    * Delete and merge, copy-on-write and merge-on-read alike, refuse
    * while ANY change is active: a raw multi-footer read would silently
    * NULL a renamed or dropped column or mix physical types, and staged
    * rewrites would escape the scope. Each evolution verb refuses while a
    * change of ANOTHER kind is active (same-kind changes stack, e.g.
    * rename chains), so no file is ever in the scope of two kinds. Every
    * evolution also refuses over a live deletion vector (the grouped
    * evolved read cannot thread the DV anti-join). [[commitOptimize]] is
    * the fold that unblocks them all: it reads through every mapping and
    * rewrites under the logical schema, after which nothing is active.
    */
  sealed trait SchemaChange {
    def seq: Int
    def version: Int
    def fileKeys: Set[String]
    /** `rename`, `widen` or `drop`: the entry-file prefix and the op of
      * the publishing manifest.
      */
    def kind: String
    /** The payload headers after `#version=`, in on-disk order. */
    def headers: Seq[(String, String)]
    /** The read-time mapping of one physical file group in scope. */
    def project(df: DataFrame): DataFrame
    /** What a refusal names while this change is active. */
    def refusal: String
  }

  /** `from` (the physical name) reads as `to`; renames chain (a→b then
    * b→c resolves through both).
    */
  final case class ColumnRename(seq: Int, version: Int, from: String, to: String, fileKeys: Set[String])
      extends SchemaChange {
    def kind: String = "rename"
    def headers: Seq[(String, String)] = Seq("from" -> from, "to" -> to)
    def project(df: DataFrame): DataFrame =
      if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df
    def refusal: String =
      s"column rename '$from'->'$to' (a raw rewrite would silently NULL the renamed column)"
  }

  /** `column`, physically `from`, reads cast to `to`. */
  final case class ColumnWiden(
      seq: Int, version: Int, column: String, from: String, to: String, fileKeys: Set[String])
      extends SchemaChange {
    def kind: String = "widen"
    def headers: Seq[(String, String)] = Seq("column" -> column, "from" -> from, "to" -> to)
    def project(df: DataFrame): DataFrame =
      if (df.columns.contains(column)) df.withColumn(column, col(column).cast(to)) else df
    def refusal: String =
      s"type widening '$column' $from->$to (a raw rewrite would read mixed physical types)"
  }

  /** `column` stays physically present but is projected away. */
  final case class ColumnDrop(seq: Int, version: Int, column: String, fileKeys: Set[String])
      extends SchemaChange {
    def kind: String = "drop"
    def headers: Seq[(String, String)] = Seq("column" -> column)
    def project(df: DataFrame): DataFrame = df.drop(column)
    def refusal: String =
      s"column drop '$column' (a raw rewrite would resurrect it as NULLs)"
  }

  /** The widenings this implementation admits: value-preserving casts
    * whose wide type can also hold every future append (the
    * Delta/Iceberg "type widening" whitelist, restricted to the types
    * the engine's tables use).
    */
  private val AllowedWidenings = Set(("integer", "long"), ("float", "double"))

  /** Metadata-only COLUMN RENAME (x21). Validates against the current
    * logical schema (prior changes applied). Zone-map declarations keep
    * the PHYSICAL name until [[commitOptimize]] folds the rename. Returns
    * the rename's table version (the first whose readers see `to`). The
    * protocol is [[SchemaChange]]'s.
    */
  def commitRename(spark: SparkSession, dir: String, from: String, to: String): Int = {
    require(from != to, s"rename of '$from' onto itself")
    commitSchemaChange(spark, dir, "RENAME") { (cur, _) =>
      val have = cur.fieldNames.toSet
      require(have.contains(from), s"column '$from' does not exist in $dir (have: $have)")
      require(!have.contains(to), s"column '$to' already exists in $dir")
      ColumnRename(_, _, from, to, _)
    }
  }

  /** Metadata-only TYPE WIDENING (x24; Delta's `ALTER COLUMN ... TYPE`,
    * Iceberg's type promotion) of `column` to `to`, one of
    * [[AllowedWidenings]]. Files staged later are natively wide. Returns
    * the widen's table version. The protocol is [[SchemaChange]]'s.
    */
  def commitWiden(spark: SparkSession, dir: String, column: String, to: String): Int =
    commitSchemaChange(spark, dir, "WIDEN") { (cur, _) =>
      val from = cur.fields.find(_.name == column).map(_.dataType.typeName).getOrElse(
        throw new IllegalArgumentException(
          s"column '$column' does not exist in $dir (have: ${cur.fieldNames.mkString(", ")})"))
      require(AllowedWidenings.contains((from, to)),
        s"widening '$column' from $from to $to is not value-preserving " +
          s"(allowed: ${AllowedWidenings.map { case (f, t) => s"$f->$t" }.mkString(", ")})")
      ColumnWiden(_, _, column, from, to, _)
    }

  /** Metadata-only DROP COLUMN (x25). The dropped data is not erased
    * until OPTIMIZE rewrites or vacuum expires the files — the erasure
    * split every manifest-based format documents. A zone-map stats
    * column refuses to drop (every manifest entry's range metadata
    * addresses it): re-declare stats through OPTIMIZE first. Returns the
    * drop's table version. The protocol is [[SchemaChange]]'s.
    */
  def commitDropColumn(spark: SparkSession, dir: String, column: String): Int =
    commitSchemaChange(spark, dir, "DROP COLUMN") { (cur, statsCols) =>
      require(!statsCols.contains(column),
        s"cannot drop zone-map stats column '$column' of $dir — its range metadata lives in " +
          "every manifest entry; rewrite with different statsCols first")
      require(cur.fieldNames.contains(column),
        s"column '$column' does not exist in $dir (have: ${cur.fieldNames.mkString(", ")})")
      require(cur.size >= 2, s"cannot drop the last column of $dir")
      ColumnDrop(_, _, column, _)
    }

  /** The one commit path of every [[SchemaChange]]: `validate` sees the
    * latest logical schema and zone-map columns, refuses bad input, and
    * returns the change's constructor over (seq, version, fileKeys); the
    * entry is claimed at its kind's next free seq, then published by the
    * manifest that names it. A lost publish rolls the inert entry back
    * and aborts — rerun against the new latest. Returns the new version.
    */
  private def commitSchemaChange(spark: SparkSession, dir: String, op: String)(
      validate: (StructType, Seq[String]) => (Int, Int, Set[String]) => SchemaChange): Int = {
    val v0 = latestVersion(spark, dir)
    require(v0 >= 1, s"$op on $dir refused: the table is empty")
    requireNoLiveDv(spark, dir, v0, op)
    val (statsCols0, entries0) = manifest(spark, dir, v0)
    val v = v0 + 1
    val files = entries0.map(e => fileKey(e.path))
    // built at seq 0: the payload never carries the seq (the claim below picks it)
    val change = validate(readVersionEvolved(spark, dir, v0).schema, statsCols0)(0, v, files.toSet)
    requireNoActiveSchemaChange(spark, dir, v0, entries0, op, allow = Some(change.kind))
    val payload = s"#version=$v\n" +
      change.headers.map { case (k, x) => s"#$k=$x\n" }.mkString + files.mkString("", "\n", "\n")
    val f = fs(spark, schemaDir(dir))
    f.mkdirs(schemaDir(dir))
    var seq = rawSchemaChanges(spark, dir).filter(_.kind == change.kind).map(_.seq)
      .foldLeft(0)(math.max) + 1
    // a lost claim means a concurrent change of this kind took the slot
    while (!claimChecked(f, schemaFile(dir, change.kind, seq), payload)) seq += 1
    if (!tryPublish(spark, dir, v, statsCols0, entries0, None, change.kind,
        s"${seqHeader(change.kind)}$seq\n")) {
      f.delete(schemaFile(dir, change.kind, seq), false) // roll back the inert entry
      throw new IllegalArgumentException(
        s"commit of v$v lost the publish race to a concurrent writer; " +
          "re-run the operation against the new latest snapshot")
    }
    v
  }

  /** Every parseable schema-change entry, live or not (CRC-checked). */
  private def rawSchemaChanges(spark: SparkSession, dir: String): Seq[SchemaChange] = {
    val sd = schemaDir(dir)
    val f = fs(spark, sd)
    if (!f.exists(sd)) Nil
    else
      f.listStatus(sd).toSeq.flatMap { st =>
        st.getPath.getName match {
          // full-match: a crashed claim's `<kind>-<seq>.list.tmp-<uuid>`
          // never parses as an entry
          case SchemaFileRe(kind, seqStr) =>
            val what = s"$kind entry $seqStr on $dir"
            val lines = readChecked(f, st.getPath, what).linesIterator.toList
            def hdr(k: String) =
              lines.find(_.startsWith(s"#$k=")).map(_.drop(k.length + 2)).getOrElse(
                throw new IllegalArgumentException(s"$what lacks #$k="))
            val (seq, version) = (seqStr.toInt, hdr("version").toInt)
            val keys = lines.filterNot(_.startsWith("#")).toSet
            Some(kind match {
              case "rename" => ColumnRename(seq, version, hdr("from"), hdr("to"), keys)
              case "widen"  => ColumnWiden(seq, version, hdr("column"), hdr("from"), hdr("to"), keys)
              case _        => ColumnDrop(seq, version, hdr("column"), keys)
            })
          case _ => None
        }
      }
  }

  /** `c`'s standing under the [[SchemaChange]] liveness rule, reading its
    * version's manifest once: None while PENDING (version > `latest`),
    * else whether it is LIVE rather than provably DEAD.
    */
  private def schemaChangeLive(
      spark: SparkSession,
      dir: String,
      latest: Int,
      c: SchemaChange): Option[Boolean] =
    if (c.version > latest) None
    else {
      val mf = new Path(manifestDir(dir), s"v${c.version}.list")
      if (!fs(spark, mf).exists(mf)) Some(true) // vacuumed after validation
      else {
        val lines = manifestLines(spark, dir, c.version)
        def header(h: String) = lines.find(_.startsWith(h)).map(_.drop(h.length))
        Some(header(OpHeader).contains(c.kind) &&
          header(seqHeader(c.kind)).contains(c.seq.toString))
      }
    }

  /** The LIVE schema changes of every kind in application (version)
    * order — a pending or dead entry never reaches a reader. Live
    * versions are distinct (a manifest names one entry), so the order is
    * total.
    */
  def schemaLog(spark: SparkSession, dir: String): Seq[SchemaChange] = {
    val latest = latestVersion(spark, dir)
    rawSchemaChanges(spark, dir)
      .filter(schemaChangeLive(spark, dir, latest, _).contains(true))
      .sortBy(_.version)
  }

  /** The live changes recorded by `version` that are still ACTIVE on
    * `entries` (some listed file is in their scope).
    */
  private def activeSchemaChanges(
      spark: SparkSession,
      dir: String,
      version: Int,
      entries: Seq[ManifestEntry]): Seq[SchemaChange] = {
    val keys = entries.map(e => fileKey(e.path)).toSet
    schemaLog(spark, dir).filter(c => c.version <= version && c.fileKeys.exists(keys))
  }

  /** Refuse `op` while a schema change other than the `allow`ed kind is
    * active on `entries`, naming each and the fold that clears it.
    */
  private def requireNoActiveSchemaChange(
      spark: SparkSession,
      dir: String,
      version: Int,
      entries: Seq[ManifestEntry],
      op: String,
      allow: Option[String] = None): Unit = {
    val active = activeSchemaChanges(spark, dir, version, entries).filterNot(c => allow.contains(c.kind))
    require(active.isEmpty,
      s"$op on $dir refused: ${active.map(_.refusal).mkString(", ")} still active on live " +
        "files — run commitOptimize first to fold them into a uniform physical schema")
  }

  /** [[readVersionEvolved]] under its historical name. */
  def readVersionRenamed(spark: SparkSession, dir: String, version: Int): DataFrame =
    readVersionEvolved(spark, dir, version)

  /** Read `version` with every [[SchemaChange]] recorded by it applied.
    * Files are grouped by WHICH changes apply to them (a handful of
    * generations, never O(files) groups — each change splits the set
    * once); each group scans with its changes' projections in version
    * order (plan-only — the parquet scan and its pruning/pushdown are
    * untouched; a cast on top of the scan is a projection, not a
    * rewrite), and the groups union BY NAME, so readers see one coherent
    * logical schema over physically mixed files. With no change in scope
    * of any listed file this IS [[readVersion]] (deletion-vector-aware);
    * the grouped path never meets a live vector (the evolution commits
    * refuse one).
    */
  def readVersionEvolved(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val log = schemaLog(spark, dir).filter(_.version <= version).toIndexedSeq
    val files = manifest(spark, dir, version)._2.map(_.path)
    val groups = files.groupBy { p =>
      val k = fileKey(p)
      log.indices.filter(log(_).fileKeys.contains(k))
    }
    if (groups.keys.forall(_.isEmpty)) readVersion(spark, dir, version)
    else {
      requireNoLiveDv(spark, dir, version, "EVOLVED READ")
      groups.toSeq
        .map { case (applied, group) =>
          applied.map(log).foldLeft(spark.read.parquet(group: _*))((df, c) => c.project(df))
        }
        .reduce(_.unionByName(_))
    }
  }

  /** Read the latest snapshot with every schema change applied. */
  def readLatestRenamed(spark: SparkSession, dir: String): DataFrame =
    readVersionEvolved(spark, dir, latestVersion(spark, dir))

  // ---- Named refs (tags) -------------------------------------------------

  private def tagsDir(dir: String) = new Path(dir, "_tags")
  private val TagFileRe = "(.+)\\.ref".r
  private val TagNameRe = "^[A-Za-z0-9][A-Za-z0-9._-]*$"

  /** Pin `version` under a stable NAME (the Iceberg/Delta tag idea):
    * "published", "train-2026q3" — the handle a reproducible pipeline
    * passes around instead of a raw version number. Tags are WRITE-ONCE
    * (published via the same exclusive-claim primitive as manifests —
    * two racing taggers of one name cannot both win; the loser gets a
    * clear refusal, never a silently moved ref); [[retag]] moves one
    * explicitly. A tagged version is a retention root: [[vacuum]] keeps
    * its manifest and files even below keepFrom, so routine retention
    * cannot erase the snapshot a tag promises to reproduce. Tag files
    * carry the manifest CRC discipline — a flipped bit reads as a loud
    * refusal, not a wrong version.
    */
  def tag(spark: SparkSession, dir: String, name: String, version: Int): Unit = {
    require(name.matches(TagNameRe), s"invalid tag name '$name'")
    val latest = latestVersion(spark, dir)
    require(version >= 1 && version <= latest,
      s"cannot tag v$version: table at $dir has versions [1, $latest]")
    // the manifest must still exist (not vacuumed away)
    manifest(spark, dir, version)
    val td = tagsDir(dir)
    val f = fs(spark, td)
    f.mkdirs(td)
    require(claimChecked(f, new Path(td, s"$name.ref"), s"$version\n"),
      s"tag '$name' already exists on $dir (tags are write-once; use retag to move one)")
  }

  /** Move an existing tag to `version` — an explicit drop+tag (the
    * caller owns the race window, the documented single-writer contract
    * for ref moves).
    */
  def retag(spark: SparkSession, dir: String, name: String, version: Int): Unit = {
    dropTag(spark, dir, name)
    tag(spark, dir, name, version)
  }

  /** Remove a tag. The version it pinned becomes ordinary history —
    * reclaimable by the next [[vacuum]] below keepFrom.
    */
  def dropTag(spark: SparkSession, dir: String, name: String): Unit = {
    val p = new Path(tagsDir(dir), s"$name.ref")
    val f = fs(spark, p)
    require(f.exists(p), s"tag '$name' does not exist on $dir")
    f.delete(p, false)
    ()
  }

  /** All tags: name → pinned version (CRC-checked on read). */
  def tags(spark: SparkSession, dir: String): Map[String, Int] = {
    val td = tagsDir(dir)
    val f = fs(spark, td)
    if (!f.exists(td)) Map.empty
    else
      f.listStatus(td)
        .flatMap { st =>
          st.getPath.getName match {
            // full-match: a crashed attempt's `<name>.ref.tmp-<uuid>`
            // never parses as a tag
            case TagFileRe(name) =>
              Some(name -> readChecked(f, st.getPath, s"tag '$name' on $dir").trim.toInt)
            case _ => None
          }
        }
        .toMap
  }

  /** Resolve a tag to its version. */
  def tagVersion(spark: SparkSession, dir: String, name: String): Int =
    tags(spark, dir).getOrElse(
      name,
      throw new IllegalArgumentException(s"tag '$name' does not exist on $dir"))

  /** Read the snapshot a tag pins — [[readVersion]] by name. */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame =
    readVersion(spark, dir, tagVersion(spark, dir, name))

  // ---- Deletion vectors (merge-on-read delete) -----------------------------

  /** The version's deletion-vector sidecar — (parquet dir of
    * (__dv_file, __dv_pos) dead positions, cardinality) — None when every
    * listed row is live. The sidecar is content-addressed (a unique
    * `dv/dv-<uuid>` directory referenced by the manifest header), so it
    * becomes visible atomically with the manifest publish and is shared
    * by reference across the versions that carry it forward.
    */
  def dvInfo(spark: SparkSession, dir: String, version: Int): Option[(String, Long)] = {
    val lines = manifestLines(spark, dir, version)
    lines.find(_.startsWith(DvHeader)).map { l =>
      val n = lines
        .find(_.startsWith(DvRowsHeader))
        .map(_.drop(DvRowsHeader.length).toLong)
        .getOrElse(0L)
      (l.drop(DvHeader.length), n)
    }
  }

  /** The manifest-header fragment that carries `version`'s deletion
    * vector into the next commit (appends, merges, COW deletes, restores
    * and clones all carry; OPTIMIZE folds and drops it; overwrite
    * replaces the content and drops it).
    */
  private def dvCarryHeader(spark: SparkSession, dir: String, version: Int): String =
    if (version < 1) ""
    else
      dvInfo(spark, dir, version)
        .map { case (p, n) => s"$DvHeader$p\n$DvRowsHeader$n\n" }
        .getOrElse("")

  private def requireNoLiveDv(spark: SparkSession, dir: String, version: Int, what: String): Unit =
    require(dvInfo(spark, dir, version).isEmpty,
      s"$what on $dir refused while v$version carries a deletion vector (its answer would " +
        "silently include dead rows) — run commitOptimize to fold the deletes into the layout first")

  /** Read `paths` under `version`'s deletion vector: dead (file, row)
    * positions anti-join out via the parquet reader's `_metadata`
    * columns, broadcast (a DV is small by contract — the tombstone-set
    * discipline; OPTIMIZE folds it before it grows past broadcast size).
    * The scan itself is the plain parquet scan — pruning and pushdown
    * intact; the anti-join adds no exchange on the data side.
    */
  private def readFilesDv(
      spark: SparkSession,
      dir: String,
      version: Int,
      paths: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val rd = if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
    val base = rd.parquet(paths: _*)
    dvInfo(spark, dir, version) match {
      case None => base
      case Some((dvPath, dvRows)) =>
        val cols = base.columns.map(col).toSeq
        base
          .withColumn("__dv_file", col("_metadata.file_path"))
          .withColumn("__dv_pos", col("_metadata.row_index"))
          .join(
            maybeBroadcast(spark, spark.read.parquet(dvPath), dvRows),
            Seq("__dv_file", "__dv_pos"),
            "left_anti")
          .select(cols: _*)
    }
  }

  /** MERGE-ON-READ row-level DELETE — the deletion-vector twin of
    * [[commitDelete]] (the Delta DV design): instead of rewriting every
    * zone-overlapping file, the commit records the doomed rows' (file,
    * row-index) positions in a sidecar and publishes the SAME file list
    * with a `#dv=` header; reads anti-join the vector out. ZERO data
    * files move — at streaming-upsert rates this kills the write
    * amplification that makes copy-on-write the first operational cliff
    * after compaction. The trade: every read pays the (broadcast-sized)
    * anti-join until [[commitOptimize]] folds the vector into a clean
    * rewrite. Deletes accumulate (the new vector = carried ∪ new
    * positions); rows already dead never re-enter the vector or the
    * change record. Same zone-map pruning as COW: only overlapping files
    * are scanned for doomed positions. Publishes and returns the new
    * version.
    */
  def commitDeleteMor(spark: SparkSession, dir: String, column: String, lo: Long, hi: Long): Int = {
    val prev = latestVersion(spark, dir)
    val (statsCols, entries) = manifest(spark, dir, prev)
    requireNoActiveSchemaChange(spark, dir, prev, entries, "MERGE-ON-READ DELETE")
    val ci = statsCols.indexOf(column)
    require(ci >= 0, s"delete needs a zone map on $column; $dir declares $statsCols")
    val touched = entries.filter(e => e.stats(ci).max >= lo && e.stats(ci).min <= hi)
    val v = prev + 1
    if (touched.isEmpty) {
      publishOrAbort(spark, dir, v, statsCols, entries, "delete",
        dvCarryHeader(spark, dir, prev))
      v
    } else {
      val prevDv = dvInfo(spark, dir, prev)
      val withPos = spark.read
        .parquet(touched.map(_.path): _*)
        .withColumn("__dv_file", col("_metadata.file_path"))
        .withColumn("__dv_pos", col("_metadata.row_index"))
      val liveTouched = prevDv.fold(withPos) { case (p, n) =>
        withPos.join(
          maybeBroadcast(spark, spark.read.parquet(p), n),
          Seq("__dv_file", "__dv_pos"),
          "left_anti")
      }
      // doomed feeds both the vector delta and the feed record — persist
      // so the touched files are scanned once, not twice
      val doomed = liveTouched
        .filter(col(column).between(lo, hi))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val dvStage = new Path(dir, s"dv/dv-${java.util.UUID.randomUUID()}")
        val newDv = prevDv.fold(doomed.select(col("__dv_file"), col("__dv_pos"))) { case (p, _) =>
          spark.read.parquet(p).unionByName(doomed.select(col("__dv_file"), col("__dv_pos")))
        }
        newDv.write.mode("error").parquet(dvStage.toString)
        // row count from the just-written footers (driver-only metadata
        // read, the listedEntries convention) instead of a count job
        val dvRows = footerRowsUnder(spark, dvStage)
        // change-feed record: the newly dead rows, table columns only —
        // sized by the change, exactly as on the COW path
        val chStage = stageChanges(spark, dir,
          doomed.drop("__dv_file", "__dv_pos").withColumn(ChangeTypeCol, lit("delete")))
        publishOrAbort(spark, dir, v, statsCols, entries, "delete",
          s"$DvHeader${dvStage.toString}\n$DvRowsHeader$dvRows\n")
        publishChanges(spark, dir, chStage, v)
        v
      } finally {
        doomed.unpersist(blocking = false)
        ()
      }
    }
  }

  /** Total row count of every parquet file under `p`, from the footers —
    * one driver-side metadata read per file, never a Spark job.
    */
  private def footerRowsUnder(spark: SparkSession, p: Path): Long = {
    val f = fs(spark, p)
    val conf = spark.sparkContext.hadoopConfiguration
    f.listStatus(p)
      .map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(footerRowCount(conf, _))
      .sum
  }

  /** MERGE-ON-READ keyed upsert — the deletion-vector twin of
    * [[commitMerge]] (reference: src/lambda/StreamingIngestAggFeatures/
    * lambda_function.py:31's last-writer-wins put_record, batch form):
    * instead of rewriting every key-overlapping file, the commit (a)
    * tombstones the matched base rows' (file, row-index) positions into
    * the sidecar and (b) lands the ENTIRE change batch (update
    * postimages + inserts) as ordinary new data files — ZERO existing
    * files move, so a streaming-rate upsert cadence pays O(changes)
    * writes per commit instead of O(touched files), the write
    * amplification [[commitDeleteMor]] kills for DELETE. Reads stay
    * bit-identical to the COW path (readVersion anti-joins the vector);
    * [[commitOptimize]] folds the vector into a clean rewrite. Matched
    * positions are found only in zone-map-overlapping files (same
    * broadcast hit test as COW); rows already dead never re-match. The
    * change feed carries the same update_preimage / update_postimage /
    * insert records as COW — the two paths are indistinguishable to
    * every consumer. `changes` must carry at most one row per key and
    * exactly the table's columns. Publishes and returns the new version.
    */
  def commitMergeMor(spark: SparkSession, dir: String, changes: DataFrame, keyCol: String): Int =
    commitMergeMorBatch(spark, dir, changes, keyCol, None).get

  /** [[commitMergeMor]] as an EXACTLY-ONCE streaming upsert commit: a
    * batch id the table already holds no-ops (returns false) — the
    * foreachBatch replay contract [[commitAppendExactlyOnce]] gives
    * appends, extended to the keyed-upsert cadence that motivated
    * merge-on-read in the first place (per micro-batch: one small change
    * file + a vector delta, zero rewrites). A RACING twin of the same
    * batch id aborts on the lost publish (a merge's staged rows derive
    * from a snapshot the lost race proves stale — the lost-update
    * rationale every read-modify-write commit shares); the restarted
    * query's replay of that id then skips cleanly, so across crash /
    * replay / zombie interleavings exactly one instance lands.
    */
  def commitMergeMorExactlyOnce(
      spark: SparkSession,
      dir: String,
      changes: DataFrame,
      keyCol: String,
      batchId: Long): Boolean =
    commitMergeMorBatch(spark, dir, changes, keyCol, Some(batchId)).isDefined

  /** A foreachBatch function for continuous keyed upserts into the table:
    * `stream.writeStream.foreachBatch(Snapshots.mergeSink(dir, key))`.
    * The first data-carrying batch on an EMPTY table bootstraps as an
    * exactly-once append (a merge into nothing is an insert-all); every
    * later batch lands as an exactly-once MoR merge. The caller owns the
    * batch's own LWW collapse (at most one row per key per batch — e.g.
    * [[graft.operators.LatestPerKey]] inside the query).
    */
  def mergeSink(dir: String, keyCol: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      val spark = df.sparkSession
      if (latestVersion(spark, dir) == 0) commitAppendExactlyOnce(df, dir, batchId)
      else commitMergeMorExactlyOnce(spark, dir, df, keyCol, batchId)
      ()
    }

  private def commitMergeMorBatch(
      spark: SparkSession,
      dir: String,
      changes: DataFrame,
      keyCol: String,
      batchId: Option[Long]): Option[Int] = {
    if (batchId.exists(b => lastBatchId(spark, dir).exists(_ >= b))) return None
    val prev = latestVersion(spark, dir)
    require(prev >= 1, s"cannot merge into an empty table at $dir")
    val (statsCols, entries) = manifest(spark, dir, prev)
    requireNoActiveSchemaChange(spark, dir, prev, entries, "MERGE-ON-READ MERGE")
    // the change source is read once (persisted unless the caller already
    // did — then the cache is theirs) and shared by the key aggregation,
    // the new-file staging write, and the feed's postimage typing join —
    // the commitMerge convention (guide §1.2)
    val ownsCache = changes.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val ch =
      if (ownsCache) changes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else changes
    // one aggregation for the dup guard + every key-distinct consumer
    // (hit test, tombstone semi-join, feed) — the commitMerge convention
    val keyCounts = ch
      .groupBy(col(keyCol))
      .count()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toFree = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // try/finally: an abort in publishOrAbort or a write failure must
    // free the persisted blocks too (the commitMerge convention)
    try {
      // one aggregation for the dup guard + the broadcast-size guard
      val kc = keyCounts
        .agg(fCount(lit(1)).as("n"), coalesce(fMax(col("count")), lit(0L)).as("mx"))
        .head()
      val nKeys = kc.getLong(0)
      require(kc.getLong(1) <= 1L, s"merge changes must carry at most one row per $keyCol")
      def keyB(df: DataFrame): DataFrame = maybeBroadcast(spark, df, nKeys)
      val changeKeys = keyCounts.select(col(keyCol))
      val ci = statsCols.indexOf(keyCol)
      val touchedPaths: Set[String] =
        if (ci < 0) entries.map(_.path).toSet
        else if (entries.isEmpty) Set.empty
        else {
          val ranges = spark
            .createDataFrame(entries.map(e => (e.path, e.stats(ci).min, e.stats(ci).max)))
            .toDF("path", "mn", "mx")
          changeKeys
            .select(col(keyCol).cast("long").as("k"))
            .join(broadcast(ranges), col("k").between(col("mn"), col("mx")))
            .select("path")
            .distinct()
            .collect()
            .map(_.getString(0))
            .toSet
        }
      val touched = entries.filter(e => touchedPaths.contains(e.path))
      val v = prev + 1
      // the change batch IS the new file set: postimages and inserts
      // together, written once — never joined back against the base
      val stage = new Path(dir, s"data/stage-${java.util.UUID.randomUUID()}")
      ch.write.mode("error").parquet(stage.toString)
      val staged =
        if (statsCols.nonEmpty) zoneEntries(spark, stage, statsCols)
        else listedEntries(spark, stage)
      val prevDv = dvInfo(spark, dir, prev)
      val (dvHeader, feed) =
        if (touched.isEmpty) {
          (dvCarryHeader(spark, dir, prev), ch.withColumn(ChangeTypeCol, lit("insert")))
        } else {
          // matched LIVE base rows (dead rows never re-enter the vector or
          // the feed) become the new tombstone positions; persisted — the
          // vector delta, the preimage feed, and the matched-key frame all
          // read it (previously three scans of the touched files)
          val withPos = spark.read
            .parquet(touched.map(_.path): _*)
            .withColumn("__dv_file", col("_metadata.file_path"))
            .withColumn("__dv_pos", col("_metadata.row_index"))
          val liveTouched = prevDv.fold(withPos) { case (p, n) =>
            withPos.join(
              maybeBroadcast(spark, spark.read.parquet(p), n),
              Seq("__dv_file", "__dv_pos"),
              "left_anti")
          }
          val matched = liveTouched
            .join(keyB(changeKeys), Seq(keyCol), "left_semi")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          toFree += matched
          val dvStage = new Path(dir, s"dv/dv-${java.util.UUID.randomUUID()}")
          val newDv = prevDv.fold(matched.select(col("__dv_file"), col("__dv_pos"))) { case (p, _) =>
            spark.read.parquet(p).unionByName(matched.select(col("__dv_file"), col("__dv_pos")))
          }
          newDv.write.mode("error").parquet(dvStage.toString)
          // footer metadata, not a count job (the listedEntries convention)
          val dvRows = footerRowsUnder(spark, dvStage)
          val matchedKeys = matched
            .select(col(keyCol))
            .distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          toFree += matchedKeys
          // one pass over the change batch (the commitMerge convention):
          // matched keys type as update_postimage, the rest as insert;
          // marker column salted against table-schema collisions
          val mCol = s"__matched_${java.util.UUID.randomUUID().toString.take(8)}"
          val changeCols = ch.columns.map(col).toIndexedSeq
          val feed = matched
            .drop("__dv_file", "__dv_pos")
            .withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(ch
              .join(
                keyB(matchedKeys.withColumn(mCol, lit(1L))),
                Seq(keyCol),
                "left")
              .select(changeCols :+
                when(col(mCol) === 1L, lit("update_postimage"))
                  .otherwise(lit("insert"))
                  .as(ChangeTypeCol): _*))
          (s"$DvHeader${dvStage.toString}\n$DvRowsHeader$dvRows\n", feed)
        }
      // at most one preimage + one postimage per change key
      val chStage = stageChanges(spark, dir, feed, approxRows = 2L * nKeys)
      // EVERY previous file is carried by reference — the manifest diff is
      // the staged change files plus the vector header, nothing else
      publishOrAbort(spark, dir, v, statsCols, entries ++ staged, "merge",
        dvHeader + batchId.map(b => s"$BatchHeader$b\n").getOrElse(""))
      publishChanges(spark, dir, chStage, v)
      batchId.foreach(b => writeHwm(spark, dir, b, v))
      Some(v)
    } finally {
      if (ownsCache) ch.unpersist(blocking = false)
      keyCounts.unpersist(blocking = false)
      toFree.foreach(_.unpersist(blocking = false))
      ()
    }
  }

  /** Read the table exactly as of `version` (deletion-vector-aware). */
  def readVersion(spark: SparkSession, dir: String, version: Int): DataFrame =
    readFilesDv(spark, dir, version, manifest(spark, dir, version)._2.map(_.path))

  /** Rows ADDED between `fromVersion` (exclusive) and `toVersion`
    * (inclusive) — the incremental-consumption primitive a training
    * pipeline polls ("give me everything new since the snapshot I last
    * processed") and the batch half of a change-data feed: because data
    * files are immutable and appends carry the prior file list forward,
    * the added rows are EXACTLY the files in `toVersion`'s manifest
    * absent from `fromVersion`'s — one manifest diff, zero data reads
    * beyond the new files themselves, any history length. Composes with
    * the exactly-once sink: a consumer that remembers its last-read
    * version gets each micro-batch's rows exactly once. Requires every
    * version in the range to be an APPEND of its predecessor (file-set
    * superset); a delete/overwrite/OPTIMIZE in the range REWRITES
    * history rather than adding rows, so "the rows added since" is
    * ill-posed there and the call refuses with a clear message (the
    * consumer falls back to a full re-read of the latest snapshot —
    * the same compaction-vs-tailing contract Delta/Iceberg streaming
    * sources expose).
    */
  def readChangesSince(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(fromVersion >= 1 && toVersion >= fromVersion,
      s"need 1 <= fromVersion <= toVersion, got [$fromVersion, $toVersion]")
    val added = addedFilesBetween(spark, dir, fromVersion, toVersion)
    if (added.isEmpty) readVersion(spark, dir, toVersion).limit(0)
    else spark.read.parquet(added: _*)
  }

  /** The data files ADDED between `fromVersion` (exclusive; 0 = before
    * the table existed, so v1's files count as added) and `toVersion`
    * (inclusive) — the manifest-diff core shared by [[readChangesSince]]
    * and the streaming source ([[graft.streaming.SnapshotsStreamSource]]).
    * Refuses a range containing any non-append version (files removed or
    * rewritten), with the incremental-read contract's message.
    */
  def addedFilesBetween(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Int): Seq[String] = {
    require(fromVersion >= 0 && toVersion >= fromVersion,
      s"need 0 <= fromVersion <= toVersion, got [$fromVersion, $toVersion]")
    var prevKeys =
      if (fromVersion == 0) Set.empty[String]
      else manifest(spark, dir, fromVersion)._2.map(e => fileKey(e.path)).toSet
    var prevDv =
      if (fromVersion == 0) None else dvInfo(spark, dir, fromVersion).map(_._1)
    val added = scala.collection.mutable.ListBuffer.empty[String]
    ((fromVersion + 1) to toVersion).foreach { v =>
      val cur = manifest(spark, dir, v)._2.map(_.path)
      val curKeys = cur.map(fileKey).toSet
      require(prevKeys.subsetOf(curKeys),
        s"v$v is not an append of v${v - 1} (files were removed/rewritten): " +
          "incremental reads are only defined over append-only ranges — " +
          "re-read the latest snapshot instead")
      // a merge-on-read delete keeps the file set but changes the ROWS —
      // equally not an append (a carried-forward, unchanged vector is
      // fine: added files hold no dead positions by construction)
      val curDv = dvInfo(spark, dir, v).map(_._1)
      require(curDv == prevDv,
        s"v$v changed the deletion vector (merge-on-read delete in range): " +
          "incremental reads are only defined over append-only ranges — " +
          "re-read the latest snapshot instead")
      added ++= cur.filter(p => !prevKeys.contains(fileKey(p)))
      prevKeys = curKeys
    }
    added.toSeq
  }

  /** Read `version` with SCHEMA MERGING across its file generations — the
    * schema-evolution read (x3's `mergeSchema` discipline) lifted THROUGH
    * the manifest: an append may stage files carrying added columns (the
    * manifest tracks files, not schemas, so evolution needs no special
    * commit), and because each version pins its exact file list, time
    * travel also travels SCHEMA — a version published before the column
    * existed reads WITHOUT it, forever, which is what makes "rerun
    * against snapshot k" reproducible under evolution. Pre-evolution
    * rows surface with the added columns NULL, exactly as in the
    * unversioned x3 read. Zone maps on columns present in every
    * generation keep pruning across the evolution boundary.
    */
  def readVersionMerged(spark: SparkSession, dir: String, version: Int): DataFrame =
    readFilesDv(spark, dir, version, manifest(spark, dir, version)._2.map(_.path),
      mergeSchema = true)

  /** Range read THROUGH the zone maps: only files whose [min, max] on
    * `column` overlaps [lo, hi] are handed to the scan (manifest-level
    * skipping — the planning-time half), and the exact `BETWEEN` survives
    * as the residual filter (pushed to the surviving files' row groups).
    * `column` may be ANY declared stats column — on a Z-ordered layout
    * with multi-column zone maps, predicates on either dimension prune.
    * On a range-clustered table this is the 100 TB lever: a selective
    * range touches O(matching files), not the table. Correctness never
    * depends on the zone maps — a stale/wide map only costs extra reads.
    */
  def readVersionRange(
      spark: SparkSession,
      dir: String,
      version: Int,
      column: String,
      lo: Long,
      hi: Long): DataFrame = {
    val (statsCols, entries) = manifest(spark, dir, version)
    val ci = statsCols.indexOf(column)
    require(ci >= 0,
      s"snapshot v$version of $dir carries no zone map on $column (declared: $statsCols)")
    val keep = entries.filter(e => e.stats(ci).max >= lo && e.stats(ci).min <= hi).map(_.path)
    // zone maps exclude every file: any one file's schema + an
    // always-false residual yields the same (empty) result
    val src = if (keep.nonEmpty) keep else entries.map(_.path).take(1)
    readFilesDv(spark, dir, version, src).filter(col(column).between(lo, hi))
  }

  /** Read the latest published snapshot. */
  def readLatest(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, latestVersion(spark, dir))

  // ---- Metadata-only aggregation ------------------------------------------

  private def countedEntries(
      spark: SparkSession,
      dir: String,
      version: Int): (Seq[String], Seq[ManifestEntry]) = {
    val (statsCols, entries) = manifest(spark, dir, version)
    require(entries.forall(_.rows.isDefined),
      s"snapshot v$version of $dir predates per-file row counts; " +
        "re-commit (any append/OPTIMIZE republishes with counts) to enable metadata aggregation")
    (statsCols, entries)
  }

  /** COUNT(*) at `version` answered ENTIRELY from commit metadata — the
    * Iceberg/Delta metadata-only query: the manifest's per-file row
    * counts sum to the table count without opening a single data file.
    * At 100 TB this is the difference between a count that costs one
    * small manifest read and one that scans (or at best footer-walks)
    * every file of the table. SnapshotsSpec proves the zero-data-read
    * claim the hard way: the answer survives the data files being
    * physically removed.
    */
  def metadataRowCount(spark: SparkSession, dir: String, version: Int): Long =
    countedEntries(spark, dir, version)._2.map(_.rows.get).sum -
      // a live deletion vector's cardinality rides the manifest header,
      // so the metadata-only count stays exact under MOR deletes
      dvInfo(spark, dir, version).map(_._2).getOrElse(0L)

  /** Exact global (min, max) of a zone-mapped column at `version`, from
    * metadata alone: the per-file zone maps are exact min/max, so their
    * fold is the table's. Same zero-data-read contract as
    * [[metadataRowCount]].
    */
  def metadataMinMax(
      spark: SparkSession,
      dir: String,
      version: Int,
      column: String): (Long, Long) = {
    // a dead row could hold the extreme value, making the zone-map fold
    // an over-approximation — refuse rather than answer inexactly
    requireNoLiveDv(spark, dir, version, "METADATA MIN/MAX")
    val (statsCols, entries) = countedEntries(spark, dir, version)
    val ci = statsCols.indexOf(column)
    require(ci >= 0,
      s"snapshot v$version of $dir carries no zone map on $column (declared: $statsCols)")
    require(entries.nonEmpty, s"snapshot v$version of $dir is empty")
    (entries.map(_.stats(ci).min).min, entries.map(_.stats(ci).max).max)
  }

  /** Diagnostics of a [[metadataRangeCount]]: how much of the answer came
    * from metadata vs a residual scan.
    */
  final case class RangeCount(
      count: Long,
      filesFromMetadata: Int,
      filesScanned: Int,
      filesTotal: Int)

  /** COUNT of rows with `column BETWEEN lo AND hi`, split the way every
    * manifest-based format splits it: files whose zone map is FULLY
    * CONTAINED in [lo, hi] contribute their manifest row count (no
    * read); files fully OUTSIDE contribute nothing (no read); only the
    * boundary-overlapping files are scanned with the residual predicate.
    * Against a range-clustered (or OPTIMIZEd) table the scan touches
    * O(boundary) files regardless of table size.
    */
  def metadataRangeCount(
      spark: SparkSession,
      dir: String,
      version: Int,
      column: String,
      lo: Long,
      hi: Long): RangeCount = {
    // fully-contained files answer from manifest counts, which include
    // dead rows under a live vector — refuse rather than over-count
    requireNoLiveDv(spark, dir, version, "METADATA RANGE COUNT")
    val (statsCols, entries) = countedEntries(spark, dir, version)
    val ci = statsCols.indexOf(column)
    require(ci >= 0,
      s"snapshot v$version of $dir carries no zone map on $column (declared: $statsCols)")
    val overlapping = entries.filter(e => e.stats(ci).max >= lo && e.stats(ci).min <= hi)
    val (contained, boundary) =
      overlapping.partition(e => e.stats(ci).min >= lo && e.stats(ci).max <= hi)
    val scanned =
      if (boundary.isEmpty) 0L
      else
        spark.read
          .parquet(boundary.map(_.path): _*)
          .filter(col(column).between(lo, hi))
          .count()
    RangeCount(
      contained.map(_.rows.get).sum + scanned,
      contained.size,
      boundary.size,
      entries.size)
  }

  // ---- COPY INTO (file-level idempotent ingest) ----------------------------

  /** Source basenames already ingested by [[copyInto]] commits among the
    * SURVIVING versions — the union of their `#copied=` headers. Riding
    * the manifest makes the ingested-set update ATOMIC with the commit
    * (a crash can never record an ingest that did not publish, nor
    * publish one it did not record); the cost is one small read per
    * surviving manifest, and the caveat every loaded-file tracker has:
    * vacuuming the versions that ingested a file forgets it was loaded.
    */
  def ingestedSources(spark: SparkSession, dir: String): Set[String] = {
    val latest = latestVersion(spark, dir)
    val md = manifestDir(dir)
    val f = fs(spark, md)
    (1 to latest).iterator
      .filter(v => f.exists(new Path(md, s"v$v.list")))
      .flatMap(v =>
        manifestLines(spark, dir, v)
          .find(_.startsWith(CopiedHeader))
          .toSeq
          .flatMap(_.drop(CopiedHeader.length).split(',').filter(_.nonEmpty)))
      .toSet
  }

  /** COPY INTO — idempotent FILE-level ingest (the Delta COPY INTO /
    * Auto Loader shape): every parquet file in `stagingDir` whose
    * basename has not been ingested before is added to the table BY
    * REFERENCE (zero copy — the staged file becomes table data in
    * place, with zone maps and row counts computed at ingest), and the
    * ingested basenames ride the commit's own manifest header, so
    * re-running after ANY crash or partial delivery ingests each file
    * exactly once. The loop a landing zone needs: producers drop files,
    * the ingest job re-runs blindly, the table never double-counts.
    * Returns (version, filesIngested) — (0, 0) when nothing new. Lost
    * publish races re-check the ingested set and retry, so concurrent
    * ingest jobs cannot double-ingest a file.
    */
  def copyInto(
      spark: SparkSession,
      dir: String,
      stagingDir: String,
      statsCols: Seq[String] = Nil): (Int, Int) = {
    val staging = new Path(stagingDir)
    val f = fs(spark, staging)
    val conf = spark.sparkContext.hadoopConfiguration
    var out: Option[(Int, Int)] = None
    while (out.isEmpty) {
      val done = ingestedSources(spark, dir)
      val fresh = f
        .listStatus(staging)
        .map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !done(p.getName))
        .sortBy(_.getName)
        .toSeq
      if (fresh.isEmpty) out = Some((0, 0))
      else {
        val staged: Seq[ManifestEntry] =
          if (statsCols.nonEmpty) zoneEntriesOf(spark, fresh.map(_.toString), statsCols)
          else fresh.map(p => ManifestEntry(p.toString, Nil, Some(footerRowCount(conf, p))))
        val v = latestVersion(spark, dir) + 1
        val carried =
          if (v > 1) {
            val (prevCols, prev) = manifest(spark, dir, v - 1)
            require(prevCols == statsCols,
              s"copyInto stats columns $statsCols must match the carried snapshot's $prevCols")
            prev
          } else Nil
        if (tryPublish(spark, dir, v, statsCols, carried ++ staged, None, "copyinto",
            s"$CopiedHeader${fresh.map(_.getName).mkString(",")}\n" +
              (if (v > 1) dvCarryHeader(spark, dir, v - 1) else "")))
          out = Some((v, fresh.size))
        // else: lost the race — loop re-reads the ingested set (the
        // winner may have ingested some of our files) and retries
      }
    }
    out.get
  }

  /** SHALLOW CLONE — a new table at `dstDir` whose v1 manifest lists
    * `srcVersion`'s data files BY REFERENCE (the Delta CLONE shape):
    * zero bytes move, the clone materializes instantly at any table
    * size, and it inherits the source's zone maps and row counts. From
    * then on the tables are INDEPENDENT: commits against the clone stage
    * files under the CLONE's own `data/`, so the source never observes
    * them (and vice versa) — copy-on-write against shared files (a
    * delete/merge on the clone rewrites its view of a shared file into
    * clone-local storage, the source's copy untouched). [[vacuum]] on
    * the clone is safe by construction (it only deletes under the
    * clone's `data/`, and shared files live under the source); vacuum on
    * the SOURCE does not know about clones — expiring the source
    * versions that reference shared files can break the clone, the same
    * documented caveat every shallow-clone implementation carries (pin
    * the cloned source version with a [[tag]] to make it a retention
    * root). Publishes the clone's v1 and returns 1.
    */
  def cloneTable(spark: SparkSession, srcDir: String, srcVersion: Int, dstDir: String): Int = {
    val (statsCols, entries) = manifest(spark, srcDir, srcVersion)
    require(latestVersion(spark, dstDir) == 0,
      s"clone target $dstDir already has published snapshots")
    // a clone of a MOR-deleted version shares the source's deletion
    // vector by reference, exactly like the data files
    publishOrAbort(spark, dstDir, 1, statsCols, entries, "clone",
      dvCarryHeader(spark, srcDir, srcVersion))
    1
  }
}
