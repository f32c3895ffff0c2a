package graft.engine

/** Collision-free tmp paths for the staged-table memos.
  *
  * The previous scheme suffixed paths with
  * `Integer.toHexString(datasetDir.hashCode)`: two dataset dirs with
  * colliding String hashCodes in one JVM would `mode("overwrite")`
  * the same path and silently serve one dataset's staged
  * edges/pairs/bigrams to the other. Since every call site sits
  * inside a per-dataset `computeIfAbsent`, a process-wide counter is
  * unique by construction — each distinct dataset dir draws a fresh
  * suffix exactly once.
  *
  * Staged files are also registered for recursive deletion at JVM
  * exit (they are per-process scratch, not a durable cache).
  */
private[graft] object StagedPaths {
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)
  private val toDelete = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      toDelete.forEach(p => delete(new java.io.File(p)))
    }, "graft-staged-paths-cleanup"))
  }

  /** pid + process-wide counter — unique per memoized dataset entry. */
  def suffix(): String =
    s"${ProcessHandle.current().pid()}_${counter.incrementAndGet()}"

  /** A fresh `$tmpdir/<prefix>_<pid>_<n>` path, registered for
    * shutdown cleanup. */
  def tmp(prefix: String): String =
    register(s"${System.getProperty("java.io.tmpdir")}/${prefix}_${suffix()}")

  /** Register an externally-built staged path for shutdown cleanup. */
  def register(path: String): String = {
    hook
    toDelete.add(path)
    path
  }

  private def delete(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(delete)
    f.delete()
    ()
  }
}

/** A staged ingest index and its per-epoch delta directories — the
  * replay-idempotence machinery of the ingest doors ([[IngestDoor]]),
  * and the ONE owner of the index's on-disk protocol: [[stage]] writes
  * the base and its `_layout` sidecar, [[write]] an epoch's delta,
  * [[compact]] a new base version; every other module only calls
  * these.
  *
  * Spark's `foreachBatch` is at-least-once: an epoch can replay after
  * a crash between its side effects and the offset commit. Growing
  * the index with a plain parquet APPEND would make a replayed epoch
  * classify its own previously-admitted items as duplicates of
  * themselves. Instead each epoch OVERWRITES its own
  * `<indexPath>_delta/e<epochId>` directory, and the read side unions
  * the base with every delta EXCEPT the current epoch's — a replay
  * therefore probes exactly the index the first attempt saw and
  * leaves exactly one copy of its admissions. A long-lived stream
  * compacts old deltas into the base periodically (the LSM
  * discipline); the union grows with the epoch count, never the
  * corpus.
  *
  * SNAPSHOT-ISOLATED MAINTENANCE (the single-process analog of an
  * Iceberg snapshot): the base lives in an immutable VERSIONED dir —
  * `<indexPath>` as staged, `<indexPath>_v<N>` after the Nth
  * compaction — named by a pointer file (`<indexPath>_version`)
  * flipped atomically under the per-index lock. A compaction never
  * rewrites a dir any live plan references: it writes the merged
  * image to the NEXT version dir, flips the pointer, TOMBSTONES the
  * folded deltas (a `_RETIRED` marker file inside the dir — the
  * listing excludes them but their parquet files stay put), and only
  * deletes the PREVIOUS generation's version dir and tombstoned
  * deltas. A reader whose plan was built just before a compaction
  * therefore executes correctly against the version it listed —
  * retention is exactly one generation (a plan older than TWO
  * compactions can still fail loudly; with compaction every
  * `compactEvery` epochs that is a plan held across 2×compactEvery
  * micro-batches). The remaining sharp edge is epoch-id REUSE: a
  * fresh-checkpoint restart's epoch 0 overwrites a tombstoned `e0`
  * from the pre-restart generation, so a plan from before the
  * restart's compact can lose that delta's files — inherent to
  * reusing the namespace, loud and retryable, never wrong results.
  *
  * Every operation sees the index through ONE [[snapshot]], taken
  * under the per-index lock after crash recovery: the pointer is read
  * and `_delta` listed nowhere else. A door epoch takes one, in its
  * read ([[probeScans]] for the near-dup door, [[readSnapshot]] for the
  * ANN door), and carries it through the epoch — its probe contract,
  * its delta write's gauge, its fold decision and, after the fold, the
  * next epoch's scan preparation —
  * because [[IngestWriters]]' single writer is the only thing that
  * changes the delta set; compaction and door start list afresh.
  *
  * An epoch's delta is bounded by the epoch and already on the driver,
  * so [[write]] writes it there — one Parquet file per partition dir
  * and one rename, no Spark job and no file-commit protocol. Staging
  * and compaction, whose input is corpus-sized, write through Spark.
  *
  * PREPARED SCANS ([[PreparedScan]]): every dir a probe reads — a base
  * version or a committed delta — is immutable until [[write]]
  * overwrites it or a compaction retires it, so the near-dup door plans
  * each dir's read through Spark SQL ONCE: planned, checked against the
  * scan contract (a file scan of that dir, no exchange) and turned into
  * a row RDD, kept in the per-index entry. An epoch's probe is then one
  * Spark job over the union of its snapshot's prepared scans
  * ([[probeScans]]); the door prepares the next epoch's scans after its
  * fold ([[prepare]]). [[write]] drops `e<n>` before overwriting it,
  * [[compact]] drops the folded deltas and the previous base, and
  * [[stage]] and crash recovery drop them all, so an index holds at
  * most one base plus its live deltas. `readAll` and the ANN door keep
  * their SQL reads. */
private[graft] object DeltaIndex {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  import org.apache.spark.sql.execution.datasources.FilePartition
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.exchange.Exchange
  import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
  import org.apache.spark.sql.catalyst.plans.LeftSemi
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Tombstone file name: a folded delta keeps its parquet files (so
    * pre-compaction plans still execute) but is excluded from every
    * listing; deleted one generation later. Underscore-prefixed, so
    * Spark's file listing ignores it inside the parquet dir. */
  private val Tombstone = "_RETIRED"

  /** An index's row schema (partition columns included), its
    * partition columns, and the dials its `_layout` sidecar records. */
  private final case class Layout(schema: StructType, partCols: Seq[String],
                                  dials: Map[String, String])

  /** Per-index in-process state. Its monitor is the per-index lock: it
    * serializes staging, compaction, crash recovery and read PLANNING
    * against each other — a reader can no longer replay
    * [[finishCrashedCompact]] concurrently with a live writer's
    * in-flight compact (both passing the exists checks and destroying
    * the merged base — the round-13 reader-vs-compactor race). Plan
    * EXECUTION happens outside the lock, safe because the planned
    * version dirs and delta files survive a full generation.
    *
    * `layout` is resolved ONCE per (JVM, index) from Spark's own schema
    * and partition discovery over the base plus the sidecar — the
    * layout is fixed at staging time, every delta is written from the
    * same banded/quantized row shape, and every compaction preserves
    * it, so it never goes stale ([[stage]] drops it). Reads then pass
    * the schema explicitly: an inferring `spark.read.parquet` runs one
    * schema-discovery job per scanned dir, per epoch; and probe-time
    * dial validation reads no file. `listings` counts the `_delta`
    * listings taken, for the specs. `scans` holds the index's
    * [[PreparedScan]]s by [[dirKey]], and `version` the base version
    * last listed or published in this JVM — a snapshot of another
    * version is stale and prepares nothing. Guarded by the monitor. */
  private final class Entry {
    var layout: Option[Layout] = None
    var listings = 0L
    val scans = scala.collection.mutable.Map.empty[String, PreparedScan]
    var version = -1L
  }

  /** One immutable index dir's read, planned once: the executed `plan`,
    * its row `rdd` and, per split of the rdd, the partition values of
    * the file it reads (the empty row on a flat layout). On a
    * partitioned layout no split holds two files, so a split's
    * partition values are its whole content's. */
  private[graft] final class PreparedScan(val dir: String, val plan: SparkPlan,
                                          val rdd: RDD[InternalRow],
                                          val splits: IndexedSeq[InternalRow])

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** The canonical path keying every per-index map: these entries and
    * [[IngestWriters]]' claims. */
  private[graft] def canonicalKey(p: String): String =
    try new java.io.File(p).getCanonicalPath
    catch { case _: java.io.IOException => new java.io.File(p).getAbsolutePath }

  private def lockFor(indexPath: String): Entry =
    entries.computeIfAbsent(canonicalKey(indexPath), _ => new Entry)

  /** The key of an index dir among its [[PreparedScan]]s: snapshots name
    * a dir qualified (a listing) or not (the base), so both forms map to
    * the canonical local path. */
  private[graft] def dirKey(dir: String): String = canonicalKey(new Path(dir).toUri.getPath)

  def dir(indexPath: String, epochId: Long): String =
    s"${indexPath}_delta/e$epochId"

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def epochOf(p: Path): Long = p.getName.drop(1).toLong

  private def versionPtr(indexPath: String) = new Path(indexPath + "_version")
  private def versionDir(indexPath: String, n: Long): Path =
    new Path(s"${indexPath}_v$n")
  private def markerPath(indexPath: String) =
    new Path(indexPath + "_compact_commit")
  private def layoutPath(indexPath: String) = new Path(indexPath + "_layout")

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Every on-disk version dir with its number — the ONE definition of
    * the `_v<N>` naming, shared by generation retirement and
    * restaging. */
  private def versionDirs(fs: FileSystem,
                          indexPath: String): Seq[(Path, Long)] = {
    val prefix = new Path(indexPath).getName + "_v"
    Option(fs.globStatus(new Path(indexPath + "_v[0-9]*")))
      .map(_.toSeq).getOrElse(Seq.empty).map(_.getPath)
      .filter(p => p.getName.stripPrefix(prefix).forall(_.isDigit))
      .map(p => p -> p.getName.stripPrefix(prefix).toLong)
  }

  /** The index on disk as one operation sees it: the base version (0 =
    * the as-staged dir `indexPath` itself, N ≥ 1 = `<indexPath>_v<N>`),
    * the base dir it names, and the live and the tombstoned
    * (already-folded) deltas. */
  private[graft] final case class Snapshot(version: Long, base: String,
                                           live: Seq[Path], retired: Seq[Path])

  /** The index's [[Snapshot]], taken under the per-index lock after
    * [[finishCrashedCompact]] — the one way every operation reads the
    * version pointer and lists `_delta`. */
  private def snapshot(s: SparkSession, indexPath: String): Snapshot =
    lockFor(indexPath).synchronized {
      val fs = fsOf(s, new Path(indexPath))
      finishCrashedCompact(fs, indexPath)
      listing(fs, indexPath)
    }

  /** [[snapshot]] without the recovery, for the recovery itself. Caller
    * holds the per-index lock. */
  private def listing(fs: FileSystem, indexPath: String): Snapshot = {
    val entry = lockFor(indexPath)
    entry.listings += 1
    val ptr = versionPtr(indexPath)
    val n = if (fs.exists(ptr)) readText(fs, ptr).trim.toLong else 0L
    entry.version = n
    val root = new Path(indexPath + "_delta")
    val deltas =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath).filter(_.getName.startsWith("e"))
      else Seq.empty
    val (retired, live) = deltas.partition(p => fs.exists(new Path(p, Tombstone)))
    Snapshot(n, if (n == 0L) indexPath else versionDir(indexPath, n).toString,
      live, retired)
  }

  /** The resolved current base dir — what reads scan and compactions
    * fold into. Spec-visible so layout assertions check the dir that
    * is actually served, not the original staging path. */
  private[graft] def currentBase(s: SparkSession, indexPath: String): String =
    snapshot(s, indexPath).base

  /** Outstanding (un-compacted) delta count — what the ingest streams'
    * periodic-compaction trigger, the `/metrics` gauge, and the specs
    * observe. */
  def outstanding(s: SparkSession, indexPath: String): Int =
    snapshot(s, indexPath).live.size

  /** `_delta` listings taken of the index in this JVM, for the specs. */
  private[graft] def listings(indexPath: String): Long = {
    val entry = lockFor(indexPath)
    entry.synchronized(entry.listings)
  }

  /** Base index UNION all live deltas of OTHER epochs, and the
    * [[Snapshot]] it was planned over, which a door epoch carries to
    * [[requireProbeContract]], [[write]] and [[maybeCompact]]. Planned
    * under the per-index lock (stable listing); executes lock-free
    * against a one-generation-immutable snapshot. */
  private[graft] def readSnapshot(s: SparkSession, indexPath: String,
                                  excludeEpoch: Long): (DataFrame, Snapshot) =
    lockFor(indexPath).synchronized {
      val snap = snapshot(s, indexPath)
      (union(s, indexPath, snap.base +:
        snap.live.filter(_.getName != s"e$excludeEpoch").map(_.toString)), snap)
    }

  /** Dirs of the index (base and deltas) unioned in order, each read
    * with the index's resolved schema — no schema-discovery job. */
  private def union(s: SparkSession, indexPath: String,
                    dirs: Seq[String]): DataFrame = {
    val schema = layoutOf(s, indexPath).schema
    dirs.map(s.read.schema(schema).parquet(_)).reduce(_ unionByName _)
  }

  /** The ANN door's per-epoch plan contract (the near-dup door checks
    * its own once per prepared scan, [[prepareScan]]), checked
    * STRUCTURALLY on the un-executed physical plan (static properties —
    * no data touched):
    * the index's current base is scanned, matched on the scan's root
    * paths rather than the rendered plan (which abbreviates locations
    * past `spark.sql.maxMetadataStringLength`), and the index is
    * probed through a broadcast LEFT SEMI join (never shuffled). A
    * regression here would silently turn every epoch
    * corpus-proportional at 100 TB. `read` is the snapshot the probe
    * was planned over ([[readSnapshot]]). */
  private[graft] def requireProbeContract(s: SparkSession, read: Snapshot,
                                          what: String, plan: SparkPlan): Unit = {
    val base = {
      val p = new Path(read.base)
      fsOf(s, p).makeQualified(p)
    }
    require(plan.find {
        case f: FileSourceScanExec => f.relation.location.rootPaths.contains(base)
        case _ => false
      }.isDefined,
      s"$what must read the staged index $base:\n" + plan.toString.take(2000))
    require(plan.find {
        case j: BroadcastHashJoinExec => j.joinType == LeftSemi
        case _ => false
      }.isDefined,
      s"$what must probe via broadcast semi-join:\n" + plan.toString.take(2000))
  }

  /** The near-dup door's probe read: the index's [[snapshot]] (its one
    * listing) and the [[PreparedScan]]s of `cols` over the snapshot's
    * base and every live delta of OTHER epochs, base first — a scan
    * missing from the entry (a door's start, a replay) is prepared here.
    * The union the epoch probes must start with the snapshot's base. */
  private[graft] def probeScans(s: SparkSession, indexPath: String, excludeEpoch: Long,
                                cols: Seq[String]): (Seq[PreparedScan], Snapshot) = {
    val entry = lockFor(indexPath)
    entry.synchronized {
      val snap = snapshot(s, indexPath)
      val scans = scansOf(s, indexPath, entry, snap, snap.base +:
        snap.live.filter(_.getName != s"e$excludeEpoch").map(_.toString), cols)
      require(scans.headOption.exists(_.dir == dirKey(snap.base)),
        s"epoch $excludeEpoch's probe of '$indexPath' must start with its base ${snap.base}")
      (scans, snap)
    }
  }

  /** Prepare the scans of `cols` the door's next epoch reads: `snap`'s
    * base and live deltas, the index as the epoch's fold left it — taken
    * from its delta write or its compaction, so no listing. A snapshot
    * of a version older than the last one published in this JVM (a
    * callback that compacted) prepares nothing; the next probe prepares
    * what it misses. */
  private[graft] def prepare(s: SparkSession, indexPath: String, snap: Snapshot,
                             cols: Seq[String]): Unit = {
    val entry = lockFor(indexPath)
    entry.synchronized {
      if (entry.version == snap.version)
        scansOf(s, indexPath, entry, snap, snap.base +: snap.live.map(_.toString), cols)
      ()
    }
  }

  /** The prepared scans of the index's dirs, for the specs. */
  private[graft] def preparedScans(indexPath: String): Seq[PreparedScan] = {
    val entry = lockFor(indexPath)
    entry.synchronized(entry.scans.values.toSeq)
  }

  /** The [[PreparedScan]]s of `cols` over `dirs` of `snap`, in order,
    * each prepared when the entry lacks it; a scan of any dir outside
    * `snap` (a retired base or delta) is dropped, so the entry holds at
    * most one base plus the live deltas. Caller holds the entry's lock. */
  private def scansOf(s: SparkSession, indexPath: String, entry: Entry, snap: Snapshot,
                      dirs: Seq[String], cols: Seq[String]): Seq[PreparedScan] = {
    val inSnap = (snap.base +: snap.live.map(_.toString)).map(dirKey).toSet
    entry.scans.filterInPlace((k, _) => inSnap(k))
    dirs.map { d =>
      val k = dirKey(d)
      entry.scans.getOrElseUpdate(k, prepareScan(s, indexPath, d, cols))
    }
  }

  /** Plan `dir`'s read of `cols` and check it once: the executed plan
    * reads `dir` through a [[FileSourceScanExec]] (matched on its root
    * path, like [[requireProbeContract]]) and holds no exchange, so a
    * probe over it filters map-side and never shuffles the index. A
    * partitioned layout is planned in [[filePerSplit]]'s session and
    * must give one file per split, so a probe prunes its splits by
    * partition value exactly as a static partition filter prunes files. */
  private def prepareScan(s: SparkSession, indexPath: String, dir: String,
                          cols: Seq[String]): PreparedScan = {
    val layout = layoutOf(s, indexPath)
    val reader = if (layout.partCols.isEmpty) s else filePerSplit(s)
    val qe = reader.read.schema(layout.schema).parquet(dir)
      .select(cols.map(col): _*).queryExecution
    val plan = qe.executedPlan
    val root = {
      val p = new Path(dir)
      fsOf(s, p).makeQualified(p)
    }
    val scan = plan.collectFirst {
      case f: FileSourceScanExec if f.relation.location.rootPaths.contains(root) => f
    }
    require(scan.isDefined,
      s"the prepared scan must read $root through a file scan:\n" + plan.toString.take(2000))
    require(plan.find(_.isInstanceOf[Exchange]).isEmpty,
      s"the prepared scan of $root must not shuffle:\n" + plan.toString.take(2000))
    val files = scan.get.inputRDD.partitions.toIndexedSeq.map {
      case f: FilePartition => f.files.toSeq
      case p => throw new IllegalStateException(s"unexpected split $p in the scan of $root")
    }
    require(layout.partCols.isEmpty || files.forall(_.map(_.filePath).distinct.size <= 1),
      s"a prepared scan of the partitioned $root packed two files into one split")
    val rdd = qe.toRdd
    require(rdd.getNumPartitions == files.size,
      s"the prepared scan of $root must keep one split per file split")
    new PreparedScan(dirKey(dir), plan, rdd,
      files.map(_.headOption.fold(InternalRow.empty)(_.partitionValues)))
  }

  private val splitSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** `s` with its runtime SQL conf, in a session whose
    * `openCostInBytes` equals `maxPartitionBytes`: a split is full once
    * it holds one file, so no split packs two. Derived once per session. */
  private def filePerSplit(s: SparkSession): SparkSession = splitSessions.synchronized {
    splitSessions.computeIfAbsent(s, _ => {
      val n = s.newSession()
      s.conf.getAll.foreach { case (k, v) => if (n.conf.isModifiable(k)) n.conf.set(k, v) }
      n.conf.set("spark.sql.files.openCostInBytes",
        n.conf.get("spark.sql.files.maxPartitionBytes"))
      n
    })
  }

  /** The COMPLETE index — base plus every live delta. The read a
    * batch-side caller (outside any epoch) must use: admissions a
    * stream wrote are part of the index, not an implementation
    * detail. Safe to run CONCURRENTLY with a live stream's
    * compactions: planning is serialized by the per-index lock and
    * the planned snapshot survives one further generation (see the
    * class doc). The one remaining loud-and-retryable window is the
    * CURRENT epoch's own delta being overwritten mid-read by its
    * writer — batch reads racing a live writer on the same index can
    * retry; verdicts are never silently wrong. */
  def readAll(s: SparkSession, indexPath: String): DataFrame =
    readSnapshot(s, indexPath, excludeEpoch = -1L)._1

  /** Stage — or RE-stage — the index at `indexPath` from `rows`, the
    * index row shape, partitioned by `partCol` when set, and record
    * `dials` in the `<indexPath>_layout` sidecar ([[IndexLayout]]; no
    * dials, no sidecar). The restage order, under the per-index lock:
    *   1. the stale sidecar goes FIRST, with the versioning state (a
    *      stale pointer would keep serving the pre-restage `_v<N>` dir
    *      over the fresh data) and the cached [[Layout]] (the schema,
    *      partition layout and dials may all change);
    *   2. the data is written (a full overwrite);
    *   3. the new sidecar is written LAST, once the data is durable.
    * A crash mid-restage therefore never leaves a sidecar claiming the
    * NEW dials beside OLD-formula index data — that pair would pass
    * validation and silently miss matches. Existing `_delta` dirs are
    * left alone — restaging under live deltas keeps its previous
    * (unusual but unchanged) semantics. */
  private[graft] def stage(rows: DataFrame, indexPath: String,
                           partCol: Option[String],
                           dials: Seq[(String, String)]): Unit = {
    val fs = fsOf(rows.sparkSession, new Path(indexPath))
    val entry = lockFor(indexPath)
    entry.synchronized {
      Seq(layoutPath(indexPath), markerPath(indexPath),
        new Path(indexPath + "_compact_commit.staging"), versionPtr(indexPath),
        new Path(indexPath + "_version.staging"))
        .foreach(p => if (fs.exists(p)) fs.delete(p, true))
      versionDirs(fs, indexPath).foreach { case (p, _) => fs.delete(p, true) }
      entry.layout = None
      entry.scans.clear()
      writeRows(rows, partCol.toSeq, indexPath)
      if (dials.nonEmpty)
        writeText(fs, layoutPath(indexPath), IndexLayout.format(dials))
    }
  }

  /** The Spark write of corpus-sized index rows — a staged base, a
    * compacted version — to `dir`, partitioned by `partCols`. Clustered
    * by the partition key first, so each partition dir gets one file
    * instead of one per (task × partition) — the small-files problem
    * that kills partitioned layouts at any scale. The overwrite pins
    * `partitionOverwriteMode` STATIC: under a session-level dynamic
    * mode a restage would keep the old image's other partitions. */
  private def writeRows(rows: DataFrame, partCols: Seq[String], dir: String): Unit = {
    val byKey = if (partCols.isEmpty) rows else rows.repartition(partCols.map(col): _*)
    val w = byKey.write.mode("overwrite").option("partitionOverwriteMode", "static")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(dir)
  }

  /** Overwrite this epoch's delta with `rows` (of `schema`, the index
    * row shape), or — no rows, when the epoch admitted none — clear
    * any stale delta a previous attempt of the same epoch left: never
    * an empty parquet part on the listing, and never a GHOST admission
    * when the replayed epoch's batch was evicted in the meantime.
    *
    * The rows are bounded by the epoch and already on the driver, so
    * the driver writes them ([[writeParquet]]): ONE Parquet file per
    * partition dir in the hidden `_delta/.e<n>.staging` dir — cleared
    * first, since a crash can leave one — then `e<n>` is deleted and
    * the staging dir renamed into place. No Spark job and no
    * file-commit protocol (attempt dirs, job-commit renames,
    * `_SUCCESS`). A crash before the rename leaves no `e<n>` and an
    * unlisted staging dir: the epoch's offsets are not committed, so it
    * replays and writes both again. Deleting a TOMBSTONED `e<n>`
    * (epoch-id reuse after a fresh-checkpoint restart) deletes its
    * tombstone with it — the new delta is live again, correctly.
    *
    * The partition dirs MIRROR the base's layout (a bucket-partitioned
    * index gets bucket-partitioned deltas), so a partition-pruned probe
    * prunes the delta scans exactly like the base scan — a flat delta
    * would re-open every delta file on every epoch regardless of the
    * probe's key set.
    *
    * `seen` is the snapshot the epoch read the index through
    * ([[readSnapshot]]); the single writer is the only thing that
    * changes the delta set, so the outstanding-delta gauge is refreshed
    * from it rather than from a second listing (without one, the index
    * is listed once, after the write). Returns the index as it stands
    * after the write, for the epoch's [[maybeCompact]]. */
  def write(s: SparkSession, indexPath: String, epochId: Long, schema: StructType,
            rows: Seq[Row], seen: Option[Snapshot] = None): Snapshot = {
    val delta = new Path(dir(indexPath, epochId))
    val staging = new Path(delta.getParent, s".e$epochId.staging")
    val fs = fsOf(s, delta)
    if (fs.exists(staging))
      require(fs.delete(staging, true), s"could not clear the stale $staging")
    if (rows.nonEmpty) {
      val pc = layoutOf(s, indexPath).partCols
      val missing = pc.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"delta for '$indexPath' must carry the base's partition " +
          s"column(s) ${missing.mkString(", ")} — a flat delta under a " +
          "partitioned base breaks both the union schema and the " +
          "partition-pruned probe")
      writeParquet(s, staging, schema, pc, rows)
    }
    val entry = lockFor(indexPath)
    entry.synchronized(entry.scans.remove(dirKey(delta.toString)))
    if (fs.exists(delta)) require(fs.delete(delta, true), s"could not clear $delta")
    if (rows.nonEmpty)
      require(fs.rename(staging, delta), s"could not rename $staging to $delta")
    // gauge refresh under the per-index lock: set outside it, a count
    // taken here could overwrite a concurrent compaction's newer one
    // and persist a stale value until the next epoch
    entry.synchronized {
      val before = seen.getOrElse(snapshot(s, indexPath))
      val others = (p: Path) => p.getName != delta.getName
      val after = before.copy(
        live = before.live.filter(others) ++
          (if (rows.nonEmpty) Seq(fs.makeQualified(delta)) else Nil),
        retired = before.retired.filter(others))
      IngestMetrics.setOutstandingDeltas(indexPath, after.live.size.toLong)
      after
    }
  }

  /** `rows` (of `schema`) under `dir` as ONE Parquet file per partition
    * dir of `partCols`, written on the driver by Spark's own Parquet
    * writer — the codec, footer metadata and partition dir names are
    * those a Spark write leaves. */
  private def writeParquet(s: SparkSession, dir: Path, schema: StructType,
                           partCols: Seq[String], rows: Seq[Row]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))
    val dataIdx = dataSchema.fieldNames.toSeq.map(schema.fieldIndex)
    val partIdx = partCols.map(schema.fieldIndex)
    val job = Job.getInstance(s.sessionState.newHadoopConf())
    val writers = new ParquetFileFormat().prepareWrite(s, job, Map.empty, dataSchema)
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(dataSchema)
    val file = s"part-00000-${java.util.UUID.randomUUID}-c000" +
      writers.getFileExtension(task)
    rows.groupBy(r => partIdx.map(r.get)).foreach { case (values, part) =>
      val partDir = partCols.zip(values).foldLeft(dir) { case (d, (c, v)) =>
        new Path(d, ExternalCatalogUtils.getPartitionPathString(c,
          Option(v).map(_.toString).orNull))
      }
      val w = writers.newInstance(new Path(partDir, file).toString, dataSchema, task)
      try part.foreach(r =>
        w.write(toInternal(Row.fromSeq(dataIdx.map(r.get))).asInstanceOf[InternalRow]))
      finally w.close()
    }
  }

  /** Resolve the index's layout ahead of its first read — a door's
    * start, so no epoch pays the one schema-discovery job. */
  private[graft] def resolveLayout(s: SparkSession, indexPath: String): Unit = {
    layoutOf(s, indexPath); ()
  }

  /** The dials the index was staged with (its `_layout` sidecar; empty
    * when it has none), for [[IndexLayout.validate]]. */
  private[graft] def dials(s: SparkSession, indexPath: String): Map[String, String] =
    layoutOf(s, indexPath).dials

  /** The index's [[Layout]], resolved on first use under the per-index
    * lock: the schema and partition columns by Spark's OWN discovery
    * over the base (handles multi-column layouts; a stray name=value
    * file a dir listing would misread is judged exactly as the reader
    * judges it), the dials from the sidecar. */
  private def layoutOf(s: SparkSession, indexPath: String): Layout = {
    val entry = lockFor(indexPath)
    entry.synchronized {
      entry.layout.getOrElse {
        val df = s.read.parquet(snapshot(s, indexPath).base)
        val side = layoutPath(indexPath)
        val fs = fsOf(s, side)
        val l = Layout(df.schema, inferPartCols(df),
          if (fs.exists(side)) IndexLayout.parse(readText(fs, side)) else Map.empty)
        entry.layout = Some(l)
        l
      }
    }
  }

  private def inferPartCols(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.partitionSchema.fieldNames.toSeq
          case _ => Seq.empty[String]
        }
    }.getOrElse(Seq.empty)

  /** Fold the live deltas of epochs `< belowEpoch` into the base — the
    * periodic LSM-style maintenance [[IngestDoor]] schedules between
    * micro-batches (per-epoch read cost and plan depth grow with the
    * OUTSTANDING delta count, so compaction bounds both), and — with
    * the default belowEpoch = fold EVERYTHING — the mandatory step
    * before REUSING an index under a fresh checkpoint: Spark epoch ids
    * restart at 0 with a new checkpoint, and an uncompacted delta
    * namespace would be overwritten epoch by epoch.
    *
    * MID-STREAM SAFETY: folding an epoch's delta into the base is only
    * replay-safe once that epoch can never re-run. foreachBatch(N)
    * runs strictly after epoch N-1's offsets committed, so a stream
    * compacting with `belowEpoch = currentEpoch` inside its epoch
    * folds exactly the never-again-replayed set — the current epoch's
    * own delta (fresh, or stale from a crashed prior attempt) is left
    * alone for a replay to overwrite.
    *
    * CRASH-ATOMIC via a commit marker (the 'exactly one copy' contract
    * survives a crash at any step), all under the per-index lock and
    * from one [[snapshot]]:
    *   1. merged (current base ∪ folded live deltas) →
    *      `<indexPath>_v<N+1>` — invisible to readers until the flip,
    *      PRESERVING the base's partition layout through [[writeRows]]
    *      (a partitioned index folded to flat parquet would lose its
    *      partition dirs and every later partition-pruned probe would
    *      scan the full index); the target was just cleared, so the
    *      static overwrite replaces nothing, and a failed write
    *      deletes its partial target before the failure propagates (a
    *      failed delete rides on it as suppressed)
    *   2. marker (`v<N+1>` + the folded delta names) renamed into
    *      place (atomic publish — no marker, no state change)
    *   3. tombstone each folded delta (files stay put for in-flight
    *      plans), FLIP the version pointer, delete the PREVIOUS
    *      generation (old version dir / flat staging dir, deltas
    *      tombstoned by earlier compactions)
    *   4. delete the marker
    * [[finishCrashedCompact]] (run by every snapshot) replays step 3-4
    * from the marker: each step is idempotent and the merged image is
    * complete before the marker can exist, so admissions are never
    * lost and never double-counted. Single in-process writer per index
    * by [[IngestWriters]] contract. Returns the index as the compaction
    * left it (unchanged when nothing was folded), for the door's
    * [[prepare]]. */
  def compact(s: SparkSession, indexPath: String,
              belowEpoch: Long = Long.MaxValue): Snapshot = {
    val entry = lockFor(indexPath)
    entry.synchronized {
      val snap = snapshot(s, indexPath)
      val folded = snap.live.filter(epochOf(_) < belowEpoch)
      if (folded.isEmpty) snap
      else {
        val fs = fsOf(s, markerPath(indexPath))
        val newN = snap.version + 1
        val target = versionDir(indexPath, newN)
        // a stale target from a pre-marker crashed attempt is dropped
        // OUTRIGHT before rebuilding (a pre-marker image is never
        // authoritative — no marker, no state change)
        entry.scans.remove(dirKey(target.toString))
        if (fs.exists(target))
          require(fs.delete(target, true),
            s"compact: could not clear stale $target")
        // 1. complete merged image in the NEXT version dir; a failed
        // write (an interrupted door stop, an unreadable input) leaves no
        // partial image behind
        try writeRows(union(s, indexPath, snap.base +: folded.map(_.toString)),
          layoutOf(s, indexPath).partCols, target.toString)
        catch { case t: Throwable =>
          try {
            if (fs.exists(target) && !fs.delete(target, true))
              t.addSuppressed(new java.io.IOException(s"could not delete the partial $target"))
          } catch { case d: Throwable => t.addSuppressed(d) }
          throw t
        }
        // 2. marker: new version + folded dir names, renamed into place.
        // The rename result is CHECKED: proceeding to the publish without
        // a durable marker would leave a crash window with no recovery.
        val staging = new Path(indexPath + "_compact_commit.staging")
        writeText(fs, staging, (s"v$newN" +: folded.map(_.getName)).mkString("\n"))
        require(fs.rename(staging, markerPath(indexPath)),
          s"compact marker publish failed for $indexPath — aborting before any state change")
        publishCompact(fs, indexPath, newN, folded.map(_.getName))
        entry.scans --= (snap.base +: folded.map(_.toString)).map(dirKey)
        IngestMetrics.recordCompaction(indexPath)
        IngestMetrics.setOutstandingDeltas(indexPath, (snap.live.size - folded.size).toLong)
        Snapshot(newN, target.toString, snap.live.filterNot(folded.contains), folded)
      }
    }
  }

  /** Steps 3-4 of the compact protocol — idempotent, so a crash at any
    * point replays cleanly from the marker. Every delete/rename result
    * on the publish path is checked: a failed step must abort loudly
    * BEFORE the marker is retired — the on-disk state (marker + merged
    * image + deltas) stays fully recoverable and the next access
    * retries; silently proceeding would orphan the merged image or
    * leak a generation. Caller holds the per-index lock. */
  private def publishCompact(fs: FileSystem, indexPath: String,
                             newN: Long, foldedNames: Seq[String]): Unit = {
    val root = new Path(indexPath + "_delta")
    // 3a. tombstone the folded deltas: excluded from every future
    // listing, parquet files untouched for in-flight plans
    foldedNames.foreach { n =>
      val p = new Path(root, n)
      if (fs.exists(p)) fs.create(new Path(p, Tombstone), true).close()
    }
    // 3b. flip the version pointer (write-new, delete-old, rename —
    // the delete→rename gap is covered by the marker: recovery replays
    // the flip, and every snapshot runs recovery first)
    val ptr = versionPtr(indexPath)
    val ptrStaging = new Path(indexPath + "_version.staging")
    writeText(fs, ptrStaging, newN.toString)
    if (fs.exists(ptr))
      require(fs.delete(ptr, false),
        s"compact publish: could not retire old version pointer for $indexPath " +
          "— aborting with marker intact (recoverable)")
    require(fs.rename(ptrStaging, ptr),
      s"compact publish: could not flip version pointer for $indexPath " +
        "— aborting with marker intact (recoverable)")
    // 3c. retire the PREVIOUS generation: version dirs older than
    // newN-1 (incl. the flat staging dir once v2 exists) and deltas
    // tombstoned by EARLIER compactions — nothing a plan younger than
    // one generation can still reference
    versionDirs(fs, indexPath).collect { case (p, n) if n <= newN - 2 => p }
      .foreach(p => require(fs.delete(p, true),
        s"compact publish: could not retire old version $p (recoverable)"))
    if (newN >= 2) {
      val flat = new Path(indexPath)
      if (fs.exists(flat)) require(fs.delete(flat, true),
        s"compact publish: could not retire flat staging dir $indexPath (recoverable)")
    }
    val foldedSet = foldedNames.toSet
    listing(fs, indexPath).retired.filterNot(p => foldedSet.contains(p.getName))
      .foreach(p => require(fs.delete(p, true),
        s"compact publish: could not retire folded delta $p (recoverable)"))
    // 4. retire the marker
    fs.delete(markerPath(indexPath), false)
    ()
  }

  /** Recovery hook: when a compact crashed after publishing its marker
    * (between steps 2 and 4), finish it before any snapshot — the
    * on-disk state may otherwise hold a folded delta twice (marker
    * present, pointer already flipped) or a half-retired generation.
    * No marker → no-op (one `exists` probe on the hot path). Caller
    * holds the per-index lock, so recovery can never race a live
    * writer's in-flight compact. */
  private def finishCrashedCompact(fs: FileSystem, indexPath: String): Unit = {
    val marker = markerPath(indexPath)
    if (!fs.exists(marker)) return
    lockFor(indexPath).scans.clear()
    val lines = readText(fs, marker).split("\n").toSeq.filter(_.nonEmpty)
    // actionable guard against an unparseable (e.g. pre-versioning)
    // marker: a bare NumberFormatException from inside every locked
    // operation would wedge the index without naming the fix
    require(lines.nonEmpty && lines.head.startsWith("v") &&
        lines.head.drop(1).nonEmpty && lines.head.drop(1).forall(_.isDigit),
      s"unrecognized compact marker format at $marker (first line " +
        s"'${lines.headOption.getOrElse("")}', expected 'v<N>') — likely a " +
        "marker from an older protocol version; finish or remove it " +
        "manually before using this index")
    val newN = lines.head.stripPrefix("v").toLong
    require(fs.exists(versionDir(indexPath, newN)),
      s"compact marker for $indexPath names version v$newN but the merged " +
        "image is missing — the marker is only ever written AFTER the image " +
        "completes; refusing to guess")
    publishCompact(fs, indexPath, newN, lines.tail)
  }

  /** Compact from inside a running stream's epoch N — [[IngestDoor]]
    * calls it after the epoch's callback — when the committed (< N)
    * live delta count reached `every`: the cleanupLoop discipline,
    * bounded so a long-lived stream's per-probe plan depth never
    * exceeds `every` delta reads plus the base. The count is taken
    * from `seen`, the snapshot the epoch carried ([[write]]'s result),
    * else from a fresh [[snapshot]]. A stale `seen` (a callback that
    * compacted) only over-counts, and [[compact]] lists afresh. Returns
    * the index after the fold: [[compact]]'s snapshot, else the one the
    * decision was taken on. */
  def maybeCompact(s: SparkSession, indexPath: String, epochId: Long,
                   every: Int, seen: Option[Snapshot] = None): Snapshot = {
    val before = seen.getOrElse(snapshot(s, indexPath))
    if (every > 0 && before.live.count(epochOf(_) < epochId) >= every)
      compact(s, indexPath, belowEpoch = epochId)
    else before
  }

  /** True when `checkpointDir` already holds a streaming offsets log —
    * i.e. a start() against it RESUMES the epoch-id sequence instead
    * of restarting it at 0. */
  def resumesCheckpoint(s: SparkSession, checkpointDir: String): Boolean = {
    val p = new Path(checkpointDir, "offsets")
    fsOf(s, p).exists(p)
  }
}

/** An ingest door's most recent epoch probe plan, for spec
  * assertions: the epoch keeps its physical plan as planned (the
  * `sparkPlan` its probe contract is checked on) and it is rendered
  * only when read, so no epoch pays for the plan string. The executed
  * plan is not kept: it would hold the epoch's broadcast relation
  * until the next epoch. */
private[graft] final class EpochPlan {
  import org.apache.spark.sql.execution.SparkPlan

  private val plan = new java.util.concurrent.atomic.AtomicReference[SparkPlan]()

  def set(p: SparkPlan): Unit = plan.set(p)

  /** The plan as `SparkPlan.toString` renders it; "" before any epoch. */
  def get: String = Option(plan.get).fold("")(_.toString)
}

/** The `<indexPath>_layout` sidecar's format and its check: the dials
  * an index was STAGED with (`bandBuckets` for the text near-dup index,
  * `nPlanes` and `dim` for the ANN index), so a probe called with a
  * different dial fails loudly instead of silently missing matches:
  * the stored bucket/band values are the staging formula's, and a
  * mismatched probe-side formula would prune away index rows whose
  * keys actually match (wrong `unique` verdicts — duplicate
  * re-admission). One `key=value` pair per line; absent file =
  * legacy/flat staging, validated only when the caller asks for a
  * nonzero dial. [[DeltaIndex.stage]] writes the file and
  * [[DeltaIndex]]'s cached layout holds its dials, so validation reads
  * no file. */
private[graft] object IndexLayout {
  import org.apache.spark.sql.SparkSession

  def format(dials: Seq[(String, String)]): String =
    dials.map { case (k, v) => s"$k=$v" }.mkString("\n")

  def parse(text: String): Map[String, String] =
    text.split("\n").toSeq.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap

  /** Fail loudly when the caller's dial contradicts the staged one —
    * the silent alternative is wrong verdicts, not slow plans. */
  def validate(s: SparkSession, indexPath: String, key: String,
               callerValue: String): Unit =
    DeltaIndex.dials(s, indexPath).get(key).foreach { stored =>
      if (stored != callerValue)
        throw new IllegalArgumentException(
          s"index '$indexPath' was staged with $key=$stored but the probe " +
            s"asked for $key=$callerValue — the stored keys use the staging " +
            "formula, so a mismatched probe would silently miss true " +
            "matches. Pass the staging dial, or re-stage the index.")
    }
}

/** In-process single-writer guard for a staged ingest index: the
  * [[DeltaIndex]] namespace is PER-EPOCH-ID, and epoch ids are
  * per-checkpoint — two concurrent streams sharing one `indexPath`
  * under different checkpoints would both write `_delta/e<n>` and
  * destroy each other's admissions (and race each other's
  * compactions). [[IngestDoor.start]] therefore ACQUIRES the index
  * before starting, and the second concurrent writer
  * is rejected loudly, naming both checkpoints. A STOPPED stream's
  * claim is reclaimable (acquire steals from an inactive query), so
  * the documented sequential-reuse flow — stop, then start under a
  * fresh checkpoint with compact-first — still works unchanged.
  *
  * Scope: in-process, matching the store's parity-mode topology (the
  * buffer is driver-held, so every realistic writer shares this JVM).
  * Two JVMs sharing an index over a shared filesystem are outside the
  * reference's single-process design and this guard. */
private[graft] object IngestWriters {
  import org.apache.spark.sql.streaming.StreamingQuery

  private final class Writer(val checkpointDir: String) {
    @volatile var query: Option[StreamingQuery] = None
  }
  private val live =
    new java.util.concurrent.ConcurrentHashMap[String, Writer]()


  /** Claim the index for one stream, atomically. A claim whose query
    * is no longer active (stopped, failed) is reclaimed; a LIVE claim
    * under a different checkpoint fails fast. Mid-start claims (query
    * not yet bound) count as live — the window is one start() call. */
  def acquire(indexPath: String, checkpointDir: String): Unit = {
    val k = DeltaIndex.canonicalKey(indexPath)
    while (true) {
      val mine = new Writer(checkpointDir)
      val cur = live.putIfAbsent(k, mine)
      if (cur == null) return
      val reclaimable = cur.query.exists(q => !q.isActive)
      if (reclaimable) {
        if (live.replace(k, cur, mine)) return
        // lost the race to another acquire — retry
      } else throw new IllegalStateException(
        s"index '$indexPath' already has a live ingest writer " +
          s"(checkpoint '${cur.checkpointDir}'); a second stream " +
          s"(checkpoint '$checkpointDir') would overwrite its " +
          "_delta/e<n> admissions. Stop the first stream, or give " +
          "each stream its own indexPath.")
    }
  }

  /** Bind the started query to its claim so a later acquire can tell
    * stopped from live. */
  def bind(indexPath: String, q: StreamingQuery): Unit = {
    val w = live.get(DeltaIndex.canonicalKey(indexPath))
    if (w != null) w.query = Some(q)
  }

  /** Drop a claim (start() failed before a query existed). */
  def release(indexPath: String): Unit = { live.remove(DeltaIndex.canonicalKey(indexPath)); () }

  /** The live claim's checkpoint, for specs. */
  def liveCheckpoint(indexPath: String): Option[String] = {
    val w = live.get(DeltaIndex.canonicalKey(indexPath))
    if (w == null) None
    else if (w.query.exists(q => !q.isActive)) None
    else Some(w.checkpointDir)
  }
}

/** The ONE ingest-door lifecycle, shared by the near-dup door
  * ([[TextOps.startNeardupIngest]]) and the ANN door
  * ([[VectorOps.startAnnIngest]]) — the reference's single ingest loop
  * (consumer flush → manager append → downstream consumer,
  * kafka/consumer.go:307-410 → stream/manager.go:277-343). One
  * StreamingQuery subscribes to a store topic through the DSv2
  * MicroBatchStream, `maxBatchesPerTrigger` admission control bounds
  * each epoch, and every epoch runs the door's [[Epoch]] function: probe
  * the staged index, admit, and grow the index by the admitted rows
  * (per-epoch delta dirs, replay-idempotent — see [[DeltaIndex]], which
  * owns every file the index has on disk), so later epochs see them as
  * existing. The doors differ only in that
  * function. [[start]], in order:
  *   1. claims the index for ONE live writer ([[IngestWriters]]): a
  *      second concurrent stream would overwrite this one's
  *      `_delta/e<n>` admissions, so it is rejected before any state is
  *      touched;
  *   2. on a FRESH checkpoint (Spark restarts epoch ids at 0) folds a
  *      previous run's deltas into the base, which would otherwise be
  *      overwritten epoch by epoch; a RESUMING checkpoint keeps its
  *      deltas — the replay-idempotence contract needs them;
  *   3. resolves the index layout — schema, partition columns and
  *      staged dials — so no epoch pays a schema-discovery job or reads
  *      the `_layout` sidecar;
  *   4. reads the topic with admission control;
  *   5. per epoch: the epoch function, the per-topic counters, `onEpoch`
  *      when the epoch classified any row, then the fold — decided on
  *      the snapshot the epoch read and its delta write updated, so a
  *      plain epoch lists `_delta` once — and, for a door that probes
  *      prepared scans (`probeCols`, the near-dup door), the next
  *      epoch's [[DeltaIndex.prepare]] over the index the fold left, so
  *      that planning is off the append-to-serve path. The three phases
  *      (epoch function, callback, fold) are timed into
  *      `graft_ingest_epoch_seconds_total{topic,phase}`
  *      ([[IngestMetrics.recordPhases]]);
  *   6. binds the started query to its claim — a failed start releases
  *      it.
  *
  * The epoch runs even when its batch drained EMPTY (offsets evicted
  * between attempts): an empty epoch CLEARS any stale delta its first
  * attempt wrote, which would otherwise haunt the index for rows never
  * reported. Eviction under the store's byte budget surfaces as missing
  * offsets: evicted batches are never classified (drop-oldest loses
  * data by reference contract).
  *
  * LONG-LIVED operation: every probe unions the base with each
  * outstanding delta, so the stream folds them ([[DeltaIndex.compact]])
  * once the COMMITTED (epoch < current) delta count reaches
  * `compactEvery` — the reference's periodic cleanupLoop
  * (stream/manager.go:116-124), bounding per-epoch plan depth at
  * `compactEvery` delta reads however long the stream runs. Committed
  * epochs never replay (foreachBatch(N) runs only after N-1's offsets
  * committed), so folding them is replay-safe; the current epoch's own
  * (possibly stale) delta is never folded. The fold runs at the END of
  * epoch N, after `onEpoch`, over the same `< N` set: the callback is
  * not held up by it, and it lands before epoch N+1 reads the index.
  * `compactEvery <= 0` disables mid-stream compaction. */
private[graft] object IngestDoor {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.streaming.StreamingQuery

  /** One door epoch: (session, epoch id, the store batch) → the
    * epoch's per-row verdicts, driver-local and bounded by the epoch,
    * its verdict count per status, and the index as its delta write
    * left it ([[DeltaIndex.write]]), for the fold decision. The
    * function projects the batch columns it reads. */
  type Epoch = (SparkSession, Long, DataFrame) =>
    (DataFrame, Map[String, Long], DeltaIndex.Snapshot)

  def start(s: SparkSession, storeName: String, topic: String,
            indexPath: String, maxBatchesPerTrigger: Long,
            checkpointDir: String, onEpoch: (Long, DataFrame) => Unit,
            compactEvery: Int, probeCols: Seq[String] = Nil)(epoch: Epoch): StreamingQuery = {
    IngestWriters.acquire(indexPath, checkpointDir)
    val q = try {
      if (!DeltaIndex.resumesCheckpoint(s, checkpointDir))
        DeltaIndex.compact(s, indexPath)
      DeltaIndex.resolveLayout(s, indexPath)
      s.readStream.format("graft-store")
        .option("store", storeName).option("topic", topic)
        .option("maxBatchesPerTrigger", maxBatchesPerTrigger.toString)
        .load()
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          val sess = batch.sparkSession
          val t0 = System.nanoTime()
          val (verdicts, counts, index) = epoch(sess, epochId, batch)
          val t1 = System.nanoTime()
          // per-topic admitted/dup counters (the reference's per-stream
          // metric family), from the epoch's own verdicts
          IngestMetrics.recordEpoch(topic, counts)
          if (counts.nonEmpty) onEpoch(epochId, verdicts)
          val t2 = System.nanoTime()
          val folded = DeltaIndex.maybeCompact(sess, indexPath, epochId, compactEvery, Some(index))
          if (probeCols.nonEmpty) DeltaIndex.prepare(sess, indexPath, folded, probeCols)
          IngestMetrics.recordPhases(topic, Seq("epoch" -> (t1 - t0),
            "callback" -> (t2 - t1), "fold" -> (System.nanoTime() - t2)))
        }
        .start()
    } catch { case t: Throwable => IngestWriters.release(indexPath); throw t }
    IngestWriters.bind(indexPath, q)
    q
  }

  /** The TTL × resume recovery recipe as ONE call (the operational
    * answer to the loud `load()` failure the expiry contract raises —
    * see [[graft.sources.GraftStoreProvider]]): after a topic
    * idle-expires, its data AND schema are gone and a restart against
    * the old checkpoint can never realign (recreation restarts the
    * offset axis at 0). Once the caller has re-appended the topic
    * (create-on-access), [[start]] under a FRESH checkpoint: its
    * compact-first folds the previous run's deltas, so every prior
    * admission survives into the new run's index base. Each violated
    * precondition fails with an actionable error instead of the
    * generic downstream failure it would otherwise become. */
  def resume(s: SparkSession, storeName: String, topic: String,
             indexPath: String, maxBatchesPerTrigger: Long,
             freshCheckpointDir: String, onEpoch: (Long, DataFrame) => Unit,
             compactEvery: Int, probeCols: Seq[String] = Nil)(epoch: Epoch): StreamingQuery = {
    validateResume(s, storeName, topic, freshCheckpointDir)
    start(s, storeName, topic, indexPath, maxBatchesPerTrigger,
      freshCheckpointDir, onEpoch, compactEvery, probeCols)(epoch)
  }

  private def validateResume(s: SparkSession, storeName: String, topic: String,
                             freshCheckpointDir: String): Unit = {
    val store = graft.sources.GraftStoreRegistry.get(storeName)
    if (store.schemaOf(topic).isEmpty)
      throw new IllegalStateException(
        s"cannot resume ingest: topic '$topic' is not present in store " +
          s"'$storeName' — an expired topic loses its data AND schema. " +
          "Re-append the topic's data first (create-on-access recreates " +
          "it with the offset axis at 0), then retry.")
    if (DeltaIndex.resumesCheckpoint(s, freshCheckpointDir))
      throw new IllegalStateException(
        s"cannot resume ingest: checkpoint '$freshCheckpointDir' already " +
          "holds a streaming offsets log. A recreated topic's offset axis " +
          "restarted at 0, so the old checkpoint would wait for offsets " +
          "that never realign — pass a FRESH checkpoint dir. Prior " +
          "admissions are safe: the start compacts the old run's deltas " +
          "into the index base first.")
  }
}
