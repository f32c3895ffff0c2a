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

/** Per-epoch delta directories for a staged ingest index — the
  * replay-idempotence machinery shared by the text and vector
  * streaming-ingest compositions ([[TextOps.startNeardupIngest]] /
  * [[VectorOps.startAnnIngest]]).
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
  * reusing the namespace, loud and retryable, never wrong results. */
private[graft] object DeltaIndex {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
  import org.apache.spark.sql.catalyst.plans.LeftSemi
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Tombstone file name: a folded delta keeps its parquet files (so
    * pre-compaction plans still execute) but is excluded from every
    * listing; deleted one generation later. Underscore-prefixed, so
    * Spark's file listing ignores it inside the parquet dir. */
  private val Tombstone = "_RETIRED"

  /** Per-index in-process lock (canonical-path keyed, same scope as
    * [[IngestWriters]]): serializes compaction, crash recovery, and
    * read PLANNING against each other — a reader can no longer replay
    * [[finishCrashedCompact]] concurrently with a live writer's
    * in-flight compact (both passing the exists checks and destroying
    * the merged base — the round-13 reader-vs-compactor race). Plan
    * EXECUTION happens outside the lock, safe because the planned
    * version dirs and delta files survive a full generation. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def canonicalKey(p: String): String =
    try new java.io.File(p).getCanonicalPath
    catch { case _: java.io.IOException => new java.io.File(p).getAbsolutePath }
  private def lockFor(indexPath: String): Object =
    locks.computeIfAbsent(canonicalKey(indexPath), _ => new Object)

  /** An index's row schema (partition columns included) and its
    * partition columns. */
  private final case class Layout(schema: StructType, partCols: Seq[String])

  /** Layout of an index, inferred ONCE per (JVM, index) from Spark's
    * own schema and partition discovery over the base — the layout is
    * fixed at staging time, every delta is written from the same
    * banded/quantized row shape, and every compaction preserves it, so
    * the cache never goes stale (staging afresh calls
    * [[resetForStaging]], which drops it). Reads then pass the schema
    * explicitly: an inferring `spark.read.parquet` runs one
    * schema-discovery job per scanned dir, per epoch. */
  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[String, Layout]()

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

  /** Every on-disk version dir with its number — the ONE definition of
    * the `_v<N>` naming, shared by generation retirement and
    * restaging cleanup. */
  private def versionDirs(fs: FileSystem,
                          indexPath: String): Seq[(Path, Long)] = {
    val prefix = new Path(indexPath).getName + "_v"
    Option(fs.globStatus(new Path(indexPath + "_v[0-9]*")))
      .map(_.toSeq).getOrElse(Seq.empty).map(_.getPath)
      .filter(p => p.getName.stripPrefix(prefix).forall(_.isDigit))
      .map(p => p -> p.getName.stripPrefix(prefix).toLong)
  }

  /** The current base-version number: 0 = the as-staged dir
    * (`indexPath` itself), N ≥ 1 = `<indexPath>_v<N>`. */
  private def currentVersionNum(s: SparkSession, indexPath: String): Long = {
    val p = versionPtr(indexPath)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** The resolved current base dir — what reads scan and compactions
    * fold into. Spec-visible so layout assertions check the dir that
    * is actually served, not the original staging path. */
  private[graft] def currentBase(s: SparkSession, indexPath: String): String = {
    val n = currentVersionNum(s, indexPath)
    if (n == 0L) indexPath else versionDir(indexPath, n).toString
  }

  private def isRetired(fs: FileSystem, deltaDir: Path): Boolean =
    fs.exists(new Path(deltaDir, Tombstone))

  /** ALL delta dirs on disk, tombstoned or not. */
  private def deltaPaths(s: SparkSession, indexPath: String): Seq[Path] = {
    val root = new Path(indexPath + "_delta")
    if (fsOf(s, root).exists(root))
      fsOf(s, root).listStatus(root).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("e"))
    else Seq.empty
  }

  /** The LIVE deltas — tombstoned (already-folded) dirs excluded. */
  private def liveDeltaPaths(s: SparkSession,
                             indexPath: String): Seq[Path] = {
    val root = new Path(indexPath + "_delta")
    val fs = fsOf(s, root)
    deltaPaths(s, indexPath).filterNot(isRetired(fs, _))
  }

  /** Outstanding (un-compacted) delta count — what the ingest streams'
    * periodic-compaction trigger, the `/metrics` gauge, and the specs
    * observe. */
  def outstanding(s: SparkSession, indexPath: String): Int =
    lockFor(indexPath).synchronized {
      finishCrashedCompact(s, indexPath)
      liveDeltaPaths(s, indexPath).size
    }

  /** Base index UNION all live deltas of OTHER epochs. Planned under
    * the per-index lock (stable listing); executes lock-free against
    * a one-generation-immutable snapshot. */
  def read(s: SparkSession, indexPath: String, excludeEpoch: Long): DataFrame =
    lockFor(indexPath).synchronized {
      finishCrashedCompact(s, indexPath)
      val base = currentBase(s, indexPath)
      liveDeltaPaths(s, indexPath)
        .filter(_.getName != s"e$excludeEpoch")
        .foldLeft(scan(s, indexPath, base))((acc, p) =>
          acc.unionByName(scan(s, indexPath, p.toString)))
    }

  /** One dir of the index (base or delta), read with the index's
    * resolved schema — no schema-discovery job. */
  private def scan(s: SparkSession, indexPath: String, dir: String): DataFrame =
    s.read.schema(layoutOf(s, indexPath).schema).parquet(dir)

  /** The doors' per-epoch plan contract, checked STRUCTURALLY on the
    * un-executed physical plan (static properties — no data touched):
    * the index's current base is scanned, matched on the scan's root
    * paths rather than the rendered plan (which abbreviates locations
    * past `spark.sql.maxMetadataStringLength`), and the index is
    * probed through a broadcast LEFT SEMI join (never shuffled). A
    * regression here would silently turn every epoch
    * corpus-proportional at 100 TB. */
  private[graft] def requireProbeContract(s: SparkSession, indexPath: String,
                                          what: String, plan: SparkPlan): Unit = {
    val base = {
      val p = new Path(currentBase(s, indexPath))
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
    read(s, indexPath, excludeEpoch = -1L)

  /** Overwrite this epoch's delta with `rows`, or — `None`, when the
    * caller's epoch admitted no rows — clear any stale delta a
    * previous attempt of the same epoch left: never an empty parquet
    * part accumulating on the listing, and never a GHOST admission
    * when the replayed epoch's batch was evicted in the meantime.
    *
    * The write MIRRORS the base's partition layout (a
    * bucket-partitioned index gets bucket-partitioned deltas), so a
    * partition-pruned probe prunes the delta scans exactly like the
    * base scan — a flat delta would re-open every delta file on every
    * epoch regardless of the probe's key set. `mode("overwrite")` on a
    * TOMBSTONED dir (epoch-id reuse after a fresh-checkpoint restart)
    * deletes the tombstone with the dir — the new delta is live
    * again, correctly. `clustered`: the rows already sit in ONE task
    * (a driver-local frame coalesced to one partition), so a
    * partitioned write needs no clustering shuffle. */
  def write(s: SparkSession, indexPath: String, epochId: Long,
            rows: Option[DataFrame], clustered: Boolean = false): Unit = {
    val delta = new Path(dir(indexPath, epochId))
    rows match {
      case Some(rows) =>
        val pc = basePartitionCols(s, indexPath)
        val missing = pc.filterNot(rows.columns.contains)
        require(missing.isEmpty,
          s"delta for '$indexPath' must carry the base's partition " +
            s"column(s) ${missing.mkString(", ")} — a flat delta under a " +
            "partitioned base breaks both the union schema and the " +
            "partition-pruned probe")
        // clustered by the partition key first — one file per bucket dir
        // per delta, not one per (task × bucket)
        val byKey =
          if (pc.isEmpty || clustered) rows
          else rows.repartition(pc.map(org.apache.spark.sql.functions.col): _*)
        // static overwrite PINNED: under a session-level dynamic
        // partitionOverwriteMode a replayed epoch's overwrite would
        // replace only the partitions present in the new image, leaving
        // ghost admissions (and the tombstone) from the first attempt
        val w = byKey.write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
        (if (pc.nonEmpty) w.partitionBy(pc: _*) else w).parquet(delta.toString)
      case None =>
        if (fsOf(s, delta).exists(delta)) { fsOf(s, delta).delete(delta, true); () }
    }
    // gauge refresh under the per-index lock: an unlocked listing here
    // could race a concurrent batch-side recovery's own refresh and
    // persist a stale count until the next epoch
    lockFor(indexPath).synchronized {
      IngestMetrics.setOutstandingDeltas(indexPath,
        liveDeltaPaths(s, indexPath).size.toLong)
    }
  }

  /** Resolve the index's layout ahead of its first read — a door's
    * start, so no epoch pays the one schema-discovery job. */
  private[graft] def resolveLayout(s: SparkSession, indexPath: String): Unit = {
    layoutOf(s, indexPath); ()
  }

  /** The index's [[Layout]], resolved from the base on first use. */
  private def layoutOf(s: SparkSession, indexPath: String): Layout =
    layouts.computeIfAbsent(canonicalKey(indexPath), _ => {
      val df = s.read.parquet(currentBase(s, indexPath))
      Layout(df.schema, inferPartCols(df))
    })

  /** The base's partition columns via Spark's OWN partition discovery
    * (handles multi-column layouts; a stray name=value file a dir
    * listing would misread is judged exactly as the reader judges
    * it), cached per (JVM, index) — layout is immutable after
    * staging. */
  private[graft] def basePartitionCols(s: SparkSession,
                                       indexPath: String): Seq[String] =
    layoutOf(s, indexPath).partCols

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
    * periodic LSM-style maintenance [[graft.engine.TextOps.startNeardupIngest]] /
    * [[graft.engine.VectorOps.startAnnIngest]] schedule between
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
    * compacting with `belowEpoch = currentEpoch` at the top of its
    * epoch folds exactly the never-again-replayed set — a stale
    * `e<current>` from a crashed prior attempt is left alone for the
    * replay to overwrite.
    *
    * CRASH-ATOMIC via a commit marker (the 'exactly one copy' contract
    * survives a crash at any step), all under the per-index lock:
    *   1. merged (current base ∪ folded live deltas) →
    *      `<indexPath>_v<N+1>` — invisible to readers until the flip,
    *      PRESERVING the base's partition layout
    *   2. marker (`v<N+1>` + the folded delta names) renamed into
    *      place (atomic publish — no marker, no state change)
    *   3. tombstone each folded delta (files stay put for in-flight
    *      plans), FLIP the version pointer, delete the PREVIOUS
    *      generation (old version dir / flat staging dir, deltas
    *      tombstoned by earlier compactions)
    *   4. delete the marker
    * [[finishCrashedCompact]] (run before every locked operation)
    * replays step 3-4 from the marker: each step is idempotent and the
    * merged image is complete before the marker can exist, so
    * admissions are never lost and never double-counted. Single
    * in-process writer per index by [[IngestWriters]] contract. */
  def compact(s: SparkSession, indexPath: String,
              belowEpoch: Long = Long.MaxValue): Unit =
    lockFor(indexPath).synchronized {
      finishCrashedCompact(s, indexPath)
      val folded = liveDeltaPaths(s, indexPath).filter(epochOf(_) < belowEpoch)
      if (folded.isEmpty) return
      val fs = fsOf(s, markerPath(indexPath))
      val newN = currentVersionNum(s, indexPath) + 1
      val target = versionDir(indexPath, newN)
      // a stale target from a pre-marker crashed attempt is dropped
      // OUTRIGHT before rebuilding (a pre-marker image is never
      // authoritative — no marker, no state change)
      if (fs.exists(target))
        require(fs.delete(target, true),
          s"compact: could not clear stale $target")
      // 1. complete merged image in the NEXT version dir — PRESERVING
      // the base's partition layout: a bucket-partitioned index folded
      // to flat parquet would silently lose its partition dirs and
      // every later partition-pruned probe would degrade to a
      // full-index scan.
      val partCols = basePartitionCols(s, indexPath)
      val merged = folded.foldLeft(scan(s, indexPath, currentBase(s, indexPath)))(
        (acc, p) => acc.unionByName(scan(s, indexPath, p.toString)))
      // cluster by the partition key so each generation keeps one file
      // per bucket dir — file count stays flat across folds instead of
      // accumulating every source's fragments
      val clustered =
        if (partCols.isEmpty) merged
        else merged.repartition(
          partCols.map(org.apache.spark.sql.functions.col): _*)
      val w = clustered.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .parquet(target.toString)
      // 2. marker: new version + folded dir names, renamed into place.
      // The rename result is CHECKED: proceeding to the publish without
      // a durable marker would leave a crash window with no recovery.
      val staging = new Path(indexPath + "_compact_commit.staging")
      val out = fs.create(staging, true)
      try out.write((s"v$newN" +: folded.map(_.getName)).mkString("\n")
        .getBytes("UTF-8"))
      finally out.close()
      require(fs.rename(staging, markerPath(indexPath)),
        s"compact marker publish failed for $indexPath — aborting before any state change")
      publishCompact(s, indexPath, newN, folded.map(_.getName))
      IngestMetrics.recordCompaction(indexPath)
      IngestMetrics.setOutstandingDeltas(indexPath,
        liveDeltaPaths(s, indexPath).size.toLong)
    }

  /** Steps 3-4 of the compact protocol — idempotent, so a crash at any
    * point replays cleanly from the marker. Every delete/rename result
    * on the publish path is checked: a failed step must abort loudly
    * BEFORE the marker is retired — the on-disk state (marker + merged
    * image + deltas) stays fully recoverable and the next access
    * retries; silently proceeding would orphan the merged image or
    * leak a generation. Caller holds the per-index lock. */
  private def publishCompact(s: SparkSession, indexPath: String,
                             newN: Long, foldedNames: Seq[String]): Unit = {
    val fs = fsOf(s, markerPath(indexPath))
    val root = new Path(indexPath + "_delta")
    // 3a. tombstone the folded deltas: excluded from every future
    // listing, parquet files untouched for in-flight plans
    foldedNames.foreach { n =>
      val p = new Path(root, n)
      if (fs.exists(p)) fs.create(new Path(p, Tombstone), true).close()
    }
    // 3b. flip the version pointer (write-new, delete-old, rename —
    // the delete→rename gap is covered by the marker: recovery replays
    // the flip, and every read runs recovery first)
    val ptr = versionPtr(indexPath)
    val ptrStaging = new Path(indexPath + "_version.staging")
    val out = fs.create(ptrStaging, true)
    try out.write(newN.toString.getBytes("UTF-8")) finally out.close()
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
    deltaPaths(s, indexPath)
      .filter(p => isRetired(fs, p) && !foldedSet.contains(p.getName))
      .foreach(p => require(fs.delete(p, true),
        s"compact publish: could not retire folded delta $p (recoverable)"))
    // 4. retire the marker
    fs.delete(markerPath(indexPath), false)
    ()
  }

  /** Recovery hook: when a compact crashed after publishing its marker
    * (between steps 2 and 4), finish it before serving any locked
    * operation — the on-disk state may otherwise hold a folded delta
    * twice (marker present, pointer already flipped) or a half-retired
    * generation. No marker → no-op (one `exists` probe on the hot
    * path). Caller holds the per-index lock, so recovery can never
    * race a live writer's in-flight compact. */
  private def finishCrashedCompact(s: SparkSession, indexPath: String): Unit = {
    val marker = markerPath(indexPath)
    val fs = fsOf(s, marker)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString.split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
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
    publishCompact(s, indexPath, newN, lines.tail)
  }

  /** Compact from inside a running stream's epoch N when the
    * committed (< N) live delta count reached `every` — the
    * cleanupLoop discipline, bounded so a long-lived stream's
    * per-probe plan depth never exceeds `every` delta reads plus the
    * base. */
  def maybeCompact(s: SparkSession, indexPath: String, epochId: Long,
                   every: Int): Unit =
    if (every > 0 &&
        liveDeltaPaths(s, indexPath).count(epochOf(_) < epochId) >= every)
      compact(s, indexPath, belowEpoch = epochId)

  /** True when `checkpointDir` already holds a streaming offsets log —
    * i.e. a start() against it RESUMES the epoch-id sequence instead
    * of restarting it at 0. */
  def resumesCheckpoint(s: SparkSession, checkpointDir: String): Boolean = {
    val p = new Path(checkpointDir, "offsets")
    fsOf(s, p).exists(p)
  }

  /** Drop an index's versioning state before RE-STAGING its base from
    * scratch (stageAnnIndex / stageNeardupIndex `mode("overwrite")`):
    * a stale pointer would otherwise keep serving the pre-restage
    * `_v<N>` dir over the freshly staged data, and the cached
    * schema and partition layout may change with the new staging. Existing
    * `_delta` dirs are left alone — restaging under live deltas keeps
    * its previous (unusual but unchanged) semantics. */
  private[graft] def resetForStaging(s: SparkSession, indexPath: String): Unit =
    lockFor(indexPath).synchronized {
      val fs = fsOf(s, markerPath(indexPath))
      Seq(markerPath(indexPath), new Path(indexPath + "_compact_commit.staging"),
        versionPtr(indexPath), new Path(indexPath + "_version.staging"))
        .foreach(p => if (fs.exists(p)) fs.delete(p, true))
      versionDirs(fs, indexPath).foreach { case (p, _) => fs.delete(p, true) }
      layouts.remove(canonicalKey(indexPath))
      ()
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

/** Sidecar file (`<indexPath>_layout`) recording the dials an index
  * was STAGED with (`bandBuckets` for the text near-dup index,
  * `nPlanes` for the ANN index), so a probe called with a different
  * dial fails loudly instead of silently missing matches: the stored
  * bucket/band values are the staging formula's, and a mismatched
  * probe-side formula would prune away index rows whose keys actually
  * match (wrong `unique` verdicts — duplicate re-admission). One
  * `key=value` pair per line; absent file = legacy/flat staging,
  * validated only when the caller asks for a nonzero dial. */
private[graft] object IndexLayout {
  import org.apache.spark.sql.SparkSession
  import org.apache.hadoop.fs.Path

  private def pathOf(indexPath: String) = new Path(indexPath + "_layout")
  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  // the sidecar is immutable after staging, so probe-time validation
  // reads it from a per-JVM cache (write/clear refresh it) — a
  // long-lived streaming epoch must not pay filesystem round-trips
  // per validated key per micro-batch
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
  private def cacheKey(p: String): String =
    try new java.io.File(p).getCanonicalPath
    catch { case _: java.io.IOException => new java.io.File(p).getAbsolutePath }

  def write(s: SparkSession, indexPath: String,
            props: Seq[(String, String)]): Unit = {
    val p = pathOf(indexPath)
    val out = fsOf(s, p).create(p, true)
    try out.write(props.map { case (k, v) => s"$k=$v" }.mkString("\n")
      .getBytes("UTF-8"))
    finally out.close()
    cache.put(cacheKey(indexPath), props.toMap)
    ()
  }

  def clear(s: SparkSession, indexPath: String): Unit = {
    val p = pathOf(indexPath)
    val fs = fsOf(s, p)
    if (fs.exists(p)) fs.delete(p, false)
    cache.put(cacheKey(indexPath), Map.empty)
    ()
  }

  def read(s: SparkSession, indexPath: String): Map[String, String] =
    cache.computeIfAbsent(cacheKey(indexPath), _ => readDisk(s, indexPath))

  private def readDisk(s: SparkSession,
                       indexPath: String): Map[String, String] = {
    val p = pathOf(indexPath)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      txt.split("\n").toSeq.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
    }
  }

  /** Fail loudly when the caller's dial contradicts the staged one —
    * the silent alternative is wrong verdicts, not slow plans. */
  def validate(s: SparkSession, indexPath: String, key: String,
               callerValue: String): Unit =
    read(s, indexPath).get(key).foreach { stored =>
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
  * compactions). `startNeardupIngest`/`startAnnIngest` therefore
  * ACQUIRE the index before starting and the second concurrent writer
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

  private def key(indexPath: String): String =
    try new java.io.File(indexPath).getCanonicalPath
    catch { case _: java.io.IOException =>
      new java.io.File(indexPath).getAbsolutePath }

  /** Claim the index for one stream, atomically. A claim whose query
    * is no longer active (stopped, failed) is reclaimed; a LIVE claim
    * under a different checkpoint fails fast. Mid-start claims (query
    * not yet bound) count as live — the window is one start() call. */
  def acquire(indexPath: String, checkpointDir: String): Unit = {
    val k = key(indexPath)
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
    val w = live.get(key(indexPath))
    if (w != null) w.query = Some(q)
  }

  /** Drop a claim (start() failed before a query existed). */
  def release(indexPath: String): Unit = { live.remove(key(indexPath)); () }

  /** The live claim's checkpoint, for specs. */
  def liveCheckpoint(indexPath: String): Option[String] = {
    val w = live.get(key(indexPath))
    if (w == null) None
    else if (w.query.exists(q => !q.isActive)) None
    else Some(w.checkpointDir)
  }
}

/** The TTL × resume recovery recipe as ONE call (the operational
  * answer to the loud `load()` failure the expiry contract raises —
  * see [[graft.sources.GraftStoreProvider]]): after a topic
  * idle-expires, its data AND schema are gone and a restart against
  * the old checkpoint can never realign (recreation restarts the
  * offset axis at 0). The documented recipe — re-ingest the topic,
  * fresh checkpoint, compact-first, restart — is what
  * `TextOps.resumeNeardupIngestAfterExpiry` /
  * `VectorOps.resumeAnnIngestAfterExpiry` execute; this validator
  * turns each precondition violation into an actionable error instead
  * of the generic downstream failure it would otherwise become. */
private[graft] object IngestRecovery {
  import org.apache.spark.sql.SparkSession

  def validateResume(s: SparkSession, storeName: String, topic: String,
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
