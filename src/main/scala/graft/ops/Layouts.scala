package graft.ops

import org.apache.spark.sql.{Row, SparkSession}

/** Shared plumbing for the at-rest index layouts' sidecar files
  * (`_meta` under a [[Dedup.writeNearDupIndex]] signature index,
  * `_codebooks` under a [[Similarity.writeIvfPqPartitioned]] vector
  * layout).
  *
  * Presence is decided by an explicit filesystem check, NOT by
  * catching `AnalysisException` from the read: a present-but-corrupt
  * sidecar (e.g. an interrupted write that left an empty directory)
  * raises the same exception as absence, and treating it as "absent"
  * silently skips exactly the validation the sidecar exists to
  * enforce (r14 ADVICE). With the explicit check, absence is the only
  * condition that may skip validation; every failure reading a
  * PRESENT sidecar surfaces as a curated error.
  */
private[graft] object Layouts {

  /** Subdirectory of a layout holding a streaming loop's per-batch
    * increments (`_increments/ingest_batch=<id>`). Underscore-prefixed
    * like `_meta`/`_codebooks`, so a plain `spark.read.parquet` of the
    * base layout never sees increment rows — readers opt in via
    * [[withIncrements]] (or fold them into a new base generation with
    * the family's compaction).
    */
  val IncrementsDir = "_increments"

  /** `base` unioned with the layout's committed per-batch increment
    * directories, projected to `cols`. `excludeBatchId` drops that
    * batch's OWN directory — the replay rule: a crash-replayed batch
    * must see exactly the history its first attempt saw, never its own
    * previous partial appends. The directories are LISTED and read by
    * explicit path (not partition discovery over the `_increments`
    * root), so the one directory that may hold a torn write from a
    * crashed attempt — the excluded batch's own — is never opened.
    */
  def withIncrements(spark: SparkSession, base: org.apache.spark.sql.DataFrame,
      path: String, cols: Seq[String],
      excludeBatchId: Option[Long]): org.apache.spark.sql.DataFrame =
    withIncrementsWhere(spark, base, path, cols,
      id => excludeBatchId.forall(id != _))

  /** [[withIncrements]] with an arbitrary batch-id predicate — the one
    * increment-listing discipline (name filter, explicit paths, the
    * basePath anchor) shared by every reader: the own-batch exclusion
    * above, and the Bloom gate's STRICTER `id < b` history rule
    * ([[Bloom.readBloomIndex]]).
    */
  def withIncrementsWhere(spark: SparkSession,
      base: org.apache.spark.sql.DataFrame,
      path: String, cols: Seq[String],
      keepBatch: Long => Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val root = new org.apache.hadoop.fs.Path(path, IncrementsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val projected = base.select(cols.map(col): _*)
    if (!fs.exists(root)) projected
    else {
      val Batch = "ingest_batch=(-?\\d+)".r
      val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
        .flatMap { p =>
          p.getName match {
            case Batch(id) if keepBatch(id.toLong) => Some(p)
            case _ => None
          }
        }
      if (dirs.isEmpty) projected
      else projected.unionByName(
        // basePath anchors partition inference at the _increments root:
        // without it, increments whose INSIDES are partitioned (the ANN
        // layout's cell=... dirs) make multi-directory discovery fail
        // with CONFLICTING_DIRECTORY_STRUCTURES; with it, the reader
        // surfaces ingest_batch (and any inner partition column) and
        // the projection drops what the caller didn't ask for
        spark.read.option("basePath", root.toString)
          .parquet(dirs.map(_.toString).toIndexedSeq: _*)
          .select(cols.map(col): _*))
    }
  }

  /** The increment directory a batch OWNS (and overwrites wholesale on
    * replay — the idempotence that makes a crash-replay converge).
    */
  def incrementDir(path: String, batchId: Long): String =
    s"$path/$IncrementsDir/ingest_batch=$batchId"

  /** The batch ids of a layout's committed increment directories (one
    * namenode listing; empty when none).
    */
  def incrementIds(spark: SparkSession, path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path, IncrementsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else {
      val Batch = "ingest_batch=(-?\\d+)".r
      fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
        .collect { case Batch(id) => id.toLong }.toIndexedSeq.sorted
    }
  }

  /** A per-batch OWNED output directory under a plain (non-layout)
    * output root — the idempotence convention of [[incrementDir]]
    * applied to a stream's report/verdict outputs: the batch id lives
    * in the DIRECTORY name (surfacing on read as the `ingest_batch`
    * partition column), the batch overwrites its own directory
    * wholesale on a crash-replay, and a read of the root sees every
    * committed batch exactly once.
    */
  def ownedBatchDir(out: String, batchId: Long): String =
    s"$out/ingest_batch=$batchId"

  /** The marker a compaction (or rebuild) holds while folding or
    * replacing a layout's generation — the mechanical form of the
    * "quiesce the stream first" discipline: while the
    * marker exists under a layout, every append face refuses with a
    * curated error instead of racing the fold (a half-written
    * increment folded into the next generation is silent data loss).
    */
  val QuiesceMarker = "_compacting"

  /** Take the layout's quiesce marker (atomic create — two concurrent
    * compactions cannot both hold it). Fails curated when already
    * held: a second compaction racing the first would fold the same
    * increments twice into different generations.
    */
  def acquireQuiesce(spark: SparkSession, path: String, owner: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(path, QuiesceMarker)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(marker.getParent)
    // only lost-the-race maps to "held"; a genuine filesystem fault
    // (safe mode, connection reset, permissions) must surface as
    // itself, not steer the operator toward deleting a phantom marker
    val created =
      try fs.createNewFile(marker)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    if (!created)
      throw new IllegalStateException(
        s"$owner: a compaction already holds the $QuiesceMarker marker " +
          s"under $path — wait for it to finish (a crashed compaction " +
          "leaves the marker behind; releaseQuiesce clears it after " +
          "confirming no compactor is live)")
  }

  /** Release the layout's quiesce marker ([[acquireQuiesce]]'s pair;
    * also the manual recovery after a compactor's JVM died holding
    * it). No-op when absent.
    */
  def releaseQuiesce(spark: SparkSession, path: String): Unit =
    delete(spark, s"$path/$QuiesceMarker")

  /** Refuse while a compaction holds the layout's quiesce marker —
    * called by every append face, so a stream racing a compaction
    * fails curated (and its checkpoint replays the batch after the
    * fold) instead of writing an increment the fold half-sees.
    */
  def assertNotQuiesced(spark: SparkSession, path: String,
      caller: String): Unit =
    if (exists(spark, s"$path/$QuiesceMarker"))
      throw new IllegalStateException(
        s"$caller: a compaction holds the $QuiesceMarker marker under " +
          s"$path — appending mid-compaction races the increment fold; " +
          "retry after it completes (or releaseQuiesce if a crashed " +
          "compaction left the marker behind)")

  /** Refuse while any increment directory holds an UNCOMMITTED write
    * (Spark's output committer stages task files under `_temporary`
    * until job commit) — the second half of the quiesce handshake: the
    * marker stops NEW appends, and this check catches the append that
    * passed its marker check before the compaction acquired it. A fold
    * that read such a directory would ship a subset of the batch's
    * rows into the next generation while the completed append (and its
    * checkpoint) claim the batch committed — silent data loss. Called
    * by the compactors AFTER taking the marker; one listing of the
    * increment root plus one existence probe per increment directory.
    */
  def assertNoInflightIncrements(spark: SparkSession, path: String,
      caller: String): Unit = {
    val layoutRoot = new org.apache.hadoop.fs.Path(path)
    val fs = layoutRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the BATCH append faces (AnnIndex.append, appendNearDupIndex) write
    // mode('append') at the layout root, staging under
    // <layout>/_temporary — an append that passed its marker check
    // before the compactor acquired is just as in-flight there as a
    // streaming increment is in its own directory (r19 ADVICE)
    if (fs.exists(new org.apache.hadoop.fs.Path(layoutRoot, "_temporary")))
      throw new IllegalStateException(
        s"$caller: the layout root $path holds an uncommitted batch " +
          "append (_temporary present) — an append that started before " +
          "the quiesce marker was taken is still in flight; let it " +
          "drain (or clean up the dead writer's staging) and retry")
    val root = new org.apache.hadoop.fs.Path(path, IncrementsDir)
    if (!fs.exists(root)) return
    val inflight = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_temporary")))
    if (inflight.nonEmpty)
      throw new IllegalStateException(
        s"$caller: increment director${if (inflight.length == 1) "y" else "ies"} " +
          s"${inflight.map(_.getName).sorted.mkString(", ")} under " +
          s"$path/$IncrementsDir hold uncommitted writes (_temporary " +
          "present) — an append that started before the quiesce marker " +
          "was taken is still in flight; quiesce the stream and retry " +
          "once it drains")
  }

  /** The atomic generation pointer (`_current` under a STORE ROOT that
    * holds `gen0/gen1/...` generation directories): one small file
    * whose content is the current generation's directory NAME.
    * [[AnnIndex.open]] resolves a store root through it
    * ([[Similarity.resolveLayout]]); the index's rebuilds and
    * compactions ([[AnnIndex.maintain]],
    * [[AnnIndex.maintainFromDriftSeries]], [[AnnIndex.compact]]) write
    * `gen<k+1>` and swap it INSIDE their quiesce window, so an append
    * has no gap to land in the superseded generation, and a handle the
    * pointer moved off refuses to write. A store is initialised by
    * writing `gen0` and pointing `_current` at it.
    */
  val GenerationPointer = "_current"

  /** True iff `root` carries a `_current` generation pointer. */
  def hasGenerationPointer(spark: SparkSession, root: String): Boolean =
    exists(spark, s"$root/$GenerationPointer")

  /** Atomically point `root/_current` at generation `gen` (a directory
    * name directly under `root`, which must exist — pointing at a
    * missing generation would send every probe into a curated read
    * failure). Write-new + rename via `FileContext` with OVERWRITE —
    * the POSIX/HDFS atomic-replace primitive — so a concurrent reader
    * sees the old name or the new name, never a torn file.
    */
  def swapGenerationPointer(spark: SparkSession, root: String,
      gen: String): Unit = {
    require(gen.nonEmpty && !gen.contains("/") && !gen.startsWith("_"),
      s"generation '$gen' must be a plain directory name under $root")
    require(exists(spark, s"$root/$gen"),
      s"cannot point $root/$GenerationPointer at '$gen' — no such " +
        s"generation directory under $root (write the generation first)")
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(s"$root/$GenerationPointer")
    // per-call unique temp name: a FIXED temp path lets two concurrent
    // swappers (overlapping monitor ticks, or a tick racing a manual
    // crash recovery) truncate each other's half-written file and
    // rename garbage over _current
    val tmp = new org.apache.hadoop.fs.Path(
      s"$root/.${GenerationPointer}_tmp_${java.util.UUID.randomUUID()}")
    val fs = marker.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(marker.toUri, conf)
      .rename(tmp, marker, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The generation NAME `root/_current` points at. Curated failure
    * when the root carries no pointer (a plain layout path handed to a
    * pointered face).
    */
  def currentGenerationName(spark: SparkSession, root: String): String = {
    require(hasGenerationPointer(spark, root),
      s"no $GenerationPointer pointer under $root — initialise the " +
        "store with Layouts.swapGenerationPointer(root, \"gen0\") after " +
        "writing the first generation")
    val p = new org.apache.hadoop.fs.Path(s"$root/$GenerationPointer")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(buf) finally in.close()
    val name = new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim
    require(name.nonEmpty && !name.contains("/"),
      s"the $GenerationPointer pointer under $root is corrupt " +
        s"(content: '$name'); re-point it with swapGenerationPointer")
    name
  }

  /** The `k` of a `gen<k>` generation name (None for any other name) —
    * the naming convention the pointered lifecycle derives its next
    * generation from and vacuum orders generations by.
    */
  def generationIndex(name: String): Option[Long] = {
    val Gen = "gen(\\d+)".r
    name match {
      case Gen(k) => Some(k.toLong)
      case _ => None
    }
  }

  /** The full path of the generation `root/_current` points at. */
  def currentGeneration(spark: SparkSession, root: String): String =
    s"$root/${currentGenerationName(spark, root)}"

  /** Reclaim superseded generations under a pointered store root — the
    * GC the rebuild lifecycle otherwise accumulates forever (every
    * rebuild leaves the previous `genN` on disk by design, so probes
    * in flight across the swap never lose their files). Deletes
    * `gen<k>` directories beyond the `keep` newest (by numeric index),
    * always sparing the pointed-at generation and anything in
    * `alsoKeep` (e.g. a generation a not-yet-fenced rebuild is about
    * to point at). Requires the pointer: vacuuming an unpointered root
    * would be guessing which generation is live. Returns the deleted
    * names (for the operator's log).
    */
  def vacuumGenerations(spark: SparkSession, root: String, keep: Int,
      alsoKeep: Seq[String] = Nil): Seq[String] = {
    require(keep >= 1, "keep must be >= 1 (the live generation stays)")
    val live = currentGenerationName(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap(n => generationIndex(n).map(_ -> n))
      .sortBy(-_._1)
    val spare = (gens.take(keep).map(_._2) :+ live) ++ alsoKeep
    val doomed = gens.map(_._2).filterNot(spare.contains).sorted
    doomed.foreach(n => delete(spark, s"$root/$n"))
    doomed.toSeq
  }

  /** Retire a tombstone set during a compaction rewrite: anti-join
    * `rows` against the single id column of `dropIds` on `idCol`.
    * The join key is renamed on the tombstone side, so an id column
    * literally named like `idCol` never self-references. Unhinted —
    * AQE broadcasts a small tombstone set; a bulk retirement degrades
    * to a shuffle join instead of dying.
    */
  def dropTombstones(rows: org.apache.spark.sql.DataFrame,
      dropIds: Option[org.apache.spark.sql.DataFrame],
      idCol: String, caller: String): org.apache.spark.sql.DataFrame =
    dropIds.fold(rows) { d =>
      require(d.schema.length == 1,
        s"$caller: dropIds must have exactly one column (the retired " +
          s"ids); got ${d.schema.fieldNames.mkString(", ")}")
      val tomb = d.toDF("__tomb_id")
      rows.join(tomb, rows(idCol) === tomb("__tomb_id"), "left_anti")
    }

  /** Write a KB-sized sidecar directory DRIVER-SIDE — one parquet part
    * file via Spark's own ParquetWriteSupport, no Spark job (see
    * [[org.apache.spark.sql.graft.SidecarIO]]). Every sidecar writer
    * (`_meta`, `_codebooks`, drift reports, fences, Bloom bitmap rows)
    * goes through here: the rows are already driver values, and the
    * `Seq(...).toDF.coalesce(1).write` form paid a full job —
    * scheduling, codegen, two-phase commit — per sidecar for them.
    */
  def writeSidecar(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType, rows: Seq[Row]): Unit =
    org.apache.spark.sql.graft.SidecarIO.writeParquetDir(spark, dir, schema, rows)

  /** Fan a narrow-partitioned frame out to the cluster's width before
    * a CPU-heavy per-row projection (minhash signatures, gram
    * fingerprints, LSH codes): a small input — one unsplittable file,
    * a sub-split-size table — arrives as fewer scan partitions than
    * the cluster has cores, and every expensive projection built on it
    * then runs effectively single-threaded (guide §2.5, input skew).
    * SCALE-ADAPTIVE, not a constant: when the scan already carries at
    * least `defaultParallelism` partitions (any real corpus), this is
    * the identity — no exchange is ever added at scale. The
    * repartition hashes on `key` (deterministic under task retries,
    * unlike round-robin; unique ids spread evenly), with an explicit
    * partition count so AQE cannot coalesce the deliberately-small
    * bytes back onto one task.
    */
  private[graft] def fanOutByKey(df: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (par > 1 && frameWidth(df) < par)
      df.repartition(par, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** The frame's scan/partition width for the fan-out decision. The
    * narrow-chain-over-one-parquet-relation shape every call site has
    * is answered from the cached file listing + split math
    * ([[org.apache.spark.sql.graft.ScanWidth]]) WITHOUT physically
    * planning the subtree; exotic shapes fall back to the r21
    * `df.rdd` probe (which plans the frame once at build time).
    */
  private def frameWidth(df: org.apache.spark.sql.DataFrame): Int =
    org.apache.spark.sql.graft.ScanWidth.estimate(df)
      .getOrElse(df.rdd.getNumPartitions)

  /** [[fanOutByKey]] with a PUSHDOWN BARRIER (an eager localCheckpoint
    * above the repartition): a filter over an expensive derived column
    * (a quality gate over an HTML-extract chain) pushes straight
    * through a bare repartition, so the heavy expression still
    * evaluates on the narrow pre-exchange side — the barrier pins the
    * whole downstream chain above the fan-out. Triggers — and pays the
    * small-input copy — ONLY when the input is narrower than the
    * cluster; at scale it is the identity like [[fanOutByKey]].
    */
  private[graft] def fanOutBarrier(df: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (par > 1 && frameWidth(df) < par)
      df.repartition(par, org.apache.spark.sql.functions.col(key))
        .localCheckpoint(true)
    else df
  }

  /** True iff `path` exists on its filesystem. One namenode RPC —
    * never a data read.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Delete `path` recursively if it exists (a compaction clearing
    * its dst before the sidecar-first rewrite). No-op on absence.
    */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Per-generation sidecar cache: a streaming loop re-derives the
    * layout's kind and codebooks EVERY micro-batch, and each
    * derivation is a driver-side parquet read of the same KB-sized
    * sidecar. The key is the sidecar directory's listing fingerprint
    * (file names + lengths + mtimes — one namenode listing, never a
    * data read; parquet part names carry a per-write UUID, so any
    * rewrite — a compaction's new generation at a new path, or an
    * in-place rewrite at the same path — changes the key and
    * invalidates exactly, immune to mtime granularity). No TTL, no
    * explicit eviction hook. Bounded: cleared wholesale past 64
    * generations (each entry is KB-sized codebook rows).
    */
  private val sidecarCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Array[Row]]()

  /** Cache misses — the observable the StreamingSpec counts to prove
    * one sidecar read serves N same-generation batches.
    */
  private[graft] val sidecarCacheMisses =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[collectSidecar]] through the per-generation cache — the read
    * every per-batch streaming path goes through. Correctness note:
    * the fingerprint listing costs one RPC per call; only the parquet
    * footer+data reads are saved, which is what a high-frequency
    * stream pays 2-4× per batch without it.
    */
  def collectSidecarCached(spark: SparkSession, path: String,
      rebuildWith: String): Array[Row] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      try fs.listStatus(p)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"the sidecar at $path vanished between the presence check " +
              s"and the read; rebuild the layout with $rebuildWith", e)
      }
    val key = (fs.makeQualified(p).toString,
      listing.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|"))
    val hit = sidecarCache.get(key)
    if (hit != null) hit
    else {
      val rows = collectSidecar(spark, path, rebuildWith)
      sidecarCacheMisses.incrementAndGet()
      if (sidecarCache.size > 64) sidecarCache.clear()
      sidecarCache.put(key, rows)
      rows
    }
  }

  /** The data part files of a sidecar directory, as concrete paths
    * (empty when the directory vanished or holds none — a killed
    * writer). One namenode listing.
    */
  private[graft] def sidecarPartFiles(spark: SparkSession,
      path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).toIndexedSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Collect the rows of a sidecar KNOWN to exist ([[exists]] was
    * true). A sidecar directory that is unreadable (no parquet files
    * — a killed writer) or holds zero rows fails with a curated
    * message naming the layout and the rebuild path, instead of an
    * uncaught schema-inference or index-out-of-bounds error.
    *
    * DRIVER-SIDE read ([[org.apache.spark.sql.graft.SidecarIO]]): a
    * sidecar is one KB-sized part file, and the previous
    * `spark.read.parquet(parts).collect()` paid a full Spark job per
    * uncached read — the same scheduler tax [[writeSidecar]] removes
    * on the write side.
    */
  def collectSidecar(spark: SparkSession, path: String,
      rebuildWith: String): Array[Row] = {
    // the part files by EXPLICIT path, not the directory: an empty
    // directory (killed writer) has no part files — curated below
    val parts = sidecarPartFiles(spark, path)
    if (parts.isEmpty)
      throw new IllegalStateException(
        s"the sidecar at $path is present but unreadable — an " +
          "interrupted sidecar write can leave an empty directory; " +
          s"rebuild the layout with $rebuildWith (or delete the " +
          "sidecar to opt out of validation)")
    val rows =
      try org.apache.spark.sql.graft.SidecarIO.readParquetParts(spark, parts)
      catch {
        case e: Exception =>
          throw new IllegalStateException(
            s"the sidecar at $path is present but unreadable — an " +
              "interrupted sidecar write can leave an empty directory; " +
              s"rebuild the layout with $rebuildWith (or delete the " +
              "sidecar to opt out of validation)", e)
      }
    if (rows.isEmpty)
      throw new IllegalStateException(
        s"the sidecar at $path is present but holds no rows — an " +
          "interrupted sidecar write; rebuild the layout with " +
          s"$rebuildWith (or delete the sidecar to opt out of validation)")
    rows
  }
}
