package graft.ops

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graft.FooterSchema

/** The storage every at-rest index sits on: increments, the quiesce
  * marker, the generation pointer, and the [[GenerationStore]] that
  * owns their lifecycle. The IVF-PQ ([[AnnIndex]]), near-dup
  * ([[Dedup.writeNearDupIndex]]) and Bloom ([[Bloom.writeBloomIndex]])
  * indexes are codecs over it: each says how to encode a batch and how
  * to write a generation, and nothing about when either is safe. Every
  * append, batch face or stream, writes one increment directory its
  * batch owns, last of the batch's outputs; the base changes only when
  * a fold (every committed increment, recorded in `_folded`) or a
  * rebuild writes the next generation.
  *
  * Also the sidecar plumbing (`_meta`, `_codebooks`, fences, bitmap
  * rows). Presence is an explicit filesystem check, NOT a caught
  * `AnalysisException`: a present-but-corrupt sidecar raises the same
  * exception as absence, and reading it as "absent" would skip the
  * validation it exists for (r14 ADVICE). Every failure reading a
  * PRESENT sidecar surfaces as a curated error.
  */
private[graft] object Layouts {

  /** Subdirectory of a layout holding every append's per-batch
    * increments (`_increments/ingest_batch=<id>`, one per batch, batch
    * faces and streams alike — [[GenerationStore.append]]).
    * Underscore-prefixed like `_meta`/`_codebooks`, so a plain
    * `spark.read.parquet` of the base layout never sees increment rows
    * — readers opt in via [[withIncrements]] (or fold them into a new
    * base generation with the family's compaction).
    */
  val IncrementsDir = "_increments"

  /** `base` unioned with the layout's committed per-batch increment
    * directories, projected to `cols` — the one increment-listing
    * discipline (name filter, explicit paths, the basePath anchor)
    * every reader and every fold shares. `excludeBatchId` drops that
    * batch's OWN directory — the replay rule: a crash-replayed batch
    * must see exactly the history its first attempt saw, never its own
    * previous partial appends. The directories are LISTED and read by
    * explicit path (not partition discovery over the `_increments`
    * root), so the one directory that may hold a torn write from a
    * crashed attempt — the excluded batch's own — is never opened. A
    * directory that holds no data file is skipped: a zero-row
    * `partitionBy` write leaves none.
    *
    * Every kept increment's own footer is read (driver-side, no Spark
    * job), so an increment that lacks a data column of `cols` — a batch
    * appended without a column in its `keep` — is refused naming its
    * directory. One schema read for all of them would surface its rows
    * with nulls there, and a filter on that column would drop them
    * silently.
    */
  def withIncrements(spark: SparkSession, base: org.apache.spark.sql.DataFrame,
      path: String, cols: Seq[String],
      excludeBatchId: Option[Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val projected = base.select(cols.map(col): _*)
    val root = s"$path/$IncrementsDir"
    val incs = incrementIds(spark, path).filterNot(excludeBatchId.contains).flatMap { id =>
      val dir = incrementDir(path, id)
      FooterSchema.dataFile(spark, dir).map { f =>
        val schema = FooterSchema.ofFile(spark, f)
        // partition columns: ingest_batch, and every name=value
        // directory between the increment and its data file (the ANN cell)
        val own = new org.apache.hadoop.fs.Path(dir).getName
        val parts = "ingest_batch" +: Iterator.iterate(f.getParent)(_.getParent)
          .takeWhile(_.getName != own).map(_.getName.takeWhile(_ != '=')).toSeq
        val missing = cols.filterNot(c => schema.fieldNames.contains(c) || parts.contains(c))
        if (missing.nonEmpty)
          throw new IllegalStateException(s"the increment $dir lacks " +
            s"${missing.mkString("'", "', '", "'")}: its batch was appended " +
            "without them in keep — re-append that batch under the same " +
            s"batch id with keep = Seq(${missing.map("\"" + _ + "\"").mkString(", ")})")
        (dir, schema)
      }
    }
    if (incs.isEmpty) projected
    else projected.unionByName(
      // basePath anchors partition inference at the _increments root:
      // without it, increments whose INSIDES are partitioned (the ANN
      // layout's cell=... dirs) make multi-directory discovery fail
      // with CONFLICTING_DIRECTORY_STRUCTURES; with it, the reader
      // surfaces ingest_batch (and any inner partition column) and
      // the projection drops what the caller didn't ask for. Every
      // increment holds `cols`, so the first one's schema reads them all
      spark.read.option("basePath", root).schema(incs.head._2)
        .parquet(incs.map(_._1): _*)
        .select(cols.map(col): _*))
  }

  /** The increment directory a batch OWNS (and overwrites wholesale on
    * a retry — the idempotence that makes a replay converge).
    */
  def incrementDir(path: String, batchId: Long): String =
    ownedBatchDir(s"$path/$IncrementsDir", batchId)

  /** The batch ids of a layout's committed increment directories (one
    * namenode listing; empty when none).
    */
  def incrementIds(spark: SparkSession, path: String): Seq[Long] =
    ownedBatchIds(spark, s"$path/$IncrementsDir")

  /** A per-batch OWNED output directory under `out` — the
    * [[incrementDir]] convention for a stream's report and verdict
    * outputs: the batch id is the `ingest_batch` partition column on
    * read, and a replay overwrites the batch's own directory.
    */
  def ownedBatchDir(out: String, batchId: Long): String =
    s"$out/ingest_batch=$batchId"

  /** The batch ids of the [[ownedBatchDir]] directories under `out`,
    * ascending (one namenode listing; empty when `out` is absent).
    */
  def ownedBatchIds(spark: SparkSession, out: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else {
      val Batch = "ingest_batch=(-?\\d+)".r
      fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
        .collect { case Batch(id) => id.toLong }.toIndexedSeq.sorted
    }
  }

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

  /** The atomic generation pointer (`_current` under a STORE ROOT that
    * holds `gen0/gen1/...` generation directories): one small file
    * whose content is the current generation's directory NAME, which a
    * [[GenerationStore]] opened on the root resolves. A store is
    * initialised by writing `gen0` and pointing `_current` at it.
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

  /** Open the store at `path` — a pointered root, bound to the
    * generation `_current` names now, or a plain layout, which is its
    * own only generation (it appends, but cannot fold or rebuild).
    */
  def openStore(spark: SparkSession, path: String): GenerationStore = {
    val layout = Similarity.resolveLayout(spark, path)
    // a pointered root resolves below itself; a plain layout to itself
    new GenerationStore(spark, layout, Some(path).filter(_ => layout != path))
  }

  /** The fold record of a generation a fold wrote: one row, the
    * highest batch id folded into its base (`through_batch`).
    */
  val FoldedSidecar = "_folded"

  private val FoldedSchema =
    org.apache.spark.sql.types.StructType.fromDDL("through_batch BIGINT NOT NULL")

  /** The highest batch id folded into `layout`'s base, if a fold wrote
    * it ([[GenerationStore.fold]]; seed and rebuilt generations have
    * no record).
    */
  def foldedThrough(spark: SparkSession, layout: String): Option[Long] = {
    val dir = s"$layout/$FoldedSidecar"
    if (!exists(spark, dir)) None
    else Some(collectSidecarCached(spark, dir, "a compaction of the " +
      "previous generation").map(_.getLong(0)).max)
  }

  /** One generation of an at-rest index, and the lifecycle policy every
    * index shares ("Continuously Adaptive Similarity Search", SIGMOD
    * 2020: the index is one long-lived object): [[append]], [[fold]]
    * and [[rebuild]]. The handle is bound to the generation it resolved
    * (`layout`); once `_current` moves off it, every write refuses
    * curated — reopen the store.
    */
  final class GenerationStore private[Layouts] (spark: SparkSession,
      val layout: String, val root: Option[String]) {

    /** How `_current` moved off this generation, if it did (a plain
      * layout has no pointer and is always current).
      */
    private def moved(): Option[String] =
      root.map(currentGeneration(spark, _)).filter(_ != layout)
        .map(g => s"the generation pointer moved off $layout (it now names $g)")

    private def requireCurrent(face: String): Unit = moved().foreach(m =>
      throw new IllegalStateException(s"$face: $m — this handle is stale; " +
        "reopen the index and retry"))

    /** Why an append into this generation is unsafe now, if it is. */
    private def hazard(): Option[String] =
      if (exists(spark, s"$layout/$QuiesceMarker"))
        Some(s"a compaction holds the $QuiesceMarker marker under $layout")
      else moved()

    /** Run `write` as an append into this generation between two
      * [[hazard]] checks; the one before is check-then-act (a fold can
      * take the marker and list increments before the write's files
      * exist, or swap while it writes). `write` gets the increment
      * directory batch `batchId` OWNS and overwrites it wholesale, so
      * every append is idempotent: a failure after the write leaves the
      * batch uncommitted, and its retry under the same id rewrites that
      * one directory in the live generation. `write` writes that
      * directory LAST, so a batch a fold folded had complete outputs:
      * its retry finds the fold record ([[foldedThrough]]) and writes
      * nothing, with no fence. Either way each row is stored once.
      *
      * Caller contract: batch ids share the index's stream id space and
      * increase, one batch in flight at a time; an id is reused only to
      * retry that batch (a stream's checkpoint replay, or a batch
      * caller's rerun on a reopened handle). An id below this
      * generation's newest increment or fold record is refused before
      * anything is written: it belongs to a committed batch, and writing
      * a different batch under it would replace or duplicate that
      * batch's rows. `beforeFence` is the seam a spec pins the race with.
      */
    def append(face: String, batchId: Long,
        beforeFence: () => Unit = () => ())(write: String => Unit): Unit = {
      hazard().foreach(c => throw new IllegalStateException(s"$face: $c — nothing " +
        "was written; retry after the compaction (releaseQuiesce clears a " +
        "crashed one's marker) or on a reopened index"))
      newestBatch().filter(batchId < _).foreach(n =>
        throw new IllegalArgumentException(s"$face: batch id $batchId is below " +
          s"$n, the newest batch of $layout — batch ids increase, and an " +
          "id is reused only to retry the newest batch; nothing was written"))
      if (!foldedThrough(spark, layout).contains(batchId)) {
        write(incrementDir(layout, batchId))
        beforeFence()
        hazard().foreach(c => throw new IllegalStateException(s"$face: $c while " +
          s"batch $batchId was written — it fails uncommitted; retry it under " +
          "the same batch id on a reopened index (a stream's checkpoint replay " +
          "does), which rewrites its own directory in the live generation"))
      }
    }

    /** The newest batch this generation holds: its newest increment or
      * its fold record.
      */
    private def newestBatch(): Option[Long] =
      (incrementIds(spark, layout).lastOption ++ foldedThrough(spark, layout)).maxOption

    /** Refuse a plain layout or a stale handle before a rebuild's scans. */
    def requireRebuildable(face: String): Unit = rootAndIndex(face)

    /** Under this generation's marker: write `gen<k+1>` with `write`,
      * then swap `_current` to it before the marker lifts, so no append
      * can land in this one unseen. A crash before the swap leaves the
      * marker HELD: swap and release by hand, or delete the orphan
      * generation and release.
      */
    def rebuild[T](face: String)(write: String => T): T = {
      val (r, k) = rootAndIndex(face)
      quiesced(face) {
        val out = write(s"$r/gen${k + 1}")
        swapGenerationPointer(spark, r, s"gen${k + 1}")
        out
      }
    }

    /** FOLD this generation into `gen<k+1>` ([[rebuild]]) and return
      * its path: `write(dst)` writes base ∪ every committed increment
      * ([[withIncrements]]), sidecar first. Then the fold record
      * ([[FoldedSidecar]]), max(previous record, newest increment id);
      * the `_current` swap publishes both. An increment is its batch's
      * last write, so a folded batch's outputs are complete and its
      * replay writes nothing ([[append]]). An append that passed its
      * marker check before the fold took the marker may still be
      * writing, so the fold fails if the increments' files changed
      * during its read or a write is still staged. The rerun of a failed
      * fold clears its partial `gen<k+1>`.
      */
    def fold(face: String)(write: String => Unit): String =
      rebuild(face) { dst =>
        val files = incrementFiles()
        delete(spark, dst)
        write(dst)
        assertNoInflightIncrements(face)
        if (incrementFiles() != files)
          throw new IllegalStateException(s"$face: an append wrote into " +
            s"$layout while the fold read it — nothing was swapped; retry the fold")
        newestBatch().foreach(b =>
          writeSidecar(spark, s"$dst/$FoldedSidecar", FoldedSchema, Seq(Row(b))))
        dst
      }

    /** Every file under this generation's increments, with its length
      * and modification time (one recursive listing).
      */
    private def incrementFiles(): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$layout/$IncrementsDir")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").toVector.sorted
      }
    }

    /** Complete a rebuild that died between writing `gen` and swapping
      * to it: when `gen` is numerically AHEAD of this generation and on
      * disk, swap `_current` to it, release the marker the dead run left
      * here, and return its path. A generation at or behind this one is
      * history and is never swapped back to.
      */
    def completeSwap(face: String, gen: String): Option[String] = {
      val (r, k) = rootAndIndex(face)
      if (generationIndex(gen).exists(_ > k) && exists(spark, s"$r/$gen")) {
        swapGenerationPointer(spark, r, gen)
        releaseQuiesce(spark, layout)
        Some(s"$r/$gen")
      } else None
    }

    private def rootAndIndex(face: String): (String, Long) = {
      val r = root.getOrElse(throw new IllegalStateException(
        s"$face: $layout is a plain layout, not a pointered store root — " +
          "rebuilds and compactions write gen<k+1> next to the current " +
          "generation and swap the pointer to it; write the layout as " +
          "<root>/gen0, initialise the root with " +
          "Layouts.swapGenerationPointer(root, \"gen0\") and open the root"))
      requireCurrent(face)
      val gen = layout.stripPrefix(r + "/")
      (r, generationIndex(gen).getOrElse(
        throw new IllegalArgumentException(
          s"$face: the pointered lifecycle derives the next generation " +
            "from the current one's name, which must match gen<k>; " +
            s"'$gen' (under $r) does not — re-point " +
            s"$GenerationPointer at a gen<k>-named generation")))
    }

    /** Run `body` holding this generation's marker: appends refuse
      * meanwhile, and one that passed its marker check before the
      * acquire and is still staging fails the step instead of being
      * retired with this generation. Every swap happens under the live
      * generation's marker, so the pointer check made while holding it
      * cannot go stale. Released on any exit — a failed step leaves
      * this generation intact and appendable.
      */
    private def quiesced[T](face: String)(body: => T): T = {
      acquireQuiesce(spark, layout, face)
      try {
        requireCurrent(face)
        assertNoInflightIncrements(face)
        body
      } finally releaseQuiesce(spark, layout)
    }

    /** Refuse while any write into this generation is UNCOMMITTED
      * (Spark stages task files under `_temporary` until job commit):
      * the marker stops NEW appends, this catches the one that passed
      * its marker check before the acquire — folding it would ship a
      * subset of a batch the append then reports committed.
      */
    private def assertNoInflightIncrements(face: String): Unit = {
      // every append stages under its own increment directory; the
      // base root is probed too, for a writer into the base itself
      val inflight = (layout +: incrementIds(spark, layout).map(incrementDir(layout, _)))
        .filter(d => exists(spark, s"$d/_temporary"))
      if (inflight.nonEmpty)
        throw new IllegalStateException(
          s"$face: ${inflight.map(d => if (d == layout) s"the layout root $d" else d)
            .mkString(", ")} hold uncommitted writes " +
            "(_temporary present) — an append that started before the " +
            "quiesce marker was taken is still in flight; let it drain " +
            "(or clean up a dead writer's staging) and retry")
    }
  }

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
    * is answered from the cached file listing + split math, and a
    * narrow chain over a built cache from the cached buffers
    * ([[org.apache.spark.sql.graft.ScanWidth]]), both WITHOUT
    * physically planning the subtree; exotic shapes fall back to the
    * r21 `df.rdd` probe (which plans the frame once at build time).
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
    def broken(what: String, cause: Throwable = null) = new IllegalStateException(
      s"the sidecar at $path is present but $what — an interrupted " +
        "sidecar write can leave an empty directory; rebuild the layout " +
        s"with $rebuildWith (or delete the sidecar to opt out of validation)",
      cause)
    val parts = sidecarPartFiles(spark, path)
    if (parts.isEmpty) throw broken("unreadable")
    val rows =
      try org.apache.spark.sql.graft.SidecarIO.readParquetParts(spark, parts)
      catch { case e: Exception => throw broken("unreadable", e) }
    if (rows.isEmpty) throw broken("holds no rows")
    rows
  }
}
