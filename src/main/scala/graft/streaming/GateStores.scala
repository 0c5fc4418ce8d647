package graft.streaming

import java.util.concurrent.CountDownLatch

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.ops.Sinks

/** The streaming ingest gates' ([[IngestGate]], [[EmbGate]],
  * [[AnnIngest]]) one replay driver and the store contract it runs.
  * [[replay]] is the single statement of a gate's micro-batch
  * lifecycle; [[dupSources]] is the single probe/fetch/verify step, whose
  * one store fetch reads the visible store whole and streams it through
  * the verify's broadcast candidate join. A gate states only what is its
  * own: its signature, its verifier, its stores and whatever it lands
  * besides the gate decision.
  *
  * Store contract: each micro-batch Overwrite-writes its own `b<id>`
  * subdirectory, and probes read only STRICTLY EARLIER batches — the
  * replay-safety boundary: a retried batch must never see its own first
  * attempt's output (which would yield self-pairs and reversed
  * key_a > key_b candidates). An at-least-once replay therefore
  * rewrites identical files instead of double-appending, and a run
  * killed between batches or in the middle of a batch's landings
  * resumes to identical stores (StreamingSpec pins both across a
  * checkpoint restart).
  *
  * The settled prefix of the batch dirs folds into a SNAPSHOT, a
  * [[graft.ops.Sinks]] versioned table under `snap/` whose version is
  * the folded-through batch id (see [[maybeCompact]]), and reads go
  * through [[readStoreOpt]] = snapshot + live tail — so a long-running
  * gate's probe plan stays O(tail), not O(all batches ever), and the
  * per-batch contract above is unchanged (folds stop at the last
  * committed batch). Every store lands and folds as one unpartitioned
  * file.
  */
private[graft] object GateStores {

  /** Micro-batch count of every gate's replay fixture: the smallest
    * count that still exercises a MULTI-batch accumulated index — batch
    * 2 probes an index of two prior batches. The specs slice the id
    * space by it, and the `q_stream_ann_*` oracles interpolate it, so a
    * change re-states both sides at once.
    */
  val Slices = 3

  /** A store a gate lands once per batch, under `dir/b<id>`. `schema`
    * is the rows it lands: every read of the store uses it, so none
    * runs Spark's footer-reading schema-inference job. `eraseKey` names
    * the key column on which the store's folds anti-join the gate's
    * tombstones; None keeps every row.
    */
  final case class Store(dir: String, schema: StructType,
                         eraseKey: Option[String] = None) {
    /** Lands `df` as batch `id`; its fields must be the declared ones. */
    def land(df: DataFrame, id: Long): Unit = {
      def fields(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toSet
      require(fields(df.schema) == fields(schema),
        s"store $dir declares ${schema.toDDL}, not ${df.schema.toDDL}")
      GateStores.land(df, s"$dir/b$id")
    }
  }

  /** The replay's one test seam: fail batch `batch` after every store
    * has landed, before its checkpoint commits (the worst at-least-once
    * window) — or, with `store` naming one landing's dir, fail that
    * landing once its sibling landings have written.
    */
  final case class Crash(batch: Long, store: Option[String] = None)

  /** One micro-batch as [[replay]] hands it to a gate. */
  final class Batch(val rows: DataFrame, val id: Long, ns: String) {
    def ss: SparkSession = rows.sparkSession

    /** Names the section's jobs `<ns> b<id>: <section>`. The description
      * is an inheritable thread-local, so the landings' threads keep it.
      */
    def label(section: String): Unit =
      ss.sparkContext.setJobDescription(s"$ns b$id: $section")

    private val held = mutable.ArrayBuffer.empty[DataFrame]

    /** Persists `df` until the batch's stores have landed. */
    def persist(df: DataFrame): DataFrame = {
      held += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    private[graft] def release(): Unit = held.reverseIterator.foreach(_.unpersist())
  }

  /** A gate's replay of the `src` fixture, one [[Slices]] slice per
    * micro-batch. Per batch: fold the settled tails of `folded`
    * concurrently; run `gate`, which returns each store's rows for this
    * batch; land those concurrently; run `afterLanding` (a write that
    * reads the batch's landed stores); release the batch's persisted
    * frames; then the [[Crash]] seam. A fixed `ckpt` with
    * `wipeStores = false` resumes a killed run against its surviving
    * stores; the checkpoint is removed unless a crash was injected.
    * `tombstones(before)` is the delete set the `eraseKey` folds apply.
    */
  def replay(s: SparkSession, ns: String, src: DataFrame, key: String,
      srcDir: String, stores: Seq[Store], folded: Seq[Store], ckpt: String,
      wipeStores: Boolean, crash: Option[Crash],
      tombstones: Long => Option[DataFrame] = _ => None,
      afterLanding: Batch => Unit = _ => ())(
      gate: Batch => Seq[(Store, DataFrame)]): Unit = {
    landSliceFixture(src, key, srcDir)
    if (wipeStores) wipe(stores.map(_.dir))
    val query = s.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir + "/gate_*.parquet")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (rows: DataFrame, id: Long) =>
        val b = new Batch(rows, id, ns)
        b.label("fold")
        inParallel(folded.map(st => () => maybeCompact(b.ss, st, upTo = id - 1,
          tombstones = st.eraseKey.flatMap(_ => tombstones(id))): Unit))
        b.label("gate")
        val lands = gate(b)
        b.label("land")
        inParallel(landings(b, lands, crash))
        afterLanding(b)
        b.release()
        if (crash.contains(Crash(id)))
          throw new RuntimeException(s"injected crash after batch $id")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    try query.awaitTermination()
    finally if (crash.isEmpty) wipe(Seq(ckpt))
  }

  /** A fresh checkpoint dir for one replay of gate `ns` over `d`. */
  def freshCkpt(ns: String, d: String): String =
    graft.model.Scratch.dir(s"${ns}_ckpt", d) + "/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** The batch's store writes; when `crash` names one of them for this
    * batch, that landing fails once every sibling has written.
    */
  private def landings(b: Batch, lands: Seq[(Store, DataFrame)],
      crash: Option[Crash]): Seq[() => Unit] = {
    val failing = crash.filter(_.batch == b.id).flatMap(_.store)
    require(failing.forall(f => lands.exists(_._1.dir == f)),
      s"batch ${b.id} lands no store at ${failing.mkString}")
    val siblings = new CountDownLatch(lands.size - failing.size)
    lands.map { case (st, df) =>
      if (failing.contains(st.dir)) () => {
        siblings.await()
        throw new RuntimeException(
          s"injected crash landing ${st.dir} of batch ${b.id}")
      } else () =>
        try st.land(df, b.id)
        finally siblings.countDown()
    }
  }

  /** The gates' one probe/fetch/verify step: for each of this batch's
    * `rows` (key + payload, persisted) with a duplicate, the minimum
    * earlier key it verifies against, as (`key`, `dup_src`).
    *
    * Candidates: the persistent band index of STRICTLY EARLIER batches,
    * probed with this batch's `bands` (key + `bandCols`, persisted),
    * plus the same-batch ordered self-join — every a < b pair sharing a
    * band exactly once, whether or not the two co-arrive. The batch's
    * band rows are bounded (one micro-batch × bands), so every join
    * against them broadcasts that side: the index streams map-side
    * through the probe instead of being exchanged, at any store size
    * (guide §3.1). No candidate distinct: a pair colliding in several
    * bands verifies once per collision and collapses in the final
    * min-aggregate, which is cheaper than an exchange of the whole
    * candidate set (the cosinePairsBlocked argument).
    *
    * The verify's a side is the visible `store` ([[readStoreOpt]]) plus
    * `rows`, read whole: `verify(cands, aSide, bSide)` broadcasts the
    * candidates and the b side (`rows` alone — key_b always names a
    * THIS-batch row), so the store streams map-side through the
    * candidate join, which drops every non-candidate row, and no
    * exchange carries store rows (StreamingSpec pins this). `tombstones`
    * (an `n_id` delete set) hides erased keys from the store, so an
    * erased predecessor can no longer verify a candidate — the
    * visibility rule matches the PHYSICAL state after the store's
    * tombstone fold, and decisions stay a pure function of (corpus,
    * takedown schedule), not of when folds fire.
    */
  def dupSources(b: Batch, rows: DataFrame, bands: DataFrame, key: String,
      bandCols: Seq[String], idx: Store, store: Store,
      verify: (DataFrame, DataFrame, DataFrame) => DataFrame,
      tombstones: Option[DataFrame] = None): DataFrame = {
    def side(df: DataFrame, as: String) =
      df.select(col(key).as(as) +: bandCols.map(col): _*)
    val candPrev = readStoreOpt(b.ss, idx, b.id) match {
      case None => b.ss.emptyDataFrame
        .select(lit(0L).as("key_a"), lit(0L).as("key_b")).limit(0)
      case Some(index) => side(index, "key_a")
        .join(broadcast(side(bands, "key_b")), bandCols)
        .select(col("key_a"), col("key_b"))
    }
    val candSame = side(bands, "key_a")
      .join(broadcast(side(bands, "key_b")), bandCols)
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"))
    val cands = candPrev.unionByName(candSame)
    val aSide = readStoreOpt(b.ss, store, b.id) match {
      case None => rows
      case Some(stored) =>
        val live = tombstones match {
          case Some(t) => stored.join(t.select(col("n_id").as(key)).distinct(),
            Seq(key), "left_anti")
          case None => stored
        }
        live.unionByName(rows)
    }
    verify(cands, aSide, rows)
      .groupBy(col("key_b").as(key))
      .agg(min(col("key_a")).as("dup_src"))
  }

  /** Every row of the micro-batch with its decision: admitted iff it has
    * no duplicate source.
    */
  def decide(batch: DataFrame, key: String, dupSrc: DataFrame): DataFrame =
    batch.select(col(key))
      .join(broadcast(dupSrc), Seq(key), "left")
      .select(col(key), col("dup_src").isNull.as("admitted"), col("dup_src"))

  /** The store of [[decide]]'s rows, keyed by `key`. */
  def decisionStore(dir: String, key: String): Store =
    Store(dir, StructType.fromDDL(s"$key BIGINT, admitted BOOLEAN, dup_src BIGINT"))

  /** The decisions every batch of a replay landed in `dec`. */
  def decisions(s: SparkSession, dec: Store, key: String): DataFrame =
    s.read.schema(dec.schema).parquet(existingIds(dec.dir).map(_._2): _*)
      .orderBy(col(key))

  /** Batch subdirectories `b<id>` of a store with id < `before`, with
    * their ids, sorted NUMERICALLY by batch id — a lexicographic path
    * sort would order "b10" before "b2", silently shuffling "earlier"
    * once a replay passes ten batches.
    */
  def existingIds(dir: String,
                  before: Long = Long.MaxValue): Seq[(Long, String)] = {
    val f = new java.io.File(dir)
    if (!f.isDirectory) Nil
    else f.listFiles().toSeq
      .filter(x => x.isDirectory && x.getName.startsWith("b"))
      .map(x => (x.getName.drop(1).toLong, x.getPath))
      .filter(_._1 < before)
      .sortBy(_._1)
  }

  /** A rerun in the same session gates the replay afresh, not against a
    * previous run's accumulated stores.
    */
  def wipe(dirs: Seq[String]): Unit =
    dirs.foreach(d => FileUtils.deleteQuietly(new java.io.File(d)): Unit)

  /** Run INDEPENDENT per-batch store jobs concurrently (guide §2.6:
    * overlap independent jobs). A gate batch ends with 2-3 landing
    * writes to disjoint stores and starts with 1-3 folds of disjoint
    * stores; each is a tiny Spark job whose wall time at micro-batch
    * scale is dominated by fixed scheduling/commit latency, so running
    * them sequentially pays that latency K times for work the
    * scheduler could overlap — and on a real cluster the same overlap
    * back-fills executors freed by another job's task tail. Spark
    * schedules concurrent jobs FIFO; the job description/group are
    * InheritableThreadLocal SparkContext properties, so jobs submitted
    * from these short-lived threads keep the enclosing batch's label.
    *
    * Batch semantics are unchanged: every task completes (or fails)
    * before this returns, so the enclosing foreachBatch still owns the
    * batch's commit point, and a failure rethrows — a failed store write
    * fails the batch exactly as it did sequentially. The rethrown error
    * is the failure of the earliest task in `tasks` order, with every
    * other task's failure attached as suppressed, so none is dropped. A
    * fatal error (VirtualMachineError, InterruptedException, …) rethrows
    * as soon as it arrives, without waiting for the siblings.
    */
  def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      val done = new java.util.concurrent.LinkedBlockingQueue[(Int, Option[Throwable])]()
      tasks.zipWithIndex.foreach { case (t, i) =>
        val th = new Thread(() => done.put((i,
          try { t(); None } catch { case e: Throwable => Some(e) })),
          s"gate-store-par-$i")
        th.setDaemon(true)
        th.start()
      }
      val errs = new Array[Throwable](tasks.size)
      for (_ <- tasks.indices) done.take() match {
        case (i, Some(NonFatal(e))) => errs(i) = e
        case (_, Some(fatal)) => throw fatal
        case (_, None) => ()
      }
      errs.filter(_ != null).distinct match {
        case Array() => ()
        case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      }
    }

  /** Per-batch store landing, one file (a micro-batch here is thousands
    * of rows, where 32 shuffle partitions of task-commit overhead would
    * dominate). An empty frame lands one schema-bearing file of no rows.
    */
  def land(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private def hasParquet(dir: String): Boolean =
    Option(new java.io.File(dir).listFiles()).exists(_.exists(_.getName.endsWith(".parquet")))

  /** Read a set of store dirs (batch dirs, a snapshot version) as one
    * scan with `schema`. Dirs holding no parquet file are skipped, and
    * an all-empty set is None.
    */
  def readBatchesOpt(ss: SparkSession, dirs: Seq[String],
                     schema: StructType): Option[DataFrame] = {
    val nonEmpty = dirs.filter(hasParquet)
    if (nonEmpty.isEmpty) None
    else Some(ss.read.schema(schema).parquet(nonEmpty: _*))
  }

  /** Total bytes under a set of store dirs — a driver-side METADATA
    * read (file lengths only), the measure [[maybeCompact]]'s geometric
    * trigger compares.
    */
  private def storeBytes(dirs: Seq[String]): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(size).sum else f.length()
    dirs.map(d => size(new java.io.File(d))).sum
  }

  // ------------------------------------------------------------------
  // Snapshot compaction: unbounded micro-batches would otherwise mean
  // one `b<id>` dir per batch FOREVER — a driver-side listing plus an
  // N-way union plan per probe. Settled batches fold into a SNAPSHOT
  // while recent batches stay as a tail:
  //
  //   dir/snap/v=<id>/   all rows of batches 0..<id>, one file
  //   dir/snap/_LATEST   the committed version ([[graft.ops.Sinks]])
  //   dir/b<j>/          the live tail, j > <id>
  //
  // The snapshot's version IS the folded-through batch id, so what a
  // snapshot covers is read off its committed version; the reader
  // ignores b<j> with j <= foldedThrough whether or not the dirs still
  // exist. Crash safety: the folded b<j> dirs are wiped only after
  // the `_LATEST` flip, so a crash before it leaves the old pointer
  // with the tail intact, and with no pointer yet Sinks falls back to
  // the highest complete v=N — either way each batch is read exactly
  // once. Probes keep the strictly-earlier contract because folding
  // stops at the last COMMITTED batch (the fold runs at the START of
  // processing batch B over ids <= B-1; a replayed batch's own
  // first-attempt files are never folded). Single writer per store by
  // construction (one streaming query owns a gate's scratch namespace).
  // ------------------------------------------------------------------

  /** The versioned table the store at `dir` folds into. */
  private def snapTable(dir: String) = s"$dir/snap"

  /** The committed snapshot of the store at `dir`: (folded-through
    * batch id, its dir).
    */
  private def snapshot(ss: SparkSession, dir: String): Option[(Long, String)] =
    Sinks.latestVersion(ss, snapTable(dir)).map(v => (v, Sinks.versionDir(snapTable(dir), v)))

  /** Highest batch id folded into a committed snapshot; -1 if none. */
  def foldedThrough(ss: SparkSession, dir: String): Long =
    snapshot(ss, dir).fold(-1L)(_._1)

  /** Minimum live tail size before a fold is considered at all. */
  val CompactMinTail = 2

  /** Fold the settled tail (batch ids in (foldedThrough, upTo]) plus
    * the current snapshot into a new snapshot version, when the
    * geometric trigger fires: tail bytes ≥ half the snapshot bytes.
    * Rewriting on a FRACTION of the snapshot keeps total compaction
    * work O(n log n) over the store's life — a fixed every-K-batches
    * fold would be O(n²/K). `tombstones` (an `n_id`-keyed delete set,
    * matched on the store's `eraseKey`) is anti-joined out of the
    * folded rows — physical erasure rides the
    * rewrite the store was paying anyway ([[graft.ops
    * .AnnIndexLifecycle]]'s compaction discipline applied here).
    * Returns true iff a new snapshot version landed.
    *
    * Retention is one version: the superseded snapshot is deleted as
    * soon as the new version commits. A longer retention would keep any
    * snapshot folded BEFORE a takedown readable — tombstoned rows
    * surviving on disk indefinitely, contradicting the file-level
    * erasure the tombstone fold just performed. Removal happens
    * strictly AFTER the commit point, so a crash mid-fold leaves the
    * previous version intact and readable. A fold's file size follows
    * the session's records-per-file writer limit.
    */
  def maybeCompact(ss: SparkSession, st: Store, upTo: Long,
                   tombstones: Option[DataFrame] = None): Boolean = {
    require(tombstones.isEmpty || st.eraseKey.isDefined,
      s"store ${st.dir} has no erase key to apply tombstones on")
    val snap = snapshot(ss, st.dir)
    val ft = snap.fold(-1L)(_._1)
    val tail = existingIds(st.dir, before = upTo + 1).filter(_._1 > ft)
    if (tail.size < CompactMinTail) return false
    if (2 * storeBytes(tail.map(_._2)) < storeBytes(snap.map(_._2).toSeq)) return false
    // every foldable dir may be empty — the fold still commits, so the
    // empty b-dirs stop being listed
    val cur = readBatchesOpt(ss, snap.map(_._2).toSeq ++ tail.map(_._2), st.schema)
      .getOrElse(ss.createDataFrame(ss.sparkContext.emptyRDD[Row], st.schema))
    val folded = tombstones match {
      case Some(t) => cur.join(
        t.select(col("n_id").as(st.eraseKey.get)).distinct(),
        st.eraseKey.toSeq, "left_anti")
        .select(cur.columns.map(col).toIndexedSeq: _*)
      case None => cur
    }
    // ONE file: a snapshot of one file per input task makes each later
    // probe pay to re-open them all (measured: the naive fold made the
    // gate replays ~1.5× slower end to end)
    Sinks.writeVersionAt(folded.coalesce(1), snapTable(st.dir), tail.last._1): Unit
    // cleanup AFTER the commit point; readers ignore these either way
    wipe(tail.map(_._2))
    Sinks.vacuumVersions(ss, snapTable(st.dir), keep = 1)
    true
  }

  /** The accumulated store visible to batch `before`: the committed
    * snapshot, then the live tail strictly between foldedThrough and
    * `before`. None iff no batch of the store has landed yet. The guard
    * is the strictly-earlier contract: a snapshot may never cover the
    * probing batch itself (folds stop at the previous committed batch,
    * so this can only trip on external tampering).
    */
  def readStoreOpt(ss: SparkSession, st: Store,
                   before: Long = Long.MaxValue): Option[DataFrame] = {
    val snap = snapshot(ss, st.dir)
    val ft = snap.fold(-1L)(_._1)
    require(ft < before,
      s"store at ${st.dir} folded through batch $ft, not strictly earlier than $before")
    readBatchesOpt(ss,
      snap.map(_._2).toSeq ++ existingIds(st.dir, before).filter(_._1 > ft).map(_._2),
      st.schema)
  }

  private val fixtureLock = new Object

  /** A replay fixture, landed once per `dir`: `build` gives a stamp and
    * the files, which land as single-file parquet `<prefix>_NN.parquet`
    * (NN = position), each mtime-pinned to NN + 1 minutes —
    * FileStreamSource consumes in modification-time order, so the list
    * order IS the arrival order. The `marker` file commits the stamp
    * AFTER the last move (a half-written set is never trusted); a later
    * call reads the stamp back and lands nothing. Returns the stamp.
    * One lock serialises every replay fixture in the JVM.
    */
  def landFixture(dir: String, marker: String, prefix: String)(
      build: => (String, Seq[DataFrame])): String = fixtureLock.synchronized {
    val root = new java.io.File(dir)
    root.mkdirs()
    val ready = new java.io.File(root, marker)
    if (ready.exists()) java.nio.file.Files.readString(ready.toPath)
    else {
      val (stamp, files) = build
      val tmp = new java.io.File(root, "_stage")
      files.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(root, f"${prefix}_$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified((i + 1) * 60000L): Unit
      }
      java.nio.file.Files.writeString(ready.toPath, stamp): Unit
      stamp
    }
  }

  /** Land a keyed table as [[Slices]] contiguous-id-range slices in
    * ascending order ([[landFixture]]) — so "earlier batch" always
    * means "smaller id" and a gate's decision rule is a pure function of
    * the corpus, not of the arrival plan.
    *
    * The ONLY driver-side read is `max(key)` — one scalar aggregate,
    * never a corpus-sized column; a deployment derives slice widths
    * from table statistics / ingest metadata, and this helper exists
    * purely to construct the deterministic replay fixture. Slice width
    * = max/Slices + 1, the rule the committed oracles restate (a pure
    * function of the corpus).
    */
  private def landSliceFixture(df: DataFrame, keyCol: String, srcDir: String): Unit =
    landFixture(srcDir, "_GATE_READY", "gate") {
      val width = df.agg(max(col(keyCol))).first().getLong(0) / Slices + 1L
      ("ok", (0 until Slices).map(i =>
        df.filter(col(keyCol) >= i * width && col(keyCol) < (i + 1) * width)))
    }: Unit
}
