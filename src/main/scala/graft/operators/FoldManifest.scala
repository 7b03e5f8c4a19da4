package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Staged-compaction coverage manifest, the arming marker of the
  * `FoldStore` protocol below (shared by every persisted store that
  * folds ingest partitions in place: the ANN index's per-ingest
  * artifacts, the incremental-dedup band store).
  *
  * A fold stages its merged output in a dot-dir, then commits a
  * `_FOLDED` manifest naming EXACTLY the partition ids the stage
  * covers. Only after the manifest lands may originals be deleted — so
  * recovery can distinguish "crash while staging, nothing touched"
  * (manifest missing/torn → discard the stage) from "crash mid-swap"
  * (manifest present → delete exactly the manifest's partitions and
  * rename the stage in). Deleting by manifest rather than by
  * `id <= target` keeps a partition that was uncommitted at stage time
  * — and therefore excluded from the fold — intact through a crashed
  * swap: a target-scoped delete would destroy its replayed commit
  * unrecoverably.
  *
  * Wire format: `<count>` then one id per line then `END`. Count +
  * terminator make TRUNCATION detectable — a partially persisted
  * manifest whose surviving prefix still parses as ids would otherwise
  * make recovery delete partitions the stage does not cover. The file
  * is underscore-prefixed, so parquet directory listings skip it and it
  * rides through the swap into the live partition dir harmlessly.
  */
object FoldManifest {
  def path(sp: Path): Path = new Path(sp, "_FOLDED")

  /** Commit the manifest by rename so it appears atomically. hsync is
    * asked for (best-effort: the local ChecksumFileSystem silently
    * degrades it to a flush), but the format check, not the sync, is
    * what the committed branch trusts. */
  def write(fs: FileSystem, sp: Path, tags: Seq[Long]): Unit = {
    val tmp = new Path(sp, "._folded_tmp")
    val out = fs.create(tmp, true)
    try {
      val body = (tags.size.toString +: tags.map(_.toString)) :+ "END"
      out.write(body.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try out.hsync() catch { case _: UnsupportedOperationException => out.hflush() }
    } finally out.close()
    require(fs.rename(tmp, path(sp)), s"failed to commit fold manifest under $sp")
  }

  /** The three evidentiary states recovery can act on. The distinction
    * between Absent and Unreadable is LOAD-BEARING: an absent manifest
    * proves arming never happened (commit is by atomic rename), so the
    * covered originals are intact; an existing-but-malformed manifest
    * means arming DID commit and storage mangled the bytes after — the
    * deletes may have run, and treating it as "never armed" would
    * authorize discarding the only copy of folded history. Transient
    * IO failures (a flaky open/read on remote storage) fit neither
    * state and PROPAGATE — recovery must retry, not decide on a
    * misread. */
  sealed trait State
  case object Absent extends State
  case object Unreadable extends State
  final case class Covered(ids: Set[Long]) extends State

  def state(fs: FileSystem, sp: Path): State = {
    val mp = path(sp)
    if (!fs.exists(mp)) Absent // FNF only: other IO errors propagate
    else {
      // the read itself may throw (transient storage error) — let it;
      // only CONTENT problems downgrade to Unreadable
      val in = fs.open(mp)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      parse(lines).fold[State](Unreadable)(Covered)
    }
  }

  /** None on ANY malformed content — missing terminator, count
    * mismatch, non-numeric bytes, empty coverage: the truncation-
    * detectable format means a surviving prefix can never pass as a
    * smaller coverage set. */
  private def parse(lines: List[String]): Option[Set[Long]] =
    scala.util.Try {
      require(lines.length >= 3 && lines.last == "END")
      val ids = lines.slice(1, lines.length - 1).map(_.toLong).toSet
      require(ids.size == lines.head.toInt && ids.nonEmpty)
      ids
    }.toOption

  /** Covered ids, or None for Absent OR Unreadable — callers that need
    * to tell those apart (the band store's unattended auto-discard)
    * must use `state`. Transient IO errors propagate here too. */
  def read(fs: FileSystem, sp: Path): Option[Set[Long]] =
    state(fs, sp) match {
      case Covered(ids) => Some(ids)
      case _ => None
    }
}

/** The one fold-store core: the staged-fold protocol of every persisted
  * ingest store, stated and written once. A store is a root dir with
  * one or more ARTIFACTS (`""` = the root itself), each partitioned by
  * ingest batch as `<partitionPrefix><id>`; a partition is COMMITTED
  * when its parquet `_SUCCESS` marker exists. Per-store constants: the
  * artifacts, the partition naming, the stage prefixes (the head is
  * the one a fold writes; the rest are older protocol versions that
  * recovery still recognizes), the fold's name (its lease owner and the
  * verb every fail-fast names) — and the store's UNARMED-STAGE RULE,
  * documented where each store defines it.
  *
  * Fold (`fold`, single writer): take the store lease → recover any
  * pending stage → stage every artifact's merged fold of the FOLDABLE
  * set (committed in every artifact, id strictly below `upToBatch`) in
  * a dot-dir `<stagePrefix><target>`, target = the highest folded id →
  * write each stage's `_FOLDED` manifest (the exact folded ids; its
  * presence ARMS the swap) → `StoreLease.verify` → per artifact, delete
  * exactly the folded partitions, check the target partition is absent
  * (a rename into an existing dir would NEST the stage in it) and
  * rename the stage in. Any `upToBatch` is safe: a torn partition (a
  * batch that crashed mid-write and will be replayed) is never
  * foldable, so its replay overwrites its own dir; the in-loop hook
  * passes the current batch id, so the one batch a checkpoint can
  * replay stays out.
  *
  * Readers list through `listing(..., guarded = true)`, which FAILS
  * FAST while a stage stands: between a fold's deletes and its rename
  * part of the history lives only in the stage, and reading past it
  * would read a hole. Readers never repair (that would race a live
  * compactor); the fold, the probe and the in-loop hook do.
  *
  * Recovery (`recover`, under the lease), per stage name (one stage per
  * artifact): when every stage of the group is parquet-committed and
  * its manifest is `Covered`, the crash may have happened mid-swap —
  * delete EXACTLY the covered partitions, check the target is absent
  * and rename each stage in (an artifact already swapped has no stage
  * left). Otherwise the store's unarmed-stage rule decides. Deleting by
  * manifest rather than by `id <= target` keeps a partition that was
  * torn at stage time and recommitted by a replay before recovery.
  *
  * In-loop hook (`startLoop`): each foreachBatch turn first recovers a
  * standing stage under the lease (an out-of-band compactor
  * mid-staging makes the turn fail loudly at acquire instead of having
  * its live stage discarded as a crash), runs the turn, then folds
  * every `compactEvery`-th batch strictly below its own id. A replayed
  * turn re-runs its fold as a no-op (fewer than two foldable
  * partitions remain), so each turn stays idempotent under replay. */
final class FoldStore(artifacts: Seq[String], partitionPrefix: String,
                      stagePrefixes: Seq[String], foldName: String)(
    unarmed: (FileSystem, String, Seq[FoldStore.Stage]) => Unit) {
  import FoldStore._

  private val partitionColumn = partitionPrefix.takeWhile(_ != '=')
  private val PartitionRe = (java.util.regex.Pattern.quote(partitionPrefix) + "(\\d+)").r

  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def artifactDir(root: String, artifact: String): Path =
    if (artifact.isEmpty) new Path(root) else new Path(s"$root/$artifact")

  private def partition(root: String, artifact: String, id: Long): Path =
    new Path(artifactDir(root, artifact), s"$partitionPrefix$id")

  /** The batch id of a partition dir name, None for any other name. */
  def batchId(name: String): Option[Long] = name match {
    case PartitionRe(id) => Some(id.toLong)
    case _ => None
  }

  private def isStage(name: String): Boolean = stagePrefixes.exists(name.startsWith)

  def stageTarget(name: String): Long =
    stagePrefixes.collectFirst { case p if name.startsWith(p) => name.stripPrefix(p).toLong }
      .getOrElse(throw new IllegalArgumentException(s"not a stage dir name: $name"))

  /** ONE directory listing of an artifact (empty when it does not
    * exist); `guarded` fails fast while a stage stands. */
  def listing(fs: FileSystem, root: String, artifact: String,
              guarded: Boolean): Listing = {
    val dir = artifactDir(root, artifact)
    val dirs =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
    val (stages, partitions) = dirs.partition(d => isStage(d.getName))
    require(!guarded || stages.isEmpty,
      s"$dir has an unfinished compaction (${stages.map(_.getName).mkString(", ")}) — " +
        s"run $foldName to complete the swap first")
    Listing(fs, partitions, stages)
  }

  /** Batch ids committed in every artifact and strictly below
    * `upToBatch` — what a fold folds and the probe counts. */
  private def foldable(fs: FileSystem, root: String, upToBatch: Long): Seq[Long] =
    artifacts.map(a => listing(fs, root, a, guarded = true).committed
      .flatMap(p => batchId(p.getName)).filter(_ < upToBatch).toSet)
      .reduce(_ intersect _).toSeq.sorted

  /** Finish or discard every pending stage; runs under the lease. */
  private def recover(fs: FileSystem, root: String): Unit =
    artifacts.flatMap { a =>
      listing(fs, root, a, guarded = false).stages.map { sp =>
        val committed = fs.exists(new Path(sp, "_SUCCESS"))
        // transient IO errors reading the manifest PROPAGATE out of
        // state() — an armed stage is never decided on a misread
        Stage(a, sp, stageTarget(sp.getName), committed,
          if (committed) FoldManifest.state(fs, sp) else FoldManifest.Absent)
      }
    }.groupBy(_.path.getName).toSeq.sortBy(_._1).foreach { case (_, group) =>
      if (!group.forall(_.covered.nonEmpty)) unarmed(fs, root, group)
      else group.foreach { s =>
        val ids = s.covered.get
        listing(fs, root, s.artifact, guarded = false).partitions
          .filter(p => batchId(p.getName).exists(ids)).foreach(p =>
            require(fs.delete(p, true), s"compaction recovery failed to delete $p"))
        val tp = partition(root, s.artifact, s.target)
        require(!fs.exists(tp), s"$tp survived the manifest's deletes — the manifest " +
          s"does not cover its own target ${s.target}; inspect by hand")
        require(fs.rename(s.path, tp), s"compaction recovery failed to swap ${s.path} into place")
      }
    }

  /** Recover under the lease `owner` when a stage stands; the clean
    * store (every turn, in steady state) stays listing-only. */
  private def recoverIfStaged(spark: SparkSession, root: String, owner: String): Unit = {
    val fs = fsOf(spark, root)
    if (artifacts.exists(a => listing(fs, root, a, guarded = false).stages.nonEmpty))
      StoreLease.withLease(spark, root, owner)(_ => recover(fs, root))
  }

  /** The fold; returns the number of partitions folded per artifact
    * (0 = fewer than two foldable, nothing done). */
  def fold(spark: SparkSession, root: String, upToBatch: Long): Int = {
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(root))) 0
    else StoreLease.withLease(spark, root, foldName) { lease =>
      recover(fs, root)
      val olds = foldable(fs, root, upToBatch)
      if (olds.size < 2) 0 else {
        val target = olds.max
        def stage(a: String) = new Path(artifactDir(root, a), s"${stagePrefixes.head}$target")
        artifacts.foreach { a =>
          spark.read.option("basePath", artifactDir(root, a).toString)
            .parquet(olds.map(partition(root, a, _).toString): _*)
            .drop(partitionColumn)
            .write.mode("overwrite").parquet(stage(a).toString)
        }
        artifacts.foreach(a => FoldManifest.write(fs, stage(a), olds))
        StoreLease.verify(spark, lease)
        artifacts.foreach { a =>
          olds.foreach { id =>
            val d = partition(root, a, id)
            require(fs.delete(d, true), s"compaction failed to delete $d")
          }
          val tp = partition(root, a, target)
          require(!fs.exists(tp),
            s"$tp still exists after the fold's deletes; refusing a rename that would " +
              s"nest the stage inside it — history is staged in ${stage(a)}; inspect by hand")
          require(fs.rename(stage(a), tp),
            s"compaction failed to swap ${stage(a)} into place — history is staged " +
              s"there; re-run $foldName to complete the swap")
        }
        olds.size
      }
    }
  }

  /** The fragmentation probe: heal a standing stage (under the lease —
    * else the probe's own fail-fast would wedge on the verb's own prior
    * crash), count the foldable set, fold only past `ceiling`. */
  def foldIfFragmented(spark: SparkSession, root: String, ceiling: Int,
                       upToBatch: Long): CompactionDecision = {
    require(ceiling >= 1, s"the partition ceiling must be at least 1, got $ceiling")
    recoverIfStaged(spark, root, s"$foldName.probe")
    val standing = foldable(fsOf(spark, root), root, upToBatch).size
    val fire = standing > ceiling
    CompactionDecision(standing, ceiling, fire, if (fire) fold(spark, root, upToBatch) else 0)
  }

  /** The in-loop hook around a store loop's foreachBatch `turn`;
    * `compactEvery` = 0 is a plain loop with no store maintenance. */
  def startLoop(source: DataFrame, checkpointDir: String, trigger: Trigger,
                compactEvery: Int = 0, root: String = "", owner: String = "")(
      turn: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (compactEvery > 0) recoverIfStaged(b.sparkSession, root, owner)
        turn(b, id)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          fold(b.sparkSession, root, upToBatch = id): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}

object FoldStore {
  /** A pending stage of one artifact, as recovery found it. */
  final case class Stage(artifact: String, path: Path, target: Long,
                         committed: Boolean, manifest: FoldManifest.State) {
    /** The ids an ARMED stage covers: committed and manifest readable. */
    def covered: Option[Set[Long]] = manifest match {
      case FoldManifest.Covered(ids) if committed => Some(ids)
      case _ => None
    }
  }

  /** One artifact's listing: its partition dirs and pending stages. */
  final case class Listing(fs: FileSystem, partitions: Seq[Path], stages: Seq[Path]) {
    /** The partitions carrying `_SUCCESS` (one probe each). */
    lazy val committed: Seq[Path] = partitions.filter(p => fs.exists(new Path(p, "_SUCCESS")))
  }

  /** The fragmentation decision, the probe's measurement traveling with
    * the outcome so callers and specs assert the decision, never guess. */
  final case class CompactionDecision(standing: Long, ceiling: Long,
                                      compacted: Boolean, folded: Int) {
    def standingBatches: Long = standing
    def standingPartitions: Long = standing
  }
}
