package graft

import graft.streaming.{FileConnector, Ops, Reliability}
import org.apache.spark.sql.SparkSession

/** Operational CLI — the reference's `pspfctl` (pspf/cli.py:18-228):
  * inspect / dlq-inspect / dlq-count / dlq-purge / replay / state, over
  * file-backed topics. Every verb dispatches to the same Ops/Reliability
  * batch jobs a programmatic caller uses; this main only parses args.
  *
  * Usage:
  *   Ctl <root> inspect     <topic> <orderCol> [limit]
  *   Ctl <root> dlq-inspect <topic> [limit]
  *   Ctl <root> dlq-count   <topic>
  *   Ctl <root> dlq-purge   <topic>
  *   Ctl <root> replay      <topic>
  *   Ctl <root> state       <checkpointDir> [limit]
  *   Ctl <root> lag         <topic> <checkpointDir>   (graftlog topics)
  *   Ctl <root> trim        <topic> <checkpointDir>   (graftlog retention)
  *   Ctl <root> index-ingests <indexDir>              (ANN index: servable ingest tags)
  *   Ctl <root> index-compact <indexDir> <upToBatch>  (fold committed batch ingests)
  *   Ctl <root> index-autocompact <indexDir> <maxIngests> <upToBatch> (fold only
  *                                       past the measured-fragmentation ceiling)
  *   Ctl <root> lease-status <storeDir>               (who holds the maintenance lease)
  *   Ctl <root> lease-break  <storeDir> [--force]     (clear an expired/dead holder)
  *   Ctl <root> index-delete <indexDir> <idCol> <id1,id2,...> <tag> (tombstone ids;
  *                                       tokens are cast to the index's id type)
  *   Ctl <root> index-tombstones <indexDir>           (standing dead-id count)
  *   Ctl <root> bands-compact <bandStoreDir> <upToBatch> (fold dedup band store)
  *   Ctl <root> bands-autocompact <bandStoreDir> <maxPartitions> <upToBatch>
  *                                       (fold only past the fragmentation ceiling)
  *   Ctl <root> bands-resolve <bandStoreDir> <discard|complete> (ambiguous stage)
  *   Ctl <root> stats-refresh <storeDir> <col1,col2,...> (rebuild _filestats sidecar)
  *   Ctl <root> bloom-refresh <storeDir> <keyCol>        (rebuild _filebloom sidecar)
  *   Ctl <root> topkeys <parquetDir> <col> [k]           (skew probe: hot join/agg keys)
  *   Ctl <root> hotvalues <parquetDir> <col> <minFreq>   (every value >= minFreq occurrences,
  *                                       Misra-Gries-pruned — no full frequency table)
  *   Ctl <root> decon-leaks <leakDir> [limit]            (decontamination guard side output:
  *                                       per-drop leak counts + newest routed docs)
  *
  * Topic schemas are inferred from the on-disk JSON (a ctl inspects
  * whatever is there; production pipelines declare schemas via
  * FileConnector's constructor instead).
  */
object Ctl {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println(usage); sys.exit(2) }
    val root = args(0)
    val cmd = args(1)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, root, cmd, args.drop(2)) match {
      case Right(out) => println(out)
      case Left(err) => System.err.println(err); System.err.println(usage); sys.exit(2)
    } finally spark.stop()
  }

  private val usage =
    """usage: Ctl <root> <inspect|dlq-inspect|dlq-count|dlq-purge|replay> <topic> [args]
      |       Ctl <root> state <checkpointDir> [limit]
      |       Ctl <root> <lag|trim> <topic> <checkpointDir>
      |       Ctl <root> index-ingests <indexDir>
      |       Ctl <root> index-delete <indexDir> <idCol> <id1,id2,...> <tag>
      |       Ctl <root> index-tombstones <indexDir>
      |       Ctl <root> <index-compact|bands-compact> <dir> <upToBatch>
      |       Ctl <root> index-autocompact <dir> <maxIngests> <upToBatch>
      |       Ctl <root> bands-autocompact <dir> <maxPartitions> <upToBatch>
      |       Ctl <root> lease-status <dir>
      |       Ctl <root> lease-break <dir> [--force]
      |       Ctl <root> bands-resolve <dir> <discard|complete>
      |       Ctl <root> stats-refresh <dir> <col1,col2,...>
      |       Ctl <root> bloom-refresh <dir> <keyCol>
      |       Ctl <root> topkeys <dir> <col> [k]
      |       Ctl <root> hotvalues <dir> <col> <minFreq>
      |       Ctl <root> decon-leaks <dir> [limit]""".stripMargin

  /** Infer the MAIN topic's schema from disk; the connector then derives
    * DLQ-topic schemas (base + metadata) from it, so replay round-trips. */
  private def connectorFor(spark: SparkSession, root: String, topic: String): FileConnector = {
    val base = spark.read.option("recursiveFileLookup", "true").json(s"$root/$topic").schema
    new FileConnector(root, base)
  }

  /** DLQ verbs must work when the MAIN topic is missing or empty —
    * exactly the incident state where they matter — so their schema
    * comes from the DLQ topic itself (base = inferred minus the DLQ
    * metadata family). */
  private def connectorForDlq(spark: SparkSession, root: String, topic: String): FileConnector = {
    val inferred = spark.read.option("recursiveFileLookup", "true")
      .json(s"$root/$topic-dlq").schema
    val metaNames = graft.streaming.Reliability.dlqMetaFields.map(_.name).toSet
    val base = org.apache.spark.sql.types.StructType(
      inferred.fields.filterNot(f => metaNames.contains(f.name)))
    new FileConnector(root, base, Map(s"$topic-dlq" -> inferred))
  }

  /** Errors (missing topics, unreadable dirs) take the Left→usage path
    * like bad arguments, not a stack trace. */
  private def attempt(body: => String): Either[String, String] =
    scala.util.Try(body).toEither.left.map(e =>
      s"${e.getClass.getSimpleName}: ${e.getMessage}")

  /** Dispatch, returning the printable result (testable without a JVM
    * fork — the spec calls this directly). */
  def run(spark: SparkSession, root: String, cmd: String, rest: Array[String])
      : Either[String, String] = (cmd, rest.toList) match {
    case ("inspect", topic :: orderCol :: tl) =>
      parseLimit(tl).flatMap { limit =>
        attempt(showRows(Ops.inspect(spark, connectorFor(spark, root, topic), topic, orderCol, limit)))
      }
    case ("dlq-inspect", topic :: tl) =>
      parseLimit(tl).flatMap { limit =>
        attempt(showRows(Ops.dlqInspect(spark, connectorForDlq(spark, root, topic), topic, limit)))
      }
    case ("dlq-count", topic :: Nil) =>
      attempt(Ops.dlqCount(spark, connectorForDlq(spark, root, topic), topic).toString)
    case ("dlq-purge", topic :: Nil) =>
      // purge never reads — no schema needed at all
      attempt(s"purged=${Ops.dlqPurge(spark,
        new FileConnector(root, new org.apache.spark.sql.types.StructType()), topic)}")
    case ("replay", topic :: Nil) =>
      attempt(s"replayed=${Reliability.replayDlq(spark, connectorForDlq(spark, root, topic), topic)}")
    case ("state", ckpt :: tl) =>
      // bounded dump — live keyed state can be arbitrarily large
      parseLimit(tl).flatMap(limit =>
        attempt(showRows(Ops.stateQueryFlat(spark, ckpt).limit(limit))))
    case ("lag", topic :: ckpt :: Nil) =>
      // broker consumer lag (graftlog topics; reference XPENDING)
      attempt(graft.sources.GraftLog.lag(s"$root/$topic", ckpt).toString)
    case ("trim", topic :: ckpt :: Nil) =>
      // retention: drop everything the checkpoint's consumer committed
      attempt { graft.sources.GraftLog.trimToCommitted(s"$root/$topic", ckpt); "trimmed" }
    // ANN-index / band-store lifecycle (the compaction an operator runs
    // out-of-band when the ingest loop doesn't own it via compactEvery;
    // both verbs also COMPLETE an interrupted swap — the manual
    // resolution every fail-fast reader error message points at)
    case ("index-ingests", dir :: Nil) =>
      attempt(graft.operators.AnnIndex.servableIngests(spark, s"$root/$dir")
        .mkString("\n"))
    case ("index-compact", dir :: upTo :: Nil) =>
      parseBatch(upTo).flatMap(b => attempt(
        s"folded=${graft.operators.AnnIndex.compactIngests(spark, s"$root/$dir", b)}"))
    // the closed-loop form: measure standing fold-eligible ingests and
    // fold only past the ceiling (cron-safe — a no-op below it)
    case ("index-autocompact", dir :: maxIng :: upTo :: Nil) =>
      autocompact(maxIng, upTo)(
        graft.operators.AnnIndex.compactIfFragmented(spark, s"$root/$dir", _, _))
    // right-to-erasure verbs: tombstone ids out of a persisted index
    // (no rebuild — load masks them; the next rebuild purges), and
    // inspect the standing deletion state
    case ("index-delete", dir :: idCol :: ids :: tag :: Nil) =>
      // tokens are parsed as STRINGS and cast to the INDEX's id type, so
      // a non-integral id column can be erased via the CLI too, and a
      // token that doesn't parse as that type fails by name instead of
      // relying on implicit join casts
      val toks = ids.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (toks.isEmpty) Left(s"index-delete needs comma-separated ids, got '$ids'")
      else attempt {
        import spark.implicits._
        val t = graft.operators.AnnIndex.idDataType(spark, s"$root/$dir", idCol)
        val frame = toks.toDF(idCol)
          .select(org.apache.spark.sql.functions.col(idCol).cast(t).as(idCol))
          .distinct()
        val bad = frame.filter(org.apache.spark.sql.functions.col(idCol).isNull).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"$bad id token(s) in '$ids' do not parse as the index's id type $t")
        val nDistinct = frame.count()
        graft.operators.AnnIndex.deleteVectors(spark, s"$root/$dir", frame, idCol, tag)
        s"tombstoned=$nDistinct distinct ids under ingest=$tag"
      }
    case ("index-tombstones", dir :: Nil) =>
      attempt(s"dead_ids=${graft.operators.AnnIndex
        .loadTombstones(spark, s"$root/$dir").map(_.count()).getOrElse(0L)}")
    case ("bands-compact", dir :: upTo :: Nil) =>
      parseBatch(upTo).flatMap(b => attempt(
        s"folded=${graft.streaming.IncrementalDedup.compactBandStore(spark, s"$root/$dir", b)}"))
    // the closed-loop form, symmetric with index-autocompact
    case ("bands-autocompact", dir :: maxParts :: upTo :: Nil) =>
      autocompact(maxParts, upTo)(
        graft.streaming.IncrementalDedup.compactBandStoreIfFragmented(spark, s"$root/$dir", _, _))
    // the manual-resolution verb the ambiguous-stage fail-fast points
    // at: executes the operator's discard/complete decision with
    // content-verified safety checks (stop the ingest loop first)
    case ("bands-resolve", dir :: mode :: Nil) =>
      mode.stripPrefix("--") match {
        case "discard" => attempt(graft.streaming.IncrementalDedup
          .resolveAmbiguousStage(spark, s"$root/$dir", complete = false))
        case "complete" => attempt(graft.streaming.IncrementalDedup
          .resolveAmbiguousStage(spark, s"$root/$dir", complete = true))
        case other => Left(s"bands-resolve mode must be discard or complete, got '$other'")
      }
    // quarantine triage for the decontamination guard's DLQ-shaped
    // side output (IncrementalDedup.runDecontaminate's leakDir): how
    // much is each drop leaking, and what leaked most recently —
    // the dlq-inspect counterpart for routed benchmark contamination.
    // Reads only _SUCCESS-committed partitions (results()'s guard).
    case ("decon-leaks", dir :: tl) =>
      parseLimit(tl).flatMap { limit =>
        attempt {
          import org.apache.spark.sql.functions.{col, count, lit}
          val r = graft.streaming.IncrementalDedup.results(spark, s"$root/$dir")
          val perDrop = r.groupBy(col("ingest_batch"))
            .agg(count(lit(1)).as("n_leaked"))
            .orderBy(col("ingest_batch"))
          val newest = r.orderBy(col("ingest_batch").desc,
            col(r.columns.head)).limit(limit)
          "per-drop leak counts:\n" + showRows(perDrop) +
            s"\nnewest routed docs (limit $limit):\n" + showRows(newest)
        }
      }
    // sidecar recovery: the executable fix the pruned-read drift
    // fail-fast points at — recompute a store's stats/Bloom sidecar
    // from the data files CURRENTLY on disk, without rewriting data
    case ("stats-refresh", dir :: cols :: Nil) =>
      val cs = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (cs.isEmpty) Left(s"stats-refresh needs a comma-separated column list, got '$cols'")
      else attempt {
        // sidecar refresh is a store MAINTENANCE pass: take the store's
        // single-writer lease so a refresh can't interleave with a
        // concurrent vacuum/append (which rewrite the same sidecar)
        graft.operators.StoreLease.withLease(spark, s"$root/$dir",
            "ctl:stats-refresh") { lease =>
          graft.operators.StoreLease.verify(spark, lease)
          graft.operators.Layout.refreshStats(spark, s"$root/$dir", cs)
        }
        s"refreshed _filestats over ${cs.mkString(",")}"
      }
    case ("bloom-refresh", dir :: keyCol :: Nil) =>
      attempt {
        graft.operators.StoreLease.withLease(spark, s"$root/$dir",
            "ctl:bloom-refresh") { lease =>
          graft.operators.StoreLease.verify(spark, lease)
          graft.operators.Layout.writeBloomSidecar(spark, s"$root/$dir", keyCol)
        }
        s"refreshed _filebloom over $keyCol"
      }
    // single-writer lease ops: inspect who holds a store's maintenance
    // lease, and break a dead holder's lease — expired silently (the
    // TTL contract), live only with --force (logged loudly; the broken
    // holder's verify-on-commit will refuse, by design)
    case ("lease-status", dir :: Nil) =>
      attempt(graft.operators.StoreLease.status(spark, s"$root/$dir") match {
        case None => "unleased"
        case Some(st) =>
          s"owner=${st.owner} generation=${st.generation} " +
            s"held_ms=${st.heldMs} ttl_ms=${st.ttlMs} expired=${st.expired}"
      })
    case ("lease-break", dir :: tl) if tl.isEmpty || tl == List("--force") =>
      attempt(graft.operators.StoreLease.breakLease(spark, s"$root/$dir",
        force = tl.nonEmpty))
    // skew probe: the decision input for Skew.saltedSumCount/saltedJoin
    // — the k hottest values of a join/agg key with their share of the
    // table, so "does this key need salting" is a measurement, not a
    // guess. One map-side-combined count agg; output is k rows.
    case ("topkeys", dir :: colName :: tl) =>
      parseLimit(tl).flatMap { k =>
        attempt {
          import org.apache.spark.sql.functions.{col, count, lit, round, sum}
          val df = spark.read.parquet(s"$root/$dir")
          val counts = df.groupBy(col(colName)).agg(count(lit(1)).as("n"))
          val total = counts.agg(sum(col("n"))).head().getLong(0).max(1L)
          showRows(counts
            .withColumn("pct", round(col("n") * 100.0 / total, 2))
            .orderBy(col("n").desc, col(colName))
            .limit(k))
        }
      }
    // topkeys ranks the top-k by full groupBy; hotvalues answers the
    // THRESHOLD question ("everything over N occurrences") through the
    // Misra–Gries candidate pass — at corpus scale the full frequency
    // table is exactly what an ops probe can't afford, and the sketch
    // path never shuffles the raw values (x30's graded plan).
    case ("hotvalues", dir :: colName :: minFreqS :: Nil) =>
      minFreqS.toLongOption.filter(_ >= 1)
        .toRight(s"minFreq must be a positive integer, got '$minFreqS'")
        .flatMap { minFreq =>
          attempt {
            import org.apache.spark.sql.functions.col
            val (hh, dec) = graft.operators.Frequency.heavyHitters(
              spark.read.parquet(s"$root/$dir"), colName, minFreq)
            val path = if (dec.sketched)
              s"sketched (m=${dec.counters}, candidates=${dec.candidates})"
            else "exact groupBy (counter budget over ceiling)"
            s"path: $path over ${dec.totalRows} rows\n" +
              showRows(hh.orderBy(col("freq").desc, col(colName)))
          }
        }
    case _ =>
      Left(s"unknown command or arguments: $cmd ${rest.mkString(" ")}")
  }

  /** Bad-argument parses take the Left→usage path, not a stack trace. */
  private def parseLimit(tl: List[String]): Either[String, Int] = tl match {
    case Nil => Right(20)
    case l :: _ => l.toIntOption.filter(_ >= 0)
      .toRight(s"limit must be a non-negative integer, got '$l'")
  }

  private def parseBatch(s: String): Either[String, Long] =
    s.toLongOption.filter(_ >= 0)
      .toRight(s"upToBatch must be a non-negative integer, got '$s'")

  /** The two autocompact verbs: parse the ceiling and `upToBatch`, run
    * the store's fragmentation probe, print its decision. */
  private def autocompact(ceiling: String, upTo: String)(
      probe: (Int, Long) => graft.operators.FoldStore.CompactionDecision)
      : Either[String, String] =
    (parseBatch(ceiling), parseBatch(upTo)) match {
      case (Right(c), Right(b)) if c >= 1 => attempt {
        val d = probe(c.toInt, b)
        s"standing=${d.standing} ceiling=${d.ceiling} compacted=${d.compacted} folded=${d.folded}"
      }
      case (Right(c), Right(_)) => Left(s"the ceiling must be >= 1, got $c")
      case (Left(e), _) => Left(e)
      case (_, Left(e)) => Left(e)
    }

  private def showRows(df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect()
    val header = df.columns.mkString(" | ")
    (header +: rows.map(_.toSeq.map(String.valueOf).mkString(" | "))).mkString("\n")
  }
}
