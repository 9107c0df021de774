package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{broadcast, col, count, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** PARTITION-SCOPED batch-id versioning — [[VersionedArtifact]]'s
  * contract (commit markers, replay no-ops, crash-debris recompute,
  * bootstrap at `v=-1`, first-batch/reset guards) with the one change
  * that makes per-batch I/O O(delta) instead of O(standing): a
  * version writes only the partitions its batch TOUCHED plus a small
  * manifest, and untouched partitions carry forward by REFERENCE to
  * the version directory that last wrote them.
  *
  * Layout per version:
  * {{{
  * root/v=<id>/<table>/<partCol>=<p>/  touched partitions only
  * root/v=<id>/<table>/                Whole-layout tables
  * root/v=<id>/_MANIFEST    "table\tpart\tversion" per live partition
  * root/v=<id>/_STATS       "table\trowsWritten" per table (this
  *                          version's own writes — the machine-checked
  *                          delta-boundedness counter)
  * root/v=<id>/_COMMIT      version-level commit marker
  * }}}
  *
  * A committed version is readable from ITS manifest alone (no
  * transitive chase): each live (table, partition) names the version
  * directory holding its current bytes. Pruning therefore keeps the
  * newest [[keepBehind]]+1 manifests at or below the batch just
  * written plus every version directory any kept manifest references
  * — an old directory lives exactly as long as some current partition
  * still points into it, which is what lets a never-touched base
  * partition (bootstrap epoch, cold corpus shard) survive forever
  * WITHOUT ever being rewritten.
  *
  * Table layouts:
  *  - [[Whole]]: rewritten whole every version — for small state
  *    (label vectors, register tables) where versioned snapshots are
  *    cheaper than manifest indirection;
  *  - [[ByPart]]: partitioned by a LONG column; the absorb returns a
  *    [[PartsDelta]] naming the touched partition values, and rows
  *    only for those — partitions in `touched` are REPLACED by the
  *    delta's rows for them (zero rows = partition dropped), all
  *    others carry forward untouched.
  *
  * Job budget — the Spark jobs of one absorb are bounded like its
  * I/O: [[absorbBatch]] persists the micro-batch, so the source slice
  * is read and parsed once however many plans consume it; every read
  * of the standing state carries the declared storage schema, so
  * planning one runs no schema-inference job (a committed version is
  * planned with zero jobs); `_STATS` row counts are observed on the
  * writes themselves; and a channel the optimizer proves empty is not
  * written. An absorb costs its loop's own delta-sized jobs plus one
  * write job per non-empty channel.
  *
  * CLUSTER CONTRACT: same as SideTables/VersionedArtifact — `root`
  * must be storage the driver and every executor see at one path.
  */
object PartitionedArtifact {

  /** how a table's bytes are laid out inside a version. */
  sealed trait Layout
  /** rewritten whole every version (small state). */
  case object Whole extends Layout
  /** partitioned by a LONG column; versions write touched partitions
    * only. `schema` of the table INCLUDES this column. */
  final case class ByPart(partCol: String) extends Layout

  /** one table's declaration: storage schema (including the partition
    * column for [[ByPart]]) plus its layout. */
  final case class TableSpec(schema: StructType, layout: Layout)

  /** one table's per-batch output from the absorb. */
  sealed trait Delta
  /** full replacement rows for a [[Whole]] table. */
  final case class WholeDelta(rows: DataFrame) extends Delta
  /** per-partition delta for a [[ByPart]] table, two channels:
    *  - `replace`: full replacement rows for the `replaced`
    *    partitions (their prior bytes are dereferenced; a replaced
    *    value with zero rows is DROPPED) — for partitions whose
    *    existing rows changed (splits, relabels, deletions);
    *  - `append`: rows ADDED to partitions whose existing bytes are
    *    untouched — the partition accumulates one more file set per
    *    appending version, and a read unions them. This is what
    *    keeps a pure-insert batch O(delta) even when every insert
    *    lands in one giant partition.
    * Both must carry the partition column; `append` values must not
    * overlap `replaced` semantics-wise (an append to a partition
    * replaced in the SAME version lands on top of the replacement,
    * which is well-defined but usually a caller bug). */
  final case class PartsDelta(replace: DataFrame, replaced: Seq[Long],
      append: Option[DataFrame] = None) extends Delta

  /** one manifest reference: the version directory holding bytes for
    * a partition, and whether it was an append (bytes live under
    * `<table>.app`) or a replacement (`<table>`). */
  private final case class Ref(version: Long, appended: Boolean) {
    def token: String = s"$version${if (appended) "a" else "r"}"
    def sub: String = if (appended) ".app" else ""
  }
  private object Ref {
    def parse(t: String): Ref =
      Ref(t.dropRight(1).toLong, t.last == 'a')
  }

  /** the predecessor state handed to an absorb: full views, the live
    * partition list, and PARTITION-PRUNED reads — `readParts` opens
    * only the manifest entries asked for, so a delta-bounded absorb
    * never scans untouched partitions. */
  final class Standing private[PartitionedArtifact] (
      s: SparkSession, root: String,
      specs: Map[String, TableSpec],
      version: Option[Long],
      manifest: Map[(String, Long), Seq[Ref]]) {

    // partition values this handle's readParts calls have OPENED per
    // ByPart table — the read-side twin of the `_STATS` write counter:
    // absorbBatch snapshots it into `_READS` so specs can machine-check
    // that a delta-bounded absorb also READS only delta-many partitions
    private val opened =
      collection.mutable.Map.empty[String, collection.mutable.Set[Long]]
    private[PartitionedArtifact] def readsSnapshot: Map[String, Long] =
      opened.synchronized(
        specs.collect { case (n, TableSpec(_, ByPart(_))) =>
          n -> opened.get(n).map(_.size.toLong).getOrElse(0L) }.toMap)

    /** live partition values of a [[ByPart]] table, ascending. */
    def parts(table: String): Seq[Long] =
      manifest.keys.collect { case (t, p) if t == table => p }
        .toSeq.sorted

    /** the full current view of a table (all live partitions / the
      * newest whole copy). Zero-row table of the spec schema when
      * nothing is live. */
    def table(name: String): DataFrame = specs(name).layout match {
      case Whole => version match {
        case Some(v) =>
          val dir = s"$root/v=$v/$name"
          scan(name, dir, Seq(dir))
        case None => empty(name)
      }
      case ByPart(_) => readParts(name, parts(name))
    }

    /** partition-pruned read of a [[ByPart]] table: only the named
      * partitions' directories are opened. Unknown values are simply
      * absent (a manifest miss, not an error). */
    def readParts(name: String, ps: Seq[Long]): DataFrame = {
      val partCol = specs(name).layout match {
        case ByPart(c) => c
        case Whole => throw new IllegalArgumentException(
          s"table $name is Whole-layout; use table()")
      }
      val want = ps.toSet
      // flatten to (ref, part) pairs via a Seq — collecting pairs
      // straight off the manifest Map would build a Map keyed by ref
      // and silently drop all but one partition per ref
      val byDir = manifest.toSeq.flatMap {
        case ((t, p), refs) if t == name && want(p) =>
          refs.map(r => (r, p))
        case _ => Seq.empty
      }.groupBy { case (r, _) => (r.version, r.sub) }
      // only partitions that resolved to bytes count as opened —
      // a requested-but-absent value is a manifest miss, not a read
      opened.synchronized(
        opened.getOrElseUpdate(name, collection.mutable.Set.empty) ++=
          byDir.values.flatten.map { case (_, p) => p })
      if (byDir.isEmpty) empty(name)
      else byDir.map { case ((v, sub), vps) =>
        val base = s"$root/v=$v/$name$sub"
        scan(name, base, vps.map { case (_, p) => s"$base/$partCol=$p" }
          .distinct.sorted)
      }.reduce(_ unionByName _)
    }

    // an empty LocalRelation, so the optimizer prunes what consumes it
    private def empty(name: String): DataFrame = s.createDataFrame(
      java.util.Collections.emptyList[Row](), specs(name).schema)

    // every read carries the declared storage schema — a ByPart column
    // resolves from the path under its declared type — so planning a
    // read runs no schema-inference job
    private def scan(name: String, base: String,
        paths: Seq[String]): DataFrame = {
      val schema = specs(name).schema
      s.read.schema(schema).option("basePath", base).parquet(paths: _*)
        .select(schema.fieldNames.toSeq.map(col): _*)
    }
  }

  private val keepBehind = 2

  private def fsFor(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def commitMarker(root: String, v: Long) =
    new Path(s"$root/v=$v", "_COMMIT")

  /** committed version ids under `root`, ascending. */
  private[graft] def committedVersions(s: SparkSession,
      root: String): Seq[Long] = {
    val rootP = new Path(root)
    val fs = fsFor(s, rootP)
    if (!fs.exists(rootP)) return Seq.empty
    fs.listStatus(rootP).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .filter(v => fs.exists(commitMarker(root, v)))
      .sorted
  }

  // ---------------------------------------------------------------
  // manifest + stats files: tiny tab-separated UTF-8, written through
  // the Hadoop FileSystem so every scheme SideTables supports works
  // ---------------------------------------------------------------

  private def writeLines(fs: FileSystem, p: Path,
      lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private def readManifest(s: SparkSession, root: String,
      v: Long): Map[(String, Long), Seq[Ref]] =
    readLines(fsFor(s, new Path(root)), new Path(s"$root/v=$v", "_MANIFEST"))
      .map { line =>
        val Array(t, p, refs) = line.split('\t')
        (t, p.toLong) -> refs.split(',').toSeq.map(Ref.parse)
      }.toMap

  /** the newest committed manifest's reference-list sizes per
    * partition of `table` — the fragmentation probe specs assert the
    * [[maxPartRefs]] compaction ceiling on. */
  private[graft] def partRefCounts(s: SparkSession, root: String,
      table: String): Map[Long, Int] =
    committedVersions(s, root).lastOption match {
      case Some(v) => readManifest(s, root, v).collect {
        case ((t, p), refs) if t == table => p -> refs.size
      }.toMap
      case None => Map.empty
    }

  /** this version's own written-row counts per table — the
    * machine-checked delta-boundedness counter specs assert on. */
  def writeStats(s: SparkSession, root: String,
      v: Long): Map[String, Long] =
    readLines(fsFor(s, new Path(root)), new Path(s"$root/v=$v", "_STATS"))
      .map { line =>
        val Array(t, n) = line.split('\t')
        t -> n.toLong
      }.toMap

  /** this version's absorb-time READ fan-in: distinct partitions the
    * absorb opened per [[ByPart]] table (via `Standing.readParts` /
    * `Standing.table`, including the inline compaction's folds) —
    * the read-side twin of [[writeStats]], letting specs assert that
    * a delta-bounded absorb is partition-PRUNED on its reads too,
    * not just its writes. Absent for bootstrap versions (no
    * predecessor to read). */
  def readStats(s: SparkSession, root: String,
      v: Long): Map[String, Long] = {
    val p = new Path(s"$root/v=$v", "_READS")
    val fs = fsFor(s, new Path(root))
    if (!fs.exists(p)) Map.empty
    else readLines(fs, p).map { line =>
      val Array(t, n) = line.split('\t')
      t -> n.toLong
    }.toMap
  }

  /** the newest committed state as a [[Standing]] handle. */
  def readLatestStanding(s: SparkSession, root: String,
      specs: Map[String, TableSpec]): Standing =
    standingAt(s, root, specs,
      committedVersions(s, root).lastOption)

  private def standingAt(s: SparkSession, root: String,
      specs: Map[String, TableSpec], v: Option[Long]): Standing =
    new Standing(s, root, specs, v,
      v.map(readManifest(s, root, _)).getOrElse(Map.empty))

  /** the newest committed state, one full-view DataFrame per table
    * (ByPart views still carry their partition column). */
  def readLatestTables(s: SparkSession, root: String,
      specs: Map[String, TableSpec]): Map[String, DataFrame] = {
    val st = readLatestStanding(s, root, specs)
    specs.keys.map(n => n -> st.table(n)).toMap
  }

  /** seed the loop from batch-built tables (version -1); ByPart
    * tables land as their initial partition set. */
  def bootstrap(tables: Map[String, DataFrame], root: String,
      specs: Map[String, TableSpec]): Unit = {
    require(tables.keySet == specs.keySet,
      s"bootstrap tables ${tables.keySet}, expected ${specs.keySet}")
    val s = tables.head._2.sparkSession
    require(committedVersions(s, root).isEmpty,
      s"partitioned-artifact root $root already has committed versions")
    writeVersion(s, root, -1L, specs, Map.empty,
      specs.map { case (n, spec) =>
        n -> (spec.layout match {
          case Whole => WholeDelta(tables(n))
          case ByPart(_) => PartsDelta(tables(n), Seq.empty)
        })
      })
  }

  /** write one version: touched partitions + whole tables, then the
    * manifest, stats, and finally the commit marker. For bootstrap
    * ([[PartsDelta]] with empty `touched`), every partition present
    * in the rows is simply (re)registered to this version. */
  private def writeVersion(s: SparkSession, root: String, v: Long,
      specs: Map[String, TableSpec],
      prevManifest: Map[(String, Long), Seq[Ref]],
      deltas: Map[String, Delta],
      reads: Map[String, Long] = Map.empty): Unit = {
    require(deltas.keySet == specs.keySet,
      s"absorb returned tables ${deltas.keySet}, expected ${specs.keySet}")
    val fs = fsFor(s, new Path(root))
    val verDir = new Path(root, s"v=$v")
    // crash debris from a failed attempt at this id: nothing can have
    // read it (no _COMMIT), overwrite whole
    if (fs.exists(verDir)) fs.delete(verDir, true)
    var manifest = prevManifest
    val stats = collection.mutable.ArrayBuffer.empty[(String, Long)]
    // write rows in storage order; the `_STATS` row count is observed
    // on the write itself (no re-read, no extra job)
    def writeCounted(rows: DataFrame, schema: StructType, tdir: String,
        partCol: Option[String]): Long = {
      val obs = Observation()
      val w = rows.select(schema.fieldNames.toSeq.map(col): _*)
        .observe(obs, count(lit(1)).as("n")).write.mode("overwrite")
      partCol.fold(w)(c => w.partitionBy(c)).parquet(tdir)
      obs.get("n").asInstanceOf[Long]
    }
    // write one channel, return the partition values it produced
    // bytes for plus their row count. A channel the optimizer proves
    // empty is not written at all: it produces no partition, exactly
    // as an executed empty write would
    def writeChannel(rows: DataFrame, schema: StructType,
        partCol: String, tdir: String): (Seq[Long], Long) =
      if (provablyEmpty(rows)) (Seq.empty, 0L)
      else {
        val n = writeCounted(rows, schema, tdir, Some(partCol))
        val written = fs.listStatus(new Path(tdir)).toSeq
          .filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(_.startsWith(partCol + "="))
          .map(_.stripPrefix(partCol + "=").toLong)
        (written, n)
      }
    specs.toSeq.sortBy(_._1).foreach { case (name, spec) =>
      val tdir = s"$root/v=$v/$name"
      (spec.layout, deltas(name)) match {
        case (Whole, WholeDelta(rows)) =>
          stats += name -> writeCounted(rows, spec.schema, tdir, None)
        case (ByPart(partCol), PartsDelta(replace, replaced, append)) =>
          val (written, nRep) =
            writeChannel(replace, spec.schema, partCol, tdir)
          val replacedSet = replaced.toSet
          val writtenSet = written.toSet
          // replace rows for a partition not DECLARED in `replaced`
          // would silently diverge from compactFragmented (which folds
          // standing rows back by the declared list) — duplicate data.
          // Bootstrap (empty predecessor) legitimately registers every
          // written partition; any other caller must declare them.
          require(prevManifest.isEmpty || writtenSet.subsetOf(replacedSet),
            s"table $name: replace rows written for partitions " +
              s"${(writtenSet -- replacedSet).toSeq.sorted.mkString(",")} " +
              "not declared in PartsDelta.replaced")
          manifest = manifest.filterNot { case ((t, p), _) =>
            t == name && (replacedSet(p) || writtenSet(p)) } ++
            written.map(p => (name, p) -> Seq(Ref(v, appended = false)))
          val nApp = append.map { ap =>
            val (appWritten, n) =
              writeChannel(ap, spec.schema, partCol, s"$tdir.app")
            appWritten.foreach { p =>
              manifest = manifest.updated((name, p),
                manifest.getOrElse((name, p), Seq.empty) :+
                  Ref(v, appended = true))
            }
            n
          }.getOrElse(0L)
          stats += name -> (nRep + nApp)
        case (l, d) => throw new IllegalArgumentException(
          s"table $name declared ${l.getClass.getSimpleName} but absorb " +
            s"returned ${d.getClass.getSimpleName}")
      }
    }
    writeLines(fs, new Path(verDir, "_MANIFEST"),
      manifest.toSeq.sortBy { case ((t, p), _) => (t, p) }
        .map { case ((t, p), refs) =>
          s"$t\t$p\t${refs.map(_.token).mkString(",")}" })
    writeLines(fs, new Path(verDir, "_STATS"),
      stats.toSeq.map { case (t, n) => s"$t\t$n" })
    if (reads.nonEmpty)
      writeLines(fs, new Path(verDir, "_READS"),
        reads.toSeq.sortBy(_._1).map { case (t, n) => s"$t\t$n" })
    fs.create(commitMarker(root, v), true).close()
  }

  /** true when the optimizer proves `df` empty (its optimized plan
    * is an empty LocalRelation) — decided without running a job. */
  private def provablyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.isEmpty
      case _ => false
    }

  /** one absorb step — [[VersionedArtifact.absorbBatch]]'s replay
    * contract (committed id → reader-safe no-op; uncommitted debris →
    * recompute from the predecessor and overwrite whole), with
    * partition-scoped writes. The micro-batch stays persisted for
    * the whole absorb (see the job budget above). */
  def absorbBatch(batch: DataFrame, batchId: Long, root: String,
      specs: Map[String, TableSpec], firstOfRun: Boolean = false)
      (absorb: (Standing, DataFrame, Long) => Map[String, Delta]): Unit = {
    val s = batch.sparkSession
    val committed = committedVersions(s, root)
    VersionedArtifact.guardCheckpointReset(batchId, committed, root)
    if (firstOfRun)
      VersionedArtifact.guardFirstBatch(batchId, committed, root)
    if (!committed.contains(batchId)) {
      val prevV = committed.filter(_ < batchId).lastOption
      val standing = standingAt(s, root, specs, prevV)
      val prevManifest = prevV
        .map(readManifest(s, root, _)).getOrElse(Map.empty)
      batch.persist()
      try {
        val deltas = compactFragmented(standing, prevManifest, specs,
          absorb(standing, batch, batchId))
        // the absorb and the compaction have built every plan by now,
        // so the handle's opened-partition log is complete
        writeVersion(s, root, batchId, specs, prevManifest, deltas,
          reads = standing.readsSnapshot)
      } finally { batch.unpersist(); () }
    }
    prune(s, root, batchId)
  }

  /** The epochs of `parts` that fold into the `-1` base partition
    * when adding one more would exceed `maxLive` — the horizon
    * compaction every epoch-append loop shares
    * ([[graft.streaming.StandingBandIndex]], StandingPq,
    * StandingTriangles): deterministic from the PREDECESSOR partition
    * list, keeps the newest `maxLive/2` epochs individually live, so
    * the manifest, version listing, and reader fan-in stay bounded on
    * an unbounded stream. Amortized fold cost is
    * O(standing / (maxLive/2)) rows per batch — the LSM trade. */
  private[streaming] def epochFoldSet(parts: Seq[Long],
      maxLive: Int): Seq[Long] =
    if (parts.size + 1 <= maxLive) Seq.empty
    else {
      val keepRecent = math.max(1, maxLive / 2)
      parts.filter(_ >= 0L).sorted.dropRight(keepRecent)
    }

  /** ref-list ceiling above which a partition compacts — each append
    * adds one file set per version, so unbounded appends fragment a
    * hot partition into unbounded reader fan-in. Env
    * `GRAFT_ARTIFACT_MAX_PART_REFS` / sysprop
    * `graft.artifact.max.part.refs`; floor 1. */
  private[graft] def maxPartRefs: Int =
    math.max(1, sys.env.get("GRAFT_ARTIFACT_MAX_PART_REFS")
      .orElse(sys.props.get("graft.artifact.max.part.refs"))
      .map(_.toInt).getOrElse(8))

  /** INLINE COMPACTION — the fragmentation sweep the append channel
    * needs, folded into the absorb exactly like
    * [[StandingHllRegisters]]' horizon compaction so it stays a
    * deterministic function of (predecessor manifest, batch deltas)
    * and therefore replay-safe: any partition whose reference list
    * has reached [[maxPartRefs]] is PROMOTED from the append channel
    * into the replace set for this version — its accumulated file
    * sets are read once, rewritten as one, and the manifest collapses
    * to a single reference. Compaction work per batch is bounded by
    * the partitions that HIT the ceiling (a partition needs
    * maxPartRefs appends to qualify again), so steady-state overhead
    * is amortized O(partition size / maxPartRefs) per append — the
    * classic LSM trade, chosen by the knob. */
  private def compactFragmented(standing: Standing,
      prevManifest: Map[(String, Long), Seq[Ref]],
      specs: Map[String, TableSpec],
      deltas: Map[String, Delta]): Map[String, Delta] =
    deltas.map {
      case (name, PartsDelta(replace, replaced, append)) =>
        val partCol = specs(name).layout match {
          case ByPart(c) => c
          case Whole => null
        }
        val replacedSet = replaced.toSet
        val frag = prevManifest.collect {
          case ((t, p), refs)
            if t == name && refs.size >= maxPartRefs &&
              !replacedSet(p) => p
        }.toSeq.sorted
        if (partCol == null || frag.isEmpty) name ->
          PartsDelta(replace, replaced, append)
        else {
          val spark = replace.sparkSession
          val fragDf = broadcast(spark.createDataset(frag)(
            org.apache.spark.sql.Encoders.scalaLong).toDF(partCol))
          // fragmented partitions' accumulated rows + any of this
          // batch's appends aimed at them fold into the replace
          // channel; remaining appends pass through
          val folded = standing.readParts(name, frag)
            .unionByName(append.map(_
              .join(fragDf, Seq(partCol), "left_semi")
              .select(specs(name).schema.fieldNames.toSeq.map(col): _*))
              .getOrElse(standing.readParts(name, Seq.empty)))
          name -> PartsDelta(
            replace.select(specs(name).schema.fieldNames.toSeq
              .map(col): _*).unionByName(folded),
            (replaced ++ frag).distinct,
            append.map(_.join(fragDf, Seq(partCol), "left_anti")))
        }
      case other => other
    }

  /** read-lease floor before a dereferenced version directory is
    * physically deleted — the loop-root twin of
    * [[graft.queries.SideTables.VacuumMinAgeMs]]: a reader that
    * planned a [[Standing]] handle before an absorb dereferenced a
    * directory is still mid-scan over its files. Env
    * `GRAFT_ARTIFACT_PRUNE_LEASE_MS` / sysprop
    * `graft.artifact.prune.lease.ms` (specs set 0 to exercise
    * immediate deletion); default 6 h. */
  private[graft] def pruneLeaseMs: Long =
    sys.env.get("GRAFT_ARTIFACT_PRUNE_LEASE_MS")
      .orElse(sys.props.get("graft.artifact.prune.lease.ms"))
      .map(_.toLong).getOrElse(6L * 60 * 60 * 1000)

  /** Reference-aware pruning: keep the newest [[keepBehind]]+1
    * manifests at or below the batch just written, plus every version
    * directory a kept manifest references (old directories live
    * exactly as long as a current partition points into them).
    * Versions AHEAD of a replayed batch are never touched.
    *
    * TWO-PHASE under the read-lease: a newly dereferenced directory
    * is first MARKED (`_EXPIRE`) and only deleted once the marker is
    * at least [[pruneLeaseMs]] old — a reader whose plan predates the
    * dereference has the whole lease window to finish scanning, which
    * is the concurrent-reader guarantee `keepBehind` alone cannot
    * give across more than [[keepBehind]] absorbs. A version that
    * re-enters the kept/referenced set (a replay at a lower batch id)
    * has any stale marker removed. */
  private def prune(s: SparkSession, root: String, batchId: Long): Unit = {
    val fs = fsFor(s, new Path(root))
    val eligible = committedVersions(s, root).filter(_ <= batchId)
    val keep = eligible.takeRight(keepBehind + 1).toSet
    val referenced = keep.flatMap(v =>
      readManifest(s, root, v).values.flatten.map(_.version))
    val lease = pruneLeaseMs
    eligible.foreach { v =>
      val marker = new Path(s"$root/v=$v", "_EXPIRE")
      if (keep(v) || referenced(v)) {
        if (fs.exists(marker)) fs.delete(marker, false)
      } else if (!fs.exists(marker)) {
        if (lease <= 0L) fs.delete(new Path(root, s"v=$v"), true)
        else fs.create(marker, true).close()
      } else if (System.currentTimeMillis -
          fs.getFileStatus(marker).getModificationTime >= lease) {
        fs.delete(new Path(root, s"v=$v"), true)
      }
    }
  }

  /** start a maintenance loop with partition-scoped versions. */
  def maintain(stream: DataFrame, root: String, checkpoint: String,
      specs: Map[String, TableSpec])
      (absorb: (Standing, DataFrame, Long) => Map[String, Delta])
      : StreamingQuery = {
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) =>
        absorbBatch(b, id, root, specs,
          firstOfRun = first.getAndSet(false))(absorb))
      .start()
  }
}
