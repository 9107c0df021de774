package graft.queries

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.fs.LocalFs

/** Disk-backed side tables — the standing index artifacts a
  * production dedup/retrieval pipeline persists BETWEEN runs (band
  * index, sorted-shingle arrays, IVF coarse index, PQ codes),
  * materialized once per dataset directory as parquet instead of
  * once per session in the block store. Session memoization
  * ([[Memo]]) already removed intra-session rebuilds; this
  * removes the cross-run first-touch — the one-off build that
  * dominated q36's sf10 bench envelope (19.5 s first touch vs 6.1 s
  * steady state per the StageProbe). After the first build, every
  * run reads the parquet index, which is the steady-state a 100 TB
  * deployment actually operates in: the index is maintained
  * incrementally (q106/q171/q265's shard pattern), not rebuilt per
  * query.
  *
  * Layout: `$GRAFT_SIDE_DIR (default: $java.io.tmpdir/graft_side) /
  * <dirKey>-<sourceFingerprint>-<logicKey>/<name>`. The source
  * fingerprint hashes the file names + sizes + mtimes of every source
  * table the builder reads, so a regenerated dataset silently
  * invalidates its side tables. The LOGIC key is derived MECHANICALLY
  * from the builder itself (no hand-maintained version constant to
  * forget):
  *  - the builder DataFrame's canonicalized analyzed plan (exprIds
  *    and JVM object identities normalized) — any change to the
  *    derivation visible in the plan (band width, digest expression,
  *    output schema, quantization constants) changes the key;
  *  - every file-scan leaf's root paths — a builder that reads an
  *    UPSTREAM side table embeds that table's key via its path, so
  *    upstream logic changes invalidate downstream artifacts
  *    transitively;
  *  - the BYTECODE of `graft.functions` (content hash) — native
  *    codegen'd expressions (minhash16, shingles3, VecSum,
  *    sq_l2_dist) appear in the plan only by name, so their
  *    internals are covered by hashing the compiled class files.
  * A stale index is a correctness bug, not a cache miss; the key
  * construction makes serving one require a hash collision rather
  * than a forgotten constant bump.
  *
  * Writes go to a process-private temp dir, then one atomic rename
  * publishes it — concurrent builders race benignly (the loser reads
  * the winner's table). A rename that fails for any OTHER reason
  * (permissions, non-atomic-rename filesystem) is re-probed against
  * the published `_SUCCESS`: if no winner actually exists, the
  * original failure is surfaced instead of a misleading
  * missing-path read error.
  *
  * CLUSTER CONTRACT: the root must be storage that the DRIVER AND
  * EVERY EXECUTOR see at the same path — the default
  * `java.io.tmpdir/graft_side` is correct only in local mode. On a
  * real deployment set `GRAFT_SIDE_DIR` to shared storage; every
  * filesystem touch (existence probe, publish rename, fingerprint
  * listing) goes through the Hadoop `FileSystem` API resolved from
  * the path's scheme, so an `hdfs://` or object-store root works the
  * same as the local default (SideTablesSpec drives the publish
  * through an explicit `file:`-scheme root).
  */
object SideTables {

  // sysprop BEFORE env: the sysprop is the per-process override
  // (specs, SideKeyProbe's explicit root argument) and must win on a
  // host where the deployment exported GRAFT_SIDE_DIR — otherwise a
  // probe pointed at a fresh root silently reads/pollutes the shared
  // production cache and its key-stability check false-passes
  private def root: String = sys.props.get("graft.side.dir")
    .orElse(sys.env.get("GRAFT_SIDE_DIR"))
    .getOrElse(sys.props("java.io.tmpdir") + "/graft_side")

  private def fsFor(s: SparkSession, p: Path): FileSystem = {
    LocalFs.install(s)
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
  }

  /** side tables BUILT (not just read) by this JVM, as
    * `<name>@<key>` strings — Bench folds this into
    * bench_metrics.json (`"side_built"`) so a cold-machine run, whose
    * timings include one-off index builds, is distinguishable from
    * the steady state the numbers represent. */
  private val built = collection.mutable.ArrayBuffer.empty[String]
  def builtThisSession: Seq[String] = built.synchronized(built.toList)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def md5hexBytes(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString

  /** names+sizes+mtimes of the `sources` tables' files — regeneration
    * of any of them changes it, path spelling does not. Listed via
    * the Hadoop FS of the dataset's scheme, so a non-local dataset
    * dir fingerprints the same way. A one-table list hashes to the
    * same value the table alone always did, so one-table artifacts
    * keep their keys. Shared with [[Memo]], which checks its entries
    * against it. */
  private[queries] def fingerprint(s: SparkSession, dir: String,
      sources: Seq[String]): String = {
    def parts(source: String): Seq[String] = {
      val p = new Path(dir, s"$source.parquet")
      val fs = fsFor(s, p)
      if (fs.exists(p)) {
        val st = fs.getFileStatus(p)
        if (st.isDirectory)
          fs.listStatus(p).toSeq
            .filter(c => !c.getPath.getName.startsWith("."))
            .map(c => s"${c.getPath.getName}:${c.getLen}:${c.getModificationTime}")
            .sorted
        else Seq(s"${st.getLen}:${st.getModificationTime}")
      } else Seq("absent")
    }
    md5hex(sources.map(parts(_).mkString("|")).mkString("||")).take(16)
  }

  /** Mechanical builder-logic key — see the object scaladoc.
    * Canonicalization already normalizes expression ids to
    * plan-positional ordinals, and those ordinals are KEPT: they
    * carry which-operand identity (`a.id < b.id` vs `b.id < a.id`
    * differ only by ordinal — stripping `#\d+` would collapse the
    * two plans to one key and serve a stale artifact). Only `@hex`
    * JVM object identities (udaf instances print as
    * `Class@hashcode`) vary per process and are regex-stripped.
    * Alias NAMES canonicalize away, so the builder's output schema
    * rides along separately — renaming a result column re-keys.
    * File-scan root paths are folded in too because the canonical
    * form elides relation detail. Cross-JVM stability of the whole
    * construction is pinned by SideTablesSpec's twice-run
    * SideKeyProbe (second JVM must build 0 artifacts). Exposed
    * private[graft] so SideTablesSpec can pin change-detection
    * without publishing anything. */
  private[graft] def logicKey(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    // rendered with UNBOUNDED maxFields: the default toString elides
    // expression 26+ per node as "... N more fields"
    // (spark.sql.debug.maxToStringFields), which would let a logic
    // change in an elided field keep the old key — the stale-artifact
    // hazard this key exists to prevent. The @hex strip covers the
    // full Class@hashCode shape (Integer.toHexString is unpadded, so
    // identities print 1-8 hex digits — a {6,} floor would let a
    // short hashcode ride into the key ~1/2048 of the time and churn
    // it per JVM). The strip CAN also swallow hex-looking text inside
    // string literals ("svc@ca11"); literals are therefore folded in
    // through their own channel below, exact and strip-proof, so two
    // builders differing only in such a literal still key apart.
    val canon = plan.canonicalized
      .treeString(true, false, Int.MaxValue, false, false)
      .replaceAll("([A-Za-z_$][A-Za-z0-9_$]*)@[0-9a-fA-F]{1,8}\\b", "$1@")
    val litKey = plan.flatMap(_.expressions).flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal => l.sql
    }).mkString("")
    val scanPaths = plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.map(_.toString).sorted.mkString(",")
        case other => other.getClass.getName
      }
    }.mkString(";")
    md5hex(canon + "|" + litKey + "|" + df.schema.catalogString + "|" +
      scanPaths + "|" + fnClassesKey).take(12)
  }

  /** content hash of the compiled `graft.functions` bytecode — the
    * internals of native expressions the plan references only by
    * name. Computed once per JVM: a recompile that changes any
    * function's logic (even a same-length constant edit) changes the
    * class bytes and so the key; identical source recompiles to
    * identical bytecode and keeps keys stable across rounds. */
  private[graft] lazy val fnClassesKey: String = {
    val src = classOf[graft.functions.VecSum]
      .getProtectionDomain.getCodeSource
    if (src == null || src.getLocation == null) "nosource"
    else {
      val base = new java.io.File(src.getLocation.toURI)
      val md = java.security.MessageDigest.getInstance("MD5")
      if (base.isDirectory) {
        val d = new java.io.File(base, "graft/functions")
        val files = Option(d.listFiles).map(_.toSeq).getOrElse(Seq.empty)
          .filter(_.getName.endsWith(".class")).sortBy(_.getName)
        files.foreach { f =>
          md.update(f.getName.getBytes("UTF-8"))
          md.update(java.nio.file.Files.readAllBytes(f.toPath))
        }
      } else {
        // packaged as a jar: hash the graft/functions entries' bytes
        val zf = new java.util.zip.ZipFile(base)
        try {
          val es = zf.entries()
          val entries = collection.mutable.ArrayBuffer
            .empty[java.util.zip.ZipEntry]
          while (es.hasMoreElements) {
            val e = es.nextElement()
            if (e.getName.startsWith("graft/functions/") &&
                e.getName.endsWith(".class")) entries += e
          }
          entries.sortBy(_.getName).foreach { e =>
            md.update(e.getName.getBytes("UTF-8"))
            val in = zf.getInputStream(e)
            val buf = new Array[Byte](8192)
            var n = in.read(buf)
            while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
            in.close()
          }
        } finally zf.close()
      }
      md.digest().map("%02x".format(_)).mkString.take(8)
    }
  }

  /** the full cache key for (`dir`, `sources`, builder plan) —
    * factored out so specs can assert key behavior without I/O.
    * The dataset dir is canonicalized SCHEME-AWARE: qualified
    * against its own FileSystem (`file:/abs/...` locally,
    * `hdfs://nn/...` remotely) with `..` segments collapsed —
    * `java.io.File` would mangle a remote URI into `<cwd>/hdfs:/...`,
    * making its fingerprint permanently "absent" and regeneration
    * invisible. */
  private[graft] def keyFor(s: SparkSession, dir: String,
      sources: Seq[String], build: DataFrame): String = {
    val p = new Path(dir)
    val canon = fsFor(s, p).makeQualified(p).toUri.normalize.toString
    md5hex(canon).take(12) + "-" + fingerprint(s, canon, sources) + "-" +
      logicKey(build)
  }

  /** [[keyFor]] over one source table. */
  private[graft] def keyFor(s: SparkSession, dir: String, source: String,
      build: DataFrame): String = keyFor(s, dir, Seq(source), build)

  /** Read the side table `name` derived from `dir`'s `sources`
    * tables (every table the builder reads), building and publishing
    * it first if absent (or stale — a new fingerprint OR a new
    * builder-logic key is a new directory).
    * `build` is evaluated once per call for its PLAN (to derive the
    * logic key — plan construction only, no job); the plan is then
    * reused for the actual build when the artifact is absent. */
  def getOrBuild(s: SparkSession, dir: String, name: String,
      sources: Seq[String] = Seq("documents"))
      (build: => DataFrame): DataFrame = {
    val b = build
    getOrBuildWithKey(s, keyFor(s, dir, sources, b), name)(b)
  }

  /** [[getOrBuild]] for ITERATIVE builders, whose result DataFrame is
    * an opaque checkpoint (`LogicalRDD`) carrying none of the logic
    * that produced it — keying on it would make every fixpoint
    * artifact share a key, the stale-index hazard the mechanical key
    * exists to prevent. The caller supplies a REPRESENTATIVE
    * declarative plan instead (e.g. one fixpoint round applied to the
    * un-checkpointed inputs: it embeds the input derivation, the
    * round formula, and every constant), plus a `salt` for the pieces
    * that live in the driver loop rather than in any plan (stopping
    * rule, epsilon). The key is derived from (`dir`, `sources`,
    * keyPlan, salt) exactly as [[getOrBuild]] derives it from the
    * builder itself. */
  def getOrBuildKeyed(s: SparkSession, dir: String, name: String,
      sources: Seq[String], keyPlan: DataFrame, salt: String)
      (build: => DataFrame): DataFrame = {
    val key = keyFor(s, dir, sources, keyPlan) +
      "-" + md5hex(salt).take(8)
    getOrBuildWithKey(s, key, name)(build)
  }

  /** [[getOrBuildKeyed]] over one source table. */
  def getOrBuildKeyed(s: SparkSession, dir: String, name: String,
      source: String, keyPlan: DataFrame, salt: String)
      (build: => DataFrame): DataFrame =
    getOrBuildKeyed(s, dir, name, Seq(source), keyPlan, salt)(build)

  /** shared probe-build-publish cycle under an already-derived key.
    * `build` is only forced when the artifact is absent. */
  private def getOrBuildWithKey(s: SparkSession, key: String,
      name: String)(build: => DataFrame): DataFrame = {
    val rootP = new Path(root)
    val fs = fsFor(s, rootP)
    val tableDir = new Path(rootP, s"$key/$name")
    val successP = new Path(tableDir, "_SUCCESS")
    if (!fs.exists(successP)) {
      val b = build
      val tmp = new Path(rootP, s"$key/.$name.tmp-" +
        s"${java.lang.ProcessHandle.current.pid}-" +
        s"${Thread.currentThread.getId}")
      fs.mkdirs(tmp.getParent)
      b.write.mode("overwrite").parquet(tmp.toString)
      // recorded when the build JOB ran, not when the publish rename
      // wins: a builder that loses the race still paid the one-off
      // construction inside ITS timed queries, and side_built exists
      // to flag exactly that contamination
      built.synchronized(built += s"$name@$key")
      // a tableDir existing WITHOUT _SUCCESS is debris (crashed
      // build, partial delete): Hadoop rename would move tmp INSIDE
      // it and the publish would fail the same way forever, each
      // attempt refreshing the dir's mtime past the vacuum horizon.
      // A real publish always carries _SUCCESS (the tmp dir is
      // renamed whole), so deleting the partial is safe; losing the
      // tiny probe-to-rename race to a concurrent publisher just
      // lands in publish()'s winner-exists branch.
      if (fs.exists(tableDir) && !fs.exists(successP))
        fs.delete(tableDir, true)
      publish(fs, tmp, tableDir, successP)
    }
    touchLastUsed(fs, tableDir)
    s.read.parquet(tableDir.toString)
  }

  /** default read-lease floor for [[vacuum]] — see its scaladoc. */
  val VacuumMinAgeMs: Long = 6L * 60 * 60 * 1000

  /** last-access marker consulted by [[vacuum]] — written best-effort
    * on every read (a read-only or permission-restricted root just
    * degrades to publish-time retention; it must never fail a
    * query). */
  private val LastUsed = "_LAST_USED"
  private def touchLastUsed(fs: FileSystem, tableDir: Path): Unit =
    try {
      val m = new Path(tableDir, LastUsed)
      if (fs.exists(m)) fs.setTimes(m, System.currentTimeMillis, -1)
      else fs.create(m, true).close()
    } catch {
      // NonFatal, not just IOException: object-store connectors throw
      // UnsupportedOperationException from setTimes, and the marker
      // must never fail a read
      case scala.util.control.NonFatal(_) => ()
    }

  /** Retention sweep for the side root: deletes every published table
    * (and abandoned `.tmp-` build debris) not read for `olderThanMs`,
    * then prunes emptied key directories. The root is SHARED state
    * that outlives checkouts and branches — without retention, every
    * regenerated dataset and every builder-logic change strands a
    * full index generation forever. Deleting is always SAFE for
    * correctness: an artifact is a pure function of (dataset,
    * builder), so the next consumer rebuilds it (the one-off cost
    * `side_built` already surfaces). Returns the deleted paths; the
    * deployment owns the cadence (e.g. a daily sweep with a
    * multi-week horizon).
    *
    * READ-LEASE FLOOR: the `_LAST_USED` marker is touched at PLAN
    * time, so a long-running query that planned `runtime` ago is
    * still mid-scan over a table whose marker is `runtime` old — a
    * horizon below the longest expected query runtime would yank
    * files from under it. `minAgeMs` is the enforced floor: the
    * effective horizon is max(olderThanMs, minAgeMs), defaulting to
    * [[VacuumMinAgeMs]] (6 h — generous for any interactive or daily
    * batch query; a deployment running multi-day queries must raise
    * it to cover them, or re-touch the marker from a keepalive). */
  def vacuum(s: SparkSession, olderThanMs: Long,
      now: Long = System.currentTimeMillis,
      minAgeMs: Long = VacuumMinAgeMs): Seq[String] = {
    val horizonMs = math.max(olderThanMs, minAgeMs)
    // say so when the floor overrides the request: an operator whose
    // cleanup cadence asked for a shorter horizon would otherwise see
    // an empty result indistinguishable from "nothing was old enough"
    if (olderThanMs < minAgeMs)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"vacuum horizon ${olderThanMs}ms clamped to the ${minAgeMs}ms " +
          "read-lease floor; raise minAgeMs only if no query can run " +
          "longer than the requested horizon")
    val rootP = new Path(root)
    val fs = fsFor(s, rootP)
    if (!fs.exists(rootP)) return Seq.empty
    val deleted = collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(rootP).filter(_.isDirectory).foreach { keyDir =>
      // a CONCURRENT sweep (or publisher) can delete this keyDir or a
      // table between the root listing and these probes — that's the
      // other host doing our work, not a failure; the sweep must move
      // on to the remaining keyDirs instead of aborting partway
      try fs.listStatus(keyDir.getPath).filter(_.isDirectory)
        .foreach { tdir =>
          val marker = new Path(tdir.getPath, LastUsed)
          val lastUsed = math.max(tdir.getModificationTime,
            if (fs.exists(marker)) fs.getFileStatus(marker)
              .getModificationTime
            else 0L)
          // dot-tmp dirs younger than the horizon are in-flight
          // builds; older ones are crash debris
          if (now - lastUsed > horizonMs &&
              fs.delete(tdir.getPath, true)) // only report REAL deletes
            deleted += tdir.getPath.toString
        }
      catch { case _: java.io.FileNotFoundException => () }
      // non-recursive prune can race a concurrent builder's mkdirs
      // between the emptiness probe and the delete — that keyDir is
      // simply live again, not a sweep failure
      try {
        if (fs.listStatus(keyDir.getPath).isEmpty &&
            fs.delete(keyDir.getPath, false))
          deleted += keyDir.getPath.toString
      } catch { case _: java.io.IOException => () }
    }
    deleted.toList
  }

  /** one atomic rename, with every failure mode resolved to either
    * "the winner's table is readable" or the ORIGINAL error:
    *  - rename returns false / throws with `_SUCCESS` present → a
    *    concurrent builder published first; drop ours, read theirs;
    *  - rename fails and NO winner exists (permissions, read-only or
    *    non-atomic-rename filesystem) → rethrow/raise, instead of
    *    letting the following read fail with a misleading
    *    missing-path error. */
  private[graft] def publishForTest(fs: FileSystem, tmp: Path,
      tableDir: Path, successP: Path): Unit =
    publish(fs, tmp, tableDir, successP)

  private def publish(fs: FileSystem, tmp: Path, tableDir: Path,
      successP: Path): Unit = {
    val renamed =
      try fs.rename(tmp, tableDir)
      catch {
        case e: java.io.IOException =>
          if (fs.exists(successP)) false
          else throw e
      }
    if (!renamed) {
      fs.delete(tmp, true)
      if (!fs.exists(successP))
        throw new java.io.IOException(
          s"side-table publish rename $tmp -> $tableDir failed and no " +
            "concurrent winner is present (is the side root writable " +
            "and rename-capable?)")
    } else {
      // Hadoop rename semantics: if tableDir already existed (a race
      // lost between the probe and the rename), some filesystems move
      // tmp INSIDE it instead of failing. The dot-prefixed name is
      // invisible to parquet readers; clean it up if it happened.
      val nested = new Path(tableDir, tmp.getName)
      if (!fs.exists(successP)) {
        // we really did publish: our own _SUCCESS must be there
        throw new java.io.IOException(
          s"side-table publish $tableDir has no _SUCCESS after rename")
      }
      if (fs.exists(nested)) fs.delete(nested, true)
    }
  }
}
