package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Durable DERIVED-FRAME store — the on-disk layer under the session
  * catalogs: an expensive derived frame (the text index's postings, the
  * LM's scored per-doc table and bigram counts, the kNN graph's edge
  * list) is written ONCE per corpus snapshot under a content-addressed
  * directory carrying a `_manifest` of its source table's
  * [[graft.Tables.TableSnapshot]] entries, and every later invocation —
  * another query, a fresh JVM, the next soak rep — SERVES the parquet
  * instead of rebuilding. localCheckpoint blocks die with their
  * executors; a written table survives sessions and clusters. In
  * production the directory is an object-store prefix and the manifest
  * comparison is a catalog snapshot-id check.
  *
  * Two maintenance disciplines share the manifest and report their
  * [[Outcome]]: [[serveOrBuild]] (whole frames, served or rebuilt) and
  * [[refresh]] (append-decomposable frames, which also take a delta for
  * appended source files). */
object FrameStore {
  private def tmpDir(name: String) =
    new java.io.File(sys.props("java.io.tmpdir"), name)

  /** SHA-1 hex of `key`: the one naming rule for every content-addressed
    * store directory and derived table name (String.hashCode's 32 bits
    * could alias two corpora). */
  private[graft] def sha1Hex(key: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Absolute directory for `key` under tmpdir/`area`. */
  private[graft] def dirFor(key: String, area: String = "graft-frame-store"): String =
    new java.io.File(tmpDir(area), sha1Hex(key)).getAbsolutePath

  /** Recursive local delete; a missing path is a no-op. */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree)); f.delete(); ()
  }

  private[graft] def readManifest(fs: FileSystem, dir: Path,
                                  file: String = "_manifest"): Seq[String] = {
    val m = new Path(dir, file)
    if (!fs.exists(m)) return Seq.empty
    val in = fs.open(m)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private[graft] def writeManifest(fs: FileSystem, dir: Path, entries: Seq[String],
                                   file: String = "_manifest"): Unit = {
    val out = fs.create(new Path(dir, file), true)
    try out.write(entries.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  // per-key build locks: concurrent builds of UNRELATED frames must not
  // serialize behind one global monitor
  private val keyLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  private[graft] def lockFor(key: String): Object =
    keyLocks.getOrElseUpdate(key, new Object)

  /** Serve the frame stored under `key` when its manifest matches the
    * snapshot of table `name` of `sfDir`; otherwise run `build`,
    * overwrite the directory, then commit the manifest. Build-then-
    * manifest ordering makes a crash between the two a plain rebuild on
    * the next call, never a stale serve. Consumers read the frame from
    * the returned dir either way, so serve and rebuild hand them the
    * identical plan shape. */
  def serveOrBuild(spark: SparkSession, key: String, sfDir: String, name: String)
                  (build: => DataFrame): Refreshed =
    lockFor(key).synchronized {
      val dir = dirFor(key)
      val snap = Tables.snapshot(spark, sfDir, name)
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val prev = readManifest(fs, p)
      val outcome =
        if (prev == snap.entries) Served
        else Rebuilt(snap.files, if (prev.isEmpty) "no manifest" else "files changed or removed")
      if (outcome != Served) {
        build.write.mode("overwrite").parquet(dir)
        writeManifest(fs, p, snap.entries)
      }
      Refreshed(dir, snap, outcome)
    }

  /** What a [[serveOrBuild]] or [[refresh]] did, with the snapshot
    * entries' relative paths it built from. */
  sealed trait Outcome { def files: Seq[String] }
  /** The manifest matched the snapshot: nothing was built. */
  case object Served extends Outcome { def files: Seq[String] = Nil }
  /** The snapshot only added files: the frame was built for those and
    * appended as one more generation. */
  final case class Delta(files: Seq[String]) extends Outcome
  /** The whole frame was rebuilt from every file, for `reason`:
    * `no manifest` (first build, purged store, or a crash during the
    * last rebuild), `interrupted delta` (an intent marker survived) or
    * `files changed or removed`. */
  final case class Rebuilt(files: Seq[String], reason: String) extends Outcome

  final case class Refreshed(dir: String, snapshot: Tables.TableSnapshot,
                             outcome: Outcome)

  /** Bring the store at `dir` up to date with table `name` of `sfDir`,
    * for a frame whose rows over disjoint file sets compose by union
    * (postings, partial counts). Under the per-directory lock it takes
    * the table's snapshot and compares it with the manifest:
    *
    *  - equal → serve as-is;
    *  - the manifest a proper subset → `build` the appended files only
    *    and append them as one more generation (cost ∝ delta);
    *  - anything else → rebuild from the whole snapshot.
    *
    * The snapshot is taken under the lock so concurrent refreshers see
    * monotone snapshots: a slower caller never rolls the store back to
    * an older listing. The delta append and the manifest write are two
    * steps; a `_delta_intent` marker written before the append and
    * removed after the manifest commits turns a crash between them into
    * a full rebuild on the next call, never a double-counted delta. */
  def refresh(spark: SparkSession, dir: String, sfDir: String, name: String)
             (build: DataFrame => DataFrame): Refreshed =
    lockFor(dir).synchronized {
      val snap = Tables.snapshot(spark, sfDir, name)
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val prev = readManifest(fs, p).toSet
      val intent = new Path(p, "_delta_intent")
      val pending = fs.exists(intent)
      val current = snap.entries.toSet
      val outcome =
        if (prev.isEmpty) Rebuilt(snap.files, "no manifest")
        else if (pending) Rebuilt(snap.files, "interrupted delta")
        else if (prev == current) Served
        else if (prev.subsetOf(current))
          Delta(snap.files.filterNot(f => prev(snap.entryOf(f))))
        else Rebuilt(snap.files, "files changed or removed")
      outcome match {
        case Served =>
        case Delta(files) =>
          fs.create(intent, true).close()
          build(spark.read.parquet(files.map(snap.pathOf): _*))
            .write.mode("append").parquet(dir)
          writeManifest(fs, p, snap.entries)
          fs.delete(intent, false)
        case Rebuilt(_, _) =>
          build(Tables.at(spark, snap)).write.mode("overwrite").parquet(dir)
          writeManifest(fs, p, snap.entries)
          fs.delete(intent, false)
      }
      Refreshed(dir, snap, outcome)
    }

  /** Cold-soak seam: delete the stored frame for `key`. */
  private[graft] def purge(key: String): Unit =
    deleteTree(new java.io.File(dirFor(key)))
}
