package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Durable DERIVED store — the on-disk layer under the session
  * catalogs: an expensive frame derived from a table (the text index's
  * postings, the LM's scored per-doc table and bigram counts, the kNN
  * graph's edge list, the published signature table, a media landing
  * zone) is written ONCE per table snapshot into a directory carrying a
  * `_manifest` of the table's [[graft.Tables.TableSnapshot]] entries,
  * and every later invocation — another query, a fresh JVM, the next
  * soak rep — SERVES it instead of rebuilding. localCheckpoint blocks
  * die with their executors; a written store survives sessions and
  * clusters. In production the directory is an object-store prefix and
  * the manifest comparison is a catalog snapshot-id check.
  *
  * Every store is committed the one way [[maintain]] does it, under the
  * directory's lock; [[serveOrBuild]] (whole stores, served or rebuilt)
  * and [[refresh]] (append-decomposable parquet frames, which also take
  * a delta for appended source files) choose the writer. Each call
  * reports its [[Outcome]]. */
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

  private def readManifest(fs: FileSystem, dir: Path): Seq[String] = {
    val m = new Path(dir, "_manifest")
    if (!fs.exists(m)) return Seq.empty
    val in = fs.open(m)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Write the manifest to `_manifest.tmp` and rename it into place:
    * `_manifest` is either absent or whole, never a prefix. The old
    * manifest is deleted first because a rename onto an existing file
    * fails on some file systems; that gap only occurs in a delta, where
    * the intent marker already makes a crash a rebuild. Both names
    * start with '_', so neither the snapshot walk nor Spark's file
    * index reads them as data. */
  private def writeManifest(fs: FileSystem, dir: Path, entries: Seq[String]): Unit = {
    val tmp = new Path(dir, "_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val m = new Path(dir, "_manifest")
    fs.delete(m, false)
    if (!fs.rename(tmp, m)) throw new java.io.IOException(s"cannot commit $m")
  }

  // per-directory locks: concurrent builds of UNRELATED stores must not
  // serialize behind one global monitor
  private val dirLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  private def lockFor(dir: String): Object =
    dirLocks.getOrElseUpdate(dir, new Object)

  /** What a [[serveOrBuild]] or [[refresh]] did, with the snapshot
    * entries' relative paths it built from. */
  sealed trait Outcome { def files: Seq[String] }
  /** The manifest matched the snapshot: nothing was built. */
  case object Served extends Outcome { def files: Seq[String] = Nil }
  /** The snapshot only added files: the frame was built for those and
    * appended as one more generation. */
  final case class Delta(files: Seq[String]) extends Outcome
  /** The whole store was rebuilt from every file, for `reason`:
    * `no manifest` (first build, purged store, or a crash during the
    * last rebuild), `interrupted delta` (an intent marker survived) or
    * `files changed or removed`. */
  final case class Rebuilt(files: Seq[String], reason: String) extends Outcome

  final case class Refreshed(dir: String, snapshot: Tables.TableSnapshot,
                             outcome: Outcome)

  /** The one store commit. Under the lock of `dir` it takes the
    * snapshot of table `name` of `sfDir` and compares it with the
    * manifest:
    *
    *  - an intent marker left by a delta → rebuild (`interrupted delta`);
    *  - no manifest → rebuild (`no manifest`);
    *  - equal → serve as-is;
    *  - for an `appendable` store, the manifest a proper subset → a
    *    delta over the appended files (cost ∝ delta);
    *  - anything else → rebuild (`files changed or removed`).
    *
    * A rebuild deletes the directory, runs `write(snapshot, outcome)`
    * into it and commits the manifest last, so a crash at any step
    * leaves no manifest. A delta writes `_delta_intent` first, runs the
    * writer (which adds to the directory), commits the manifest and
    * then removes the marker, so a crash at any step leaves the marker.
    * Either way the next call rebuilds: a store is never served from a
    * partial write, nor given a delta twice. The snapshot is taken
    * under the lock, so concurrent callers see monotone snapshots and a
    * slower one never rolls the store back to an older listing. The
    * lock is per JVM. */
  private def maintain(spark: SparkSession, dir: String, sfDir: String, name: String,
                       appendable: Boolean)
                      (write: (Tables.TableSnapshot, Outcome) => Unit): Refreshed =
    lockFor(dir).synchronized {
      val snap = Tables.snapshot(spark, sfDir, name)
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val intent = new Path(p, "_delta_intent")
      val interrupted = fs.exists(intent)
      val prev = if (interrupted) Set.empty[String] else readManifest(fs, p).toSet
      val current = snap.entries.toSet
      val outcome =
        if (interrupted) Rebuilt(snap.files, "interrupted delta")
        else if (prev.isEmpty) Rebuilt(snap.files, "no manifest")
        else if (prev == current) Served
        else if (appendable && prev.subsetOf(current))
          Delta(snap.files.filterNot(f => prev(snap.entryOf(f))))
        else Rebuilt(snap.files, "files changed or removed")
      outcome match {
        case Served =>
        case Delta(_) =>
          fs.create(intent, true).close()
          write(snap, outcome)
          writeManifest(fs, p, snap.entries)
          fs.delete(intent, false)
        case Rebuilt(_, _) =>
          fs.delete(p, true)
          write(snap, outcome)
          writeManifest(fs, p, snap.entries)
      }
      Refreshed(dir, snap, outcome)
    }

  /** Serve the store under `key` ([[dirFor]]) when its manifest matches
    * the snapshot of table `name` of `sfDir`; otherwise rebuild it:
    * `write(dir)` fills the emptied directory, whatever its layout
    * (parquet, a catalog table's location, one file per asset).
    * Consumers read the store from the returned dir either way, so
    * serve and rebuild hand them the identical plan shape. */
  def serveOrBuild(spark: SparkSession, key: String, sfDir: String, name: String)
                  (write: String => Unit): Refreshed = {
    val dir = dirFor(key)
    maintain(spark, dir, sfDir, name, appendable = false)((_, _) => write(dir))
  }

  /** Bring the parquet store at `dir` up to date with table `name` of
    * `sfDir`, for a frame whose rows over disjoint file sets compose by
    * union (postings, partial counts): a rebuild writes `build` over the
    * whole table, a delta appends `build` over the appended files as
    * one more generation ([[maintain]]). `writeOptions` go to both
    * writes (parquet writer settings such as the page size). The delta
    * reads its files with the table's known schema, so it runs no
    * schema-inference job; the relation that schema comes from is the
    * one the next search resolves anyway. */
  def refresh(spark: SparkSession, dir: String, sfDir: String, name: String,
              writeOptions: Map[String, String] = Map.empty)
             (build: DataFrame => DataFrame): Refreshed =
    maintain(spark, dir, sfDir, name, appendable = true) { (snap, outcome) =>
      val source = outcome match {
        case Delta(files) => spark.read.schema(Tables.at(spark, snap).schema)
          .parquet(files.map(snap.pathOf): _*)
        case _ => Tables.at(spark, snap)
      }
      build(source).write.options(writeOptions).mode("append").parquet(dir)
    }

  /** Cold-soak seam: delete the stored frame for `key`. */
  private[graft] def purge(key: String): Unit =
    deleteTree(new java.io.File(dirFor(key)))
}
