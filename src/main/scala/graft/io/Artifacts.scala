package graft.io

import java.nio.file.{FileSystemException, Files, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The artifact store: where a persisted derived artifact (an index, a
  * trained model, a verified pair table) lives, when it is complete,
  * how it is published and how it is memoized driver-side. Every
  * fingerprint-stamped artifact under [[Artifacts.root]] goes through
  * one instance — [[Artifacts]] — so the publish rule lives here once.
  *
  * PUBLISH CONTRACT ([[getOrBuild]]):
  *
  *  - the builder writes into a sibling `<dir>.tmp-<uuid>` and the
  *    store publishes it with ONE directory rename, so a reader sees
  *    either no `<dir>` or a complete one — never a partial artifact.
  *    A multi-part artifact (`<dir>/<part>` tables, e.g. an index's
  *    `bands` + `shingles` + `sigs`) is published as one unit;
  *  - COMPLETE means `<dir>` exists and every part carries its
  *    `_SUCCESS` marker (the single-part form: `<dir>/_SUCCESS`). Dirs
  *    written in place by earlier builds satisfy this unchanged;
  *  - a builder that loses the rename race to a concurrent builder
  *    discards its own tmp dir and reads the winner's; an incomplete
  *    `<dir>` left in place by an old in-place build is removed before
  *    the rename;
  *  - a `write` that throws leaves no `<dir>` (its tmp dir is deleted)
  *    and the next call rebuilds. DEBRIS: a builder killed mid-write
  *    (SIGKILL, lost driver) leaves its `<dir>.tmp-<uuid>` behind. It
  *    is never read — no reader resolves a tmp name — and is not
  *    swept automatically, because a live concurrent builder's tmp dir
  *    looks the same; remove stale ones by hand.
  *
  * Within one JVM a per-dir lock stops duplicate builds; no store-wide
  * lock is ever held while a build runs, so builds of DIFFERENT
  * artifacts overlap. Lock entries exist only while a call for that
  * dir is in flight. Across JVMs the rename is the arbiter.
  *
  * On the local filesystem the rename is `rename(2)` (NIO atomic
  * move), which refuses a non-empty target. Hadoop's local `rename`
  * would instead fall back to copying the tmp dir INTO an existing
  * target. Other filesystems use the Hadoop FS API (`Layout.compactTo`
  * does the same), with an existence check just before the rename.
  */
class ArtifactStore {

  /** Base directory for persisted per-dataset artifacts (the LSH index,
    * bucketed fact layouts, ingest staging). Defaults to `target/` — the
    * harness contract — and is overridable for deployment, where index
    * artifacts live on shared storage (HDFS/object-store paths work
    * unchanged: everything under them goes through Spark readers/writers
    * or the Hadoop FS API):
    *
    *  - `GRAFT_ARTIFACT_ROOT` env var — the deployment knob;
    *  - `graft.artifact.root` JVM system property — takes precedence, and
    *    is what tests use (env vars cannot be set in-JVM).
    *
    * Read per call (a `def`), so a test override applies without JVM
    * restart; production processes set it once at launch.
    */
  def root: String =
    sys.props.get("graft.artifact.root")
      .orElse(sys.env.get("GRAFT_ARTIFACT_ROOT"))
      .getOrElse("target")

  /** Path-safe form of a fixture dir, the first field of every
    * artifact name.
    */
  def tag(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+", "")

  /** `root/kind/<tag(sfDir)>_<params>_<fingerprint>` — the artifact dir
    * for a fixture. `params` must name every constant the artifact
    * depends on (a constant bump must MISS the old artifact, never
    * read it), and the fingerprint of `sfDir/source` makes regenerated
    * data miss it too (see [[Fingerprint]]).
    */
  def path(kind: String, sfDir: String, source: String,
           params: String = ""): String = {
    val p = if (params.isEmpty) "" else s"${params}_"
    s"$root/$kind/${tag(sfDir)}_$p${Fingerprint.ofPath(s"$sfDir/$source")}"
  }

  private def fs(dir: String): FileSystem =
    new Path(dir).getFileSystem(SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration()))

  /** `dir` exists and every part (or `dir` itself, for a single-part
    * artifact) carries its `_SUCCESS` marker.
    */
  def complete(dir: String, parts: Seq[String] = Nil): Boolean = {
    val f = fs(dir)
    (if (parts.isEmpty) Seq(dir) else parts.map(p => s"$dir/$p"))
      .forall(d => f.exists(new Path(d, "_SUCCESS")))
  }

  private final class DirLock { var users = 0 }
  private val locks = mutable.HashMap.empty[String, DirLock]

  /** Run `body` holding `dir`'s lock (reentrant). The entry is dropped
    * when its last user leaves, so the table never outgrows the calls
    * in flight.
    */
  private def withDirLock[T](dir: String)(body: => T): T = {
    val lock = locks.synchronized {
      val l = locks.getOrElseUpdate(dir, new DirLock)
      l.users += 1
      l
    }
    try lock.synchronized(body)
    finally locks.synchronized {
      lock.users -= 1
      if (lock.users == 0) locks.remove(dir)
    }
  }

  /** Lock entries currently held (spec seam: the table must drain). */
  private[io] def locksInFlight: Int = locks.synchronized(locks.size)

  /** Return `dir`, first building it if it is not [[complete]]:
    * `write(tmp)` writes the artifact (each of `parts` as `tmp/<part>`,
    * or the single-part artifact as `tmp` itself) and the store
    * publishes it by rename — see the class doc for the contract.
    */
  def getOrBuild(dir: String, parts: Seq[String] = Nil)
                (write: String => Unit): String = {
    if (!complete(dir, parts)) withDirLock(dir) {
      if (!complete(dir, parts)) publish(dir, parts, write)
    }
    dir
  }

  /** [[getOrBuild]] of a lifecycle step's artifact beside `base`:
    * `<base>_<op>_<tag>` (`op` is `m` for a merge, `f` for a forget).
    * `tag` must be path-safe.
    */
  def derived(base: String, op: String, tag: String, parts: Seq[String])
             (write: String => Unit): String = {
    require(tag.matches("[A-Za-z0-9_-]+"),
      s"tag must be path-safe, got '$tag'")
    getOrBuild(s"${base}_${op}_$tag", parts)(write)
  }

  /** Single-part [[getOrBuild]] of the frame `build`, read back. */
  def frame(spark: SparkSession, dir: String)(build: => DataFrame)
      : DataFrame =
    spark.read.parquet(getOrBuild(dir)(build.write.parquet(_)))

  private def publish(dir: String, parts: Seq[String],
                      write: String => Unit): Unit = {
    val f = fs(dir)
    val dst = new Path(dir)
    val tmp = new Path(s"$dir.tmp-${UUID.randomUUID()}")
    try {
      write(tmp.toString)
      require(complete(tmp.toString, parts),
        s"artifact write for $dir finished without every part's _SUCCESS")
      if (f.exists(dst) && !complete(dir, parts)) f.delete(dst, true)
      f.mkdirs(dst.getParent)
      if (!rename(f, tmp, dst) && !complete(dir, parts))
        throw new IllegalStateException(s"could not publish $dir")
    } finally {
      if (f.exists(tmp)) f.delete(tmp, true)
    }
  }

  /** Directory rename that fails (false) rather than merging when
    * `dst` already exists.
    */
  private def rename(f: FileSystem, src: Path, dst: Path): Boolean =
    f match {
      case l: LocalFileSystem =>
        val d = l.pathToFile(dst)
        try {
          Files.move(l.pathToFile(src).toPath, d.toPath,
            StandardCopyOption.ATOMIC_MOVE)
          true
        } catch {
          // ENOTEMPTY / EEXIST: another builder published first
          case _: FileSystemException if d.exists() => false
        }
      case _ => !f.exists(dst) && f.rename(src, dst)
    }

  /** Driver-side values loaded from artifacts (trained codebooks, BPE
    * merges, unigram pieces), keyed by the artifact's final dir and
    * tagged with its `kind` so one family can drop only its own.
    */
  private val memo = new ConcurrentHashMap[String, (String, Any)]

  /** The value `load` produces for artifact `dir`, loaded once per JVM.
    * Loads of different dirs run concurrently; a load never runs under
    * a map-wide lock.
    */
  def memoized[T](kind: String, dir: String)(load: => T): T = {
    def cached = Option(memo.get(dir)).map(_._2.asInstanceOf[T])
    cached.getOrElse(withDirLock(dir) {
      cached.getOrElse {
        val v = load
        memo.put(dir, (kind, v))
        v
      }
    })
  }

  /** Drop the memoized values of one artifact kind (simulated restart
    * for the persist specs; the cold-build bench row).
    */
  def clearMemos(kind: String): Unit =
    memo.entrySet().removeIf(_.getValue._1 == kind)

  /** Shared-artifact tier switch (default ON): telemetry and lifecycle
    * queries read the persisted, fingerprint-stamped derived tables
    * (LSH verified pairs, the BM25 tf postings) instead of re-deriving
    * them from the corpus per query — the build-once/probe-many
    * contract of a deployed index. The DESIGNATED BUILDER queries
    * (q_minhash_lsh, q_bm25) always run the full build path, so the
    * bench keeps measuring true build cost; Bench reports this flag in
    * its JSON line. Disable with `graft.shared.artifacts=0` (sysprop)
    * or `SPARK_GRAFT_SHARED_ARTIFACTS=0` (env) to force every query to
    * rebuild its chain standalone.
    */
  def sharedTier: Boolean =
    sys.props.get("graft.shared.artifacts")
      .orElse(sys.env.get("SPARK_GRAFT_SHARED_ARTIFACTS"))
      .forall(v => v != "0" && !v.equalsIgnoreCase("false"))
}

/** The process's artifact store. */
object Artifacts extends ArtifactStore
