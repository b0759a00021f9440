package graft.io

import java.io.File
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.io.Source
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Filesystem contract of the artifact store's atomic publish: builders
  * here write plain files (the Spark writers the families use produce
  * the same `<part>/_SUCCESS` layout), so every race is driven
  * directly.
  */
class ArtifactStoreSpec extends AnyFunSuite {

  private val parts = Seq("rows", "groups")

  private def newRoot(): File = Files.createTempDirectory("graft_store").toFile

  /** A two-part write: each part gets one uniquely named data file,
    * then its `_SUCCESS` marker; `pause` widens the race window.
    */
  private def writeParts(tmp: String, pause: Long = 0L): Unit =
    parts.foreach { p =>
      val d = new File(tmp, p)
      d.mkdirs()
      new File(d, s"part-${UUID.randomUUID()}.dat").createNewFile()
      Thread.sleep(pause)
      new File(d, "_SUCCESS").createNewFile()
    }

  private def children(dir: File): Set[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getName).toSet

  private def successMtimes(dir: String): Seq[Long] =
    parts.map(p => new File(s"$dir/$p/_SUCCESS").lastModified())

  test("concurrent builders (threads and store instances) publish one " +
      "complete artifact; no reader sees a partial one") {
    val root = newRoot()
    val dir = s"$root/kind/a"
    val stores = Seq(new ArtifactStore, new ArtifactStore)
    val builds = stores.map(_ => new AtomicInteger())
    val partial = new AtomicBoolean(false)
    val done = new AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!done.get()) {
        // the final dir is either absent or complete, at every instant
        if (new File(dir).exists() && !Artifacts.complete(dir, parts))
          partial.set(true)
      })
    reader.start()
    val pool = Executors.newFixedThreadPool(4)
    val go = new CountDownLatch(1)
    val calls = (0 until 4).map { i =>
      val s = i % 2
      pool.submit(() => {
        go.await()
        stores(s).getOrBuild(dir, parts) { tmp =>
          builds(s).incrementAndGet()
          writeParts(tmp, pause = 50L)
        }
      })
    }
    go.countDown()
    val dirs = calls.map(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    done.set(true)
    reader.join()

    assert(dirs.forall(_ == dir))
    assert(Artifacts.complete(dir, parts))
    assert(!partial.get(), "a reader saw a partial artifact")
    // the per-dir lock stops duplicate builds inside one store ...
    assert(builds.forall(_.get() == 1), builds.map(_.get()))
    // ... and across stores the loser's tmp dir was discarded, never
    // merged into the winner: one data file per part, no leftovers
    parts.foreach(p =>
      assert(children(new File(dir, p)).count(_.endsWith(".dat")) == 1))
    assert(children(new File(dir)) == parts.toSet)
    assert(children(new File(s"$root/kind")) == Set("a"))
    assert(stores.forall(_.locksInFlight == 0))
  }

  test("a write that throws mid-artifact leaves no final dir; the next " +
      "call rebuilds") {
    val root = newRoot()
    val dir = s"$root/kind/b"
    intercept[IllegalStateException] {
      Artifacts.getOrBuild(dir, parts) { tmp =>
        val d = new File(tmp, "rows")
        d.mkdirs()
        new File(d, "_SUCCESS").createNewFile()
        throw new IllegalStateException("executor lost after part 1")
      }
    }
    assert(!new File(dir).exists())
    assert(children(new File(s"$root/kind")).isEmpty, "tmp dir left behind")
    Artifacts.getOrBuild(dir, parts)(writeParts(_))
    assert(Artifacts.complete(dir, parts))
  }

  test("a write that skips a part's _SUCCESS is refused, not published") {
    val root = newRoot()
    val dir = s"$root/kind/c"
    intercept[IllegalArgumentException] {
      Artifacts.getOrBuild(dir, parts) { tmp =>
        new File(tmp, "rows").mkdirs()
        new File(tmp, "rows/_SUCCESS").createNewFile()
        new File(tmp, "groups").mkdirs()
      }
    }
    assert(!new File(dir).exists())
  }

  test("orphaned tmp dirs and legacy in-place dirs are handled") {
    val root = newRoot()
    // what SIGKILL mid-write leaves: a tmp sibling, one part complete
    val dir = s"$root/kind/d"
    val orphan = new File(s"$dir.tmp-${UUID.randomUUID()}")
    new File(orphan, "rows").mkdirs()
    new File(orphan, "rows/_SUCCESS").createNewFile()
    // an old in-place build that died after its first part
    new File(dir, "rows").mkdirs()
    new File(dir, "rows/_SUCCESS").createNewFile()
    new File(dir, "groups").mkdirs()
    new File(dir, "groups/stale.dat").createNewFile()
    assert(!Artifacts.complete(dir, parts))

    val built = new AtomicInteger()
    Artifacts.getOrBuild(dir, parts) { tmp =>
      built.incrementAndGet(); writeParts(tmp)
    }
    assert(built.get() == 1)
    assert(Artifacts.complete(dir, parts))
    assert(!new File(dir, "groups/stale.dat").exists(),
      "the incomplete legacy dir was not replaced")
    // the orphan is never read and never mistaken for the artifact
    assert(orphan.exists())
    assert(children(new File(dir)) == parts.toSet)

    // a COMPLETE legacy in-place dir is valid as it stands
    val legacy = s"$root/kind/e"
    writeParts(legacy)
    Artifacts.getOrBuild(legacy, parts)(_ => fail("rebuilt a complete dir"))
  }

  test("a hit does not rewrite the artifact") {
    val root = newRoot()
    val dir = s"$root/kind/f"
    Artifacts.getOrBuild(dir, parts)(writeParts(_))
    val before = successMtimes(dir)
    Thread.sleep(20)
    Artifacts.getOrBuild(dir, parts)(_ => fail("rebuilt on a hit"))
    assert(successMtimes(dir) == before)
  }

  test("memo: one load per dir, cleared per kind, lock table drains") {
    val store = new ArtifactStore
    val loads = new AtomicInteger()
    def load(kind: String, dir: String): String =
      store.memoized(kind, dir) { loads.incrementAndGet(); s"$kind:$dir" }
    assert(load("k1", "/x/a") == "k1:/x/a")
    assert(load("k1", "/x/a") == "k1:/x/a")
    load("k2", "/x/b")
    assert(loads.get() == 2)
    store.clearMemos("k1")
    load("k2", "/x/b")
    assert(loads.get() == 2, "clearing k1 dropped a k2 entry")
    load("k1", "/x/a")
    assert(loads.get() == 3)
    (0 until 100).foreach(i => load("k3", s"/x/c$i"))
    assert(store.locksInFlight == 0)
  }

  test("artifact paths: tag, params and fingerprint under the root") {
    val sf = "/root/testdata/sf0.001"
    val fp = Fingerprint.ofPath(s"$sf/documents.parquet")
    assert(Artifacts.path("k", sf, "documents.parquet", "p1") ==
      s"${Artifacts.root}/k/root_testdata_sf0_001_p1_$fp")
    assert(Artifacts.path("k", sf, "documents.parquet") ==
      s"${Artifacts.root}/k/root_testdata_sf0_001_$fp")
  }

  test("ext/ never regrows check-then-overwrite artifacts or memo maps") {
    val ext = new File("src/main/scala/graft/ext")
    val files = Option(ext.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${ext.getAbsolutePath}")
    val rules = Seq(
      "a `_SUCCESS` literal (publish through graft.io.Artifacts)" ->
        "_SUCCESS".r,
      "a private `*Done` helper (use Artifacts.complete)" ->
        """private def \w*Done\(""".r,
      "a per-family memo map (use Artifacts.memoized)" ->
        "ConcurrentHashMap".r)
    val hits = for {
      f <- files
      (line, n) <- Using.resource(Source.fromFile(f, "UTF-8"))(
        _.getLines().toList).zipWithIndex
      (what, re) <- rules if re.findFirstIn(line).nonEmpty
    } yield s"${f.getName}:${n + 1}: $what"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
