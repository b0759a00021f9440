package graft.io

import java.io.File

/** Feed-generation chains of the admission folds (sha/lsh/hll/hdr/
  * ivf/pca): the one fold [[step]] every family runs per micro-batch,
  * and RETIREMENT of old generations.
  *
  * A feed's generations live beside their base artifact as
  * `<base>__feed_<tag>/g<id>` ([[genDir]]) — a pure function of
  * (feedTag, batchId), flat rather than appended to the previous name
  * so the path stays constant-length over an unbounded feed. Each is
  * published through [[Artifacts.getOrBuild]], so a generation is
  * either absent or complete, and a replayed batch finds its
  * generation published and re-reads instead of re-merging.
  *
  * GC keeps the newest `keepLast` COMPLETE generations (the fold only
  * ever reads the latest; deeper history exists solely for replay) and
  * deletes everything older, incomplete crash debris included.
  *
  * Contract trade, stated plainly: retention depth bounds REPLAY
  * depth. A foreachBatch replay more than `keepLast` batches behind
  * the head finds its predecessor missing and fails LOUDLY on the
  * step's chain-broken `require` — the standard checkpoint-retention
  * trade (Spark's own commit-log cleanup makes it: such a replay
  * cannot occur under a live checkpoint, which never re-runs batches
  * that far back). Never applicable to the BASE artifact — only
  * `…__feed_<tag>/g<id>` children are candidates.
  */
object Generations {

  private def feedDir(baseDir: String, feedTag: String): File =
    new File(s"${baseDir}__feed_$feedTag")

  /** Generation `batchId` of feed `feedTag` beside `baseDir`. */
  def genDir(baseDir: String, feedTag: String, batchId: Long): String =
    s"${baseDir}__feed_$feedTag/g$batchId"

  /** ONE admission-fold step: probe micro-batch `batchId` against the
    * chain left by batches 0..batchId−1 and publish its generation.
    *
    * `feedTag` must be path-safe and 1:1 with the stream's checkpoint
    * (batch ids only mean anything relative to one checkpoint). The
    * previous generation (`base` for batch 0) must be complete over
    * `parts`, else the chain is broken and the step fails loudly.
    * `read(prev)` is the family's view of it (the probe verdicts, the
    * running sketch); `merge(view, prev, tmp)` writes generation
    * `batchId` into the store's tmp dir, and runs only if that
    * generation is not published yet. Returns the view and the
    * generation dir. Prior generations are immutable, so a crash
    * anywhere between probe, merge and sink replays identically.
    */
  def step[T](base: String, parts: Seq[String], feedTag: String,
              batchId: Long)(read: String => T)
             (merge: (T, String, String) => Unit): (T, String) = {
    require(feedTag.matches("[A-Za-z0-9_-]+"),
      s"feedTag must be path-safe, got '$feedTag'")
    val prev = if (batchId == 0L) base else genDir(base, feedTag, batchId - 1)
    require(Artifacts.complete(prev, parts),
      s"chain broken before batch $batchId: $prev incomplete")
    val view = read(prev)
    val out = Artifacts.getOrBuild(genDir(base, feedTag, batchId), parts)(
      tmp => merge(view, prev, tmp))
    (view, out)
  }

  /** [[step]] for a family with no probe: `merge(prev, tmp)` folds the
    * batch in; returns the generation dir.
    */
  def fold(base: String, parts: Seq[String], feedTag: String,
           batchId: Long)(merge: (String, String) => Unit): String =
    step(base, parts, feedTag, batchId)(identity)((_, prev, tmp) =>
      merge(prev, tmp))._2

  /** Feed tags that have generation chains beside this base artifact
    * (feed dirs are SIBLINGS of the base, named
    * `<base>__feed_<tag>`).
    */
  def feeds(baseDir: String): Seq[String] = {
    val base = new File(baseDir)
    val prefix = base.getName + "__feed_"
    Option(Option(base.getParentFile).getOrElse(new File("."))
        .listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName.drop(prefix.length)).sorted
  }

  /** [[gc]] across every feed of a base artifact — the scheduled-
    * maintenance form. Returns deleted ids per feed tag.
    */
  def gcAll(baseDir: String, keepLast: Int,
            complete: String => Boolean): Map[String, Seq[Long]] =
    feeds(baseDir).map(tag =>
      tag -> gc(baseDir, tag, keepLast, complete))
      .filter(_._2.nonEmpty).toMap

  /** Generation ids present under the feed dir, sorted ascending;
    * incomplete ones (by the caller's predicate) included — callers
    * see crash debris too.
    */
  def list(baseDir: String, feedTag: String): Seq[Long] = {
    val d = feedDir(baseDir, feedTag)
    Option(d.listFiles()).toSeq.flatten
      .flatMap(f => f.getName match {
        case n if n.startsWith("g") && n.drop(1).forall(_.isDigit) =>
          Some(n.drop(1).toLong)
        case _ => None
      }).sorted
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete()
  }

  /** Delete generations older than the newest `keepLast` complete
    * ones. Returns the ids deleted. Idempotent; concurrent-fold-safe
    * only in the single-writer sense every feed already assumes
    * (feedTag is 1:1 with one checkpoint).
    */
  def gc(baseDir: String, feedTag: String, keepLast: Int,
         complete: String => Boolean): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val ids = list(baseDir, feedTag)
    def dirOf(id: Long) = genDir(baseDir, feedTag, id)
    val completeIds = ids.filter(id => complete(dirOf(id)))
    if (completeIds.isEmpty) return Nil
    val cutoff = completeIds.takeRight(keepLast).head
    val doomed = ids.filter(_ < cutoff)
    doomed.foreach(id => rmTree(new File(dirOf(id))))
    doomed
  }
}
