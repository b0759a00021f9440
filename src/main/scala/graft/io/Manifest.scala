package graft.io

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.Json.str

/** Chain-level versioned manifest: ONE JSON document, written LAST,
  * naming every input and output of a multi-artifact pipeline run by
  * content fingerprint — the atomic-commit point for a chain whose
  * individual artifacts land independently.
  *
  * Without it, a crash mid-chain leaves artifacts from different runs
  * side by side with nothing tying a CONSISTENT set together (the
  * operational gap a Delta-style transaction log closes for tables;
  * this is the chain-level analogue, deliberately minimal). The
  * protocol:
  *
  *  1. every run writes its artifacts under its own `versions/<tag>/`
  *     directory — a crashed run can never damage a published set;
  *  2. after ALL artifacts succeed, `manifest_<tag>.json` is written
  *     (temp file + atomic rename) recording each input and artifact
  *     fingerprint ([[Fingerprint.ofPath]]);
  *  3. the `LATEST` pointer is atomically renamed over — the single
  *     publication instant; readers before it see the previous set,
  *     readers after it see the new one, nobody sees a mix;
  *  4. [[load]] RE-VERIFIES every artifact fingerprint on read and
  *     throws on any mismatch — a manifest can never vouch for
  *     artifacts it did not publish (tampered, partially rewritten, or
  *     cross-version mixes fail loudly).
  *
  * JSON writing is hand-rolled (flat, all-string schema, [[graft.Json.str]]
  * escapes); parsing uses the Jackson databind on Spark's classpath.
  */
object Manifest {

  final case class ArtifactRef(name: String, path: String,
                               fingerprint: String)

  final case class ChainManifest(version: String, sfDir: String,
                                 inputs: Map[String, String],
                                 artifacts: Seq[ArtifactRef]) {
    def artifactPath(name: String): String =
      artifacts.find(_.name == name).map(_.path).getOrElse(
        throw new IllegalArgumentException(
          s"manifest $version has no artifact '$name' " +
            s"(has: ${artifacts.map(_.name).mkString(", ")})"))
  }

  private def render(m: ChainManifest): String = {
    val ins = m.inputs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}: ${str(v)}" }
      .mkString("{", ", ", "}")
    val arts = m.artifacts.map(a =>
      s"""{"name": ${str(a.name)}, "path": ${str(a.path)}, """ +
        s""""fingerprint": ${str(a.fingerprint)}}""")
      .mkString("[", ", ", "]")
    s"""{"version": ${str(m.version)}, "sf_dir": ${str(m.sfDir)}, """ +
      s""""inputs": $ins, "artifacts": $arts}"""
  }

  /** Write `content` to `path` atomically: temp file in the same
    * directory, then POSIX rename (atomic on one filesystem — the same
    * guarantee object stores give PUT; on HDFS this maps to
    * create+rename, the standard commit idiom).
    */
  private def atomicWrite(path: String, content: String): Unit = {
    val target = Paths.get(path)
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def manifestPath(root: String, version: String) =
    s"$root/manifest_$version.json"
  private def latestPath(root: String) = s"$root/LATEST"

  /** Publish a completed run: manifest JSON first, then the LATEST
    * pointer — the order that makes the pointer flip the commit point.
    */
  def publish(root: String, m: ChainManifest): Unit = {
    atomicWrite(manifestPath(root, m.version), render(m))
    atomicWrite(latestPath(root), m.version)
  }

  /** The currently published version, if any chain run ever completed. */
  def latestVersion(root: String): Option[String] = {
    val f = new File(latestPath(root))
    if (!f.exists()) None
    else Some(new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).trim)
  }

  /** Load and VERIFY a published manifest: every artifact's current
    * on-disk fingerprint must equal the recorded one, else this run's
    * artifacts were mixed with another version's (or tampered) and the
    * consumer must not proceed.
    */
  def load(root: String, version: String): ChainManifest = {
    val f = new File(manifestPath(root, version))
    require(f.exists(), s"manifest for version '$version' not found " +
      s"under $root — LATEST points at an unpublished version")
    val node = new ObjectMapper().readTree(f)
    val inputs = {
      val it = node.get("inputs").properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
    val arts = {
      val it = node.get("artifacts").elements()
      val b = Seq.newBuilder[ArtifactRef]
      while (it.hasNext) {
        val a = it.next()
        b += ArtifactRef(a.get("name").asText(), a.get("path").asText(),
          a.get("fingerprint").asText())
      }
      b.result()
    }
    val m = ChainManifest(node.get("version").asText(),
      node.get("sf_dir").asText(), inputs, arts)
    m.artifacts.foreach { a =>
      val now = Fingerprint.ofPath(a.path)
      if (now != a.fingerprint)
        throw new IllegalStateException(
          s"[manifest] artifact '${a.name}' at ${a.path} does not match " +
            s"manifest ${m.version} (recorded ${a.fingerprint}, found " +
            s"$now) — refusing a mixed or tampered artifact set")
    }
    m
  }

  /** The latest published, verified manifest — None before the first
    * successful chain run.
    */
  def loadLatest(root: String): Option[ChainManifest] =
    latestVersion(root).map(load(root, _))
}
