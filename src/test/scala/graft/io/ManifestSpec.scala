package graft.io

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** A published manifest loads back whatever characters its strings hold. */
class ManifestSpec extends AnyFunSuite {

  test("control characters in sf dir and artifact path round-trip") {
    val root = Files.createTempDirectory("manifest").toFile
    val art = new File(root, "art\tcol\nline")
    Files.createDirectories(art.toPath)
    Files.writeString(new File(art, "part-0").toPath, "rows")
    val m = Manifest.ChainManifest("v1", "/data/sf\t0.001\n",
      Map("in\tput" -> "a\nb"),
      Seq(Manifest.ArtifactRef("art", art.getPath,
        Fingerprint.ofPath(art.getPath))))
    Manifest.publish(root.getPath, m)
    assert(Manifest.loadLatest(root.getPath).contains(m))
  }
}
