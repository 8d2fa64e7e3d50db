package graft

import org.scalatest.funsuite.AnyFunSuite

/** Build-time gate on the session-conf surface. Operators read shared
  * `SparkSession` conf, so every `spark.graft.*` key is hidden state
  * that reaches each `Par.all` branch running against the session.
  * Only deployment settings belong there; a branch pin or a timer a
  * spec needs to shrink is an explicit argument at the call site. This
  * spec reads the main sources (no Spark session) and fails when a new
  * key literal appears.
  */
class ConfSurfaceSpec extends AnyFunSuite {

  private val DeploymentKeys = Set(
    "spark.graft.checkpoint.mode",
    "spark.graft.checkpoint.dir",
    "spark.graft.corpus.ownerGraceMs")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    }

  test("src/main names exactly the three deployment spark.graft.* keys") {
    val root = new java.io.File(sys.props("user.dir"), "src/main")
    assert(root.isDirectory, s"main sources not found under $root")
    val files = scalaFiles(root)
    assert(files.nonEmpty, s"no .scala files under $root")
    val literal = "\"(spark\\.graft\\.[A-Za-z.]+)\"".r
    val found = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      literal.findAllMatchIn(text).map(m => m.group(1) -> f.getName)
    }
    val keys = found.map(_._1).toSet
    assert(keys == DeploymentKeys,
      s"session-conf keys in src/main: extra " +
        s"${found.filterNot(k => DeploymentKeys(k._1)).distinct}, " +
        s"missing ${DeploymentKeys -- keys}")
  }
}
