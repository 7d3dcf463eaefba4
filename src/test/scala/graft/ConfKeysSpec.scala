package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Inventory of graft's own session-conf keys. Every key is either a
  * deployment path, an oracle pin, or a measured strategy switch; a new
  * key has to be added to [[ConfKeysSpec.kept]] with its reason, so a
  * knob cannot come back without that list being edited.
  */
class ConfKeysSpec extends AnyFunSuite {
  test("main sources name only the kept spark.sql.graft / spark.graft keys") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val literal = "\"(spark\\.(?:sql\\.)?graft\\.[A-Za-z.]+)\"".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val found = files.flatMap { (f: Path) =>
      literal.findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> f)
    }
    val unknown = found.filterNot { case (k, _) => ConfKeysSpec.kept(k) }
    assert(unknown.isEmpty,
      "unlisted conf keys: " + unknown.map { case (k, f) => s"$k ($f)" }.mkString(", "))
    assert(found.map(_._1).toSet === ConfKeysSpec.kept,
      "a kept key is no longer read — drop it from the list")
  }
}

object ConfKeysSpec {
  val kept: Set[String] = Set(
    // deployment paths
    "spark.graft.index.dir",
    "spark.sql.graft.checkpointDir",
    "spark.sql.graft.streamStagingDir",
    // oracle pins (SparkEntry.oraclePins)
    "spark.sql.graft.jaccardCandidates",
    "spark.sql.graft.semdedupBlocking",
    // per-quantizer recall measurement (AnnRecall, DedupSpec)
    "spark.sql.graft.embBlocking",
    // the persist branch non-local masters take, pinned on a local master
    "spark.sql.graft.barrier")
}
