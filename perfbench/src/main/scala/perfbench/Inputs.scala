package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.json4s.JValue
import org.json4s.jackson.JsonMethods.parse

/** Reading the inputs perfbench/gen.py generated. */
object Inputs {
  /** A planted near-duplicate component: its member doc ids in chain
    * order (for a cluster, the base doc first). */
  final case class Planted(kind: String, members: Seq[Long])

  def readTsv(p: Path): Iterator[Array[String]] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p, UTF_8).asScala.iterator.filter(_.nonEmpty).map(_.split("\t", -1))
  }

  /** The generator's properties of a part's inputs. */
  def props(dir: Path): JValue = parse(new String(Files.readAllBytes(dir.resolve("props.json")), UTF_8))

  def readPlanted(dir: Path): Seq[Planted] =
    readTsv(dir.resolve("planted.tsv")).map(f => Planted(f(0), f(1).split(",").map(_.toLong).toSeq)).toSeq

  /** Sub-directories of `dir` whose names start with `prefix`, sorted. */
  def subdirs(dir: Path, prefix: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
      .toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
