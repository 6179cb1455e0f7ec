package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` key the engine reads is documented in README's
  * configuration table with a default and a verdict, and the table lists
  * no key the engine no longer reads. A new key fails here until it is
  * documented.
  */
class ConfKeysSpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val TableRow =
    "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)` \\| [^|]+ \\| (\\w+) \\|$".r
  private val Verdicts = Set("pinned", "deployment", "policy", "deferred")

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("README's configuration table lists exactly the keys in src/main/scala") {
    val mainDir = new java.io.File("src/main/scala")
    assert(mainDir.isDirectory, s"run from the repo root (cwd ${new java.io.File(".").getAbsolutePath})")
    val inCode = scalaFiles(mainDir)
      .flatMap(f => KeyLiteral.findAllMatchIn(read(f)).map(_.group(1))).toSet
    val rows = read(new java.io.File("README.md")).split("\n").toSeq
      .collect { case TableRow(key, verdict) => key -> verdict }
    assert(rows.map(_._1).distinct.size == rows.size, "a key is listed twice")
    val documented = rows.map(_._1).toSet
    assert((inCode -- documented).isEmpty,
      s"undocumented keys: ${(inCode -- documented).toSeq.sorted.mkString(", ")}")
    assert((documented -- inCode).isEmpty,
      s"documented keys no code reads: ${(documented -- inCode).toSeq.sorted.mkString(", ")}")
    val badVerdicts = rows.filterNot(r => Verdicts.contains(r._2))
    assert(badVerdicts.isEmpty, s"verdict not one of $Verdicts: $badVerdicts")
    assert(rows.filter(_._2 == "pinned").map(_._1).toSet == Verify.PinnedKeys.toSet,
      "the pinned verdicts must be exactly the keys Verify refuses")
  }
}
