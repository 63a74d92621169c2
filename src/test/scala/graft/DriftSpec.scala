package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Copies of code facts that live outside the Scala sources must match
  * the code they describe:
  *  - `tools/close.sh` re-normalizes bench history with its own
  *    WINDOW_BASKET literal, which must equal `Bench.windowBasket`;
  *  - the README dial table must list exactly the `spark.graft.*` keys
  *    the engine reads under `src/main`, and no `spark.graft.*` key
  *    named anywhere else in the README may be one the engine never
  *    reads. */
class DriftSpec extends AnyFunSuite {

  private def read(p: String): String = {
    assert(Files.isRegularFile(Paths.get(p)), s"missing $p")
    Files.readString(Paths.get(p))
  }

  test("close.sh WINDOW_BASKET equals Bench.windowBasket") {
    val line = read("tools/close.sh").linesIterator
      .find(_.startsWith("WINDOW_BASKET='"))
      .getOrElse(fail("no WINDOW_BASKET='...' line in tools/close.sh"))
    val json = line.stripPrefix("WINDOW_BASKET='").stripSuffix("'")
    val entry = """"(\w+)":([0-9.]+)""".r
    val parsed = entry.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    assert(parsed.size == json.count(_ == ':'),
      s"WINDOW_BASKET is not a flat name:number object: $json")
    assert(parsed == Bench.windowBasket,
      s"close.sh basket drifted from Bench.windowBasket:\n" +
        s"  close.sh: $parsed\n  Bench:    ${Bench.windowBasket}")
  }

  /** The `spark.graft.*` keys (without the prefix) quoted in
    * non-comment lines under `src/main`. */
  private lazy val codeKeys: Set[String] = {
    val quoted = """"spark\.graft\.([A-Za-z][A-Za-z0-9_.]*)"""".r
    val code = scala.collection.mutable.Set[String]()
    Files.walk(Paths.get("src/main/scala")).forEach { p =>
      if (p.toString.endsWith(".scala"))
        Files.readString(p).linesIterator.map(_.trim)
          .filterNot(t => t.startsWith("*") || t.startsWith("//") ||
            t.startsWith("/*"))
          .foreach(t => quoted.findAllMatchIn(t).foreach(code += _.group(1)))
    }
    code.toSet
  }

  test("README dial table lists exactly the spark.graft.* keys read in src/main") {
    val code = codeKeys
    val row = """^\| `spark\.graft\.([A-Za-z][A-Za-z0-9_.]*)` \|""".r
    val readme = read("README.md").linesIterator
      .flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSeq
    assert(readme.distinct.size == readme.size,
      s"README lists a dial twice: ${readme.diff(readme.distinct)}")
    assert(code.nonEmpty)
    assert(readme.toSet == code,
      s"README dials drifted from the code.\n" +
        s"  read in code, missing from README: ${(code -- readme).toSeq.sorted}\n" +
        s"  in README, read nowhere: ${(readme.toSet -- code).toSeq.sorted}")
  }

  test("every spark.graft.* key named anywhere in README is read in src/main") {
    val named = """spark\.graft\.([A-Za-z][A-Za-z0-9_.]*[A-Za-z0-9_])""".r
    val readme = named.findAllMatchIn(read("README.md")).map(_.group(1)).toSet
    assert(readme.nonEmpty)
    assert((readme -- codeKeys).isEmpty,
      s"README names keys the engine never reads: ${(readme -- codeKeys).toSeq.sorted}")
  }
}
