package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI promotion of the anti-pattern sweep's `.collect()` ledger (a
  * manual per-round grep through r10): driver-side collects are the
  * anti-scale shape — an operator iterating collected rows is not
  * distributed — so every `.collect()` in operator code must be a
  * SANCTIONED bounded site with a written justification at the call
  * site. This spec pins the exact per-file census; a new collect
  * anywhere in src/main (outside graft/tools/, which is the
  * measurement harness and driver-side by design) fails CI until it is
  * either removed or justified here AND in its own scaladoc.
  *
  * The sanctioned sites (each O(1)/O(k)/O(partitions) driver state):
  *  - Bench.scala ×2 — session/scan warm-up before the timing loop.
  *  - operators/TrainingData.scala ×2 — the 24×64 IVF centroid pull
  *    (bounded k×dim driver state) and its probe-ranking twin.
  *  - operators/Hygiene.scala ×1 — linkage auto's one-row decision
  *    aggregate.
  *  - operators/Insights.scala ×1 — skyline's per-partition prefix
  *    maxima (one long per partition).
  *  - operators/Windows.scala ×1 — winrange auto's one-row decision
  *    aggregate (max per-user count + total, r14).
  */
class CollectLedgerSpec extends AnyFunSuite {

  private val ledger = Map(
    "Bench.scala" -> 2,
    "operators/TrainingData.scala" -> 2,
    "operators/Hygiene.scala" -> 1,
    "operators/Insights.scala" -> 1,
    "operators/Windows.scala" -> 1)

  test("every .collect() in non-tools src/main is on the sanctioned ledger") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val census = scala.collection.mutable.Map[String, Int]()
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".scala") && !rel.startsWith("tools/")) {
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.foreach { line =>
            val t = line.trim
            val isComment = t.startsWith("*") || t.startsWith("//") ||
              t.startsWith("/*")
            if (!isComment && t.contains(".collect()"))
              census(rel) = census.getOrElse(rel, 0) + 1
          }
      }
    }
    assert(census.toMap == ledger,
      s"driver-side .collect() census drifted from the sanctioned " +
        s"ledger.\n  census: ${census.toMap}\n  ledger: $ledger\n" +
        "A new collect needs a written boundedness justification at the " +
        "call site (see the existing sites) and a ledger row here; a " +
        "removed one should also leave the ledger.")
  }
}
