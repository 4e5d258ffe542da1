package graft

import org.scalatest.funsuite.AnyFunSuite

/** The FLOAT-TRAINING determinism boundary, as a failing test instead of a
  * comment convention: `Tables.fanOut` (and its `tw()` wrapper) inserts a
  * round-robin exchange, which REPARTITIONS the rows feeding any
  * downstream aggregation. Lloyd centroid means (`Similarity.ivfCentroids`
  * / `ivfIndex` / `pqTrain(iterations > 0)`) are float `sum(element_at)`
  * aggregations whose partial-aggregation order is partition-dependent —
  * fanning a frame that feeds centroid training silently flips low bits
  * of every centroid, and from there every assignment tie near the
  * boundary. Round 18 kept this as a scaladoc convention; this spec makes
  * crossing it a loud failure.
  *
  * Mechanism: source scan of SparkEntry.scala (the declared-query surface
  * the driver grades). Every query lambda that calls a centroid trainer
  * must not also route a table read through `tw(`/`fanOut`. The check is
  * deliberately OVER-strict (a lambda could in principle fan a frame that
  * does not feed its trainer) — today none does, and a future violation
  * should be a conscious, spec-editing decision, not a silent default. */
class DeterminismBoundarySpec extends AnyFunSuite {

  private val Trainers =
    Seq("ivfCentroids(", "ivfIndex(", "pqTrain(")

  test("no query lambda fans out a scan AND trains float centroids") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    // split the query catalog into per-record chunks at the
    // Query("qNNN_name" boundaries (comments between records ride along
    // with the FOLLOWING record, which is the conservative side)
    val entry = """Query\("(q\d+_\w+)"""".r
    val starts = entry.findAllMatchIn(src).map(m => (m.group(1), m.start)).toSeq
    val chunks = starts.zipAll(starts.drop(1).map(_._2), ("", 0), src.length)
      .collect { case ((name, from), to) if name.nonEmpty =>
        name -> src.substring(from, to)
      }
    assert(chunks.nonEmpty, "no query entries found — did SparkEntry move?")
    val offenders = chunks.collect {
      case (name, body)
        if Trainers.exists(body.contains) &&
          (body.contains("tw(") || body.contains("fanOut")) => name
    }.distinct
    assert(offenders.isEmpty,
      s"fanOut/tw applied inside a centroid-training query lambda " +
        s"(float Lloyd sums are partition-order-dependent): " +
        offenders.mkString(", "))
  }

  test("the trainer list still matches the library (guard the guard)") {
    // if the trainers are renamed, the spec above would silently check
    // nothing — pin that the names still exist in Similarity.scala
    val sim = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/similarity/Similarity.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    Trainers.foreach { t =>
      assert(sim.contains("def " + t.stripSuffix("(")),
        s"trainer ${t.stripSuffix("(")} not found in Similarity.scala — " +
          "update DeterminismBoundarySpec's list")
    }
  }
}
