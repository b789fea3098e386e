package graft.pipeline

import java.nio.file.{Files, Paths}

/** Where the candy specs read their input: the reference's dataset_15
  * where its checkout is present, and otherwise the committed fixture
  * of the same documented shape (FIXTURES.md §A) that
  * `scripts/gen_candy_fixture.py` writes under `src/test/resources/candy`,
  * with the independent replay's report tables in its `expected/`. */
object CandyData {
  val referenceDir = "/root/reference/data/dataset_15"
  val goldenDir = "/root/reference/data/output"

  lazy val fixtureDir: String = Paths.get(getClass.getResource("/candy").toURI).toString
  lazy val expectedDir: String = s"$fixtureDir/expected"

  /** Both the reference inputs and its published outputs are on disk. */
  def goldenPresent: Boolean =
    Files.isDirectory(Paths.get(referenceDir)) && Files.isDirectory(Paths.get(goldenDir))

  lazy val inputDir: String =
    if (Files.isDirectory(Paths.get(referenceDir))) referenceDir else fixtureDir
}
