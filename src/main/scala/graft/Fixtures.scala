package graft

import java.nio.file.Paths

/** The committed GDAL test fixtures (`src/test/resources/fixtures`,
  * written by `tools/make_fixtures.py`, described in FIXTURES.md §A) and
  * the golden CSVs pinned from them (`src/test/resources/golden`).
  * Resolved against the working directory, which is the project root for
  * sbt's forked test and run JVMs and for the spark-submit that
  * SpeculationSpec starts; the absolute form stays valid on executors
  * whose working directory differs. */
object Fixtures {
  val dir: String = Paths.get("src/test/resources/fixtures").toAbsolutePath.toString
  val golden: String = Paths.get("src/test/resources/golden").toAbsolutePath.toString
}
