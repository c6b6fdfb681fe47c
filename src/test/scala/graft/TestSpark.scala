package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for all suites (Spark startup dominates
  * test wall-clock otherwise).
  */
object TestSpark {
  val sf: String = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local("4", Some(sf))

  /** Restore the GraftSession-local AQE default after a test pinned
    * it: `spark.conf.unset` reverts to Spark's BUILT-IN default
    * (true), NOT the builder's false — builder .config values land in
    * SQLConf as explicit entries, so an unset flips the shared
    * session to AQE ON for every later un-pinned plan assertion,
    * test-order dependent. Tests must restore with an explicit set.
    * (The other pinned keys — autoBroadcastJoinThreshold,
    * codegen.fallback — are NOT builder-set, so unset is correct
    * there.)
    */
  def restoreAqeDefault(): Unit =
    spark.conf.set("spark.sql.adaptive.enabled", "false")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Deletes `src` and every artifact [[Tables.publishFixture]]
    * published from a source file inside it: relayout copies, corpus
    * fixtures and Etl books.
    */
  def deleteWithFixtures(src: Path): Unit = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def children(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else {
        val kids = Files.list(p)
        try kids.toArray(n => new Array[Path](n)).toSeq finally kids.close()
      }
    val roots = children(tmp.resolve("graft-split")) ++
      children(tmp.resolve("graft-fixtures")) ++
      Seq(operators.Etl.rawRoot, operators.Etl.prodRoot).map(Paths.get(_))
    val prefix = "t" + (src.toString + "/").replaceAll("[^A-Za-z0-9._-]", "_")
    roots.flatMap(children)
      .filter(_.getFileName.toString.startsWith(prefix))
      .foreach(deleteTree)
    deleteTree(src)
  }
}

/** Temp dirs a suite makes, deleted after its last test together with
  * every fixture published from them.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]
  def tempDir(prefix: String): Path = made.synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }
  override def afterAll(): Unit =
    try made.foreach(TestSpark.deleteWithFixtures) finally super.afterAll()
}
